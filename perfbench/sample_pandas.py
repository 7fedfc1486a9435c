"""Build ``data/pandas-2.2.2-sample.tar.gz``, the source tree the
``code_serving`` workload indexes.

    python3 perfbench/sample_pandas.py

Needs pandas 2.2.2 installed. The archive holds every ``STRIDE``-th
``.py`` file of the installed package (sorted relative paths, tests
included, as in the full-package index the workload was sized on) under
``pandas/``, plus pandas' BSD-3-Clause ``LICENSE``. It is reproducible:
entries in a fixed order with zero mtimes and owners.
"""

from __future__ import annotations

import gzip
import io
import os
import sys
import tarfile

HERE = os.path.dirname(os.path.abspath(__file__))
VERSION = "2.2.2"
ARCHIVE = os.path.join(HERE, "data", f"pandas-{VERSION}-sample.tar.gz")
STRIDE = 20


def package_files(pkg_dir: str) -> list[str]:
    """Every ``.py`` file under ``pkg_dir``, as sorted relative paths."""
    out = []
    for d, dirs, files in os.walk(pkg_dir):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        out += [os.path.relpath(os.path.join(d, f), pkg_dir) for f in files if f.endswith(".py")]
    return sorted(out)


def main() -> int:
    import pandas

    if pandas.__version__ != VERSION:
        sys.exit(f"sample_pandas: needs pandas {VERSION}, found {pandas.__version__}")
    pkg = os.path.dirname(pandas.__file__)
    members = [("LICENSE", os.path.join(os.path.dirname(pkg), f"pandas-{VERSION}.dist-info",
                                        "LICENSE"))]
    members += [(f"pandas/{r}", os.path.join(pkg, r)) for r in package_files(pkg)[::STRIDE]]
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tar:
        for name, src in members:
            with open(src, "rb") as fh:
                data = fh.read()
            info = tarfile.TarInfo(name)
            info.size, info.mtime, info.mode = len(data), 0, 0o644
            tar.addfile(info, io.BytesIO(data))
    with open(ARCHIVE, "wb") as fh, gzip.GzipFile(filename="", mode="wb", fileobj=fh,
                                                  mtime=0) as gz:
        gz.write(buf.getvalue())
    print(f"{ARCHIVE}: {len(members) - 1} source files")
    return 0


if __name__ == "__main__":
    sys.exit(main())
