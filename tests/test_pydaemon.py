"""The worker daemon's ``zipimporter.invalidate_caches``: an unchanged
archive is not re-read, a rewritten one is, and a deleted one ends as the
stock method leaves it. In process, on a temp zip on ``sys.path``; the
Spark side is ``test_serving_overhead.test_session_is_built_for_small_calls``
and the subprocess test at the end."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from codegraph_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, pkg, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        for name in modules:
            z.writestr(f"{pkg}/{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch, request):
    """A zip holding package ``pkg`` (module ``a``) on ``sys.path``, its
    package imported, and a list that records each archive read."""
    pkg = f"zpkg_{request.node.name.split('[')[0]}"
    path = str(tmp_path / "lib.zip")
    _write_zip(path, pkg, ["a"])
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    sys.path.insert(0, path)
    importlib.import_module(f"{pkg}.a")
    yield path, pkg, reads
    sys.path.remove(path)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    zipimport._zip_directory_cache.pop(path, None)


def _importers(path):
    return [
        imp for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == path
    ]


def test_stock_method_rereads_every_call(archive):
    path, _, reads = archive
    n = len(_importers(path))
    assert n >= 2  # the archive root and the package path inside it
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 3 * n


def test_unchanged_archive_is_read_at_most_once_per_importer(archive, monkeypatch):
    path, _, reads = archive
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    n = len(_importers(path))
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) <= n


def test_rewritten_archive_is_reread_and_its_new_module_imports(archive, monkeypatch):
    path, pkg, reads = archive
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    n = len(_importers(path))
    with pytest.raises(ImportError):
        importlib.import_module(f"{pkg}.b")
    _write_zip(path, pkg, ["a", "b"])
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == n  # one re-read per importer
    importlib.invalidate_caches()
    assert len(reads) == n
    assert importlib.import_module(f"{pkg}.b").NAME == "b"


@pytest.mark.parametrize("method", ["stock", "daemon"])
def test_deleted_archive_behaves_as_stock(archive, monkeypatch, method):
    path, _, reads = archive
    if method == "daemon":
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
        importlib.invalidate_caches()
    importers = _importers(path)
    os.remove(path)
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 2 * len(importers)
    assert all(imp._files == {} for imp in importers)
    assert path not in zipimport._zip_directory_cache


def test_session_outside_the_repo_runs_a_python_udf(tmp_path):
    """A driver that reaches the engine only through ``sys.path`` (no
    ``PYTHONPATH``, another working directory) still runs Python tasks:
    the daemon module must be importable by the executors."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql.functions import udf
        from codegraph_spark.session import get_spark
        spark = get_spark(cpus=2)
        plus_one = udf(lambda x: x + 1, "long")
        print("ROWS", sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS [1, 2, 3]" in out.stdout, out.stderr[-3000:]
