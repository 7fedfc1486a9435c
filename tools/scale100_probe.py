"""Targeted 100x scaling probe — the "would it hold at 1000 executors"
evidence one decade past SCALE.md.

SCALE.md measures every heavy pipeline at 10x; a hidden quadratic can
still hide inside the noise floor there (10x data -> 100x work is only
~10x over the data ratio). This probe rebuilds the SAME
distribution-preserving replica machinery at 100 REPLICAS (~sf10:
600k documents, ~60M lineitem) and measures the operators whose scale
story the engine stakes the most on: exact + MinHash-LSH dedup
(candidate generation), Bloom decontamination, the distributed
exact-rank family (the round-9 rewrites), LSH-cosine ANN (adaptive
plane count grows with n), two linear controls, the real-codec kernels, the HLL sketch, and the tagged multi-source BFS. A genuinely linear
operator lands at ratio <= ~100 (usually far less — fixed overheads
amortize); a quadratic would land at ~10,000.

Usage: python tools/scale100_probe.py   (writes SCALE100.md; replica
build ~minutes on first run, cached under /tmp/spark_graft_scale100)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
SCALE100_DIR = "/tmp/spark_graft_scale100"
REPLICAS = 100

#: the stake-holding probes (see module docstring) + linear controls
PROBES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_contamination_bloom",
    "corpus_pack_shards",
    "corpus_quality_calibration",
    "corpus_padding_waste",
    "corpus_ccnet_buckets",
    "sim_lsh_cosine",
    "text_quality_score",        # linear control (pure column program)
    "a8_first_event_per_user",   # linear control (per-user window)
    "ev_quantiles_sketch",       # histogram sketch (should be ~flat)
    "mm_jpeg_roundtrip",         # real-codec kernel (honest, unmemoized)
    "mm_wav_roundtrip",          # audio-container kernel
    "ev_hll_distinct",           # HLL sketch (should be ~flat)
    "graph_harmonic_sampled",    # tagged multi-source BFS
    "dedup_semantic_adaptive",   # r10: the SemDeDup production plan
                                 # (k tracks n; 200k vecs -> k=50k rides
                                 # the flat kernel just under the
                                 # two-level threshold)
    "text_html_extract",         # r10: raw-web front door (pure column
                                 # program — linear control family)
    "text_html_extract_dirty",   # r11: tolerant tokenizer (Arrow
                                 # kernel — one Python pass per page)
    "web_warc_extract",          # r11: stored-bytes crawl intake
                                 # (member walk is per-record linear)
    "dedup_exact_substr",        # r11: window-fingerprint span dedup
                                 # (NO pair join — must stay linear)
    "dedup_paragraph",           # r11: paragraph-hash first-seen
                                 # (combiner-folded min, linear)
    "dedup_incremental",         # r11: snapshot-store joins (exact
                                 # hash + LSH bands; no pairwise stage)
]

FLAG_FACTOR = 2.5  # same accusation line as SCALE.md, at 100x


def main() -> None:
    import tools.scale_probe as sp
    from codegraph_spark.session import get_spark

    spark = get_spark(
        app_name="scale100-probe", cpus=os.environ.get("SPARK_GRAFT_CPUS", "16")
    )
    # reuse SCALE.md's replica builder verbatim at 100 replicas — same
    # marker-interleave / sign-flip / key-offset perturbations, so
    # near-dup and bucket densities match the original corpus
    sp.REPLICAS = REPLICAS
    sp.SCALE_DIR = SCALE100_DIR
    sp.build_scaled(spark)

    import __spark_entry__ as e

    qs = e.queries()

    from codegraph_spark.queries.multimodal import _stored_media_dir

    from codegraph_spark.queries.web import _warc_fixture_dir

    for d in (BASE, SCALE100_DIR):
        _stored_media_dir(spark, d)  # fixture prewarm (outside timing)
        _warc_fixture_dir(spark, d)

    def measure(fn):
        # noop write forces full evaluation (see scale_probe.measure —
        # a bare count() would let Catalyst prune projection-only work)
        # fn() inside the timer: streaming queries drain eagerly during
        # construction (see scale_probe.measure)
        # Observation-riding row count: one execution per side (a
        # trailing df.count() re-ran the whole plan just to report n)
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        times = {}
        for label, d in (("x1", BASE), ("x100", SCALE100_DIR)):
            t0 = time.perf_counter()
            df = fn(spark, d)
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
            secs = time.perf_counter() - t0
            times[label] = (secs, obs.get["n"])
        return times

    rows = []
    for name in PROBES:
        times = measure(qs[name])
        ratio = times["x100"][0] / max(times["x1"][0], 1e-9)
        if ratio > REPLICAS * FLAG_FACTOR:
            retry = measure(qs[name])  # best-of-2 clears host-noise flags
            times = {k: min(times[k], retry[k], key=lambda t: t[0]) for k in times}
            ratio = times["x100"][0] / max(times["x1"][0], 1e-9)
        rows.append((name, times["x1"][0], times["x100"][0], ratio,
                     times["x1"][1], times["x100"][1]))
        print(f"{name}: x1={times['x1'][0]:.2f}s x100={times['x100'][0]:.2f}s "
              f"ratio={ratio:.1f} rows {times['x1'][1]}->{times['x100'][1]}")

    ok = [r for r in rows if r[3] <= REPLICAS]
    mid = [r for r in rows if REPLICAS < r[3] <= REPLICAS * FLAG_FACTOR]
    bad = [r for r in rows if r[3] > REPLICAS * FLAG_FACTOR]
    with open("/root/repo/SCALE100.md", "w") as f:
        f.write(
            "# SCALE100 — targeted 100x scaling probe\n\n"
            "Same distribution-preserving replica machinery as SCALE.md\n"
            "(tools/scale_probe.py), at 100 replicas (~sf10: 600k\n"
            "documents / ~60M lineitem), for the operators the scale\n"
            "story stakes the most on. local[16], warm session; a probe\n"
            "crossing the flag line is re-measured best-of-2 per side.\n\n"
            "A linear operator shows time ratio <= ~100 (fixed overheads\n"
            "amortize it well below); a hidden quadratic shows ~10,000.\n\n"
            "| query | x1 (s) | x100 (s) | ratio | rows x1 → x100 |\n"
            "|---|---|---|---|---|\n"
        )
        for name, t1, t100, ratio, n1, n100 in rows:
            f.write(f"| {name} | {t1:.2f} | {t100:.2f} | {ratio:.1f} "
                    f"| {n1} → {n100} |\n")
        f.write("\nFindings:\n\n")
        f.write(f"- {len(ok)}/{len(rows)} probes at or below the 100x data "
                f"ratio: {', '.join('`%s`' % r[0] for r in ok)}.\n")
        if mid:
            f.write("- Above the data ratio but under the 2.5x-of-data "
                    "flag line: "
                    + ", ".join(f"`{r[0]}` ({r[3]:.1f}x)" for r in mid) + ".\n")
            for r in mid:
                if r[0] in sp.PROBE_NOTES:
                    f.write(f"  - `{r[0]}`: {sp.PROBE_NOTES[r[0]]}\n")
        if bad:
            f.write("- FLAGGED (possible hidden quadratic): "
                    + ", ".join(f"`{r[0]}` ({r[3]:.1f}x)" for r in bad) + ".\n")
            for r in bad:
                if r[0] in sp.PROBE_NOTES:
                    f.write(f"  - `{r[0]}` (named remedy): {sp.PROBE_NOTES[r[0]]}\n")
        else:
            f.write("- No probe exceeds the 250x flag line — no hidden "
                    "quadratic in the probed set at two decades of "
                    "scale-up.\n")
    print("wrote /root/repo/SCALE100.md")


if __name__ == "__main__":
    main()
