"""Round-13 optimization pins: cache bounding (sources/tables.py),
the media-source modality glob pushdown, the vectorized JPEG entropy
encoder, and the fused salted self-pair join. Each test pins an
optimization whose OUTPUT must be identical to the pre-r13 form."""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest


# --- sources/tables.py cache bounding (r12 ADVICE / VERDICT item 5) ---------


def test_plan_cache_evicts_stale_stamp_on_rewrite(spark, tmp_path):
    """An in-session rewrite of a table file must REPLACE the cached
    plan entry (same key, new stamp), not accumulate a stale one."""
    from codegraph_spark.sources import tables

    d = str(tmp_path)
    src = spark.range(5).selectExpr("id", "cast(id as string) AS name")
    src.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "region.parquet"))
    tables.load_table(spark, d, "region")
    key = (spark.sparkContext.applicationId, os.path.abspath(d), "region")
    stamp1 = tables._PLANS.entries[key][0]
    # rewrite with different content size so the stamp must change
    spark.range(50).selectExpr(
        "id", "repeat(cast(id as string), 7) AS name"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "region.parquet"))
    df2 = tables.load_table(spark, d, "region")
    assert df2.count() == 50  # fresh plan, not the stale 5-row one
    stamp2 = tables._PLANS.entries[key][0]
    assert stamp2 != stamp1
    # exactly ONE entry for the key: the stale stamp was evicted
    assert sum(1 for k in tables._PLANS.entries if k == key) == 1


def test_plan_cache_lru_cap(spark, tmp_path):
    """Cycling more dataset dirs than the cap retains at most the cap
    (a long serving session cannot accumulate plans without bound)."""
    from codegraph_spark.sources import tables

    src = spark.range(3).selectExpr("id", "cast(id as string) AS name")
    n_dirs = 6
    old_max = tables._PLANS.maxsize
    tables._PLANS.maxsize = 4
    try:
        tables._PLANS.entries.clear()
        for i in range(n_dirs):
            d = str(tmp_path / f"ds{i}")
            src.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(d, "region.parquet")
            )
            tables.load_table(spark, d, "region")
        assert len(tables._PLANS.entries) <= 4
        # the most recent dir survived
        key = (
            spark.sparkContext.applicationId,
            os.path.abspath(str(tmp_path / f"ds{n_dirs - 1}")),
            "region",
        )
        assert key in tables._PLANS.entries
    finally:
        tables._PLANS.maxsize = old_max


def test_spread_cache_lru_cap(spark):
    """spread() entries are LRU-capped so non-cached inputs (fresh
    DataFrame objects per call) cannot pin DataFrames without bound."""
    from codegraph_spark.sources import tables

    old_max = tables._SPREADS.maxsize
    tables._SPREADS.maxsize = 8
    try:
        tables._SPREADS.entries.clear()
        frames = [spark.range(3).selectExpr("id AS doc_id") for _ in range(20)]
        for f in frames:
            tables.spread(f, "doc_id")
        assert len(tables._SPREADS.entries) <= 8
    finally:
        tables._SPREADS.maxsize = old_max


# --- sources/media.py modality glob pushdown (r13, guide §6) -----------------


@pytest.fixture(scope="module")
def mixed_media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("mixed_media")
    (d / "sub").mkdir()
    for name, w, h in (
        ("low.rawgray", 4, 2),
        ("UP.RAWGRAY", 2, 2),
        ("sub/Mixed.RawGray", 2, 2),
    ):
        body = bytes(range(w * h))
        (d / name).write_bytes(struct.pack(">II", w, h) + body)
    (d / "img.PNG").write_bytes(b"\x89PNG\r\n\x1a\nfake")
    (d / "clip.MJPEG").write_bytes(b"\xff\xd8fake")
    (d / "clip2.mjpg").write_bytes(b"\xff\xd8fake2")
    (d / "tone.Wav").write_bytes(b"RIFFfake")
    (d / "notes.txt").write_text("not media")
    (d / "noext").write_text("no extension")
    return str(d)


@pytest.mark.parametrize("modality", ["image", "audio", "video"])
def test_media_modality_glob_pushdown_equivalence(spark, mixed_media_dir, modality):
    """The pathGlobFilter the modality pushdown derives must keep the
    row set IDENTICAL to the unconstrained scan + modality filter, for
    any directory content — including mixed-case extensions (the
    modality column lowercases the extension, so the glob uses case
    classes) and unknown/absent extensions."""
    from pyspark.sql import functions as F

    from codegraph_spark.sources.media import read_media_dir

    pushed = read_media_dir(spark, mixed_media_dir, modality=modality)
    unconstrained = read_media_dir(spark, mixed_media_dir).filter(
        F.col("modality") == modality
    )
    got = sorted(r.path for r in pushed.collect())
    want = sorted(r.path for r in unconstrained.collect())
    assert got == want and got  # non-empty for every modality here


# --- operators/jpeg_stdlib.py vectorized entropy encoder (r13) --------------


def _encode_entropy_loop_reference(zz, restart_interval):
    """The pre-r13 per-block/_BitWriter entropy coder, kept here as the
    byte-identity reference for the vectorized path."""
    from codegraph_spark.operators import jpeg_stdlib as J

    dc_codes = J._canonical_codes(J._DC_LUM_BITS, J._DC_LUM_VALS)
    ac_codes = J._canonical_codes(J._AC_LUM_BITS, J._AC_LUM_VALS)
    w = J._BitWriter()
    pred = 0
    ri = int(restart_interval)
    rst = 0
    for i in range(len(zz)):
        if ri and i and i % ri == 0:
            w.align()
            w.out.extend((0xFF, 0xD0 + rst % 8))
            rst += 1
            pred = 0
        pred = J._encode_block(w, zz[i], pred, dc_codes, ac_codes)
    w.align()
    return bytes(w.out)


def test_vectorized_entropy_encoder_byte_identical():
    from codegraph_spark.operators import jpeg_stdlib as J

    rng = np.random.default_rng(1234)
    for trial in range(40):
        w = int(rng.integers(16, 64))
        h = int(rng.integers(16, 48))
        q = [50, 75, 90, 95][trial % 4]
        ri = [0, 4, 1, 7][trial % 4]
        kind = trial % 3
        if kind == 0:
            px = rng.integers(0, 256, w * h).astype(np.uint8)
        elif kind == 1:
            px = np.full(w * h, int(rng.integers(0, 256)), dtype=np.uint8)
            px[:8] = rng.integers(0, 256, 8)
        else:
            text = bytes(rng.integers(33, 123, 80).tolist())
            reps = -(-w * h // len(text)) + 1
            px = np.frombuffer((text * reps)[: w * h], dtype=np.uint8)
        _bh, _bw, zz = J._plane_zigzag_blocks(px.reshape(h, w), q)
        assert J._encode_entropy_gray(zz, ri) == _encode_entropy_loop_reference(
            zz, ri
        ), (trial, w, h, q, ri)


def test_decoder_matches_roundtrip_after_rewrite():
    """End-to-end: the rewritten window-list decoder reconstructs the
    same pixels the oracle-pinned gates rely on (flat frames exactly,
    text frames within the documented budget)."""
    from codegraph_spark.operators.jpeg_stdlib import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    px = np.full(16 * 16, 100, dtype=np.uint8)
    d = encode_jpeg_gray(px, 16, 16, quality=90)
    w, h, dec = decode_jpeg_gray(d)
    assert (w, h) == (16, 16)
    assert int(np.abs(dec.astype(np.int64) - px.astype(np.int64)).max()) <= 2
