"""Round-7 streaming robustness (r6 VERDICT item 3 + ADVICE): the
in-order delivery contract of the intake operators is now ENFORCED
(a violating source fails loudly instead of silently mis-attributing),
and the order-insensitive CRDT-min variant stays batch-oracle-equal
under arbitrary micro-batch interleaving."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR


def _write_parts(spark, tmp_path, name, frames, schema):
    """Write each frame as one parquet file with forced ascending
    mtimes so the file source delivers them in list order."""
    src = str(tmp_path / name)
    os.makedirs(src, exist_ok=True)
    import glob
    import shutil

    for i, rows in enumerate(frames):
        part = os.path.join(src, f"_p{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(part)
        f = glob.glob(os.path.join(part, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.move(f, dst)
        shutil.rmtree(part)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    return src


def test_strict_bucket_prior_raises_on_out_of_order_batch(spark, tmp_path):
    """The documented failure mode, driven: batch 2 delivers a doc_id
    BELOW batch 1's — the strict operator must fail loudly (it used to
    mask the violation as prior=-1)."""
    from codegraph_spark.queries.streaming import _banded_docs
    from codegraph_spark.streaming.incremental import (
        run_available_now,
        streaming_bucket_prior,
    )

    same = "the quick brown fox jumps over the lazy dog again and again"
    src = _write_parts(
        spark,
        tmp_path,
        "ooo_docs",
        # 3 arrives AFTER 10 — same buckets; 11 has no shingle, 12 one
        [[(10, same), (11, "hi"), (12, "exactly three words")], [(3, same)]],
        "doc_id long, text string",
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
    )
    banded = _banded_docs(stream, "doc_id").filter(F.col("key").isNotNull())
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="out-of-order"):
        run_available_now(streaming_bucket_prior(banded), output_mode="update")


def test_streaming_transitions_raises_on_out_of_order_batch(spark, tmp_path):
    import datetime as dt

    from codegraph_spark.streaming.incremental import (
        run_available_now,
        streaming_transitions,
    )

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    src = _write_parts(
        spark,
        tmp_path,
        "ooo_events",
        [
            [(1, 1, "A", t(10)), (2, 1, "B", t(11))],
            [(3, 1, "C", t(5))],  # earlier ts arrives in a LATER batch
        ],
        schema,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="out-of-order"):
        run_available_now(streaming_transitions(stream), output_mode="update")


def test_unordered_bucket_prior_matches_strict_on_reordered_input(spark, tmp_path):
    """The CRDT-min operator under an adversarial interleave (late
    batch carries the global min) must produce the same drain verdicts
    the strict operator produces on the SORTED stream."""
    from codegraph_spark.queries.streaming import _banded_docs
    from codegraph_spark.streaming.incremental import (
        run_available_now,
        streaming_bucket_prior,
        streaming_bucket_prior_unordered,
    )

    same = "the quick brown fox jumps over the lazy dog again and again"
    other = "a completely different document about spark shuffle behavior"
    rows = [(10, same), (3, same), (7, other), (1, same), (5, other),
            (2, "hi"), (8, "exactly three words")]
    schema = "doc_id long, text string"

    def banded_of(stream):
        return _banded_docs(stream, "doc_id").filter(F.col("key").isNotNull())

    # strict path, in-order delivery (sorted by doc_id, one file per doc)
    src_in = _write_parts(
        spark, tmp_path, "in", [[r] for r in sorted(rows)], schema
    )
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_in + "/*.parquet")
    )
    strict = run_available_now(
        streaming_bucket_prior(banded_of(stream_in)), output_mode="update"
    )
    strict_verdicts = {
        r["doc_id"]: r["dup_of"]
        for r in strict.groupBy("doc_id")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("prior") >= 0, F.col("prior"))), F.lit(-1)
            ).alias("dup_of")
        )
        .collect()
    }

    # unordered path, adversarial arrival (global min LAST)
    src_ooo = _write_parts(
        spark, tmp_path, "ooo", [[r] for r in rows], schema
    )
    stream_ooo = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_ooo + "/*.parquet")
    )
    out = run_available_now(
        streaming_bucket_prior_unordered(banded_of(stream_ooo)), output_mode="update"
    )
    finals = (
        out.groupBy(F.col("band").alias("f_band"), F.col("key").alias("f_key"))
        .agg(F.min("mn").alias("fmn"))
    )
    members = out.select("band", "key", F.explode("docs").alias("doc_id"))
    ooo_verdicts = {
        r["doc_id"]: r["dup_of"]
        for r in members.join(
            finals,
            (members["band"] == finals["f_band"]) & (members["key"] == finals["f_key"]),
        )
        .select(
            "doc_id",
            F.when(F.col("fmn") < F.col("doc_id"), F.col("fmn"))
            .otherwise(F.lit(-1))
            .alias("prior"),
        )
        .groupBy("doc_id")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("prior") >= 0, F.col("prior"))), F.lit(-1)
            ).alias("dup_of")
        )
        .collect()
    }
    assert strict_verdicts == ooo_verdicts
    assert ooo_verdicts[3] == 1 and ooo_verdicts[10] == 1  # late min attributed
    assert 2 not in ooo_verdicts and ooo_verdicts[8] == -1


def test_stream_dedup_minhash_ooo_matches_batch_oracle(spark):
    """The registered query end-to-end at sf0.001: 6 interleaved
    residue-class micro-batches, drain verdicts hash-equal to the
    batch min-smaller-id-per-bucket oracle."""
    import duckdb

    from codegraph_spark.queries.streaming import (
        _stream_minhash_dedup_sql,
        stream_dedup_minhash_ooo,
    )
    from tests.test_oracle_parity import _normalize

    sp = stream_dedup_minhash_ooo(spark, TEST_SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{TEST_SF_DIR}/documents.parquet')"
    )
    dk = con.execute(_stream_minhash_dedup_sql()).fetchdf()
    con.close()
    cols = sorted(sp.columns)
    assert cols == sorted(dk.columns)
    assert _normalize(sp, cols) == _normalize(dk, cols)


def test_in_order_multi_batch_still_passes_strict_ops(spark, tmp_path):
    """The enforcement must NOT fire on the legitimate path: in-order
    multi-batch delivery through the strict operator still works (the
    r6 carry-state behavior, now with the (mn, mx) state)."""
    from codegraph_spark.queries.streaming import _banded_docs
    from codegraph_spark.streaming.incremental import (
        run_available_now,
        streaming_bucket_prior,
    )

    same = "the quick brown fox jumps over the lazy dog again and again"
    src = _write_parts(
        spark,
        tmp_path,
        "inorder",
        [[(1, same), (2, "hi")], [(3, same), (4, "exactly three words")]],
        "doc_id long, text string",
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
    )
    banded = _banded_docs(stream, "doc_id").filter(F.col("key").isNotNull())
    rows = run_available_now(
        streaming_bucket_prior(banded), output_mode="update"
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["prior"])
    assert sorted(by_doc[3]) == [1, 1, 1, 1]
    assert all(p == -1 for p in by_doc[1])
    assert 2 not in by_doc and by_doc[4] == [-1] * 4


def test_buffered_transitions_equal_sorted_pairing_under_bounded_disorder(
    spark, tmp_path
):
    """The reorder buffer must reconstruct the fully-sorted adjacency
    stream when disorder ≤ horizon: time slices arrive adjacent-swapped
    (ts goes backwards across batches — the strict operator raises on
    this), a final __flush__ punctuation row drains the tail."""
    import datetime as dt

    from codegraph_spark.streaming.incremental import (
        FLUSH_TYPE,
        run_available_now,
        streaming_transitions_buffered,
    )

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    # sorted truth for user 1: A(1) B(2) C(3) D(4) E(5) F(6)
    src = _write_parts(
        spark,
        tmp_path,
        "buftrans",
        [
            [(3, 1, "C", t(3)), (4, 1, "D", t(4))],   # slice 2 first
            [(1, 1, "A", t(1)), (2, 1, "B", t(2))],   # slice 1 late
            [(5, 1, "E", t(5)), (6, 1, "F", t(6))],
            [(-1, 1, FLUSH_TYPE, t(59))],             # punctuation
        ],
        schema,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
    )
    horizon_us = 4_000_000  # disorder here spans 4s (ts 4 seen before ts 1)
    out = run_available_now(
        streaming_transitions_buffered(stream, horizon_us), output_mode="update"
    )
    got: dict[tuple, int] = {}
    for r in out.collect():
        k = (r["from_type"], r["to_type"])
        got[k] = got.get(k, 0) + r["cnt"]
    assert got == {
        ("A", "B"): 1, ("B", "C"): 1, ("C", "D"): 1, ("D", "E"): 1, ("E", "F"): 1
    }


def test_buffered_transitions_flush_rows_never_counted(spark, tmp_path):
    import datetime as dt

    from codegraph_spark.streaming.incremental import (
        FLUSH_TYPE,
        run_available_now,
        streaming_transitions_buffered,
    )

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    src = _write_parts(
        spark,
        tmp_path,
        "flushonly",
        [
            [(1, 1, "A", t(1)), (2, 1, "B", t(2))],
            [(-1, 1, FLUSH_TYPE, t(59)), (-1, 2, FLUSH_TYPE, t(59))],
        ],
        schema,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*.parquet")
    )
    out = run_available_now(
        streaming_transitions_buffered(stream, 10_000_000), output_mode="update"
    )
    got = {(r["from_type"], r["to_type"]): r["cnt"] for r in out.collect()}
    assert got == {("A", "B"): 1}  # no *->__flush__ pair, user 2 silent


def test_row_local_bands_equal_grouped_bands(spark):
    """The row-local signature (minhash_mins_column: one aggregate
    pass, md5 once per shingle) and the grouped one (_sig_of: one min
    aggregate per permutation over exploded shingles) must band every
    doc identically — the streaming and batch dedup answers agree only
    while both compute the same sketch."""
    from codegraph_spark.queries.dedup import _banded, _shingles_of, _sig_of
    from codegraph_spark.queries.streaming import _banded_docs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "a completely different document about spark shuffle behavior"),
            (3, "short"),  # zero shingles -> NULL keys on every band
            (4, "the quick brown fox jumps over the lazy dog again and again"),
            (5, "exactly three words"),  # one shingle
        ],
        "doc_id long, text string",
    )
    row_local = {
        (r["doc_id"], r["band"]): r["key"]
        for r in _banded_docs(docs, "doc_id").collect()
    }
    grouped = {
        (r["doc_id"], r["band"]): r["key"]
        for r in _banded(_sig_of(_shingles_of(docs)), "doc_id").collect()
    }
    assert {k: v for k, v in row_local.items() if v is not None} == grouped
    assert all(v is None for (d, _), v in row_local.items() if d == 3)
    assert {d for d, _ in grouped} == {1, 2, 4, 5}
    assert grouped[(1, 0)] == grouped[(4, 0)]  # identical docs, identical keys
