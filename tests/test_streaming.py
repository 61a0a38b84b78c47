"""Streaming ingestion: exactly-once incremental extraction equals batch;
watermarked windowed aggregation."""

from __future__ import annotations

from collections import Counter

from hdtspark import extract, streaming, synth


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


def test_incremental_stream_extract(spark, tmp_path):
    inp = str(tmp_path / "in")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")

    rows = synth.generate_rows(11, 12)
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], synth.TRANSCRIPTS_SCHEMA) \
        .write.mode("append").parquet(inp)
    streaming.stream_extract(spark, inp, staging, ckpt)
    n1 = spark.read.parquet(staging).count()
    assert n1 > 0

    # second batch of files: only the NEW rows are processed (exactly-once)
    spark.createDataFrame(rows[half:], synth.TRANSCRIPTS_SCHEMA) \
        .write.mode("append").parquet(inp)
    streaming.stream_extract(spark, inp, staging, ckpt)

    got = _multiset(spark.read.parquet(staging))
    full = spark.createDataFrame(rows, synth.TRANSCRIPTS_SCHEMA)
    exp = _multiset(extract.extract_triples(full))
    assert got == exp

    # idempotent rerun with no new files adds nothing
    streaming.stream_extract(spark, inp, staging, ckpt)
    assert _multiset(spark.read.parquet(staging)) == exp


def test_stateful_conv_progress_across_restarts(spark, tmp_path):
    """applyInPandasWithState: per-conversation cumulative counts accumulate
    across micro-batches AND across query restarts (state in checkpoint)."""
    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    rows = synth.generate_rows(13, 6)
    half = len(rows) // 2

    spark.createDataFrame(rows[:half], synth.TRANSCRIPTS_SCHEMA) \
        .write.mode("append").parquet(inp)
    streaming.streaming_conv_progress(spark, inp, ckpt, out).awaitTermination()

    spark.createDataFrame(rows[half:], synth.TRANSCRIPTS_SCHEMA) \
        .write.mode("append").parquet(inp)
    streaming.streaming_conv_progress(spark, inp, ckpt, out).awaitTermination()

    # counters are monotone: the max row per conversation is its current
    # state, and must cover BOTH runs' rows (state survived the restart).
    got: dict[str, tuple[int, int]] = {}
    for r in spark.read.parquet(out).collect():
        cur = got.get(r["conv_id"], (0, 0))
        got[r["conv_id"]] = max(cur, (r["turns_seen"], r["chars_seen"]))
    exp: dict[str, list[int]] = {}
    for r in rows:
        tot = exp.setdefault(r["conv_id"], [0, 0])
        tot[0] += 1
        tot[1] += len(r["text"])
    assert got == {c: tuple(v) for c, v in exp.items()}


def test_streaming_turn_stats(spark, tmp_path):
    inp = str(tmp_path / "in")
    rows = synth.generate_rows(5, 8)
    spark.createDataFrame(rows, synth.TRANSCRIPTS_SCHEMA).write.parquet(inp)
    q = streaming.streaming_turn_stats(spark, inp, query_name="ts_test")
    q.awaitTermination()
    got = {(r["window_start"], r["role"]): r["n_turns"]
           for r in spark.sql("SELECT * FROM ts_test").collect()}
    exp = Counter()
    for r in rows:
        start = r["ts"].replace(minute=0, second=0, microsecond=0)
        exp[(start, r["role"])] += 1
    assert got == dict(exp)
