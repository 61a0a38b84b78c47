"""Incremental (Structured Streaming) ingestion mode.

The reference format is a static snapshot (README.md:20-26 — no mutation),
so the KG build itself is batch.  What streaming adds here is the INGESTION
edge a production pipeline needs: transcripts land continuously; extraction
is stateless, so it runs as a streaming query with exactly-once file-source
checkpointing into a staging triples table; the dictionary/encode stages
(global sorts) then run as periodic batch compactions over the staging
table via checkpoint.materialize_kg.

Extraction needs no streaming-specific plan: ``extract.extract_triples``
is a narrow map over the scan (the entity-link winner is a literal map
lookup), with no aggregation state, so it runs in append mode as is.
Streamed and batch extraction are tested equal (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from .extract import extract_triples
from .synth import TRANSCRIPTS_SCHEMA


def stream_extract(spark: SparkSession, input_dir: str, staging_dir: str,
                   checkpoint_dir: str) -> None:
    """Incrementally extract triples from transcript parquet files.

    Exactly-once per input file (file-source checkpoint); append-only
    staging table; rerun-safe — each call processes only NEW files
    (trigger availableNow, so it drains and stops).
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)
    )
    q = (
        extract_triples(stream)
        .writeStream.format("parquet")
        .option("path", staging_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_conv_progress(spark: SparkSession, input_dir: str,
                            checkpoint_dir: str, out_dir: str) -> "object":
    """Custom STATEFUL streaming operator (applyInPandasWithState): running
    per-conversation progress — cumulative turn and character counts — kept
    in grouped state across micro-batches AND across restarts (state lives
    in the checkpoint; the parquet sink is recoverable, unlike memory).
    The conversation id is the state key, so state is partitioned exactly
    like the shuffle and scales horizontally; each batch appends one row per
    updated conversation (monotone counters: the max per conv is current).

    Returns the started StreamingQuery (availableNow trigger — drains
    pending files then stops; a later call with the same checkpoint resumes
    the same state).
    """
    import pandas as pd  # noqa: F401  (module-level import required for workers)
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        turns, chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            turns += len(pdf)
            chars += int(pdf["text"].str.len().sum())
        state.update((turns, chars))
        yield pd.DataFrame({"conv_id": [key[0]], "turns_seen": [turns],
                            "chars_seen": [chars]})

    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)
    progressed = (
        stream.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType="conv_id string, turns_seen long, chars_seen long",
            stateStructType="turns long, chars long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return (
        progressed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True).start()
    )


def streaming_turn_stats(spark: SparkSession, input_dir: str,
                         query_name: str = "turn_stats") -> "object":
    """Watermarked event-time windowed aggregation over the transcript
    stream: per-hour per-role turn counts (late rows beyond 2h dropped).
    Returns the started StreamingQuery (memory sink, complete mode)."""
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "role")
        .agg(F.count("*").alias("n_turns"))
        .select(F.col("w.start").alias("window_start"), "role", "n_turns")
    )
    return (
        agg.writeStream.format("memory").queryName(query_name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
