"""VOID-style statistics (reference fill_header, src/nt.rs:47-113)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def void_stats(spo: DataFrame) -> dict[str, int]:
    """numTriples / distinct subjects / distinct objects / numProperties —
    one aggregation pass (map-side partial aggregation)."""
    row = spo.agg(
        F.count("*").alias("num_triples"),
        F.countDistinct("s").alias("distinct_subjects"),
        F.countDistinct("o").alias("distinct_objects"),
        F.countDistinct("p").alias("num_predicates"),
    ).first()
    return {k: int(row[k]) for k in
            ("num_triples", "distinct_subjects", "distinct_objects", "num_predicates")}


def void_stats_df(spo: DataFrame) -> DataFrame:
    stats = void_stats(spo)
    return spo.sparkSession.createDataFrame(
        sorted(stats.items()), "key string, value long"
    )
