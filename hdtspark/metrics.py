"""VOID-style statistics (reference fill_header, src/nt.rs:47-113)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from .dict_builder import FourSectDict


def void_stats(d: FourSectDict, num_triples: int) -> dict[str, int]:
    """numTriples / distinct subjects / distinct objects / numProperties.

    The dictionary of a graph holds exactly the graph's terms, one id per
    role (shared terms count as both subject and object), so its section
    counts are the distinct counts — no aggregation over the triples.
    ``num_triples`` is the distinct triple count: the spo stage's observed
    ``rows_out``, or ``spo.count()`` in memory."""
    return {"num_triples": int(num_triples),
            "distinct_subjects": d.n_shared + d.n_subjects,
            "distinct_objects": d.n_shared + d.n_objects,
            "num_predicates": d.n_predicates}


def void_stats_df(d: FourSectDict, num_triples: int) -> DataFrame:
    """``void_stats`` as a (key, value) table, keys sorted."""
    return d.shared.sparkSession.createDataFrame(
        sorted(void_stats(d, num_triples).items()), "key string, value long")
