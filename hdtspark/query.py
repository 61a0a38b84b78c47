"""Triple-pattern query dispatch (reference src/hdt.rs:266-314).

``triples_with_pattern(kg, s, p, o)`` mirrors the reference's 8-arm
dispatch: constants are looked up in the dictionary first; any unknown
constant short-circuits to an empty result before launching a scan
(reference src/hdt.rs:270-274).  Bound patterns route to the projection
whose sort order makes the filter a pruned scan:

    s bound           -> SPO   (reference SubjectIter, subject_iter.rs)
    o bound (s free)  -> OPS   (reference ObjectIter / PredicateObjectIter
                                 over the OP index, object_iter.rs)
    p bound only      -> PSO   (reference PredicateIter over the wavelet
                                 tree, predicate_iter.rs)
    none bound        -> SPO full scan (reference SubjectIter::new)

As in the reference, a bound position echoes the caller's constant (a
literal column: ``lookup`` matched it by byte equality) and only the free
positions are translated back to strings, by ``ids_to_strings``, the one id
-> term translator of every query path (patterns, BGPs, negated sets and
path closures): dictionary joins, the set-based analog of the reference's
per-position TripleCache (src/hdt.rs:349-384).  Constants resolve through
``FourSectDict.lookup``, the one constant lookup: one filtered scan of the
dictionary's (section, term, id) table for all of a query's constants.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .dict_builder import FourSectDict
from .encode import dict_side


@dataclass
class KG:
    """The materialized knowledge graph: dictionary + sorted projections."""

    dict: FourSectDict
    spo: DataFrame
    ops: DataFrame
    pso: DataFrame
    adj: DataFrame | None = None
    triples_str: DataFrame | None = None
    stats: dict = field(default_factory=dict)
    # persisted build intermediates (the packed pre-exchange encode output)
    # released with the KG — see encode.encode_triples(deps_out=...)
    build_deps: tuple = ()
    # lazily-built, persisted string enumeration (see str_enum)
    _str_enum: DataFrame | None = field(default=None, repr=False)

    def str_enum(self) -> DataFrame:
        """The full string-level (s, p, o) enumeration, persisted once.

        Built on first use and cached MEMORY_AND_DISK: every string-level
        query and the NT/Turtle sinks read it, and caching it means the
        up-to-1M-term dictionary broadcasts are paid ONCE per KG instead of
        once per query action (r2: every query re-built 60-80 MB
        HashedRelations, flattening q_* at ~2s regardless of selectivity).
        Cached columnar batches keep min/max stats, so selective filters
        still prune batches like a sorted parquet scan would.
        """
        if self._str_enum is None:
            from pyspark import StorageLevel

            self._str_enum = ids_to_strings(self, self.spo).persist(
                StorageLevel.MEMORY_AND_DISK)
        return self._str_enum

    def unpersist(self, blocking: bool = False) -> None:
        """Release every persist this KG owns (triples_str, spo, the
        optionally-cached projections, the dictionary ids table, the string
        enumeration).  Builds that construct several KGs in one JVM (bench,
        multi-graph jobs) must call this between builds — r2's
        documents-path build ran 3-9x slower purely from the accumulated
        memory footprint of earlier KGs' never-released caches."""
        for df in (self.triples_str, self.spo, self.ops, self.pso,
                   self._str_enum, *self.build_deps):
            if df is not None:
                df.unpersist(blocking)
        self.dict.unpersist()


def _lookup_ids(kg: KG, s: str | None, p: str | None, o: str | None):
    """The bound positions' ids in one lookup job (``FourSectDict.lookup``),
    as the reference's three ``string_to_id`` calls (src/hdt.rs:269).
    Missing constant -> 0 (the reference's sentinel); unbound -> None."""
    pos = (("s", s), ("p", p), ("o", o))
    found = kg.dict.lookup([kt for kt in pos if kt[1] is not None])
    return tuple(None if t is None else found.get((k, t), 0) for k, t in pos)


def triple_ids_with_pattern(kg: KG, s: str | None, p: str | None,
                            o: str | None) -> DataFrame | None:
    """ID-level pattern query; None means the empty short-circuit fired."""
    sid, pid, oid = _lookup_ids(kg, s, p, o)
    if 0 in (sid, pid, oid):
        return None
    return triple_ids_with_id_pattern(kg, sid, pid, oid)


def triple_ids_with_id_pattern(kg: KG, sid: int | None = None,
                               pid: int | None = None,
                               oid: int | None = None) -> DataFrame:
    """ID-level pattern entry taking IDs directly (reference
    ``triple_ids_with_id_pattern``, src/hdt.rs:334-345 — the id-array
    façade consumer).  ``None`` or 0 = wildcard, matching the reference's
    0-sentinel; routing picks the projection whose leading sort column is
    bound so the filter is a pruned scan."""
    sid, pid, oid = (x if x else None for x in (sid, pid, oid))
    if sid is not None:
        df = kg.spo.filter(F.col("s") == sid)
        if pid is not None:
            df = df.filter(F.col("p") == pid)
        if oid is not None:
            df = df.filter(F.col("o") == oid)
    elif oid is not None:
        df = kg.ops.filter(F.col("o") == oid)
        if pid is not None:
            df = df.filter(F.col("p") == pid)
    elif pid is not None:
        df = kg.pso.filter(F.col("p") == pid)
    else:
        df = kg.spo
    return df.select("s", "p", "o")


def ids_to_strings(kg: KG, ids: DataFrame,
                   space: str | dict[str, str] | None = None) -> DataFrame:
    """Id columns -> term strings.  Each column joins the (id, term) table
    of its id space, in column order; ``space`` names one space for all
    columns or one per column, and defaults to each column's own name (so
    an (s, p, o) id frame translates as triples).  Every join side follows
    ``encode.dict_side``: broadcast below the cap, so translation never
    shuffles the result set, and SHUFFLE_HASH above it."""
    out = ids
    for c in ids.columns:
        sp = space if isinstance(space, str) else (space or {}).get(c, c)
        tbl, n_terms = kg.dict.space(sp)
        out = out.join(dict_side(tbl.select(
            F.col("id").alias(c), F.col("term").alias(f"_t_{c}")), n_terms), c)
    return out.select(*[F.col(f"_t_{c}").alias(c) for c in ids.columns])


def triples_with_pattern(kg: KG, s: str | None = None, p: str | None = None,
                         o: str | None = None) -> DataFrame:
    """String-level pattern query — the reference's main public API.

    Scale-safe routing (reference src/hdt.rs:266-314): any BOUND position
    compiles to the ID path — all constants resolved in one dictionary scan,
    a pruned projection scan (``triple_ids_with_pattern``), then string
    translation of only the FREE positions of the RESULT rows
    (``ids_to_strings``).  Bound positions echo the caller's constant, as
    the reference's ``triples_with_pattern`` does: the constant is
    byte-equal to the dictionary term ``lookup`` matched.  A cold selective
    query therefore never materializes anything dataset-sized: the
    reference answers SP? with a binary search + pruned walk, and this is
    its Spark analog.

    The full string enumeration (``KG.str_enum``) is built only for the
    unbound ``???`` scan (inherently dataset-sized) — and if an earlier
    consumer (export, ``???``) already paid for it, bound queries reuse the
    cached batches (batch min/max stats prune like a sorted scan; reading
    an existing cache never *triggers* a dataset-sized materialization).
    """
    if s is None and p is None and o is None:
        return kg.str_enum()
    bound = {"s": s, "p": p, "o": o}
    if kg._str_enum is not None:
        df = kg._str_enum
        for col, v in bound.items():
            if v is not None:
                df = df.filter(F.col(col) == v)
        return df
    ids = triple_ids_with_pattern(kg, s, p, o)
    if ids is None:
        # unknown constant: provably empty; Spark plans a zero-row limit as
        # an empty local relation, so no scan or translation job runs
        ids = kg.spo.limit(0)
    free = ids_to_strings(kg, ids.select(*[c for c, v in bound.items()
                                           if v is None]))
    return free.select(*[F.col(c) if v is None else F.lit(v).alias(c)
                         for c, v in bound.items()])


def triples_matching(kg: KG, s_terms: list[str] | None = None,
                     p_terms: list[str] | None = None,
                     o_terms: list[str] | None = None) -> DataFrame:
    """Q10: multi-constant matchers (reference src/hdt_graph.rs:138-202).

    Each position may carry a term LIST; the reference routes singletons to
    the indexed paths and evaluates lists as residual post-filters — here
    every bound position becomes a Catalyst ``isin``/equality filter over
    the persisted string enumeration, pushed into the cached columnar scan
    (batch min/max stats prune like the reference's index seek).
    """
    df = kg.str_enum()
    for col, terms in (("s", s_terms), ("p", p_terms), ("o", o_terms)):
        if terms:
            df = df.filter(F.col(col).isin(terms))
    return df


def subjects_with_po(kg: KG, p: str, o: str) -> DataFrame:
    """?PO projection to subjects only (reference src/hdt.rs:236-253)."""
    return triples_with_pattern(kg, p=p, o=o).select("s")
