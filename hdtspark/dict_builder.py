"""Four-section dictionary build (reference src/four_sect_dict.rs semantics).

Section split is the set-algebra of reference src/nt.rs:245-266 —
shared = subjects ∩ objects, subject-only = S \\ O, object-only = O \\ S —
expressed as one flag aggregation.  Dense 1-based IDs are assigned per
section by global lexicographic (byte) order via ranking.dense_ids_grouped
(the distributed zipWithIndex-equivalent), matching reference src/dict_sect_pfc.rs:351-386
(BTreeSet sort) + :116,126 (id = rank + 1).

Global ID routing (reference src/four_sect_dict.rs:98-150): shared terms
keep their section id in both the subject and object ID spaces; overflow
sections add ``n_shared``.  ``FourSectDict`` owns every id space a query
uses (``space``, ``lookup``), including the global node space every SPARQL
relation joins on.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from .ranking import dense_ids_grouped

SECTIONS = ("shared", "subjects", "predicates", "objects")


@dataclass
class FourSectDict:
    shared: DataFrame      # (term, id)   1..n_shared
    subjects: DataFrame    # (term, id)   1..n_subj   (section-local)
    predicates: DataFrame  # (term, id)   1..n_pred
    objects: DataFrame     # (term, id)   1..n_obj    (section-local)
    n_shared: int
    n_subjects: int
    n_predicates: int
    n_objects: int
    # the (section, term, id) table all four sections filter from (persisted
    # by a build, a parquet read in a warehouse): ``lookup`` scans it once,
    # and KG.unpersist() releases it (r2's documents-build regression was
    # persists accumulating across builds in one JVM)
    ids: DataFrame
    # persisted upstream intermediates (the ranked-terms input) released
    # together with ids — kept cached so the dict build needs NO eager
    # materialization job of its own (ids materializes inside the first
    # consumer's job; one fewer sequential driver round per build)
    deps: tuple[DataFrame, ...] = ()
    # Max raw (pre-dedup) subject degree, computed for free inside the
    # ranking offsets pass: an upper bound on the true max degree, so the
    # adjacency salt decision is an exact deterministic function of the
    # build input instead of a per-run sample probe (one fewer job per
    # build, and reruns/resume get byte-identical plans).
    max_raw_subj_degree: int | None = None

    @classmethod
    def from_sections(cls, sections: DataFrame, **fields) -> "FourSectDict":
        """The dictionary of a ``(section, term, id)`` table, kept as ``ids``;
        ``fields`` are its four section counts (``counts()``) and any
        optional field."""
        return cls(**{name: sections.filter(F.col("section") == name)
                      .select("term", "id") for name in SECTIONS},
                   ids=sections, **fields)

    @staticmethod
    def section_spaces() -> Column:
        """The id spaces (``s``, ``o``, ``p``) a term of a ``section`` row
        belongs to, as an array column (shared terms are in both s and o)."""
        return (F.when(F.col("section") == "shared",
                       F.array(F.lit("s"), F.lit("o")))
                .when(F.col("section") == "subjects", F.array(F.lit("s")))
                .when(F.col("section") == "objects", F.array(F.lit("o")))
                .otherwise(F.array(F.lit("p"))))

    def counts(self) -> dict[str, int]:
        """The four section counts, keyed as ``from_sections`` takes them
        (and as the dict stage's manifest records them)."""
        return {f"n_{name}": getattr(self, f"n_{name}") for name in SECTIONS}

    def unpersist(self) -> None:
        self.ids.unpersist()
        for df in self.deps:
            df.unpersist()

    def offsets(self, name: str) -> dict[str, int]:
        """The sections an id space covers, each with the offset its
        section-local ids take in the space.

        ``s``/``o``: the per-role subject/object spaces of the triples (shared
        ids valid in both); ``p``: predicates; ``node``: the global node
        space every SPARQL relation joins on (see ``node_global_expr``)."""
        n = self.n_shared
        return {"s": {"shared": 0, "subjects": n},
                "o": {"shared": 0, "objects": n},
                "p": {"predicates": 0},
                "node": {"shared": 0, "subjects": n,
                         "objects": n + self.n_subjects}}[name]

    @property
    def subj_global(self) -> DataFrame:
        """(term, id) over the full subject ID space 1..n_shared+n_subj."""
        return self.space("s")[0]

    @property
    def obj_global(self) -> DataFrame:
        """(term, id) over the full object ID space 1..n_shared+n_obj."""
        return self.space("o")[0]

    def node_global_expr(self, col: str) -> Column:
        """Map an object-space id column to the global node-id space.

        A subject id already is a node id (shared terms keep 1..n_shared,
        subject-only terms n_shared+1..n_shared+n_subj); object-only ids
        shift up by n_subj.  An arithmetic bijection to term identity, so
        node-id equality is term equality with no dictionary join and no
        shared-section guard."""
        return (F.when(F.col(col) <= self.n_shared, F.col(col))
                .otherwise(F.col(col) + self.n_subjects))

    def predicate_nodes(self) -> DataFrame:
        """(p, node): the node id of every predicate term that is also a
        subject or object, at most ``n_predicates`` rows — the one join a
        variable at both a predicate and a subject/object position needs."""
        preds = self.predicates.select("term", F.col("id").alias("p"))
        return (self.space("node")[0].join(F.broadcast(preds), "term")
                .select("p", F.col("id").alias("node")))

    def space(self, name: str) -> tuple[DataFrame, int]:
        """The (term, id) table of an id space (``offsets``) and its exact
        term count."""
        offs = self.offsets(name)
        parts = [getattr(self, sec) if off == 0 else getattr(self, sec)
                 .select("term", (F.col("id") + off).alias("id"))
                 for sec, off in offs.items()]
        return (reduce(DataFrame.unionAll, parts),
                sum(getattr(self, f"n_{sec}") for sec in offs))

    def lookup(self, pairs) -> dict[tuple[str, str], int]:
        """(space, term) pairs -> ids in ONE Spark job, the set form of the
        reference's ``string_to_id`` (src/four_sect_dict.rs:98-150): one
        filter over ``ids`` on the terms and on the sections the spaces
        cover (so a clustered parquet dictionary prunes on both), then each
        row's section-local id is shifted into every requested space that
        covers its section (``offsets``).  Absent pairs are missing from
        the result; no pairs, no job."""
        spaces: dict[str, set[str]] = {}
        for sp, term in pairs:
            spaces.setdefault(term, set()).add(sp)
        if not spaces:
            return {}
        offs = {sp: self.offsets(sp) for sps in spaces.values() for sp in sps}
        sections = sorted({sec for o in offs.values() for sec in o})
        rows = self.ids.filter(F.col("section").isin(sections)
                               & F.col("term").isin(sorted(spaces))).collect()
        return {(sp, r["term"]): r["id"] + offs[sp][r["section"]]
                for r in rows for sp in spaces[r["term"]]
                if r["section"] in offs[sp]}

    def sections_df(self) -> DataFrame:
        """All four sections as (section, term, id) — for tests/export."""
        return reduce(DataFrame.unionAll, [
            getattr(self, name).select(F.lit(name).alias("section"), "term", "id")
            for name in SECTIONS])

    DICT_TERMS_PER_FILE = 2_000_000

    def sections_clustered(self, num_files: int | None = None) -> DataFrame:
        """``sections_df`` range-clustered + sorted by (section, term) for
        durable materialization: every parquet file/row group then covers a
        CONTIGUOUS term range, so a dictionary point lookup (str -> id)
        prunes the scan via min/max statistics instead of reading the whole
        table — the Spark analog of the reference's per-block binary search
        (reference src/dict_sect_pfc.rs:87-127).

        The file count is explicit (derived from the known term counts) so
        AQE cannot coalesce the small exchange into one un-prunable file.
        """
        if num_files is None:
            total = (self.n_shared + self.n_subjects + self.n_predicates
                     + self.n_objects)
            num_files = max(1, -(-total // self.DICT_TERMS_PER_FILE))
        return (self.sections_df()
                .repartitionByRange(num_files, "section", "term")
                .sortWithinPartitions("section", "term"))


def build_dict(triples_str: DataFrame) -> FourSectDict:
    """Raw string triples -> four-section dictionary with dense IDs.

    Section classification (shared = S∩O, subject-only = S\\O, object-only =
    O\\S — reference src/nt.rs:245-266) is ONE aggregation pass: explode each
    triple into (term, is_subject) / (term, is_object) markers, groupBy(term)
    with max() flags (map-side partial combine), then a CASE over the flags —
    instead of two distincts + a semi-join + two anti-joins (5 shuffles → 1).
    All four sections are then ranked in a SINGLE grouped two-phase pass
    (one ranged shuffle + one tiny offsets agg), the Spark analog of the
    reference's four parallel section-builder threads (src/nt.rs:240-266).
    Section counts fall out of the offsets aggregation for free.
    """
    flags = (
        triples_str.select(
            F.explode(F.array(
                F.struct(F.col("s").alias("term"), F.lit(1).alias("is_s"),
                         F.lit(0).alias("is_o"), F.lit(0).alias("is_p")),
                F.struct(F.col("o").alias("term"), F.lit(0).alias("is_s"),
                         F.lit(1).alias("is_o"), F.lit(0).alias("is_p")),
                F.struct(F.col("p").alias("term"), F.lit(0).alias("is_s"),
                         F.lit(0).alias("is_o"), F.lit(1).alias("is_p")),
            )).alias("t")
        )
        .select("t.*")
        .groupBy("term")
        # sum(is_s) = the term's raw subject degree — a byproduct of the
        # same map-side-combined pass, consumed by the adjacency salt
        # decision (replaces a per-build sample-probe job)
        .agg(F.max("is_s").alias("is_s"), F.max("is_o").alias("is_o"),
             F.max("is_p").alias("is_p"),
             F.sum("is_s").cast("long").alias("sdeg"))
    )
    # A term can be a predicate AND a subject/object: the reference numbers
    # predicates independently (four_sect_dict.rs:35-44), so emit the term
    # into both its s/o section and the predicates section.
    so_terms = flags.filter((F.col("is_s") == 1) | (F.col("is_o") == 1)).select(
        F.when((F.col("is_s") == 1) & (F.col("is_o") == 1), "shared")
        .when(F.col("is_s") == 1, "subjects")
        .otherwise("objects")
        .alias("section"),
        "term",
        "sdeg",
    )
    p_terms = flags.filter(F.col("is_p") == 1).select(
        F.lit("predicates").alias("section"), "term",
        F.lit(0).cast("long").alias("sdeg"))
    # Ranking reads its input 4x (count, boundary sample, offsets, final
    # pass); persist the distinct-terms table so the term-explode groupBy
    # above runs ONCE, not four times.
    from pyspark import StorageLevel

    labeled = so_terms.unionAll(p_terms).persist(StorageLevel.MEMORY_AND_DISK)

    ids, totals, extras = dense_ids_grouped(
        labeled, "section", "term",
        extra_aggs={"max_sdeg": F.max("sdeg")})
    max_sdeg = max((v for g, v in extras["max_sdeg"].items()
                    if g in ("shared", "subjects") and v is not None),
                   default=0)
    # The dictionary is the hot lookup structure: encode joins it three
    # times and every query filters it.  Persist the (small) table once —
    # recompute is deterministic (literal range buckets), so block loss is
    # harmless, unlike round 1's persisted nondeterministic rank pass.
    # Materialization is LAZY: ids fills its cache inside the first
    # consumer's job (the encode joins) instead of a dedicated count() —
    # one fewer sequential driver round per build.  The ranked-terms input
    # cache therefore stays alive until KG.unpersist() releases both
    # (tracked in ``deps``; round 1's bug was never releasing it at all).
    ids = ids.persist(StorageLevel.MEMORY_AND_DISK)
    return FourSectDict.from_sections(
        ids, **{f"n_{g}": totals.get(g, 0) for g in SECTIONS},
        deps=(labeled,), max_raw_subj_degree=max_sdeg)
