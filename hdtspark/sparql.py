"""SQL / basic-graph-pattern query surface (reference §2.5: the
experimental SPARQL feature, src/sparql.rs:45-83).

The reference plugs its quad-pattern lookup into an external SPARQL
evaluator; everything relational (BGP joins, projection, expressions,
ORDER BY / LIMIT / UNION) is delegated.  Here the delegation target is
Catalyst: ``register_views`` exposes the KG as SQL views, and ``bgp``
answers a basic graph pattern (list of triple patterns with shared
variables) as id-level pattern lookups joined on 8-byte global node ids
(``bgp_ids``), translated to strings once at the end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .encode import dict_side
from .query import KG, ids_to_strings, triple_ids_with_id_pattern


def query(kg: KG, q: str) -> DataFrame:
    """Evaluate a SPARQL SELECT string (the reference's string entry point,
    ``sparql::query`` src/sparql.rs:79-83) — parse, compile BGPs through
    ``bgp``, delegate expressions/modifiers to Catalyst."""
    from .sparql_parser import query_df

    return query_df(kg, q)


def register_views(spark: SparkSession, kg: KG, prefix: str = "hdt") -> None:
    """Expose string-level triples + dictionary sections as SQL temp views.

    ``{prefix}_triples(s, p, o)`` is the string-level full enumeration;
    ``{prefix}_spo`` the ID-level projection; four ``{prefix}_dict_*``
    views carry (term, id).
    """
    kg.str_enum().createOrReplaceTempView(f"{prefix}_triples")
    kg.spo.createOrReplaceTempView(f"{prefix}_spo")
    kg.dict.shared.createOrReplaceTempView(f"{prefix}_dict_shared")
    kg.dict.subjects.createOrReplaceTempView(f"{prefix}_dict_subjects")
    kg.dict.predicates.createOrReplaceTempView(f"{prefix}_dict_predicates")
    kg.dict.objects.createOrReplaceTempView(f"{prefix}_dict_objects")


def _is_var(t: str) -> bool:
    return t.startswith("?")


def empty_ids(kg: KG, cols: list[str]) -> DataFrame:
    """A provably empty id relation over ``cols``: Spark plans a zero-row
    limit as an empty local relation, so neither it nor the joins and
    translations above it run a job."""
    return kg.spo.select(*[F.col("s").alias(c) for c in cols]).limit(0)


def join_solutions(df: DataFrame | None, rel: DataFrame) -> DataFrame:
    """Join a solution relation into the accumulated solutions on their
    shared variable columns (a cross product when they share none); None
    is the empty group, whose join with ``rel`` is ``rel``."""
    if df is None:
        return rel
    common = [c for c in df.columns if c in rel.columns]
    return df.join(rel, on=common) if common else df.crossJoin(rel)


def pattern_vars(kg: KG, scan: DataFrame, pattern: tuple[str, str, str],
                 space: dict[str, str]) -> DataFrame:
    """One pattern's id-level scan (s, p, o) as one column per variable, in
    that variable's id space: a subject id already is a global node id, an
    object id maps through ``FourSectDict.node_global_expr``, and a
    predicate variable in the ``node`` space maps through the broadcast
    ``(p, node)`` table (dropping predicates that are not nodes).  A
    variable repeated in the pattern becomes an equality filter."""
    ids: dict[str, Column] = {"s": F.col("s"),
                              "o": kg.dict.node_global_expr("o"),
                              "p": F.col("p")}
    p = pattern[1]
    if _is_var(p) and space[p[1:]] == "node":
        scan = scan.join(dict_side(kg.dict.predicate_nodes(),
                                   kg.dict.n_predicates), "p")
        ids["p"] = F.col("node")
    cols: dict[str, Column] = {}
    for pos, t in zip("spo", pattern):
        if not _is_var(t):
            continue
        if t[1:] in cols:
            scan = scan.filter(cols[t[1:]] == ids[pos])
        else:
            cols[t[1:]] = ids[pos]
    return scan.select(*[c.alias(v) for v, c in cols.items()])


def bgp_ids(kg: KG, patterns: list[tuple[str, str, str]]
            ) -> tuple[DataFrame, dict[str, str]]:
    """ID-level BGP join: each pattern is an id-level pattern query
    (``query.triple_ids_with_id_pattern``, a pruned projection scan), the
    patterns join on 8-byte ids, and ALL string translation is deferred to
    the caller (the reference evaluates BGPs as repeated ID-level
    quad-pattern lookups, src/sparql.rs:45-68).

    Every variable has one id space, picked from the patterns before any
    join: ``node`` (global node ids, where id equality is term equality)
    for a variable at any subject or object position, ``p`` for a
    predicate-only variable (``pattern_vars``).  The patterns then join on
    plain variable-name columns.  Returns (ids_df with one column per
    variable, sorted by name; var -> space).  An unknown constant makes the
    relation provably empty (``empty_ids``).
    """
    space: dict[str, str] = {}
    for pat in patterns:
        for pos, t in zip("spo", pat):
            if _is_var(t) and space.get(t[1:]) != "node":
                space[t[1:]] = "p" if pos == "p" else "node"
    want = {(pos, t) for pat in patterns
            for pos, t in zip("spo", pat) if not _is_var(t)}
    ids = kg.dict.lookup(want)
    if len(ids) < len(want):
        return empty_ids(kg, sorted(space)), space
    result = None
    for pat in patterns:
        scan = triple_ids_with_id_pattern(
            kg, *(None if _is_var(t) else ids[(pos, t)]
                  for pos, t in zip("spo", pat)))
        result = join_solutions(result, pattern_vars(kg, scan, pat, space))
    assert result is not None, "empty BGP"
    return result.select(*sorted(space)), space


def bgp(kg: KG, patterns: list[tuple[str, str, str]]) -> DataFrame:
    """Evaluate a basic graph pattern: each element is (s, p, o) where a
    leading '?' marks a variable; constants are canonical term strings.

    One dictionary lookup for the constants, the id-level join
    (``bgp_ids``), then one translation of the result rows.  Returns one
    column per distinct variable, named without the '?'.
    """
    return ids_to_strings(kg, *bgp_ids(kg, patterns))
