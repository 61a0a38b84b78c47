"""SQL / basic-graph-pattern query surface (reference §2.5: the
experimental SPARQL feature, src/sparql.rs:45-83).

The reference plugs its quad-pattern lookup into an external SPARQL
evaluator; everything relational (BGP joins, projection, expressions,
ORDER BY / LIMIT / UNION) is delegated.  Here the delegation target is
Catalyst: ``register_views`` exposes the KG as SQL views and
``bgp`` compiles a basic graph pattern (list of triple patterns with
shared variables) into self-joins of the triples view — nothing custom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

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


def bgp_ids(kg: KG, patterns: list[tuple[str, str, str]]
            ) -> tuple[DataFrame, dict[str, str]] | None:
    """ID-level BGP join: each pattern is an id-level pattern query
    (``query.triple_ids_with_id_pattern``, a pruned projection scan), the
    patterns join on 8-byte IDs, and ALL string translation is deferred to
    the caller (the reference evaluates BGPs as repeated ID-level
    quad-pattern lookups, src/sparql.rs:45-68 — round 2's string-level join
    instantiated the full spo⋈3-dict enumeration per pattern, k full scans
    with wide string shuffle keys for a k-pattern BGP).

    Returns (ids_df, var -> id-space) where space is 's' (subject ids),
    'o' (object ids), 'p' (predicate ids), or 'shared' (ids <= n_shared,
    valid in both the subject and object spaces).  Returns None when a
    constant is unknown (empty result).  Raises ValueError when a variable
    spans the predicate space and the s/o space (disjoint ID spaces — the
    caller falls back to string-level joins).

    The s/o space subtlety: subject ids and object ids share 1..n_shared
    (the shared section) but collide numerically above it, so a variable
    bound at an s-position in one pattern and an o-position in another may
    only match shared terms — both sides are guarded ``id <= n_shared``
    before the equi-join (a term occurring as both subject and object is by
    construction in the shared section with ONE id).
    """
    want = {(pos, t) for pat in patterns
            for pos, t in zip("spo", pat) if not _is_var(t)}
    ids = kg.dict.lookup(want)
    if len(ids) < len(want):    # an unknown constant: provably empty
        return None
    n_shared = kg.dict.n_shared

    result: DataFrame | None = None
    space: dict[str, str] = {}     # var -> 's' | 'o' | 'p' | 'shared'
    col_of: dict[str, str] = {}    # var -> column name in result

    for i, (s, p, o) in enumerate(patterns):
        df = triple_ids_with_id_pattern(
            kg, *(None if _is_var(t) else ids[(pos, t)]
                  for pos, t in zip("spo", (s, p, o))))
        # variable columns of this pattern, renamed to per-pattern names
        local: dict[str, tuple[str, str]] = {}  # var -> (colname, space)
        for pos, term in (("s", s), ("p", p), ("o", o)):
            if not _is_var(term):
                continue
            v = term[1:]
            if v in local:
                # same var twice within one pattern: ID equality, and for
                # s/o pairs only shared ids denote the same term
                prev_pos = local[v][1]
                if "p" in (prev_pos, pos):
                    raise ValueError(
                        f"variable ?{v} spans predicate and s/o ID spaces")
                df = df.filter((F.col(local[v][1]) == F.col(pos))
                               & (F.col(pos) <= n_shared))
                local[v] = (local[v][0], "shared")
            else:
                local[v] = (f"_{i}_{v}", pos)
        sel = [F.col(sp).alias(cn) for v, (cn, sp) in local.items()
               if sp in ("s", "p", "o")]
        # vars collapsed to 'shared' keep their first position's column
        for v, (cn, sp) in local.items():
            if sp == "shared":
                pos0 = "s" if "?" + v == s else ("p" if "?" + v == p else "o")
                sel.append(F.col(pos0).alias(cn))
        step = df.select(*sel)

        if result is None:
            result = step
        else:
            conds, guards = [], []
            for v, (cn, sp) in local.items():
                if v not in space:
                    continue
                acc_sp = space[v]
                pair = {acc_sp, sp}
                if "p" in pair and pair != {"p"}:
                    raise ValueError(
                        f"variable ?{v} spans predicate and s/o ID spaces")
                if pair in ({"s", "o"}, {"shared", "s"}, {"shared", "o"}):
                    # cross-space: only shared ids can match
                    guards.append((col_of[v], cn))
                    space[v] = "shared"
                conds.append((col_of[v], cn))
            if conds:
                left = result
                right = step
                for lcol, rcol in guards:
                    left = left.filter(F.col(lcol) <= n_shared)
                    right = right.filter(F.col(rcol) <= n_shared)
                cond = None
                for lcol, rcol in conds:
                    e = left[lcol] == right[rcol]
                    cond = e if cond is None else (cond & e)
                result = left.join(right, cond, "inner").drop(
                    *[rcol for _, rcol in conds])
            else:
                result = result.crossJoin(step)
        for v, (cn, sp) in local.items():
            if v not in space:
                space[v] = sp
                col_of[v] = cn
    assert result is not None, "empty BGP"
    return result.select(*[F.col(col_of[v]).alias(v) for v in sorted(space)]), space


def bgp(kg: KG, patterns: list[tuple[str, str, str]]) -> DataFrame:
    """Evaluate a basic graph pattern: each element is (s, p, o) where a
    leading '?' marks a variable; constants are canonical term strings.

    Compiles ID-level (``bgp_ids``): per-pattern pruned projection scans
    joined on integer IDs, strings materialized once at the end.  Falls
    back to string-level joins only for the degenerate case of a variable
    spanning the predicate and subject/object ID spaces (disjoint spaces).
    Returns one column per distinct variable, named without the '?'.
    """
    try:
        compiled = bgp_ids(kg, patterns)
    except ValueError:
        return bgp_strings(kg, patterns)
    if compiled is None:
        all_vars = sorted({t[1:] for pat in patterns for t in pat
                           if _is_var(t)})
        schema = ", ".join(f"`{v}` string" for v in all_vars)
        return kg.spo.sparkSession.createDataFrame([], schema)
    ids_df, space = compiled
    return ids_to_strings(kg, ids_df, space)


def bgp_strings(kg: KG, patterns: list[tuple[str, str, str]]) -> DataFrame:
    """String-level BGP join over the persisted enumeration — the fallback
    for variables that span disjoint ID spaces (predicate vs subject/object).
    """
    enum = kg.str_enum()

    def is_var(t: str) -> bool:
        return t.startswith("?")

    result: DataFrame | None = None
    bound_vars: dict[str, str] = {}  # var -> column name in result

    for i, (s, p, o) in enumerate(patterns):
        t = enum.alias(f"t{i}")
        cols, filters, joins = {}, [], []
        for pos, term in (("s", s), ("p", p), ("o", o)):
            col = F.col(f"t{i}.{pos}")
            if is_var(term):
                v = term[1:]
                if v in cols:           # same variable twice in one pattern
                    filters.append(col == cols[v])
                elif v in bound_vars:
                    joins.append((bound_vars[v], col))
                else:
                    cols[v] = col
            else:
                filters.append(col == term)
        step = t
        for f in filters:
            step = step.filter(f)
        proj = step.select(
            *[c.alias(v) for v, c in cols.items()],
            *[c.alias(f"_join_{j}") for j, (_, c) in enumerate(joins)],
        )
        if result is None:
            result = proj
            bound_vars.update({v: v for v in cols})
        else:
            if joins:
                cond = None
                for j, (existing, _) in enumerate(joins):
                    e = F.col(f"_l.{existing}") == F.col(f"_r._join_{j}")
                    cond = e if cond is None else (cond & e)
                result = result.alias("_l").join(proj.alias("_r"), cond, "inner")
                result = result.drop(*[f"_join_{j}" for j in range(len(joins))])
            else:
                result = result.crossJoin(proj)
            bound_vars.update({v: v for v in cols})
    assert result is not None, "empty BGP"
    return result.select(*sorted(bound_vars))
