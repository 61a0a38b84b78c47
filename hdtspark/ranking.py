"""Distributed dense 1-based ID assignment by global sort order.

The reference assigns IDs as ``1 + rank of the term in the lexicographically
sorted section`` (reference src/dict_sect_pfc.rs:116,126 — BTreeSet order).
A naive ``row_number().over(Window.orderBy(term))`` pulls the whole section
into ONE partition — unusable at 100 TB.  This module implements the
zipWithIndex-equivalent as a PURELY JVM pipeline (round 1 used a
``mapInPandas`` rank pass, putting Python/Arrow on the build's critical
path; this version has no Python stage and nothing to persist):

1. ONE bounded driver-side sample picks range boundaries that are embedded
   as LITERALS, so a row's bucket is a deterministic pure function of its
   sort key.  (``repartitionByRange`` re-samples per job — two jobs sharing
   its output can silently disagree, which is why round 1 had to persist
   the ranked intermediate and never unpersist it.)
2. Per-bucket counts (one map-side-combined agg, ~#buckets rows to the
   driver) become cumulative offsets, broadcast back.
3. ``row_number()`` windowed BY BUCKET (each bucket ~N/B rows — never a
   global single-partition window); id = offset[bucket] + local rank.

Spark's UTF8 binary string ordering == Rust ``str`` byte order == Python
``str`` code-point order for valid UTF-8, so IDs match the oracle exactly
(verified with a Cyrillic fixture term, cf. reference src/hdt.rs:513-515).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SAMPLE_PER_BUCKET = 64
_SEED = 42


def _lex_ge(cols: list[str], values: list) -> F.Column:
    """(col_1..col_k) >= (v_1..v_k) lexicographically."""
    cond = F.col(cols[-1]) >= F.lit(values[-1])
    for c, v in zip(reversed(cols[:-1]), reversed(values[:-1])):
        cond = (F.col(c) > F.lit(v)) | ((F.col(c) == F.lit(v)) & cond)
    return cond


PROBE_FRACTION = 0.002
MAX_PROBE = 65536


def range_bucket(df: DataFrame, cols: list[str],
                 n_buckets: int | None = None,
                 n_rows: int | None = None) -> F.Column:
    """Deterministic, order-preserving bucket id for ``cols``.

    Boundaries come from one bounded sample; the returned Column is a pure
    function of the key, so every job that evaluates it agrees — no persist,
    no re-sampling hazard.

    Driver round-trips: ONE job.  When ``n_rows`` is unknown, the count and
    the boundary sample are a single collect — a union of a count-aggregate
    branch and a fixed-fraction sample branch (the count can't feed the
    sample fraction inside one job, so the sample runs at PROBE_FRACTION
    capped at MAX_PROBE rows).  At extreme scale pass ``n_rows`` (builds
    know their sizes) to get an exact-fraction sample with no limit-gather.
    """
    spark = df.sparkSession
    n = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n_rows is not None:
        if n_rows == 0:
            return F.lit(0)
        frac = min(1.0, (n * SAMPLE_PER_BUCKET) / n_rows)
        keys = sorted(tuple(r) for r in
                      df.select(*cols).sample(False, frac, seed=_SEED).collect())
        cnt = n_rows
    else:
        null_keys = [F.lit(None).cast(df.schema[c].dataType).alias(c)
                     for c in cols]
        cnt_branch = df.groupBy().agg(F.count("*").alias("_cnt")).select(
            F.lit(0).alias("_tag"), "_cnt", *null_keys)
        smp_branch = (
            df.select(*cols).sample(False, PROBE_FRACTION, seed=_SEED)
            .limit(MAX_PROBE)
            .select(F.lit(1).alias("_tag"),
                    F.lit(None).cast("long").alias("_cnt"), *cols))
        rows = cnt_branch.unionAll(smp_branch).collect()
        cnt = next(r["_cnt"] for r in rows if r["_tag"] == 0)
        if cnt == 0:
            return F.lit(0)
        keys = sorted(tuple(r[c] for c in cols)
                      for r in rows if r["_tag"] == 1)
        # Small-input fallback (one cheap retry): at a few thousand rows the
        # fixed-fraction probe yields ~0 keys, collapsing everything into one
        # bucket — the single-partition global window this module exists to
        # avoid.  Retry ONLY when the probe cannot even form n boundaries
        # (so the common case pays no extra job); the count is now known, so
        # the retry samples at the exact fraction.
        if len(keys) < n and cnt > len(keys):
            want = min(cnt, n * SAMPLE_PER_BUCKET)
            if want / cnt > PROBE_FRACTION:
                keys = sorted(tuple(r) for r in df.select(*cols)
                              .sample(False, min(1.0, want / cnt), seed=_SEED)
                              .collect())
    bounds: list[tuple] = []
    if keys:
        step = max(1, len(keys) // n)
        bounds = sorted({keys[i] for i in range(step, len(keys), step)})
    # Binary-search decision tree: each row evaluates O(log B) comparisons
    # (WHEN branches are lazy), not O(B).  A linear indicator sum made the
    # dictionary stage ANTI-scale: bucket count grows with the core count,
    # so more cores meant more compare work per row (measured 0.79x speedup
    # 2->8 cores at 13.7M triples; the tree restores real scaling).
    def tree(lo: int, hi: int) -> F.Column:
        """#bounds[lo:hi] <= key, offset by lo ⇒ bucket id at the leaves."""
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (
            F.when(_lex_ge(cols, list(bounds[mid])), tree(mid + 1, hi))
            .otherwise(tree(lo, mid))
        )

    return tree(0, len(bounds))


def _offsets_df(spark, counts, key_fields: str):
    rows, acc = [], 0
    for key, cnt in counts:
        rows.append((*key, acc))
        acc += cnt
    # fallback row must match the FULL schema: n key fields + the _off field
    empty = tuple([0] * (key_fields.count(",") + 1)) + (0,)
    return spark.createDataFrame(rows or [empty],
                                 key_fields + ", _off long"), acc


def dense_ids_grouped(df: DataFrame, group_col: str, col: str,
                      num_partitions: int | None = None,
                      id_col: str = "id",
                      extra_aggs: dict[str, F.Column] | None = None,
                      ) -> tuple[DataFrame, dict[str, int]]:
    """Per-group dense 1-based IDs by global sort order, one bucketed pass.

    Input: (group_col, col) distinct rows.  Output: (group_col, col, id_col)
    where id = 1 + rank of col within its group's global sort order, plus a
    {group: count} dict (free — derived from the offsets aggregation, saving
    one count() job per group).

    ``extra_aggs``: optional {name: aggregate Column} evaluated per
    (bucket, group) INSIDE the existing offsets collect, surfaced as a
    third return value {name: {group: value}} — piggyback statistics
    (e.g. max subject degree) ride the pass the builder already pays for
    instead of a dedicated job.

    Used to build all four dictionary sections in a single bucketed shuffle
    instead of four (reference builds its four sections on four threads,
    src/nt.rs:240-266 — this is the Spark analog).  The window partitions on
    (bucket, group) — satisfied by the bucket hash exchange (subset rule),
    so no second shuffle and no per-group single-reducer hotspot.
    """
    spark = df.sparkSession
    bucket = range_bucket(df, [group_col, col], num_partitions)
    wb = df.withColumn("_b", bucket)
    aggs = [F.count("*").alias("_cnt")]
    extra_names = list(extra_aggs) if extra_aggs else []
    aggs += [extra_aggs[nm].alias(f"_x_{i}")
             for i, nm in enumerate(extra_names)]
    raw = wb.groupBy("_b", group_col).agg(*aggs).collect()

    totals: dict[str, int] = {}
    extras: dict[str, dict] = {nm: {} for nm in extra_names}
    rows = []
    # offsets walk buckets in order per group: off = #rows of g in buckets < b
    for r in sorted(raw, key=lambda r: (r[group_col], r["_b"])):
        g = r[group_col]
        rows.append(((r["_b"], g), r["_cnt"]))
        totals[g] = totals.get(g, 0) + r["_cnt"]
        for i, nm in enumerate(extra_names):
            v = r[f"_x_{i}"]
            prev = extras[nm].get(g)
            extras[nm][g] = v if prev is None else max(prev, v)
    offsets, acc = [], {}
    for (b, g), cnt in rows:
        offsets.append((b, g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + cnt
    offsets_df = spark.createDataFrame(
        offsets or [(0, "", 0)], f"_b int, {group_col} string, _off long")

    w = Window.partitionBy("_b", group_col).orderBy(col)
    out = (
        wb.withColumn("_rn", F.row_number().over(w).cast("long"))
        .join(F.broadcast(offsets_df), ["_b", group_col])
        .select(group_col, col, (F.col("_off") + F.col("_rn")).alias(id_col))
    )
    if extra_aggs:
        # cross-bucket combine is max() — suits the monotone statistics
        # (max degree) this hook exists for
        return out, totals, extras
    return out, totals


def cumulative_sum(df: DataFrame, order_cols: list[str], weight_col: str,
                   out_col: str = "cum", num_partitions: int | None = None) -> DataFrame:
    """Exclusive prefix sum of ``weight_col`` in global ``order_cols`` order.

    Same bucketed pattern as dense_ids_grouped (per-bucket totals broadcast back +
    an in-bucket running window) — never a single-partition global window.
    Returns df's columns plus ``out_col``.
    """
    spark = df.sparkSession
    wb = df.withColumn("_b", range_bucket(df, order_cols, num_partitions))
    counts = sorted(
        (r["_b"], r["_tot"] or 0) for r in
        wb.groupBy("_b").agg(F.sum(weight_col).alias("_tot")).collect())
    offsets, _ = _offsets_df(spark, [((b,), t) for b, t in counts], "_b int")
    w = (Window.partitionBy("_b").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, -1))
    local = F.coalesce(F.sum(weight_col).over(w), F.lit(0)).cast("long")
    keep = list(df.columns)
    return (
        wb.withColumn("_local", local)
        .join(F.broadcast(offsets), "_b")
        .select(*keep, (F.col("_off") + F.col("_local")).alias(out_col))
    )
