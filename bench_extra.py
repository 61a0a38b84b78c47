#!/usr/bin/env python
"""Stage-isolated measurements (guide §1.1/§1.4) — NOT the frozen bench.

Isolates each phase of the KG build with explicit barriers and the noop
sink so stage attribution is explicit; `bench.py` stays the frozen
driver-facing harness.  Usage:

    python bench_extra.py build   [sf]   # kg_build stage attribution (synth)
    python bench_extra.py docs    [sf]   # kg_build_documents attribution
    python bench_extra.py enum    [sf]   # str_enum build variants
    python bench_extra.py queries [sf]   # q_sp_cold / warm q_* attribution

sf (default 1.0) sizes the synth corpus like bench.py does
(n_conv = 100_000 * sf) and selects /root/testdata/sf<sf> for docs.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, fn, out):
    spark.sparkContext.setJobDescription(name)
    t0 = time.monotonic()
    r = fn()
    w = round(time.monotonic() - t0, 3)
    out[name] = w
    print(f"  {name}: {w}s", flush=True)
    spark.sparkContext.setJobDescription(None)
    return r


def get_session():
    from hdtspark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    return get_spark(app_name="hdtspark-bench-extra",
                     master=f"local[{cpus}]", shuffle_partitions=cpus)


def corpus(spark, sf: float):
    from hdtspark import synth

    n_conv = max(200, int(100_000 * sf))
    t = synth.transcripts_df(spark, seed=42, n_conv=n_conv).cache()
    n = t.count()
    print(f"corpus: {n} turns", flush=True)
    return t


def docs_corpus(spark, sf: float):
    import __spark_entry__ as entry

    sf_dir = f"/root/testdata/sf{sf}"
    t = entry._transcripts_from_documents(spark, sf_dir).cache()
    n = t.count()
    print(f"docs corpus: {n} turns", flush=True)
    return t


def attribute_build(spark, transcripts, out):
    """Run the build phase-by-phase with barriers (distorts overlap, but
    attributes wall time to stages)."""
    from pyspark import StorageLevel

    from hdtspark import bitmap_triples, encode, extract
    from hdtspark.dict_builder import build_dict

    # --- extract, isolated by noop ---
    timed(spark, "extract_noop",
          lambda: noop(extract.extract_triples(transcripts)), out)

    tri = extract.extract_triples(transcripts).persist(StorageLevel.DISK_ONLY)
    timed(spark, "extract_to_diskcache", lambda: tri.count(), out)

    d = timed(spark, "dict_build_plans", lambda: build_dict(tri), out)
    timed(spark, "dict_ids_materialize", lambda: d.ids.count(), out)

    timed(spark, "encode_hash_check",
          lambda: encode.hashes_injective(d), out)
    spo = encode.encode_triples(tri, d).cache()
    timed(spark, "encode_spo_materialize", lambda: spo.count(), out)

    bits = encode.dict_bits(d)
    timed(spark, "ops_noop",
          lambda: noop(encode.ops_projection(spo, bits=bits)), out)
    timed(spark, "pso_noop",
          lambda: noop(encode.pso_projection(spo, bits=bits)), out)
    timed(spark, "adjacency_noop",
          lambda: noop(bitmap_triples.adjacency(spo, bits=bits)), out)
    return tri, d, spo


def cmd_build(spark, sf: float, out):
    t = corpus(spark, sf)
    tri, d, spo = attribute_build(spark, t, out)


def cmd_docs(spark, sf: float, out):
    t = docs_corpus(spark, sf)
    attribute_build(spark, t, out)


def cmd_enum(spark, sf: float, out):
    from hdtspark import pipeline, query

    t = corpus(spark, sf)
    kg = pipeline.build_kg(t)
    timed(spark, "build_materialize", lambda: pipeline.materialize(kg), out)
    # current path: 3 dictionary joins, persisted + counted
    timed(spark, "str_enum_joins_count", lambda: kg.str_enum().count(), out)
    kg._str_enum.unpersist()
    kg._str_enum = None
    # variant: dedup of the raw string triples
    from pyspark import StorageLevel

    def raw_dedup():
        e = (kg.triples_str.select("s", "p", "o").dropDuplicates()
             .persist(StorageLevel.MEMORY_AND_DISK))
        n = e.count()
        e.unpersist()
        return n

    timed(spark, "str_enum_rawdedup_count", raw_dedup, out)
    # variant: joins with shuffle-hash hints
    from hdtspark.query import ids_to_strings

    def shj():
        e = ids_to_strings(kg, kg.spo).persist(StorageLevel.MEMORY_AND_DISK)
        n = e.count()
        e.unpersist()
        return n

    timed(spark, "str_enum_joins_again", shj, out)


def cmd_queries(spark, sf: float, out):
    from hdtspark import pipeline, query, rules, synth

    t = corpus(spark, sf)
    kg = pipeline.build_kg(t)
    timed(spark, "build_materialize", lambda: pipeline.materialize(kg), out)
    s_const = rules.turn_iri(synth.conv_id_for(1), 1)
    timed(spark, "q_sp_cold", lambda: query.triples_with_pattern(
        kg, s=s_const, p=rules.P_MENTIONS).count(), out)
    timed(spark, "q_sp_cold2", lambda: query.triples_with_pattern(
        kg, s=s_const, p=rules.P_MENTIONS).count(), out)
    timed(spark, "kg_enum", lambda: kg.str_enum().count(), out)
    for name, kw in (("q_all", {}), ("q_s", {"s": s_const}),
                     ("q_p", {"p": rules.P_MENTIONS}),
                     ("q_o", {"o": rules.ent_iri("apache-spark")}),
                     ("q_po", {"p": rules.P_TYPE, "o": rules.C_ENTITY})):
        timed(spark, name,
              lambda kw=kw: query.triples_with_pattern(kg, **kw).count(), out)
        timed(spark, name + "_2",
              lambda kw=kw: query.triples_with_pattern(kg, **kw).count(), out)


def skew_triples(spark, n_total: int, hot_deg: int):
    """Adversarially skewed graph (VERDICT r5 #8): ONE subject with
    ``hot_deg`` distinct objects, and ~90% of all triples under ONE
    predicate; the rest spread over many subjects/predicates."""
    from pyspark.sql import functions as F

    base = "http://skew.example"
    hot = (spark.range(hot_deg).select(
        F.lit(f"{base}/s/hot").alias("s"),
        F.lit(f"{base}/p/hot").alias("p"),
        F.concat(F.lit(f"{base}/o/"), F.col("id").cast("string")).alias("o")))
    n_bg = n_total - hot_deg
    bg = (spark.range(n_bg).select(
        F.concat(F.lit(f"{base}/s/"), (F.col("id") % (n_bg // 8))
                 .cast("string")).alias("s"),
        # ~89% of background rows also use the hot predicate
        F.when(F.col("id") % 9 != 0, F.lit(f"{base}/p/hot"))
        .otherwise(F.concat(F.lit(f"{base}/p/"),
                            (F.col("id") % 40).cast("string"))).alias("p"),
        F.concat(F.lit(f"{base}/v/"), (F.col("id") % (n_bg // 4))
                 .cast("string")).alias("o")))
    return hot.unionAll(bg)


def cmd_skew(spark, sf: float, out):
    """Skewed-graph build: 10^6-degree hot subject + ~90%-mass hot
    predicate.  Exercises the salted adjacency two-phase agg and the
    (o, p)-ranged OPS projection under real skew; also times the UNSALTED
    adjacency for contrast."""
    from pyspark import StorageLevel

    from hdtspark import bitmap_triples, encode, pipeline

    n_total = int(10_000_000 * sf)
    hot_deg = int(1_000_000 * sf)
    tri = skew_triples(spark, n_total, hot_deg).persist(StorageLevel.DISK_ONLY)
    print(f"skew corpus: {tri.count()} raw triples", flush=True)

    kg = timed(spark, "skew_build_full",
               lambda: pipeline.build_kg_from_triples(tri), out)
    timed(spark, "skew_materialize", lambda: pipeline.materialize(kg), out)
    print("max_raw_subj_degree:", kg.dict.max_raw_subj_degree, flush=True)
    bits = encode.dict_bits(kg.dict)
    timed(spark, "skew_adj_salted_noop",
          lambda: noop(bitmap_triples.adjacency(
              kg.spo, salt_buckets=16, bits=bits)), out)
    timed(spark, "skew_adj_unsalted_noop",
          lambda: noop(bitmap_triples.adjacency(
              kg.spo, salt_buckets=None, bits=bits)), out)
    timed(spark, "skew_ops_noop",
          lambda: noop(encode.ops_projection(kg.spo, bits=bits)), out)
    timed(spark, "skew_adj_chunked_noop",
          lambda: noop(bitmap_triples.adjacency_chunked(
              kg.spo, degree_cap=200_000 if sf >= 1 else 20_000)), out)
    kg.unpersist()
    tri.unpersist()


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "build"
    sf = float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    spark = get_session()
    out: dict[str, float] = {}
    t0 = time.monotonic()
    {"build": cmd_build, "docs": cmd_docs, "enum": cmd_enum,
     "queries": cmd_queries, "skew": cmd_skew}[mode](spark, sf, out)
    out["_total"] = round(time.monotonic() - t0, 3)
    print(json.dumps({"mode": mode, "sf": sf, "stages": out}))
    spark.stop()


if __name__ == "__main__":
    main()
