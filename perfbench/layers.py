"""The traced run: every layer's public function called in pipeline order,
each call forced to completion (a barrier) inside its own span and job
group, with per-layer counters read from Spark's status store.

The walk is the same for every workload; it runs over the workload's own
transcript corpus and, for the above-the-cap encode regime, over a small
wide-vocabulary N-Triples file.  Spans and counters go to a JSON file at
the end of the run.
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

import inputs
import meter
import workloads

WIDE_RESOURCES = 10_000
WIDE_BROADCAST_CAP = 5_000

SHAPE_KEYS = {"SPO": "spo", "SP?": "sp", "S?O": "so", "S??": "s",
              "?PO": "po", "?P?": "p", "??O": "o"}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, read from its name: a ``s`` word is
    seconds (``wall_s``, ``executor_cpu_s_per_pattern``), a ``bytes`` word
    is bytes, anything else is a count."""
    words = name.rsplit(".", 1)[-1].split("_")
    if "s" in words:
        return "s"
    return "bytes" if "bytes" in words else "count"


def walk(spark, work: str, workload: str, seed: int, jvm_s: float,
         out_path: str) -> tuple[dict, bool, int, int]:
    from pyspark import StorageLevel

    from hdtspark import (bitmap_triples, checkpoint, cli, encode, export,
                          extract, hdt_binary, pipeline, query, sources,
                          sparql)
    from hdtspark.dict_builder import build_dict

    n_conv, max_turns = {
        "build": (workloads.BUILD_N_CONV, workloads.BUILD_MAX_TURNS),
        "serve": (workloads.SERVE_N_CONV, workloads.SERVE_MAX_TURNS),
    }[workload]
    c = inputs.corpus(seed, n_conv, max_turns)
    src = os.path.join(work, "corpus")
    inputs.write_parquet(c.rows, src)
    res = workloads.Result()
    tr = meter.Tracer(spark)
    m: dict[str, float] = {"session.jvm_start_s": jvm_s}

    def transcripts():
        return spark.read.parquet(src)

    # full-size warm-up: a durable build in the fresh JVM
    with tr.span("session.warmup") as sp:
        checkpoint.materialize_kg(spark, transcripts(),
                                  os.path.join(work, "wh-warmup"))
    m["session.warmup_s"] = sp["wall_s"]
    shutil.rmtree(os.path.join(work, "wh-warmup"))

    # -- build layers, one barrier each --------------------------------------
    with tr.span("build_walk") as walk_sp:
        with tr.span("extract") as sp:
            tri = extract.extract_triples(transcripts()).persist(
                StorageLevel.DISK_ONLY)
            rows = tri.count()
        res.op(rows == c.raw, "extract rows")
        m.update({"extract.wall_s": sp["wall_s"], "extract.rows_out": rows,
                  "extract.shuffle_write_bytes": sp["shuffle_write_bytes"]})

        with tr.span("dict_builder") as sp:
            d = build_dict(tri)
            d.ids.count()
        got = {"shared": d.n_shared, "subjects": d.n_subjects,
               "predicates": d.n_predicates, "objects": d.n_objects}
        res.op(got == c.sections.as_dict(), "dict sections")
        m.update({"dict_builder.wall_s": sp["wall_s"],
                  "dict_builder.jobs": sp["jobs"],
                  "dict_builder.shuffle_write_bytes": sp["shuffle_write_bytes"],
                  "dict_builder.spill_bytes": sp["spill_bytes"],
                  "dict_builder.terms": sum(got.values())})

        deps: list = []
        with tr.span("encode") as sp:
            spo = encode.encode_triples(tri, d, deps_out=deps).cache()
            n = spo.count()
        res.op(n == len(c.distinct), "encode rows")
        bits = encode.dict_bits(d)
        with tr.span("encode.projections") as pj:
            ops = encode.ops_projection(spo, bits=bits)
            pso = encode.pso_projection(spo, bits=bits)
            res.op(ops.count() == pso.count() == n, "projection rows")
        m.update({"encode.wall_s": sp["wall_s"], "encode.jobs": sp["jobs"],
                  "encode.shuffle_write_bytes": sp["shuffle_write_bytes"],
                  "encode.spill_bytes": sp["spill_bytes"],
                  "encode.projections_wall_s": pj["wall_s"]})

        with tr.span("bitmap_triples") as sp:
            adj = bitmap_triples.adjacency(
                spo, salt_buckets=bitmap_triples.salt_buckets_for(
                    d.max_raw_subj_degree), bits=bits)
            n_adj = adj.count()
        res.op(n_adj == c.sections.shared + c.sections.subjects,
               "adjacency rows")
        m.update({"bitmap_triples.wall_s": sp["wall_s"],
                  "bitmap_triples.shuffle_write_bytes":
                  sp["shuffle_write_bytes"]})
        for df in (tri, spo, *deps):
            df.unpersist()
        d.unpersist()

    # the same build in one untraced call, for the tracing overhead and the
    # checkpoint overhead
    t0 = time.monotonic()
    kg = pipeline.build_kg(transcripts())
    res.op(pipeline.materialize(kg) == len(c.distinct), "in-memory build")
    mem_s = time.monotonic() - t0
    kg.unpersist()
    m["trace.overhead_s"] = walk_sp["wall_s"] - mem_s

    # -- checkpoint ------------------------------------------------------------
    wh = os.path.join(work, "wh")
    with tr.span("checkpoint") as sp:
        kg, mat = checkpoint.materialize_kg(spark, transcripts(), wh)
    res.op(mat.read_manifest("spo")["rows_out"] == len(c.distinct),
           "durable build")
    m["checkpoint.overhead_s"] = sp["wall_s"] - mem_s
    m["checkpoint.bytes_written"] = meter.dir_bytes(wh)
    before = {s: mat.read_manifest(s)["content_fingerprint"]
              for s in workloads.AFTER_SPO}
    workloads._kill_after_spo(wh)
    with tr.span("checkpoint.resume") as sp:
        kg, mat = checkpoint.materialize_kg(spark, transcripts(), wh)
    res.op([r.skipped for r in mat.results][:3] == [True] * 3
           and all(mat.read_manifest(s)["content_fingerprint"] == fp
                   for s, fp in before.items()), "resume")
    m["checkpoint.resume_jobs"] = sp["jobs"]

    # -- query and sparql over the warehouse, as `cli query` serves it -------
    kg = cli._load_kg(checkpoint.Materializer(spark, wh))
    mix = workloads.serve_mix(seed, c)
    per_shape: dict[str, list[float]] = {}
    jobs, stages, cpu = [], [], []
    for shape, (s, p, o), want in mix["patterns"]:
        with tr.span(f"query.{SHAPE_KEYS[shape]}") as sp:
            rows = query.triples_with_pattern(kg, s, p, o).collect()
        res.op({tuple(r) for r in rows} == want, f"pattern {shape}")
        per_shape.setdefault(SHAPE_KEYS[shape], []).append(sp["wall_s"])
        jobs.append(sp["jobs"])
        stages.append(sp["stages"])
        cpu.append(sp["executor_cpu_s"])
    for key, walls in per_shape.items():
        m[f"query.{key}_p50_s"] = median(walls)
    m["query.jobs_per_pattern"] = median(jobs)
    m["query.stages_per_pattern"] = median(stages)
    m["query.executor_cpu_s_per_pattern"] = median(cpu)

    q, want = mix["bgps"][0]
    with tr.span("sparql.bgp") as sp:
        rows = sparql.query(kg, q).collect()
    res.op({tuple(r) for r in rows} == want, "bgp")
    m["sparql.bgp_jobs"] = sp["jobs"]
    m["sparql.bgp_shuffle_bytes"] = sp["shuffle_write_bytes"]
    with tr.span("sparql.closure") as sp:
        q, want = mix["bound"]
        rows = sparql.query(kg, q).collect()
        res.op({tuple(r) for r in rows} == want, "bound closure")
        q, want = mix["unbound"]
        res.op(sparql.query(kg, q).count() == want, "unbound closure")
    m["sparql.closure_jobs"] = sp["jobs"]
    m["sparql.closure_shuffle_bytes"] = sp["shuffle_write_bytes"]

    with tr.span("query.enum") as sp:
        res.op(kg.str_enum().count() == len(c.distinct), "enumeration")
    m["query.enum_jobs"] = sp["jobs"]

    # -- sinks -------------------------------------------------------------------
    out_nt = os.path.join(work, "out.nt")
    with tr.span("export") as sp:
        export.write_nt(kg, out_nt)
    back = inputs.parse_nt_text(inputs.read_parts(out_nt))
    res.op(len(back) == len(c.distinct) and set(back) == c.distinct,
           "write_nt")
    m["export.wall_s"] = sp["wall_s"]
    m["export.bytes_written"] = meter.dir_bytes(out_nt)
    out_hdt = os.path.join(work, "out.hdt")
    with tr.span("hdt_binary") as sp:
        hdt_binary.write_hdt_file(kg, out_hdt)
    h = hdt_binary.read_hdt(out_hdt)
    subj, obj = h.shared + h.subjects, h.shared + h.objects
    res.op({(subj[s - 1], h.predicates[p - 1], obj[o - 1])
            for s, p, o in h.triples} == c.distinct, "write_hdt_file")
    m["hdt_binary.wall_s"] = sp["wall_s"]
    m["hdt_binary.bytes_written"] = os.path.getsize(out_hdt)
    m["hdt_binary.spark_s"] = sp["spark_s"]
    m["hdt_binary.python_s"] = sp["wall_s"] - sp["spark_s"]

    # -- sources, and dict/encode above the broadcast cap ----------------------
    wide_path = os.path.join(work, "wide", "wide.nt")
    w = inputs.wide_nt(seed, WIDE_RESOURCES, wide_path)
    cap = encode.BROADCAST_DICT_MAX_TERMS
    encode.BROADCAST_DICT_MAX_TERMS = WIDE_BROADCAST_CAP
    try:
        with tr.span("sources") as sp:
            tri = sources.read_nt(spark, wide_path).persist(
                StorageLevel.DISK_ONLY)
            res.op(tri.count() == w.lines, "read_nt rows")
        m["sources.wall_s"] = sp["wall_s"]
        with tr.span("dict_builder.hash_regime") as sp:
            d = build_dict(tri)
            d.ids.count()
        res.op((d.n_shared, d.n_subjects, d.n_predicates, d.n_objects)
               == tuple(w.sections.as_dict().values()), "wide dict sections")
        m["dict_builder.hash_regime_wall_s"] = sp["wall_s"]
        deps = []
        with tr.span("encode.hash_regime") as sp:
            spo = encode.encode_triples(tri, d, deps_out=deps).cache()
            res.op(spo.count() == len(w.distinct), "wide encode rows")
        m["encode.hash_regime_wall_s"] = sp["wall_s"]
        m["encode.hash_regime_jobs"] = sp["jobs"]
        m["encode.hash_regime_shuffle_write_bytes"] = sp["shuffle_write_bytes"]
        for df in (tri, spo, *deps):
            df.unpersist()
        d.unpersist()
    finally:
        encode.BROADCAST_DICT_MAX_TERMS = cap

    tr.write(out_path, m)
    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}
    return metrics, res.failed == 0, res.attempted, res.failed
