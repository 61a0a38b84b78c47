"""spark-submit entry point (the reference CLI analog, src/main.rs:67-178).

Usage (cluster):
    python -m hdtspark.zip_build   # builds dist/hdtspark.zip
    spark-submit --py-files dist/hdtspark.zip cli_main.py <cmd> ...

Subcommands:
    synth      --n-conv N --out DIR           generate a transcript corpus
    build      --input DIR --warehouse DIR    (resumable) KG materialization
    query      --warehouse DIR [-s S] [-p P] [-o O] [--limit N]
               [--sparql QUERY]  SPARQL SELECT (BGP/UNION/OPTIONAL/FILTER/
                                 DISTINCT/GROUP BY/ORDER BY/LIMIT)
    info       --warehouse DIR                VOID stats + stage manifests
    export-hdt --warehouse DIR --out F.hdt    HDT binary writer (S2)
    import-hdt --input F.hdt --warehouse DIR  HDT binary reader (S1)
    export-nt  --warehouse DIR --out DIR      N-Triples writer (S5)
    import-nt  --input F.nt --warehouse DIR   NT -> KG conversion (S3/S4,
                                              the reference convert-from-nt,
                                              src/main.rs:122-133)
    export-ttl --warehouse DIR --out F.ttl    Turtle writer (S5, pretty,
               [--prefix pfx=iri ...]         prefix-compacted — the
                                              reference convert-to-ttl,
                                              src/main.rs:142-152)
"""

from __future__ import annotations

import argparse
import json
import sys


def _load_kg(mat):
    """Warehouse stages -> KG, or None if the warehouse was never built."""
    from .dict_builder import FourSectDict
    from .query import KG

    m = mat.read_manifest("dict")
    if m is None:
        return None
    sections = mat.read_table("dict")
    d = FourSectDict(
        shared=sections.filter("section = 'shared'").select("term", "id"),
        subjects=sections.filter("section = 'subjects'").select("term", "id"),
        predicates=sections.filter("section = 'predicates'").select("term", "id"),
        objects=sections.filter("section = 'objects'").select("term", "id"),
        n_shared=m["n_shared"], n_subjects=m["n_subjects"],
        n_predicates=m["n_predicates"], n_objects=m["n_objects"],
    )
    return KG(dict=d, spo=mat.read_table("spo"), ops=mat.read_table("ops"),
              pso=mat.read_table("pso"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="hdtspark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_synth = sub.add_parser("synth")
    p_synth.add_argument("--n-conv", type=int, default=1000)
    p_synth.add_argument("--seed", type=int, default=42)
    p_synth.add_argument("--out", required=True)

    p_build = sub.add_parser("build")
    p_build.add_argument("--input", required=True, help="transcripts parquet dir")
    p_build.add_argument("--warehouse", required=True)

    p_query = sub.add_parser("query")
    p_query.add_argument("--warehouse", required=True)
    p_query.add_argument("-s", default=None)
    p_query.add_argument("-p", default=None)
    p_query.add_argument("-o", default=None)
    p_query.add_argument("--limit", type=int, default=None,
                         help="max rows to print (default 20; a SPARQL "
                              "query's own LIMIT is never overridden)")
    p_query.add_argument("--sparql", default=None, metavar="QUERY",
                         help="SPARQL SELECT string instead of -s/-p/-o")

    p_info = sub.add_parser("info")
    p_info.add_argument("--warehouse", required=True)

    p_xhdt = sub.add_parser("export-hdt")
    p_xhdt.add_argument("--warehouse", required=True)
    p_xhdt.add_argument("--out", required=True)

    p_ihdt = sub.add_parser("import-hdt")
    p_ihdt.add_argument("--input", required=True)
    p_ihdt.add_argument("--warehouse", required=True)

    p_int = sub.add_parser("import-nt")
    p_int.add_argument("--input", required=True, help=".nt file or dir")
    p_int.add_argument("--warehouse", required=True)

    p_xnt = sub.add_parser("export-nt")
    p_xnt.add_argument("--warehouse", required=True)
    p_xnt.add_argument("--out", required=True)

    p_xttl = sub.add_parser("export-ttl")
    p_xttl.add_argument("--warehouse", required=True)
    p_xttl.add_argument("--out", required=True)
    p_xttl.add_argument("--prefix", action="append", default=[],
                        metavar="pfx=iri", help="extra @prefix mappings")

    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark(app_name=f"hdtspark-{args.cmd}")

    if args.cmd == "synth":
        from .synth import transcripts_df
        df = transcripts_df(spark, args.seed, args.n_conv)
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out, "rows": spark.read.parquet(args.out).count()}))

    elif args.cmd == "build":
        from .checkpoint import materialize_kg
        transcripts = spark.read.parquet(args.input)
        kg, mat = materialize_kg(spark, transcripts, args.warehouse)
        print(json.dumps({
            "stages": [{"stage": r.name, "skipped": r.skipped,
                        "rows": r.rows, "wall_ms": r.wall_ms}
                       for r in mat.results],
        }))

    elif args.cmd == "query":
        from .checkpoint import Materializer
        from .query import triples_with_pattern
        kg = _load_kg(Materializer(spark, args.warehouse))
        if kg is None:
            print(f"error: no built warehouse at {args.warehouse} "
                  "(run `build` first)", file=sys.stderr)
            spark.stop()
            return 2
        if args.sparql:
            from .sparql import query as sparql_query
            from .sparql_parser import parse as sparql_parse
            res = sparql_query(kg, args.sparql)
            # the query's own LIMIT (or aggregation) wins: only cap output
            # when the query has no LIMIT or --limit was passed explicitly
            if args.limit is not None:
                n = args.limit
            elif sparql_parse(args.sparql).limit is None:
                n = 20
            else:
                n = None
            cols = res.columns
            print("\t".join(cols))
            rows = res.limit(n + 1).collect() if n is not None else res.collect()
            for row in rows[:n]:
                print("\t".join("" if row[c] is None else str(row[c])
                                for c in cols))
            if n is not None and len(rows) > n:
                print(f"note: output truncated to {n} rows "
                      "(pass --limit to raise)", file=sys.stderr)
        else:
            n = args.limit if args.limit is not None else 20
            res = triples_with_pattern(kg, args.s, args.p, args.o)
            rows = res.limit(n + 1).collect()
            for row in rows[:n]:
                print(f"{row['s']} {row['p']} {row['o']} .")
            if len(rows) > n:
                print(f"note: output truncated to {n} rows "
                      "(pass --limit to raise)", file=sys.stderr)

    elif args.cmd in ("export-hdt", "export-nt", "export-ttl"):
        from .checkpoint import Materializer
        kg = _load_kg(Materializer(spark, args.warehouse))
        if kg is None:
            print(f"error: no built warehouse at {args.warehouse} "
                  "(run `build` first)", file=sys.stderr)
            spark.stop()
            return 2
        if args.cmd == "export-hdt":
            from .hdt_binary import write_hdt_file
            write_hdt_file(kg, args.out)
            n = kg.spo.count()
        elif args.cmd == "export-ttl":
            from .turtle import default_prefixes, write_ttl
            prefixes = default_prefixes()
            for spec in args.prefix:
                pfx, _, iri = spec.partition("=")
                prefixes[pfx] = iri
            write_ttl(kg, args.out, prefixes)
            n = kg.spo.count()
        else:
            from .export import write_nt
            write_nt(kg, args.out)
            n = spark.read.text(args.out).count()
        print(json.dumps({"written": args.out, "triples": n}))

    elif args.cmd == "import-nt":
        # The reference CLI's convert-from-.nt path (Hdt::read_nt,
        # src/main.rs:122-133): distributed NT parse -> full dict/encode
        # pipeline -> warehouse stages.
        from .checkpoint import Materializer, fingerprint
        from .pipeline import build_kg_from_triples
        from .sources import read_nt
        triples = read_nt(spark, args.input)
        # Content-derived fingerprint (one line-scan job), like import-hdt's
        # md5: a modified .nt at the SAME path must invalidate the stages —
        # a path-only fingerprint silently kept stale warehouse data.
        in_fp = "nt:" + fingerprint(triples)
        kg = build_kg_from_triples(triples)
        mat = Materializer(spark, args.warehouse)
        mat.write_stage(
            "dict", kg.dict.sections_clustered(), in_fp,
            extra={"n_shared": kg.dict.n_shared,
                   "n_subjects": kg.dict.n_subjects,
                   "n_predicates": kg.dict.n_predicates,
                   "n_objects": kg.dict.n_objects})
        mat.write_stage("spo", kg.spo, in_fp)
        mat.write_stage("ops", kg.ops, in_fp)
        mat.write_stage("pso", kg.pso, in_fp)
        kg.unpersist()
        print(json.dumps({
            "stages": [{"stage": r.name, "skipped": r.skipped,
                        "rows": r.rows} for r in mat.results]}))

    elif args.cmd == "import-hdt":
        import hashlib

        from .checkpoint import Materializer
        from .hdt_binary import read_hdt_spark
        kg = read_hdt_spark(spark, args.input)
        with open(args.input, "rb") as f:
            in_fp = "hdt:" + hashlib.md5(f.read()).hexdigest()
        mat = Materializer(spark, args.warehouse)
        mat.write_stage(
            "dict", kg.dict.sections_clustered(), in_fp,
            extra={"n_shared": kg.dict.n_shared,
                   "n_subjects": kg.dict.n_subjects,
                   "n_predicates": kg.dict.n_predicates,
                   "n_objects": kg.dict.n_objects})
        mat.write_stage("spo", kg.spo, in_fp)
        mat.write_stage("ops", kg.ops, in_fp)
        mat.write_stage("pso", kg.pso, in_fp)
        print(json.dumps({
            "stages": [{"stage": r.name, "skipped": r.skipped,
                        "rows": r.rows} for r in mat.results]}))

    elif args.cmd == "info":
        from .checkpoint import Materializer
        mat = Materializer(spark, args.warehouse)
        out = {}
        for stage in ["triples_str", "dict", "spo", "ops", "pso", "adj", "metrics"]:
            m = mat.read_manifest(stage)
            if m:
                out[stage] = {k: m[k] for k in ("rows_out", "wall_ms") if k in m}
        try:
            for r in mat.read_table("metrics").collect():
                out[r["key"]] = r["value"]
        except Exception:
            pass
        print(json.dumps(out, indent=2))

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
