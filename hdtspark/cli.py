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
    from .checkpoint import read_kg
    return read_kg(mat)


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

    elif args.cmd in ("build", "import-nt", "import-hdt"):
        # import-nt is the reference CLI's convert-from-.nt path
        # (Hdt::read_nt, src/main.rs:122-133), import-hdt its HDT reader
        from . import checkpoint
        if args.cmd == "build":
            _, mat = checkpoint.materialize_kg(
                spark, spark.read.parquet(args.input), args.warehouse)
        else:
            write = (checkpoint.materialize_nt if args.cmd == "import-nt"
                     else checkpoint.materialize_hdt)
            _, mat = write(spark, args.input, args.warehouse)
        print(json.dumps({
            "stages": [{"stage": r.name, "skipped": r.skipped,
                        "rows": r.rows, "wall_ms": r.wall_ms}
                       for r in mat.results],
        }))

    elif args.cmd == "info":
        from .checkpoint import STAGES, Materializer
        mat = Materializer(spark, args.warehouse)
        out = {}
        for stage in STAGES:
            m = mat.read_manifest(stage)
            if m:
                out[stage] = {k: m[k] for k in ("rows_out", "wall_ms") if k in m}
        if "metrics" not in out:
            print(f"error: no metrics stage in {args.warehouse} "
                  "(run `build` first)", file=sys.stderr)
            spark.stop()
            return 2
        for r in mat.read_table("metrics").collect():
            out[r["key"]] = r["value"]
        print(json.dumps(out, indent=2))

    else:
        from .checkpoint import Materializer
        kg = _load_kg(Materializer(spark, args.warehouse))
        if kg is None:
            print(f"error: no built warehouse at {args.warehouse} "
                  "(run `build` first)", file=sys.stderr)
            spark.stop()
            return 2
        if args.cmd == "query" and args.sparql:
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
        elif args.cmd == "query":
            from .query import triples_with_pattern
            n = args.limit if args.limit is not None else 20
            res = triples_with_pattern(kg, args.s, args.p, args.o)
            rows = res.limit(n + 1).collect()
            for row in rows[:n]:
                print(f"{row['s']} {row['p']} {row['o']} .")
            if len(rows) > n:
                print(f"note: output truncated to {n} rows "
                      "(pass --limit to raise)", file=sys.stderr)
        else:
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

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
