"""Durable, resumable KG warehouse: the one writer and the one reader.

Stage-level checkpointing with manifests (the batch-idempotent analog of the
reference's index cache, src/hdt.rs:110-193): each stage writes its output
table to ``<warehouse>/<stage>/data`` (parquet), then atomically records a
``_manifest.json`` with the stage's input and content fingerprints, row
count, output schema, partition lineage, and wall time.  Reads use the
recorded schema, so serving a stage launches no schema-inference job.

One stage chain, ``STAGES``: triples_str -> dict -> spo -> ops, pso, adj,
metrics.  Each stage is keyed on the content fingerprint of the stage it
derives from, and ``Materializer.write_stage`` runs a stage's builder only
when its manifest is missing or its input fingerprint changed; otherwise
the stage is served from its parquet output.  Writes go to a temp dir and
are renamed into place, so a kill mid-stage never leaves a "complete"
manifest behind.

Three entry points: ``materialize_kg`` (transcripts, extracted into
``triples_str``), ``materialize_nt`` (an N-Triples file, parsed into
``triples_str``) and ``materialize_hdt`` (an HDT file's own ``dict`` and
``spo``, then the chain from ``ops`` on).  All return through ``read_kg``,
the one reader, which ``cli`` uses too.  ``metrics`` holds the VOID
statistics, taken from the dictionary's section counts and the spo stage's
row count (``metrics.void_stats``).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import encode, extract, pipeline
from .dict_builder import SECTIONS, FourSectDict, build_dict
from .query import KG
from .sources import read_nt

MANIFEST = "_manifest.json"
STAGES = ("triples_str", "dict", "spo", "ops", "pso", "adj", "metrics")


def _fp_aggs(cols: list[str]) -> list:
    """Order-insensitive, multiplicity-sensitive content-hash aggregates.

    xor alone self-cancels even-multiplicity row changes (remove 2 copies of
    A + add 2 copies of B ⇒ unchanged xor), so pair it with a wrapping SUM of
    a second independent hash: a duplicate-count change moves the sum.  The
    sum runs on the hash cast to DECIMAL(38,0) (no ANSI overflow at any row
    count: 2^63 · 10^19 rows < 10^38).
    """
    h1 = F.xxhash64(*[F.col(c) for c in cols])
    h2 = F.xxhash64(F.lit("fp2"), *[F.col(c) for c in cols])
    return [
        F.count("*").alias("n"),
        F.bit_xor(h1).alias("h"),
        F.sum(h2.cast("decimal(38,0)")).alias("h2"),
    ]


def fingerprint(df: DataFrame, cols: list[str] | None = None) -> str:
    """Cheap order-insensitive content fingerprint: count + bit_xor(xxhash64)
    + wrapping sum of an independent xxhash64 (see _fp_aggs)."""
    cols = cols or df.columns
    row = df.agg(*_fp_aggs(cols)).first()
    return f"{row['n']}:{row['h']}:{row['h2']}"


@dataclass
class StageResult:
    name: str
    skipped: bool
    rows: int
    wall_ms: int


class Materializer:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        # the directory is made by the first stage write, so a read-only
        # command on a mistyped path leaves nothing behind
        self.warehouse = warehouse
        self.results: list[StageResult] = []

    # -- storage primitives -------------------------------------------------
    def _dir(self, stage: str) -> str:
        return os.path.join(self.warehouse, stage)

    def read_manifest(self, stage: str) -> dict | None:
        try:
            with open(os.path.join(self._dir(stage), MANIFEST)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def read_table(self, stage: str) -> DataFrame:
        """The stage's parquet output, read with the schema its manifest
        records (no inference job)."""
        m = self.read_manifest(stage)
        if not m or "schema" not in m:
            raise FileNotFoundError(
                f"stage {stage!r} of {self.warehouse} has no complete "
                "manifest with a schema; rerun the build")
        return (self.spark.read.schema(m["schema"])
                .parquet(os.path.join(self._dir(stage), "data")))

    def write_stage(self, stage: str, build: Callable[[], DataFrame],
                    input_fp: str, extra: dict | None = None) -> str:
        """Idempotent write of ``build()``'s output: temp dir + rename,
        manifest written last.  ``build`` runs only when the stage is not
        complete for ``input_fp``; ``extra`` (manifest fields) is read after
        it, so a builder may fill it.  Returns the stage's content
        fingerprint, the input of the stages that chain on it."""
        m = self.read_manifest(stage)
        # a manifest without a schema (older layout) is incomplete, so the
        # stage rebuilds once
        if (m and m.get("status") == "complete" and "schema" in m
                and m.get("input_fingerprint") == input_fp):
            self.results.append(StageResult(stage, True, m["rows_out"], 0))
            return m["content_fingerprint"]

        t0 = time.monotonic()
        df = build()
        d = self._dir(stage)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(self.warehouse, exist_ok=True)

        # Content fingerprint rides the write job itself (df.observe): the
        # stage output is scanned ONCE — round 1 re-read every stage's full
        # output just to hash it, doubling the pipeline's I/O.
        obs = Observation(f"stage:{stage}")
        data_dir = os.path.join(tmp, "data")
        df.observe(obs, *_fp_aggs(df.columns)) \
            .write.mode("overwrite").parquet(data_dir)
        got = obs.get
        rows = got["n"]
        content_fp = f"{rows}:{got['h']}:{got['h2']}"

        # Per-partition lineage from parquet footers — metadata only, no
        # data scan (one output file per write task).
        lineage = []
        try:
            import pyarrow.parquet as pq

            parts = sorted(
                f for f in os.listdir(data_dir)
                if f.startswith("part-") and f.endswith(".parquet"))
            for i, fname in enumerate(parts):
                md = pq.ParquetFile(os.path.join(data_dir, fname)).metadata
                lineage.append({"partition_id": i, "rows_out": md.num_rows,
                                "file": fname})
        except Exception:  # noqa: BLE001 - lineage is advisory metadata
            lineage = [{"partition_id": 0, "rows_out": rows}]
        wall_ms = int((time.monotonic() - t0) * 1000)
        manifest = {
            "stage": stage,
            "status": "complete",
            "input_fingerprint": input_fp,
            "content_fingerprint": content_fp,
            "rows_out": rows,
            "schema": df.schema.toDDL(),
            "wall_ms": wall_ms,
            "partitions": lineage,
            **(extra or {}),
        }
        with open(os.path.join(tmp, MANIFEST), "w") as f:
            json.dump(manifest, f, separators=(",", ":"))
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        self.results.append(StageResult(stage, False, rows, wall_ms))
        return content_fp

    def lineage_df(self) -> DataFrame:
        """All stages' per-partition lineage as one DataFrame."""
        rows = []
        for stage in sorted(os.listdir(self.warehouse)):
            m = self.read_manifest(stage)
            if not m:
                continue
            for p in m.get("partitions", []):
                rows.append((m["stage"], p["partition_id"], p["rows_out"],
                             m["input_fingerprint"], m["wall_ms"]))
        return self.spark.createDataFrame(
            rows or [("", -1, 0, "", 0)],
            "stage string, partition_id int, rows_out long, "
            "input_fingerprint string, wall_ms long",
        )


def _read_dict(mat: Materializer) -> FourSectDict | None:
    m = mat.read_manifest("dict")
    if m is None:
        return None
    # the recorded degree bound keeps the adjacency salt decision of a
    # resumed build identical to the first build's (no re-sampling)
    return FourSectDict.from_sections(
        mat.read_table("dict"), **{f"n_{s}": m[f"n_{s}"] for s in SECTIONS},
        max_raw_subj_degree=m.get("max_raw_subj_degree"))


def read_kg(mat: Materializer) -> KG | None:
    """The warehouse's KG, every stage read with its manifest schema (no
    Spark job), or None if the warehouse has no dict stage.  ``adj`` is
    None in a warehouse without one (imports used to skip it)."""
    d = _read_dict(mat)
    if d is None:
        return None
    return KG(dict=d, spo=mat.read_table("spo"), ops=mat.read_table("ops"),
              pso=mat.read_table("pso"),
              adj=mat.read_table("adj") if mat.read_manifest("adj") else None)


def _write_dict(mat: Materializer, make: Callable[[], FourSectDict],
                input_fp: str) -> tuple[FourSectDict, str]:
    """The dict stage of ``make()``'s dictionary; returns the dictionary as
    read back from the stage and the stage's content fingerprint."""
    made: list[FourSectDict] = []
    extra: dict = {}

    def build() -> DataFrame:
        d = make()
        made.append(d)
        extra.update(d.counts(), max_raw_subj_degree=d.max_raw_subj_degree)
        return d.sections_clustered()

    fp = mat.write_stage("dict", build, input_fp, extra=extra)
    # the stage is durable parquet now: release the build-time dictionary's
    # persisted ids table and its ranked-terms input
    for d in made:
        d.unpersist()
    return _read_dict(mat), fp


def _write_derived(mat: Materializer, d: FourSectDict, spo_fp: str) -> KG:
    """ops, pso, adj and metrics, all keyed on the spo stage's content
    fingerprint; returns the warehouse's KG.  The adjacency's salt decision
    follows from the dict manifest's ``max_raw_subj_degree``."""
    from .metrics import void_stats_df

    for stage, build in pipeline.derived(mat.read_table("spo"), d).items():
        mat.write_stage(stage, build, spo_fp)
    n = mat.read_manifest("spo")["rows_out"]
    mat.write_stage("metrics", lambda: void_stats_df(d, n), spo_fp)
    return read_kg(mat)


def _write_from_triples(mat: Materializer, make: Callable[[], DataFrame],
                        input_fp: str) -> KG:
    """The whole chain from the (s, p, o) string triples ``make()`` gives."""
    tri_fp = mat.write_stage("triples_str", make, input_fp)
    tri = mat.read_table("triples_str")
    # Downstream stage keys chain on the upstream stage's CONTENT
    # fingerprint (recorded at write time): rebuilding an upstream stage to
    # different bytes invalidates everything below it, while a
    # deterministic byte-identical rebuild legitimately keeps downstream
    # checkpoints.
    d, dict_fp = _write_dict(mat, lambda: build_dict(tri), tri_fp)
    spo_fp = mat.write_stage("spo", lambda: encode.encode_triples(tri, d),
                             f"{tri_fp}:{dict_fp}")
    return _write_derived(mat, d, spo_fp)


def materialize_kg(spark: SparkSession, transcripts: DataFrame,
                   warehouse: str) -> tuple[KG, Materializer]:
    """Run (or resume) the full pipeline from transcripts into
    ``warehouse``; the input fingerprint covers every column extraction
    reads (role/tool/ts emit triples too)."""
    in_fp = fingerprint(
        transcripts, [c for c in ["conv_id", "turn_idx", "role", "text",
                                  "tool", "ts"] if c in transcripts.columns])
    mat = Materializer(spark, warehouse)
    return _write_from_triples(
        mat, lambda: extract.extract_triples(transcripts), in_fp), mat


def materialize_nt(spark: SparkSession, path: str,
                   warehouse: str) -> tuple[KG, Materializer]:
    """An N-Triples file or directory into ``warehouse`` (the reference's
    convert-from-nt, src/main.rs:122-133).  The input fingerprint is the
    parsed triples' content (one scan), so a modified file at the same path
    invalidates the stages."""
    triples = read_nt(spark, path)
    mat = Materializer(spark, warehouse)
    return _write_from_triples(mat, lambda: triples,
                               "nt:" + fingerprint(triples)), mat


def materialize_hdt(spark: SparkSession, path: str,
                    warehouse: str) -> tuple[KG, Materializer]:
    """An HDT binary file into ``warehouse``: the file's own dictionary and
    spo (keyed on the file's md5), then the shared chain from ops on."""
    from .hdt_binary import read_hdt_spark

    with open(path, "rb") as f:
        in_fp = "hdt:" + hashlib.file_digest(f, "md5").hexdigest()
    mat = Materializer(spark, warehouse)
    read = functools.cache(lambda: read_hdt_spark(spark, path))
    d, _ = _write_dict(mat, lambda: read().dict, in_fp)
    spo_fp = mat.write_stage("spo", lambda: read().spo, in_fp)
    return _write_derived(mat, d, spo_fp), mat
