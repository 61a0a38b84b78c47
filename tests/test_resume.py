"""Checkpoint/resume semantics (north rule): kill-and-rerun is idempotent,
finished stages are skipped, upstream changes invalidate downstream."""

from __future__ import annotations

import shutil

from hdtspark import checkpoint, synth


def _spo_set(kg):
    return {tuple(r) for r in kg.spo.collect()}


def test_materialize_matches_inmemory(spark, transcripts, kg, tmp_path):
    mkg, mat = checkpoint.materialize_kg(spark, transcripts, str(tmp_path / "wh"))
    assert _spo_set(mkg) == _spo_set(kg)
    assert [r.skipped for r in mat.results] == [False] * 7


def test_rerun_skips_all_stages(spark, transcripts, tmp_path):
    wh = str(tmp_path / "wh")
    checkpoint.materialize_kg(spark, transcripts, wh)
    kg2, mat2 = checkpoint.materialize_kg(spark, transcripts, wh)
    assert all(r.skipped for r in mat2.results), mat2.results
    assert kg2.spo.count() > 0


def test_partial_failure_resume(spark, transcripts, tmp_path):
    """Simulate a crash after the dict stage: later stages recompute,
    earlier ones are served from checkpoint, result identical."""
    wh = str(tmp_path / "wh")
    kg1, _ = checkpoint.materialize_kg(spark, transcripts, wh)
    expected = _spo_set(kg1)
    for stage in ["spo", "ops", "pso", "adj", "metrics"]:
        shutil.rmtree(f"{wh}/{stage}")
    kg2, mat2 = checkpoint.materialize_kg(spark, transcripts, wh)
    skipped = {r.name: r.skipped for r in mat2.results}
    assert skipped["triples_str"] and skipped["dict"]
    assert not skipped["spo"]
    assert _spo_set(kg2) == expected


def test_input_change_invalidates(spark, tmp_path):
    wh = str(tmp_path / "wh")
    t1 = spark.createDataFrame(synth.generate_rows(1, 5), synth.TRANSCRIPTS_SCHEMA)
    t2 = spark.createDataFrame(synth.generate_rows(2, 5), synth.TRANSCRIPTS_SCHEMA)
    checkpoint.materialize_kg(spark, t1, wh)
    _, mat2 = checkpoint.materialize_kg(spark, t2, wh)
    assert not any(r.skipped for r in mat2.results)


def test_lineage_table(spark, transcripts, tmp_path):
    wh = str(tmp_path / "wh")
    _, mat = checkpoint.materialize_kg(spark, transcripts, wh)
    lin = mat.lineage_df()
    stages = {r["stage"] for r in lin.collect()}
    assert {"triples_str", "dict", "spo", "ops", "pso", "adj", "metrics"} <= stages
    spo_rows = sum(r["rows_out"] for r in lin.collect() if r["stage"] == "spo")
    assert spo_rows == 8854


def test_reads_use_the_manifest_schema(spark, transcripts, tmp_path):
    """Each stage's manifest records its output schema and read_table reads
    with it, so serving a stage launches no schema-inference job; a manifest
    without a schema (older layout) is incomplete and the stage rebuilds
    once."""
    import json

    from hdtspark import cli

    wh = str(tmp_path / "wh")
    kg, mat = checkpoint.materialize_kg(spark, transcripts, wh)
    for stage in ["triples_str", "dict", "spo", "ops", "pso", "adj", "metrics"]:
        inferred = spark.read.parquet(f"{wh}/{stage}/data")
        assert mat.read_table(stage).dtypes == inferred.dtypes, stage

    sc, group = spark.sparkContext, "test-manifest-schema-reads"
    sc.setJobGroup(group, "load")
    try:
        cli._load_kg(checkpoint.Materializer(spark, wh))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    path = f"{wh}/pso/{checkpoint.MANIFEST}"
    with open(path) as fh:
        m = json.load(fh)
    del m["schema"]
    with open(path, "w") as fh:
        json.dump(m, fh)
    _, mat2 = checkpoint.materialize_kg(spark, transcripts, wh)
    rebuilt = [r.name for r in mat2.results if not r.skipped]
    assert rebuilt == ["pso"], mat2.results
    _, mat3 = checkpoint.materialize_kg(spark, transcripts, wh)
    assert all(r.skipped for r in mat3.results), mat3.results
