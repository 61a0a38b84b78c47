"""Checkpoint/resume semantics (north rule): kill-and-rerun is idempotent,
finished stages are skipped, upstream changes invalidate downstream."""

from __future__ import annotations

import glob
import os
import shutil
import signal
import subprocess
import sys
import time

from hdtspark import checkpoint, synth


def _spo_set(kg):
    return {tuple(r) for r in kg.spo.collect()}


def test_materialize_matches_inmemory(spark, transcripts, kg, golden_void,
                                     tmp_path):
    mkg, mat = checkpoint.materialize_kg(spark, transcripts, str(tmp_path / "wh"))
    assert _spo_set(mkg) == _spo_set(kg)
    assert [r.name for r in mat.results] == list(checkpoint.STAGES)
    assert [r.skipped for r in mat.results] == [False] * 7
    # the metrics stage's VOID statistics equal plain-Python counts
    assert {r["key"]: r["value"] for r in
            mat.read_table("metrics").collect()} == golden_void


def test_cli_build(spark, transcripts, kg, tmp_path, run_cli):
    """`cli build` over a transcripts parquet dir builds the same spo."""
    src = str(tmp_path / "transcripts")
    wh = str(tmp_path / "wh")
    transcripts.write.parquet(src)
    assert run_cli(["build", "--input", src, "--warehouse", wh]) == 0
    spo = spark.read.parquet(f"{wh}/spo/data")
    assert sorted(map(tuple, spo.collect())) == \
        sorted(map(tuple, kg.spo.collect()))


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


# A durable build of a transcripts parquet dir (argv[1]) into a warehouse
# (argv[2]), run as a child process with the test session's shuffle
# partitions.
_BUILD = """
import sys
from hdtspark import checkpoint
from hdtspark.session import get_spark
spark = get_spark(app_name="kill-mid-stage", master="local[2]",
                  shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "1g"})
checkpoint.materialize_kg(spark, spark.read.parquet(sys.argv[1]), sys.argv[2])
"""


def _part_files(stage_tmp: str) -> bool:
    """Whether a stage's temp dir holds parquet part files (committed or
    still under the writer's ``_temporary``) and no manifest yet."""
    if os.path.exists(os.path.join(stage_tmp, checkpoint.MANIFEST)):
        return False
    return any(f.startswith("part-") for _, _, files in
               os.walk(os.path.join(stage_tmp, "data")) for f in files)


def test_kill_mid_stage_resumes(spark, transcripts, tmp_path):
    """SIGKILL a durable golden build (its driver and JVM) while
    ``spo.tmp/data`` holds part files but no manifest, then resume
    in-process: the finished stages are served,
    every content fingerprint equals an uninterrupted build's, and no temp
    dir is left."""
    src, wh = str(tmp_path / "transcripts"), str(tmp_path / "wh")
    log = tmp_path / "build.log"
    transcripts.write.parquet(src)
    env = dict(os.environ, HDTSPARK_LOCAL_DIR=str(tmp_path / "local"),
               PYTHONPATH=os.pathsep.join(sys.path))
    with open(log, "w") as out:
        child = subprocess.Popen(
            [sys.executable, "-c", _BUILD, src, wh],
            stdout=out, stderr=subprocess.STDOUT, env=env,
            start_new_session=True)
    try:
        deadline = time.monotonic() + 600
        while not _part_files(os.path.join(wh, "spo.tmp")):
            assert child.poll() is None, log.read_text()[-3000:]
            assert time.monotonic() < deadline, "spo never started"
            time.sleep(0.005)
        os.killpg(child.pid, signal.SIGKILL)
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    assert child.returncode == -signal.SIGKILL
    assert [s for s in checkpoint.STAGES
            if os.path.exists(os.path.join(wh, s))] == ["triples_str", "dict"]

    _, mat = checkpoint.materialize_kg(spark, transcripts, wh)
    assert [r.name for r in mat.results if r.skipped] == [
        "triples_str", "dict"]
    _, ref = checkpoint.materialize_kg(spark, transcripts,
                                       str(tmp_path / "ref"))
    assert {s: mat.read_manifest(s)["content_fingerprint"]
            for s in checkpoint.STAGES} == {
        s: ref.read_manifest(s)["content_fingerprint"]
        for s in checkpoint.STAGES}
    assert glob.glob(os.path.join(wh, "*.tmp")) == []


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
