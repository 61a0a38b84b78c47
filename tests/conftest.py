from __future__ import annotations

import pytest

from hdtspark import oracle, pipeline, synth
from hdtspark.session import get_spark

GOLDEN_SEED = 42
GOLDEN_N_CONV = 60


@pytest.fixture(scope="session")
def spark():
    # a 6g heap: with the session default (16g) the JVM grows past 11 GB of
    # resident memory over the suite on a 16 GB host before it collects,
    # and can be killed mid-run; the whole suite passes within 6g
    s = get_spark(app_name="hdtspark-tests", master="local[8]",
                  shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "6g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def golden_rows():
    return synth.generate_rows(GOLDEN_SEED, GOLDEN_N_CONV)


@pytest.fixture(scope="session")
def golden_oracle(golden_rows):
    return oracle.build(golden_rows)


@pytest.fixture(scope="session")
def golden_void(golden_oracle):
    """The golden graph's VOID statistics, counted in plain Python over the
    oracle's id triples (independent of the engine's dictionary)."""
    spo = set(golden_oracle.spo)
    return {"num_triples": len(spo),
            "distinct_subjects": len({s for s, _, _ in spo}),
            "distinct_objects": len({o for _, _, o in spo}),
            "num_predicates": len({p for _, p, _ in spo})}


@pytest.fixture(scope="session")
def transcripts(spark, golden_rows):
    return spark.createDataFrame(golden_rows, synth.TRANSCRIPTS_SCHEMA).cache()


@pytest.fixture(scope="session")
def kg(spark, transcripts):
    return pipeline.build_kg(transcripts)


@pytest.fixture
def run_cli(spark, monkeypatch):
    """``cli.main`` run in-process against the test session (the CLI gets
    its session from ``session.get_spark`` and stops it on exit)."""
    import hdtspark.session as sess
    from hdtspark import cli

    monkeypatch.setattr(sess, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    return cli.main


@pytest.fixture
def spark_loop(spark):
    """The broadcast threshold at -1 for one test, unset afterwards: every
    path closure then runs the Spark semi-naive loop, not the driver walk
    its edges would get below the threshold."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    yield
    spark.conf.unset(key)


@pytest.fixture
def job_ids(spark):
    """``job_ids(group, fn)``: the Spark jobs ``fn`` runs, collected under
    their own job group (broadcasts and adaptive stages run on Spark's
    threads but inherit the group)."""
    sc = spark.sparkContext

    def run(group: str, fn) -> list[int]:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sc.statusTracker().getJobIdsForGroup(group)
    return run
