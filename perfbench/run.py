"""hdtspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` measures the workload and
prints its end-to-end metrics; ``--trace 1`` walks every layer of the
pipeline once with spans and Spark counters (``layers.py``) and prints the
per-layer metrics.  The last line of standard output is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

UNITS = {"setup_s": "s", "main_op_cpu_s": "s", "cpu_s": "s", "shuffle_bytes_per_triple": "bytes/triple",
         "stored_bytes_per_triple": "bytes/triple"}


def heap_size() -> str:
    """A quarter of the machine's memory, at most 4 GiB, for the Spark JVM:
    the library's 16g default is larger than a 15 GB machine."""
    with open("/proc/meminfo") as fh:
        kib = int(fh.readline().split()[1])
    return f"{max(1024, min(4096, kib // 4096))}m"


def start_session(work: str):
    """Environment and session chosen by the benchmark.  Everything the
    session writes stays under ``work``, inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = os.getcwd()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "HDTSPARK_DRIVER_MEM": heap_size(),
        "HDTSPARK_LOCAL_DIR": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # no hsperfdata files under /tmp from the launcher or the Spark JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        # Python workers import hdtspark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    from hdtspark.session import get_spark

    return get_spark(app_name="perfbench", shuffle_partitions=cpus, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every process it started (the
    Python workers) have exited."""
    from pyspark import SparkContext

    from meter import descendants

    started = descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes did not exit")
        time.sleep(0.1)


def end_to_end(res) -> dict:
    vals = {
        "setup_s": res.setup_s,
        "main_op_cpu_s": median(res.main_op_cpu),
        "cpu_s": median(res.cpu),
        "shuffle_bytes_per_triple": median(res.shuffle) / res.triples,
        "stored_bytes_per_triple": median(res.stored) / res.triples,
    }
    return {k: {"value": v, "unit": UNITS[k]} for k, v in vals.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join("hdtspark", "__init__.py")):
        print("perfbench: run from the root of an hdtspark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    work = os.path.join(os.getcwd(), ".perfbench-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_session(work)
    jvm_s = time.monotonic() - T_START
    try:
        if args.trace:
            import layers

            out_dir = os.path.join(os.getcwd(), ".perfbench-out")
            os.makedirs(out_dir, exist_ok=True)
            metrics, correct, attempted, failed = layers.walk(
                spark, work, args.workload, args.seed, jvm_s, os.path.join(
                    out_dir, f"trace-{args.workload}-{args.seed}.json"))
            out = {"correct": correct, "attempted": attempted,
                   "failed": failed, "metrics": metrics}
        else:
            import workloads

            res = workloads.WORKLOADS[args.workload](
                spark, work, args.seed, args.seconds, T_START)
            print(json.dumps({"workload": args.workload, "seed": args.seed,
                              "notes": res.notes,
                              "samples": {"main_op": res.main_op,
                                          "main_op_cpu": res.main_op_cpu,
                                          "other_ops": res.other_ops}}))
            out = {"correct": res.failed == 0, "attempted": res.attempted,
                   "failed": res.failed, "metrics": end_to_end(res)}
    finally:
        stop_session(spark)
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
