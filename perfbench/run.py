"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 6 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench/`` (which also holds Spark's scratch space and the cached
oracle references), set-up is timed, the workload runs for ``--seconds``
after its first pass, and every checked output is compared with its
DuckDB oracle. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer counters from a separate traced pass with
``--trace 1``). The line before it carries every metric with its unit
and the run's details.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd  # noqa: F401  (names the pandas UDF's type hints)

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")

OPERATORS = ("features", "preprocessing", "baselines", "metrics", "ets", "arima", "statespace",
             "pelt", "trend", "pipeline", "evaluation", "distance", "clustering", "textops",
             "embedsim")

# every per-layer counter a traced run prints, on every workload; a layer
# the workload does not reach reads 0
PER_LAYER = (
    ["session.start_s", "session.warm_s",
     "sources.calls", "sources.self_s", "sources.scan_tasks", "sources.scan_cpu_s",
     "sources.input_mb",
     "plans.self_s", "plans.jobs", "plans.stages", "plans.tasks", "plans.driver_gap_s",
     "plans.exec_cpu_s", "plans.pyworker_cpu_s", "plans.shuffle_mb", "plans.spill_mb",
     "plans.gc_s", "plans.persisted_mb", "plans.leaked_rdds", "plans.unattributed_jobs"]
    + [f"operators.{m}.{c}" for m in OPERATORS
       for c in ("calls", "self_s", "jobs", "exec_cpu_s", "shuffle_mb")]
    + [f"operators.{m}.kernel_cpu_s" for m in ("ets", "arima", "statespace", "pelt")]
    + ["functions.kernel_cpu_s", "functions.pairs", "functions.native_route",
       "streaming.batches", "streaming.batch_s", "streaming.tasks_per_batch",
       "streaming.state_rows", "streaming.state_mb", "streaming.backlog_files",
       "streaming.generator_late_s",
       "trace.wall_s", "trace.overhead_s", "trace.ops_off_10pct"]
)

# the gated end-to-end metrics; the detail line also carries op_tail_s,
# peak_rss_mb, leaked_rdds, failed_share and wrong_results (see README.md
# for why)
END_TO_END = ("setup_s", "first_pass_s", "wall_s", "op_p50_s")

UNITS = {"setup_s": "s", "first_pass_s": "s", "wall_s": "s", "op_p50_s": "s",
         "op_tail_s": "s", "peak_rss_mb": "MB", "leaked_rdds": "count",
         "failed_share": "ratio", "wrong_results": "count"}


def _environment() -> None:
    """Point every scratch location at the work directory, and make the
    package importable here and in Spark's Python workers."""
    for d in ("tmp", "spark-local", "native"):
        os.makedirs(os.path.join(WORK, d), mode=0o700, exist_ok=True)
    os.chmod(os.path.join(WORK, "native"), 0o700)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_NATIVE_DIR"] = os.path.join(WORK, "native")
    # every JVM, the spark-submit launcher's too: no /tmp perf data, and
    # temp files (native libs, artifacts) under the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}") if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _plus_one(s: "pd.Series") -> "pd.Series":
    return s + 1


def _setup():
    """get_spark + first action + Python worker warm-up + native load."""
    from polars_ts_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        **{"spark.local.dir": os.path.join(WORK, "spark-local"),
           "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(1).count()
    from pyspark.sql import functions as F

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, 4 * cpus, numPartitions=cpus).select(F.pandas_udf(_plus_one, "long")("id")) \
        .write.format("noop").mode("overwrite").save()
    from polars_ts_spark.functions import native

    native.available()
    t2 = time.perf_counter()
    return spark, {"session.start_s": t1 - t0, "session.warm_s": t2 - t1}, t2 - t0


def _shutdown(spark) -> None:
    """Stop Spark, then close the JVM's stdin (its signal to exit) and wait
    for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _inputs(wl, seed: int) -> tuple[str, str, str]:
    from perfbench import gen

    base = os.path.join(WORK, "data", f"{wl.name}-{seed}")
    data = gen.write_tables(os.path.join(base, wl.size_key()), wl.tables(seed))
    verify = gen.write_tables(os.path.join(base, "verify-" + wl.size_key(True)),
                              wl.tables(seed, verify=True))
    cache = os.path.join(WORK, "ref", wl.name, f"{seed}-{wl.size_key()}-{wl.size_key(True)}")
    return data, verify, cache


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "polars_ts_spark"))):
        print("perfbench: run from the repository root (no polars_ts_spark here)", file=sys.stderr)
        return 2
    _environment()
    from perfbench import batch, stream
    from perfbench.workloads import WORKLOADS, Stream

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    is_stream = isinstance(wl, Stream)
    if not is_stream:
        data, verify, cache = _inputs(wl, args.seed)
    spark, session, setup_s = _setup()
    try:
        if is_stream:
            res = stream.run(spark, wl, os.path.join(WORK, "stream", str(args.seed)),
                             args.seed, args.seconds, bool(args.trace))
        else:
            res = batch.run(spark, wl, data, verify, cache, args.seconds, bool(args.trace))
    finally:
        _shutdown(spark)
        # inputs are cheap to regenerate; the oracle cache is what is kept
        shutil.rmtree(os.path.join(WORK, "data", f"{wl.name}-{args.seed}"), ignore_errors=True)
    res["metrics"]["setup_s"] = setup_s
    full = dict(res["metrics"], leaked_rdds=res["info"]["leaked_rdds"],
                failed_share=res["failed"] / res["attempted"], wrong_results=res["wrong"])
    report = {"workload": wl.name, "seed": args.seed,
              "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in full.items()},
              "info": res["info"]}
    if args.trace:
        layers = dict(res["layers"], **session)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": layer_unit(k)}
                   for k in PER_LAYER}
        report["layers"] = metrics
    else:
        metrics = {k: report["metrics"][k] for k in END_TO_END}
    print(json.dumps(report))
    print(json.dumps({"correct": res["wrong"] == 0 and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    counter = name.rsplit(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
