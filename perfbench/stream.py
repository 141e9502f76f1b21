"""Open-loop streaming workload: a generator thread writes one parquet
file per fixed interval, each holding the next day for every series; a
``readStream`` with ``maxFilesPerTrigger=1`` feeds
``streaming_ets_update`` into a ``noop`` sink. Each micro-batch is timed
from when its file was due, so a stall also counts against the files
queued behind it."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from datetime import datetime, timezone

from perfbench import check, gen, procstat, stats
from perfbench.sparkrest import Rest

MIN_FILES = 4  # measured files after the cold first one, at least


def _commit_time(p) -> float:
    """Epoch seconds at which micro-batch ``p`` committed."""
    start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return start.timestamp() + p.batchDuration / 1e3


class Generator(threading.Thread):
    """Writes file ``k`` when it falls due: ``t0 + (k - first) * interval``."""

    def __init__(self, days: gen.StreamDays, out_dir: str, first: int, last: int,
                 t0: float, interval_s: float):
        super().__init__(name="stream-generator", daemon=True)
        self.days, self.out_dir = days, out_dir
        self.first, self.last, self.t0, self.interval_s = first, last, t0, interval_s
        self.due: dict[int, float] = {}
        self.late: dict[int, float] = {}
        self.stop_flag = threading.Event()

    def run(self) -> None:
        for k in range(self.first, self.last):
            due = self.t0 + (k - self.first) * self.interval_s
            if self.stop_flag.wait(max(0.0, due - time.time())):
                return
            self.days.write(k, self.out_dir)
            self.due[k] = due
            self.late[k] = time.time() - due


def _tasks(spark, since: float, until: float) -> float:
    """Tasks of the completed stages of jobs submitted in [since, until]."""
    rest = Rest(spark.sparkContext)
    stages = rest.stages()
    ids = {x for j in rest.jobs(since) if j.submit <= until for x in j.stages}
    return float(sum(stages[x]["numTasks"] for x in ids if x in stages))


def _wait_batch(q, batch_id: int, timeout_s: float):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        for p in q.recentProgress:
            if p.batchId == batch_id:
                return p
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        time.sleep(0.02)
    raise TimeoutError(f"micro-batch {batch_id} not committed within {timeout_s:.0f} s")


def run(spark, wl, work_dir: str, seed: int, seconds: float, trace: bool) -> dict:
    from polars_ts_spark.streaming.structured import streaming_ets_update

    src, ckpt = os.path.join(work_dir, "src"), os.path.join(work_dir, "ckpt")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(src)
    n_meas = max(MIN_FILES, int(seconds / wl.interval_s))
    n_files = 1 + n_meas
    days = gen.StreamDays(seed, wl.n_series, n_files)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(n_files + 10))
    schema = spark.createDataFrame([], "unique_id string, ds timestamp, y double").schema

    res: dict = {"failed": 0, "wrong": 0}
    with procstat.PeakRss(os.getpid()) as rss:
        # file 0 is present before start: the first batch is the cold pass
        days.write(0, src)
        t_start = time.time()
        stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
                  .parquet(src))
        q = (streaming_ets_update(stream, method="holt").writeStream.format("noop")
             .outputMode("update").option("checkpointLocation", ckpt).start())
        try:
            p0 = _wait_batch(q, 0, 170)
            first_pass = _commit_time(p0) - t_start
            g = Generator(days, src, 1, n_files, time.time() + wl.interval_s / 2, wl.interval_s)
            g.start()
            try:
                g.join(timeout=n_files * wl.interval_s + 60)
                last = _wait_batch(q, n_files - 1, 60)
            finally:
                g.stop_flag.set()
            progress = {p.batchId: p for p in q.recentProgress}
        finally:
            q.stop()
    meas = range(1, n_files)
    lat = [_commit_time(progress[k]) - g.due[k] for k in meas]
    rows_ok = all(progress[k].numInputRows == wl.n_series for k in range(n_files))
    tail_p, tail_v = stats.tail(lat)
    res["attempted"] = n_files
    res["metrics"] = {
        "first_pass_s": first_pass,
        "wall_s": _commit_time(last) - g.due[meas[0]],
        "op_p50_s": stats.hd_median(lat),
        "op_tail_s": tail_v,
        "peak_rss_mb": rss.peak_mb,
    }
    # wall_s is mostly the generator's fixed schedule; this is that part
    schedule_s = g.due[meas[-1]] - g.due[meas[0]]
    res["info"] = {"batch_s": [progress[k].batchDuration / 1e3 for k in range(n_files)],
                   "latency_s": lat, "batches": n_files, "op_samples": len(lat),
                   "op_tail_percentile": tail_p, "interval_s": wl.interval_s,
                   "wall_schedule_s": schedule_s,
                   "wall_program_s": res["metrics"]["wall_s"] - schedule_s, "leaked_rdds": 0}

    # check: the final per-series state against the batch fold of all files
    state = spark.read.format("statestore").load(ckpt)
    got = state.selectExpr("key.unique_id AS unique_id", "value.groupState.*").toPandas()
    ref = streaming_ets_update(spark.read.schema(schema).parquet(src), method="holt").toPandas()
    if not (rows_ok and check.same(got, ref)):
        print("perfbench: stream state differs from the batch fold", file=sys.stderr)
        res["wrong"] = 1
    res["attempted"] += 1

    if trace:
        sel = [progress[k] for k in meas]
        ops = [p.stateOperators[0] for p in sel if p.stateOperators]
        res["layers"] = {
            "streaming.batches": float(len(sel)),
            "streaming.batch_s": stats.median([p.batchDuration / 1e3 for p in sel]),
            "streaming.tasks_per_batch": _tasks(spark, g.due[meas[0]], _commit_time(last)) / len(sel),
            "streaming.state_rows": float(ops[-1].numRowsTotal) if ops else 0.0,
            "streaming.state_mb": ops[-1].memoryUsedBytes / 2**20 if ops else 0.0,
            "streaming.backlog_files": float(max(
                sum(1 for j in meas if g.due[j] <= _commit_time(progress[k]) and j > k)
                for k in meas)),
            "streaming.generator_late_s": max(g.late[k] for k in meas),
        }
    shutil.rmtree(work_dir, ignore_errors=True)
    return res
