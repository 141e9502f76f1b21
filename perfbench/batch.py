"""Closed-loop batch workloads: one client runs the workload's registry
queries one after another, each forced to a sink before the next is
submitted."""

from __future__ import annotations

import contextlib
import gc
import os
import sys
import time
from dataclasses import dataclass, field

from perfbench import check, procstat, spans, stats
from perfbench.sparkrest import Rest


@dataclass
class Pass:
    wall_s: float
    op_s: dict[str, float]
    leaked_rdds: int
    failed: list[str] = field(default_factory=list)
    frames: dict = field(default_factory=dict)


def _cleanup(spark) -> int:
    """Count persistent RDDs left once the pass's DataFrames are gone,
    then release them so the next pass starts clean."""
    gc.collect()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = int(jmap.size())
    spark.catalog.clearCache()
    for jrdd in list(jmap.values()):
        jrdd.unpersist(True)
    return leaked


def run_pass(spark, queries, ops, data_dir, tracer: spans.Tracer | None = None,
             on_op_end=None, collect=()) -> Pass:
    """One pass over ``ops``. Each result goes to a ``noop`` sink, or, for
    ops named in ``collect``, back to Python as pandas for checking."""
    op_s, failed, frames = {}, [], {}
    t0 = time.time()
    for name in ops:
        s = time.time()
        try:
            with tracer.op(name) if tracer else contextlib.nullcontext():
                df = queries[name](spark, data_dir)
                if name in collect:
                    frames[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                del df
        except Exception as e:  # a failing op is counted, and the pass goes on
            print(f"perfbench: op {name} failed: {type(e).__name__}: {str(e)[:300]}",
                  file=sys.stderr)
            failed.append(name)
            continue
        op_s[name] = time.time() - s
        if on_op_end is not None:
            on_op_end(name)
    wall = time.time() - t0
    return Pass(wall, op_s, _cleanup(spark), failed, frames)


def compare(frames: dict, oracles, data_dir, cache_dir) -> tuple[list[str], list[str]]:
    """Compare collected results with their cached oracle references.
    Returns (wrong, failed) op names."""
    wrong, failed = [], []
    for name, got in frames.items():
        try:
            ref = check.reference(data_dir, cache_dir, name, oracles[name])
        except Exception as e:  # an oracle that cannot run is a failed check
            print(f"perfbench: oracle {name} failed: {type(e).__name__}: {str(e)[:300]}",
                  file=sys.stderr)
            failed.append(name)
            continue
        if not check.same(got, ref):
            print(f"perfbench: {name} differs from its oracle", file=sys.stderr)
            wrong.append(name)
    return wrong, failed


def _passes(seconds: float, one) -> list:
    """Run ``one()`` once, and again while another pass of the last one's
    length still ends within ``seconds``."""
    t_end = time.time() + seconds
    out = [one()]
    while time.time() + out[-1].wall_s <= t_end:
        out.append(one())
    return out


def run(spark, wl, data_dir: str, verify_dir: str, cache_dir: str,
        seconds: float, trace: bool) -> dict:
    """First pass (cold; results of the checkable ops collected), warm
    passes for ``seconds``, then the verification-input checks. With
    ``trace`` the warm passes get half the time and traced passes the
    other half."""
    from __spark_entry__ import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    full = [o for o in wl.ops if o not in wl.verify_ops]
    budget = seconds / 2 if trace else seconds
    with procstat.PeakRss(os.getpid()) as rss:
        first = run_pass(spark, qs, wl.ops, data_dir, collect=full)
        warm = _passes(budget, lambda: run_pass(spark, qs, wl.ops, data_dir))
    wrong, bad = compare(first.frames, oracles, data_dir, os.path.join(cache_dir, "timed"))
    first.frames.clear()
    v = run_pass(spark, qs, wl.verify_ops, verify_dir, collect=wl.verify_ops)
    w2, b2 = compare(v.frames, oracles, verify_dir, os.path.join(cache_dir, "verify"))
    wrong, bad = wrong + w2, bad + b2
    passes = [first, *warm, v]
    warm_op = {o: stats.median([p.op_s[o] for p in warm if o in p.op_s])
               for o in wl.ops if any(o in p.op_s for p in warm)}
    lat = [v for p in warm for v in p.op_s.values()]
    tail_p, tail_v = stats.tail(lat)
    res = {
        "attempted": sum(len(p.op_s) + len(p.failed) for p in passes),
        "failed": sum(len(p.failed) for p in passes) + len(bad),
        "wrong": len(wrong),
        "metrics": {
            "first_pass_s": first.wall_s,
            "wall_s": stats.median([p.wall_s for p in warm]),
            "op_p50_s": stats.hd_median(lat),
            "op_tail_s": tail_v,
            "peak_rss_mb": rss.peak_mb,
        },
        "info": {
            "warm_passes": len(warm), "op_samples": len(lat), "op_tail_percentile": tail_p,
            "leaked_rdds": max(p.leaked_rdds for p in passes),
            "checked_on_verification_input": list(wl.verify_ops),
            "first_op_s": first.op_s, "warm_op_s": warm_op,
        },
    }
    if trace:
        layers, ops = traced(spark, qs, wl, data_dir, budget)
        # passes keep warming up, so the untraced reference is the pass
        # right after the traced ones
        after = run_pass(spark, qs, wl.ops, data_dir)
        layers["trace.overhead_s"] = layers["trace.wall_s"] - after.wall_s
        layers["trace.ops_off_10pct"] = float(sum(
            abs(v["wall_s"] - after.op_s[o]) > 0.1 * after.op_s[o]
            for o, v in ops.items() if o in after.op_s))
        for o, v in ops.items():
            v["untraced_wall_s"] = after.op_s.get(o)
        layers["plans.leaked_rdds"] = float(res["info"]["leaked_rdds"])
        from perfbench import kprobe

        layers.update(kprobe.series_kernels(data_dir))
        res["layers"] = layers
        res["info"]["traced_ops"] = ops
    return res


def layer_metrics(tracer: spans.Tracer, rest: Rest, since: float) -> tuple[dict, dict]:
    """Fold one traced pass into per-layer counters and per-op accounting.
    Self time of a span is its duration minus the union of its child
    spans; where spans of one op run in parallel threads the overlap is
    split between them (``stats.exclusive``), so an op's self times sum
    to its wall time. The op's driver gap is its wall time minus the
    union of its jobs."""
    jobs = rest.jobs(since)
    stage = rest.stages()
    owner, unattributed = spans.attribute_jobs(jobs, tracer.spans)
    by_sid = {s.sid: s for s in tracer.spans}
    depth: dict[int, int] = {}
    for s in tracer.spans:  # parents are recorded before their children
        depth[s.sid] = 0 if s.parent is None else depth[s.parent] + 1
    # a stage id is listed again by later jobs that skip it; the first
    # job that lists it ran it
    stage_job: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j.jid):
        for x in j.stages:
            stage_job.setdefault(x, j.jid)
    m: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        m[k] = m.get(k, 0.0) + v

    ops: dict[str, dict] = {}
    for root in (s for s in tracer.spans if s.parent is None):
        mine = [(s.start, s.end, depth[s.sid], s.sid) for s in tracer.spans if s.op == root.sid]
        op = ops.setdefault(root.name, {"wall_s": root.end - root.start, "self_s": {}})
        for sid, t in stats.exclusive(mine, root.start, root.end).items():
            layer = by_sid[sid].layer
            add(f"{layer}.self_s", t)
            op["self_s"][layer] = op["self_s"].get(layer, 0.0) + t
    for s in tracer.spans:
        if s.parent is not None:
            add(f"{s.layer}.calls", 1)
    for j in jobs:
        sid = owner.get(j.jid)
        if sid is None:
            continue
        layer = by_sid[sid].layer
        ran = [stage[x] for x in j.stages if x in stage and stage_job.get(x) == j.jid]
        cpu = sum(x["executorCpuTime"] for x in ran) / 1e9
        shuf = sum(x["shuffleReadBytes"] + x["shuffleWriteBytes"] for x in ran) / 2**20
        add("plans.jobs", 1)
        add("plans.stages", len(ran))
        add("plans.tasks", sum(x["numTasks"] for x in ran))
        add("plans.exec_cpu_s", cpu)
        add("plans.shuffle_mb", shuf)
        add("plans.spill_mb", sum(x["memoryBytesSpilled"] + x["diskBytesSpilled"] for x in ran) / 2**20)
        add("plans.gc_s", sum(x["jvmGcTime"] for x in ran) / 1e3)
        scans = [x for x in ran if x["inputBytes"] > 0]
        add("sources.scan_tasks", sum(x["numTasks"] for x in scans))
        add("sources.scan_cpu_s", sum(x["executorCpuTime"] for x in scans) / 1e9)
        add("sources.input_mb", sum(x["inputBytes"] for x in scans) / 2**20)
        if layer.startswith("operators."):
            add(f"{layer}.jobs", 1)
            add(f"{layer}.exec_cpu_s", cpu)
            add(f"{layer}.shuffle_mb", shuf)
    m["plans.unattributed_jobs"] = float(unattributed)
    for root in (s for s in tracer.spans if s.parent is None):
        ivals = [(j.submit, j.complete) for j in jobs
                 if j.jid in owner and by_sid[owner[j.jid]].op == root.sid]
        gap = (root.end - root.start) - stats.covered(stats.clip(ivals, root.start, root.end))
        ops[root.name]["driver_gap_s"] = gap
        add("plans.driver_gap_s", gap)
    return m, ops


def traced(spark, qs, wl, data_dir, seconds) -> tuple[dict, dict]:
    """Traced passes after the timed ones: wrappers on, one job group per
    span. Per-layer counters are the median over traced passes, per-op
    accounting is the last pass's."""
    rest = Rest(spark.sparkContext)
    tracer = spans.Tracer(spark.sparkContext)
    spans.install(tracer)
    pid = os.getpid()
    runs: list[dict] = []
    last_ops: dict = {}

    def one() -> Pass:
        tracer.spans.clear()
        persisted = [0.0]
        cpu0 = procstat.worker_cpu_s(pid)

        def on_op_end(_name):
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
            persisted[0] = max(persisted[0], mb)

        since = time.time()
        p = run_pass(spark, qs, wl.ops, data_dir, tracer=tracer, on_op_end=on_op_end)
        m, ops = layer_metrics(tracer, rest, since)
        m["plans.persisted_mb"] = persisted[0]
        m["plans.pyworker_cpu_s"] = procstat.worker_cpu_s(pid) - cpu0
        m["trace.wall_s"] = p.wall_s
        runs.append(m)
        last_ops.clear()
        last_ops.update(ops)
        return p

    _passes(seconds, one)
    keys = sorted({k for r in runs for k in r})
    return {k: stats.median([r.get(k, 0.0) for r in runs]) for k in keys}, last_ops
