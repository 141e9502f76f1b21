"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

None of them starts Spark."""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import gen, spans, stats
from perfbench.workloads import WORKLOADS


def _digest(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


@pytest.mark.parametrize("name", ["batch_mix"])
def test_generator_is_byte_identical_per_seed(tmp_path, name):
    wl = WORKLOADS[name]
    a = gen.write_tables(str(tmp_path / "a"), wl.tables(7))
    b = gen.write_tables(str(tmp_path / "b"), wl.tables(7))
    c = gen.write_tables(str(tmp_path / "c"), wl.tables(8))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    v1 = gen.write_tables(str(tmp_path / "v1"), wl.tables(7, verify=True))
    v2 = gen.write_tables(str(tmp_path / "v2"), wl.tables(7, verify=True))
    assert _digest(v1) == _digest(v2)


def test_generator_layout_is_one_file_one_row_group(tmp_path):
    import pyarrow.parquet as pq

    d = gen.write_tables(str(tmp_path), WORKLOADS["batch_mix"].tables(1))
    for f in os.listdir(d):
        assert pq.ParquetFile(os.path.join(d, f)).metadata.num_row_groups == 1


def test_stream_files_do_not_depend_on_write_order(tmp_path):
    days = gen.StreamDays(3, n_series=50, n_days=4)
    (tmp_path / "fwd").mkdir()
    (tmp_path / "rev").mkdir()
    for k in range(4):
        days.write(k, str(tmp_path / "fwd"))
    again = gen.StreamDays(3, n_series=50, n_days=4)
    for k in reversed(range(4)):
        again.write(k, str(tmp_path / "rev"))
    assert _digest(str(tmp_path / "fwd")) == _digest(str(tmp_path / "rev"))


def test_planted_duplicates_are_present():
    docs = gen.documents(5, 400).column("text").to_pylist()
    assert len(set(docs)) < len(docs)


@pytest.mark.parametrize("n, p", [(10, None), (11, 9), (19, 47), (20, 50), (100, 90),
                                  (1000, 99), (200, 95)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    got = stats.tail_percentile(n)
    assert got == p
    if got is not None:
        rank = -(-got * n // 100)  # ceil
        assert n - rank >= 10
        # the next percentile up would leave fewer than ten
        if got < 99:
            assert n - -(-(got + 1) * n // 100) < 10


def test_tail_reports_median_below_twenty_one_samples():
    assert stats.tail([float(i) for i in range(1, 12)]) == (50, pytest.approx(6.0))
    assert stats.tail([1.0, 2.0, 3.0, 4.0]) == (50, pytest.approx(2.5))
    assert stats.tail([float(i) for i in range(1, 21)])[0] == 50
    assert stats.tail([float(i) for i in range(1, 22)])[0] == 52
    vals = [float(i) for i in range(1, 101)]
    assert stats.tail(vals) == (90, 90.0)


def test_hd_median_is_a_median_that_moves_smoothly_with_rank_swaps():
    assert stats.hd_median([3.0]) == pytest.approx(3.0)
    assert stats.hd_median([5.0, 1.0, 3.0]) == pytest.approx(3.0)
    assert stats.hd_median([1.0, 2.0, 10.0]) > 2.0  # pulled toward the heavy side
    assert stats.hd_median([float(i) for i in range(5001)]) == pytest.approx(2500.0)
    # ranks 7..9 of 15: moving one sample across the middle by a little
    # moves the plain median by the whole gap, the estimate by much less
    base = [0.3, 0.4, 0.45, 0.5, 0.55, 0.6, 0.65, 0.7, 0.95, 1.0, 1.1, 1.2, 1.3, 1.4, 3.5]
    swapped = sorted(base[:7] + [0.96] + base[8:])
    jump = stats.median(swapped) - stats.median(base)
    assert jump == pytest.approx(0.25)
    assert 0 < stats.hd_median(swapped) - stats.hd_median(base) < jump / 3


def test_union_and_clip():
    assert stats.union([(0, 2), (1, 3), (5, 6), (6, 7), (4, 4)]) == [(0, 3), (5, 7)]
    assert stats.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.covered(stats.clip([(-5, 2), (8, 12)], 0, 10)) == 4


def test_self_time_is_duration_minus_union_of_children():
    # nested, one thread: root 0..10, a 1..4 holding b 2..3, c 5..6
    spans_ = [(0, 10, 0, "root"), (1, 4, 1, "a"), (2, 3, 2, "b"), (5, 6, 1, "c")]
    got = stats.exclusive(spans_, 0, 10)
    assert got == {"root": 6, "a": 2, "b": 1, "c": 1}
    assert sum(got.values()) == 10


def test_self_time_splits_parallel_children_instead_of_double_counting():
    # two pool threads overlap on 3..5; a child sticks out past the root
    spans_ = [(0, 10, 0, "root"), (1, 5, 1, "t1"), (3, 8, 1, "t2"), (9, 12, 1, "late")]
    got = stats.exclusive(spans_, 0, 10)
    assert sum(got.values()) == pytest.approx(10)
    assert got["root"] == pytest.approx(2)  # 0..1 and 8..9
    assert got["t1"] + got["t2"] == pytest.approx(7)  # union 1..8, counted once
    assert got["late"] == pytest.approx(1)


def test_tracer_records_parents_and_clock():
    t = iter(range(100))
    tr = spans.Tracer(clock=lambda: float(next(t)))
    with tr.op("q"):  # 0..7
        with tr.span("a", "sources"):  # 1..4
            with tr.span("b", "operators.features"):  # 2..3
                pass
        with tr.span("c", "operators.metrics"):  # 5..6
            pass
    root = tr.spans[0]
    assert (root.start, root.end) == (0, 7)
    assert [s.parent for s in tr.spans] == [None, root.sid, tr.spans[1].sid, root.sid]
    assert all(s.op == root.sid for s in tr.spans)


def test_spans_outside_an_op_are_not_recorded():
    tr = spans.Tracer()
    with tr.span("x", "sources") as s:
        assert s is None
    assert tr.spans == []


def test_job_attribution_falls_back_to_submission_time():
    tr = spans.Tracer()
    op1 = spans.Span(1, "q1", "plans", 1, None, 10.0, 20.0)
    child = spans.Span(2, "features.lag", "operators.features", 1, 1, 11.0, 12.0)
    op2 = spans.Span(3, "q2", "plans", 3, None, 20.5, 30.0)
    tr.spans = [op1, child, op2]
    jobs = [
        spans.Job(0, child.group, 11.5, 11.9),  # group set: goes to the span
        spans.Job(1, None, 15.0, 16.0),  # pool thread, no group: op1 by time
        spans.Job(2, "someone-else", 25.0, 26.0),  # foreign group: op2 by time
        spans.Job(3, None, 40.0, 41.0),  # outside every op: left out
    ]
    owner, fallback = spans.attribute_jobs(jobs, tr.spans)
    assert owner == {0: 2, 1: 1, 2: 3}
    assert fallback == 2


def test_pool_thread_spans_hang_off_the_running_op():
    from concurrent.futures import ThreadPoolExecutor

    tr = spans.Tracer()
    with tr.op("q") as root:
        with ThreadPoolExecutor(2) as pool:
            list(pool.map(lambda i: tr.wrap(lambda: i, "operators.evaluation", "f")(), range(4)))
    assert len(tr.spans) == 5
    assert all(s.parent == root.sid and s.op == root.sid for s in tr.spans[1:])


def test_benchmark_json_matches_the_runner():
    import json

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    b = json.load(open(os.path.join(root, "BENCHMARK.json")))
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in b["per_layer"]] == run.PER_LAYER
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in b["per_layer"])
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert list(e2e) == list(run.END_TO_END)
    assert all(e2e[k]["unit"] == run.UNITS[k] for k in e2e)
    assert max(m["bound"] for m in b["end_to_end"]) == e2e["setup_s"]["bound"] <= 0.25


def test_runner_refuses_a_directory_without_the_package(tmp_path, monkeypatch, capsys):
    from perfbench import run

    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "batch_mix", "--seed", "1", "--seconds", "1"]) == 2
    assert capsys.readouterr().out == ""


def test_check_compares_rows_in_any_order_with_float_tolerance():
    import pandas as pd

    from perfbench import check

    ref = pd.DataFrame({"unique_id": ["a", "b", "c"], "n": [1, 2, 3],
                        "y": [0.1 + 0.2, 1e6 / 3, float("nan")],
                        "ds": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"])})
    got = ref.iloc[::-1].copy()
    got["y"] = [float("nan"), 1e6 / 3 * (1 + 1e-15), 0.3]  # last-bit differences
    got["n"] = got["n"].astype(float)  # an engine may return a double
    got = got[["y", "ds", "n", "unique_id"]]
    assert check.same(got, ref)
    bad = got.copy()
    bad.loc[bad["unique_id"] == "b", "y"] = 1e6 / 3 * (1 + 1e-6)
    assert not check.same(bad, ref)
    assert not check.same(got.iloc[:2], ref)
    assert not check.same(got.rename(columns={"n": "m"}), ref)


def test_cached_reference_is_keyed_by_the_oracle_sql(tmp_path):
    from perfbench import check

    data = gen.write_tables(str(tmp_path / "data"), WORKLOADS["batch_mix"].tables(1, verify=True))
    cache = str(tmp_path / "ref")
    one = "SELECT COUNT(*) AS n FROM lineitem"
    two = "SELECT COUNT(*) + 1 AS n FROM lineitem"
    n = check.reference(data, cache, "q", one)["n"].iloc[0]
    assert check.reference(data, cache, "q", two)["n"].iloc[0] == n + 1
    assert check.reference(data, cache, "q", one)["n"].iloc[0] == n
    assert len(os.listdir(cache)) == 2
