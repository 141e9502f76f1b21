"""Kernel probe: run the numeric kernels the series ops call, on the
workload's own series, single-threaded in this process, and time them with
process CPU time. This gives the kernel share of the executors' work,
which Spark's own task metrics cannot separate from the Arrow/pandas
boundary around it."""

from __future__ import annotations

import time

import numpy as np
import pyarrow.parquet as pq


def _series(data_dir: str) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """(daily, monthly) value arrays per series, derived from lineitem the
    way the registry's panels derive them (daily revenue sums; monthly
    means of exact-cent daily sums)."""
    li = pq.read_table(f"{data_dir}/lineitem.parquet",
                       columns=["l_suppkey", "l_extendedprice", "l_shipdate"]).to_pandas()
    li["ds"] = li["l_shipdate"].dt.floor("D")
    li["cents"] = np.round(li["l_extendedprice"] * 100).astype("int64")
    daily = li.groupby(["l_suppkey", "ds"], sort=True).agg(
        y=("l_extendedprice", "sum"), cents=("cents", "sum")).reset_index()
    daily["month"] = daily["ds"].dt.to_period("M")
    monthly = daily.groupby(["l_suppkey", "month"], sort=True)["cents"].agg(["sum", "count"])
    monthly["y"] = monthly["sum"].astype(float) / (100.0 * monthly["count"].astype(float))
    d = [g.to_numpy(float) for _, g in daily.groupby("l_suppkey")["y"]]
    m = [g.to_numpy(float) for _, g in monthly.reset_index().groupby("l_suppkey")["y"]]
    return d, m


def _cpu(fn) -> float:
    t = time.process_time()
    fn()
    return time.process_time() - t


def _pairs(fn, series: list[np.ndarray]) -> int:
    """Call a batch distance kernel on every unordered pair, grouped by
    (len_a, len_b) as the pairwise operator groups them."""
    by_shape: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for i in range(len(series)):
        for j in range(i + 1, len(series)):
            by_shape.setdefault((len(series[i]), len(series[j])), []).append((i, j))
    for idx in by_shape.values():
        fn(np.stack([series[i] for i, _ in idx]), np.stack([series[j] for _, j in idx]))
    return sum(len(v) for v in by_shape.values())


def series_kernels(data_dir: str) -> dict[str, float]:
    """Per-layer kernel counters for the series-model ops: the MSM and
    DTW batch kernels over every pair of monthly series (pairwise_msm,
    kmedoids_dtw), and the per-series Holt-Winters, ARIMA, Kalman and
    PELT kernels over the daily series (holt_winters_forecast,
    arima_forecast, kalman_filter, pelt)."""
    from polars_ts_spark.functions import dist_kernels, native
    from polars_ts_spark.operators import arima, ets, pelt, statespace

    daily, monthly = _series(data_dir)
    out = {"functions.native_route": 1.0 if native.available() else 0.0}
    pairs = 0

    def dist():
        nonlocal pairs
        pairs += _pairs(dist_kernels.msm_batch, monthly)
        pairs += _pairs(dist_kernels.dtw_batch, monthly)

    out["functions.kernel_cpu_s"] = _cpu(dist)
    out["functions.pairs"] = float(pairs)
    long_enough = [y for y in daily if len(y) >= 14]
    out["operators.ets.kernel_cpu_s"] = _cpu(
        lambda: [ets._hw_state(y, 0.3, 0.1, 0.1, 7, True) for y in long_enough])
    out["operators.arima.kernel_cpu_s"] = _cpu(
        lambda: [arima.arima_forecast_series(y, 1, 1, 0, 7) for y in daily if len(y) >= 7])
    out["operators.statespace.kernel_cpu_s"] = _cpu(
        lambda: [statespace.KalmanFilter.local_level(0.01, 1.0).filter(y) for y in daily])
    out["operators.pelt.kernel_cpu_s"] = _cpu(
        lambda: pelt.pelt_changepoints_batch(daily, "mean"))
    return out
