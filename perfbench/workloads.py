"""The benchmark's workloads: which registry queries each runs, on which
generated inputs, and which of them are checked on a smaller
verification input because their DuckDB oracle is too slow at the timed
size (recursive CTEs that replay a per-series or per-pair trajectory)."""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from perfbench import gen
from perfbench.gen import FactSize


@dataclass(frozen=True)
class Batch:
    name: str
    ops: tuple[str, ...]
    fact: FactSize
    n_docs: int
    n_vecs: int
    # ops checked on the verification input instead of the timed one
    verify_ops: tuple[str, ...]
    verify_fact: FactSize

    def tables(self, seed: int, verify: bool = False) -> dict:
        """Generated tables of the timed input, or of the verification
        input (lineitem only) with ``verify``."""
        if verify:
            return {"lineitem": gen.lineitem(seed, self.verify_fact)}
        return {"lineitem": gen.lineitem(seed, self.fact),
                "documents": gen.documents(seed, self.n_docs),
                "embeddings": gen.embeddings(seed, self.n_vecs)}

    def size_key(self, verify: bool = False) -> str:
        """Names one input: its sizes and the generator's source, so a
        changed generator never meets references cached from the old one."""
        spec = self.verify_fact if verify else (self.fact, self.n_docs, self.n_vecs)
        return hashlib.sha1((repr(spec) + gen.SOURCE_SHA1).encode()).hexdigest()[:10]


@dataclass(frozen=True)
class Stream:
    name: str
    n_series: int
    interval_s: float  # fixed file interval of the open loop


# Panel, text and series-model queries share one closed loop: a second
# batch workload would cost another cold Spark set-up per run, and one
# ~15 s pass reads steadier than a ~4 s one.
BATCH_MIX = Batch(
    "batch_mix",
    ("panel_base", "lag_features", "resample_weekly", "naive_forecast", "forecast_metrics",
     "exact_dedup", "cosine_topk",
     "holt_winters_forecast", "arima_forecast", "kalman_filter", "sens_slope", "pelt",
     "pairwise_msm", "kmedoids_dtw", "stacking_forecast"),
    fact=FactSize(n_series=150, n_days=2500, n_rows=45_000),
    n_docs=1000, n_vecs=500,
    verify_ops=("holt_winters_forecast", "kalman_filter", "pelt", "pairwise_msm", "kmedoids_dtw"),
    verify_fact=FactSize(n_series=40, n_days=2500, n_rows=40 * 30),
)

# interval: about twice the steady micro-batch time (~1.7 s for 1000
# series on 4 cores), so the stream keeps up without a growing backlog
STREAM_UPDATES = Stream("stream_updates", n_series=1000, interval_s=3.5)

WORKLOADS = {w.name: w for w in (BATCH_MIX, STREAM_UPDATES)}
