"""Seeded input generator.

Writes parquet shaped like the repository's star-schema test data: one
file and one row group per table, with the column names and types the
registry queries read. Scan task counts depend on that layout, so it is
kept. The same seed and sizes give byte-identical files.

Everything runs in one process with numpy's PCG64; each table draws from
its own child stream of ``SeedSequence(seed)``, so adding a table never
shifts another table's values.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1995-01-02", "us")
DAY_US = 86_400_000_000
_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join small customer query order group data column big "
    "stream filter vector".split()
)
_LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
_EMB_DIM = 64
_DUP_SHARE = 0.15  # share of documents that copy an earlier one
_N_CLUSTERS = 10  # embedding cluster centres

with open(__file__, "rb") as _f:
    SOURCE_SHA1 = hashlib.sha1(_f.read()).hexdigest()

# table name -> child-stream index; fixed so tables never share draws
_STREAMS = {"lineitem": 0, "documents": 1, "embeddings": 2, "stream": 3}


def _rng(seed: int, table: str) -> np.random.Generator:
    child = np.random.SeedSequence(seed).spawn(len(_STREAMS))[_STREAMS[table]]
    return np.random.Generator(np.random.PCG64(child))


def _write(table: pa.Table, path: str) -> None:
    """One row group, no wall-clock metadata: byte-identical per input."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows),
                   compression="snappy")
    os.replace(tmp, path)


@dataclass(frozen=True)
class FactSize:
    """Shape of the lineitem fact table: series × day span × rows."""

    n_series: int
    n_days: int
    n_rows: int


def lineitem(seed: int, size: FactSize) -> pa.Table:
    """Supplier × ship-day fact rows with per-series level, weekly
    season, trend and one level shift, so forecasters, change-point and
    distance kernels see structured series."""
    rng = _rng(seed, "lineitem")
    n, s = size.n_rows, size.n_series
    supp = rng.integers(0, s, n)
    day = rng.integers(0, size.n_days, n)
    level = rng.uniform(20_000.0, 80_000.0, s)
    trend = rng.normal(0.0, 4.0, s)
    shift_at = rng.integers(size.n_days // 4, 3 * size.n_days // 4, s)
    shift = rng.normal(0.0, 0.3, s)
    season = 1.0 + 0.25 * np.sin(2 * np.pi * (day % 7) / 7.0)
    mult = 1.0 + np.where(day >= shift_at[supp], shift[supp], 0.0)
    base = (level[supp] + trend[supp] * day) * season * mult
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(np.abs(base * rng.uniform(0.5, 1.5, n)) + 900.0, 2)
    ship = EPOCH + day.astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(supp, pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def documents(seed: int, n_docs: int) -> pa.Table:
    """Word-salad documents over a small vocabulary, with planted
    duplicates: a ``_DUP_SHARE`` of documents copy an earlier one, a third
    of those exactly and the rest with one to three word substitutions."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < _DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() >= 1 / 3:
                for _ in range(int(rng.integers(1, 4))):
                    words[int(rng.integers(0, len(words)))] = str(
                        _WORDS[rng.integers(0, len(_WORDS))])
        else:
            words = list(_WORDS[rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    """Unit-scale float32 vectors around ``_N_CLUSTERS`` centres."""
    rng = _rng(seed, "embeddings")
    centres = rng.normal(0.0, 1.0, (_N_CLUSTERS, _EMB_DIM))
    label = rng.integers(0, _N_CLUSTERS, n_vecs)
    vecs = (centres[label] + rng.normal(0.0, 0.35, (n_vecs, _EMB_DIM))).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_vecs * _EMB_DIM + 1, _EMB_DIM), pa.int32()),
        pa.array(vecs.ravel(), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": emb,
        "label": pa.array(label, pa.int32()),
    })


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


class StreamDays:
    """Day-by-day panel for the streaming workload: file ``k`` holds day
    ``k`` for every series, as (unique_id, ds, y). Values follow a
    per-series random walk drawn up front, so file ``k`` is the same
    whatever order or time it is written in."""

    def __init__(self, seed: int, n_series: int, n_days: int):
        rng = _rng(seed, "stream")
        start = rng.uniform(100.0, 1000.0, n_series)
        steps = rng.normal(0.0, 5.0, (n_days, n_series))
        self.values = np.round(start + np.cumsum(steps, axis=0), 4)
        self.ids = pa.array([f"s{i:05d}" for i in range(n_series)])

    def __len__(self) -> int:
        return len(self.values)

    def table(self, k: int) -> pa.Table:
        ds = EPOCH + np.timedelta64(k, "D").astype("timedelta64[us]")
        return pa.table({
            "unique_id": self.ids,
            "ds": pa.array(np.full(len(self.ids), ds), pa.timestamp("us")),
            "y": pa.array(self.values[k], pa.float64()),
        })

    def write(self, k: int, out_dir: str) -> str:
        """Write file ``k`` atomically (temp name hidden from the file
        source, then rename), so a stream never lists a partial file."""
        path = os.path.join(out_dir, f"day{k:05d}.parquet")
        tmp = os.path.join(out_dir, f".day{k:05d}.parquet")
        pq.write_table(self.table(k), tmp, compression="snappy")
        os.replace(tmp, path)
        return path
