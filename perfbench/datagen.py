"""Deterministic benchmark inputs: an sf0.1 fixture set and its 10x copy.

The tables follow the schemas and value distributions of the repo's
fixture set (FIXTURES.md): a TPC-H-like star schema plus `events`,
`documents` (5% planted near-duplicates) and `embeddings` (64-dim unit
vectors). Generation uses a fixed data seed, so every run of the benchmark
reads byte-identical tables and the expected output digests stay valid;
the run seed only orders operations and picks constants (see workload.py).

The sf1 copy is `tools/gen_scale.py`'s 10x replication of the sf0.1 set.
Both land in a cache directory and are reused by later runs after a
row-count check of every table.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
SCALE_K = 10
# region and nation are dimensions that gen_scale copies unscaled
SF1_ROWS = {
    t: n if t in ("region", "nation") else n * SCALE_K
    for t, n in SF01_ROWS.items()
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "de", "es", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one marker word
            # appended, or one word dropped
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5 or len(words) < 11:
                words = words + ["dup"]
            else:
                del words[int(rng.integers(0, len(words)))]
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": _keys(n),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    vecs = pa.FixedSizeListArray.from_arrays(pa.array(m.ravel()), dim)
    return pa.table({
        "vec_id": _keys(n),
        "embedding": vecs.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def _events(rng, n: int) -> pa.Table:
    # strictly increasing microsecond timestamps over 30 days
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, n, replace=False)).astype("timedelta64[us]")
    return pa.table({
        "event_id": _keys(n),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n), 560.21), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def make_sf01(rng) -> dict[str, pa.Table]:
    r = SF01_ROWS
    i32 = np.int32
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": _keys(r["customer"]),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(r["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, r["customer"], dtype=i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, r["customer"])),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, r["customer"])),
        }),
        "supplier": pa.table({
            "s_suppkey": _keys(r["supplier"]),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(r["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, r["supplier"], dtype=i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, r["supplier"])),
        }),
    }
    n = r["part"]
    out["part"] = pa.table({
        "p_partkey": _keys(n),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n), rng.choice(_NOUN, n))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(_PTYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=i32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 1)),
    })
    n = r["orders"]
    out["orders"] = pa.table({
        "o_orderkey": _keys(n),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n)),
    })
    n = r["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, r["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
    })
    out["events"] = _events(rng, r["events"])
    out["documents"] = _documents(rng, r["documents"])
    out["embeddings"] = _embeddings(rng, r["embeddings"])
    return out


def row_counts_ok(path: str, expected: dict[str, int]) -> bool:
    try:
        return all(
            pq.read_metadata(os.path.join(path, f"{t}.parquet")).num_rows == n
            for t, n in expected.items()
        )
    except (OSError, pa.ArrowInvalid):
        return False


def _fresh(path: str) -> str:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def _publish(tmp: str, path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def ensure(cache: str, with_sf1: bool) -> dict[str, str]:
    """Return {'sf0.1': dir, 'sf1': dir}, generating what is missing or
    fails its row-count check. A half-written set is never published."""
    dirs = {"sf0.1": os.path.join(cache, "sf0.1")}
    if not row_counts_ok(dirs["sf0.1"], SF01_ROWS):
        tmp = _fresh(dirs["sf0.1"])
        for name, table in make_sf01(np.random.default_rng(DATA_SEED)).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        _publish(tmp, dirs["sf0.1"])
        shutil.rmtree(os.path.join(cache, "sf1"), ignore_errors=True)
    if with_sf1:
        dirs["sf1"] = os.path.join(cache, "sf1")
        if not row_counts_ok(dirs["sf1"], SF1_ROWS):
            sys.path.insert(0, os.path.join(ROOT, "tools"))
            import gen_scale

            tmp = _fresh(dirs["sf1"])
            # gen_scale reports per-table row counts on stdout, which the
            # benchmark reserves for its result line
            with contextlib.redirect_stdout(sys.stderr):
                gen_scale.gen(dirs["sf0.1"], tmp, SCALE_K)
            _publish(tmp, dirs["sf1"])
    for name, d in dirs.items():
        expected = SF01_ROWS if name == "sf0.1" else SF1_ROWS
        if not row_counts_ok(d, expected):
            raise RuntimeError(f"generated {name} tables fail the row-count check")
    return dirs
