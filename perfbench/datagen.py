"""Seeded inputs for the benchmark.

``write_tables`` writes the star-schema + events + documents + embeddings
tables the registry queries read, in the shape of the repo's synthetic test
data (FIXTURES.md section B: same columns, types, key ranges and value
domains), drawn from ``numpy.random.default_rng(seed)``. The same seed gives
byte-identical parquet files; another seed gives other values.

``write_bars`` writes the stock minute bars through the program's own
generator (``stock.make_stock_fixture``) and parquet writer, so that the
bars write is program work the benchmark can time.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: Rows per unit of scale factor, matching the repo's synthetic test data
#: except ``documents`` at half: the near-duplicate entry's oracle compares
#: all pairs of documents.
ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 25_000,
}
EMBEDDING_ROWS = 500
EMBEDDING_DIM = 64
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.005

_DAY_US = 86_400 * 1_000_000


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> pa.Array:
    span = int((np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int))
    return _ts(start, rng.integers(0, span + 1, n) * _DAY_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # near duplicates: an earlier document plus one marker token; exact
    # duplicates: an earlier document verbatim (the dedup entries' targets)
    for i in range(1, n):
        u = rng.random()
        if u < NEAR_DUP_SHARE:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif u < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_WEIGHTS),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All registry input tables at scale factor ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    n_users = max(1, int(round(15_000 * sf)))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -1000.0, 10_000.0, c)),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -1000.0, 10_000.0, s)),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": _pick(rng, names, p),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)),
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, o)),
        "o_orderdate": _days("1995-01-01", "2001-08-01", o, rng),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, li)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, li), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", li, rng),
    })
    e = n["events"]
    # unique, increasing microsecond timestamps over 30 days: the lag/lead
    # and as-of entries need a total order on ts
    ts = np.unique(rng.integers(0, 30 * _DAY_US, e + e // 10))
    ts = np.sort(rng.choice(ts, e, replace=False))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts("2024-01-01", ts),
        "user_id": pa.array(rng.integers(0, n_users, e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    tables["documents"] = _documents(rng, n["documents"])
    emb = rng.standard_normal((EMBEDDING_ROWS, EMBEDDING_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(EMBEDDING_ROWS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDING_ROWS), pa.int32()),
    })
    return tables


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_bars(spark, path: str, seed: int, n_rows: int, n_symbols: int = 4) -> None:
    """Seeded minute bars, generated and written by the program itself."""
    from big_data_analysis_for_stock_market_data_spark import stock
    from big_data_analysis_for_stock_market_data_spark.sources.io import write_parquet

    bars = stock.make_stock_fixture(spark, n_rows=n_rows, n_symbols=n_symbols, seed=seed)
    write_parquet(bars, path, mode="overwrite")
