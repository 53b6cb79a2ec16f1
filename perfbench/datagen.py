"""Generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``, one parquet file each) with the same schemas and value
domains as the repository's test fixtures, scaled by ``sf`` like TPC-H
(``lineitem`` has 6M x sf rows).  The generator seed is fixed, so a
given ``sf`` always produces the same values: the benchmark's ``--seed``
only permutes query order.  The benchmark reads nothing outside its own
checkout, which holds the repository's files but not the fixture
directories, hence this generator.

Value domains that queries filter on are kept fixed: order dates span
1995-01-01..2001-08-01, ship dates 1995-01-02..2001-11-04, events cover
the 30 days from 2024-01-01, and 5% of documents are near-duplicates
(another document's text plus the token ``dup``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_EPOCH = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform cents in [lo, hi] as exact two-decimal doubles."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _days(rng: np.random.Generator, epoch, span_days: int, n: int) -> np.ndarray:
    return epoch + rng.integers(0, span_days + 1, n) * np.timedelta64(1, "D")


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    dup_of = rng.random(n) < 0.05
    for i in range(n):
        words = rng.choice(len(_WORDS), int(rng.integers(10, 101)))
        texts.append(" ".join(_WORDS[w] for w in words))
    for i in np.flatnonzero(dup_of):
        j = int(rng.integers(0, n - 1))
        j += j >= i
        texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)),
        pa.array(x.reshape(-1)),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def generate(out_dir: str, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir`` and return its row counts."""
    rng = np.random.default_rng([SEED, round(sf * 1_000_000)])
    n_cust = max(15, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_ord = max(150, round(1_500_000 * sf))
    n_line = max(600, round(6_000_000 * sf))
    n_ev = max(100, round(1_000_000 * sf))
    n_users = max(5, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    keys = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(_REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(keys),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(keys % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(
                    [
                        f"{_COLORS[c]} {_NOUNS[m]}"
                        for c, m in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": _pick(rng, _TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
                "p_retailprice": pa.array(
                    (9000 + np.arange(n_part) % 1000) / 10.0
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
                "o_orderstatus": _pick(rng, _STATUS, n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": pa.array(_days(rng, _ORDER_EPOCH, _ORDER_DAYS, n_ord)),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": pa.array(_days(rng, _SHIP_EPOCH, _SHIP_DAYS, n_line)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": pa.array(
                    _EVENT_EPOCH
                    + np.sort(rng.choice(_EVENT_SPAN_US, n_ev, replace=False)).astype(
                        "timedelta64[us]"
                    )
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
                "event_type": _pick(rng, _EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
                ),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
