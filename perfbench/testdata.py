"""Seeded TPC-H-style corpus for the ``query_mix`` workload.

Writes the ten tables of ``iceberg_data_gen_spark.session.TABLES`` as one
parquet file each, with the column names, physical types and value
domains of the corpus the operators and their DuckDB oracles are written
against.  Row counts scale with ``sf`` (lineitem = 6M x sf).  The same
``(seed, sf)`` always yields byte-identical values.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("blue", "red", "cold", "hot", "small", "new", "old")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget")

_US_PER_DAY = 86_400_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    """Midnight timestamps (us) drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _ts(a: np.ndarray) -> pa.Array:
    return pa.array(a, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: what the dedup and
            # jaccard operators exist to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table of the corpus, in memory."""
    rng = np.random.default_rng(seed)
    n_li = max(1, round(6_000_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_doc = max(2, round(50_000 * sf))
    n_emb = max(1, round(20_000 * sf))
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -1000, 10000, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -1000, 10000, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, len(PART_ADJ), n_part),
                            rng.integers(0, len(PART_NOUN), n_part),
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
                "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
                "l_linestatus": _pick(rng, ("F", "O"), n_li),
                "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_li)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": _ts(
                    np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
                    + np.datetime64("2024-01-01", "us").astype(np.int64)
                ),
                "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": pa.array(_money(rng, 0, 500, n_ev)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb), pa.int64()),
                "embedding": pa.array(
                    list(rng.standard_normal((n_emb, 64), dtype=np.float32)),
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
            }
        ),
    }
    return out


def write(dest: str, seed: int, sf: float) -> str:
    """Write the corpus as ``<dest>/<table>.parquet`` and return ``dest``."""
    os.makedirs(dest, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest


def write_in_subprocess(dest: str, seed: int, sf: float) -> str:
    """``write`` in a child process, so generating the corpus never
    counts in the caller's peak RSS."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-m", "perfbench.testdata", dest, str(seed), repr(sf)],
        cwd=root,
        check=True,
    )
    return dest


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
