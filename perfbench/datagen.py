"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table (the TPC-H-ish star schema plus the
``events``, ``documents`` and ``embeddings`` tables the query suite reads)
with the same column names and physical types the suite expects. The
same ``(sf, seed)`` always produces byte-identical tables, so every run
of a workload sees the same inputs. Numeric values carry at most two
decimals, like the suite's own fixtures, so sums stay exact across
engines.

Row counts follow the fixture scaling: orders = 1.5M x sf, lineitem =
4 x orders, customer = orders / 10, events = 1M x sf, documents =
max(500, 50k x sf).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "bolt", "gear", "ring", "plate", "gizmo", "rod", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "fr", "es", "de", "zh"]
WORDS = ("the a data row column table query join filter group sort merge "
         "hash scan key value order line part customer batch stream window "
         "agg vector spark fast slow big small dup").split()
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def row_counts(sf: float) -> dict[str, int]:
    orders = max(100, int(1_500_000 * sf))
    return {
        "customer": max(20, orders // 10),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": orders,
        "lineitem": 4 * orders,
        "events": max(500, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span: int = 2555) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, span, n).astype("timedelta64[D]")


def zipf_keys(rng: np.random.Generator, n_keys: int, n: int, a: float = 1.2) -> np.ndarray:
    """``n`` keys in ``[0, n_keys)``, Zipf-skewed (key 0 the hottest)
    through a seeded permutation so the hot keys are scattered."""
    ranks = np.minimum(rng.zipf(a, n) - 1, n_keys - 1)
    return rng.permutation(n_keys)[ranks]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i % 7 == 6:
            # near-duplicate family: an earlier document with a few words
            # swapped, so the dedup and LSH queries find real candidates
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(sf: float, seed: int, tables=TABLES) -> dict[str, pa.Table]:
    """The named tables. Each table draws from its own seeded stream, so
    a table's content does not depend on which other tables are asked
    for."""
    rc = row_counts(sf)
    n_c, n_s, n_p, n_o = rc["customer"], rc["supplier"], rc["part"], rc["orders"]

    def rng(table: str) -> np.random.Generator:
        return np.random.default_rng([seed, TABLES.index(table)])

    def region(_r):
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        })

    def nation(_r):
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })

    def customer(r):
        return pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(r, -999, 9999, n_c),
            "c_mktsegment": [SEGMENTS[k] for k in r.integers(0, 5, n_c)],
        })

    def supplier(r):
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(r, -999, 9999, n_s),
        })

    def part(r):
        return pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       zip(r.integers(0, 8, n_p), r.integers(0, 8, n_p))],
            "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, n_p)],
            "p_type": [PART_TYPES[k] for k in r.integers(0, 6, n_p)],
            "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_p) % 200) * 0.1, 2),
        })

    def orders(r):
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(zipf_keys(r, n_c, n_o, a=1.6), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[k] for k in r.integers(0, 3, n_o)],
            "o_totalprice": _money(r, 1000, 500_000, n_o),
            "o_orderdate": pa.array(_days(r, n_o), pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[k] for k in r.integers(0, 5, n_o)],
        })

    def lineitem(r):
        n_l = rc["lineitem"]
        qty = r.integers(1, 51, n_l).astype(np.float64)
        return pa.table({
            "l_orderkey": pa.array(r.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(r, 900, 2100, n_l), 2),
            "l_discount": r.integers(0, 11, n_l) / 100.0,
            "l_tax": r.integers(0, 9, n_l) / 100.0,
            "l_returnflag": [("A", "N", "R")[k] for k in r.integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[k] for k in r.integers(0, 2, n_l)],
            "l_shipdate": pa.array(_days(r, n_l), pa.timestamp("us")),
        })

    def events(r):
        n_e = rc["events"]
        offs = np.sort(r.integers(0, 30 * 86_400_000_000, n_e))
        return pa.table({
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(15, n_e // 70), n_e), pa.int64()),
            "event_type": [EVENT_TYPES[k] for k in r.integers(0, 5, n_e)],
            "value": _money(r, 0.01, 200, n_e),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_e)],
        })

    def documents(r):
        return _documents(r, rc["documents"])

    def embeddings(r):
        n_v = rc["embeddings"]
        emb = np.round(r.normal(0, 1, (n_v, 64)), 3).astype(np.float32)
        return pa.table({
            "vec_id": pa.array(np.arange(n_v), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_v), pa.int32()),
        })

    makers = {"region": region, "nation": nation, "customer": customer,
              "supplier": supplier, "part": part, "orders": orders,
              "lineitem": lineitem, "events": events, "documents": documents,
              "embeddings": embeddings}
    return {t: makers[t](rng(t)) for t in tables}


def write(out_dir: str, sf: float, seed: int, tables=TABLES) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in generate(sf, seed, tables).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
