"""Deterministic parquet fixtures for the benchmark.

The benchmark reads no data from outside the repository, so it
writes its own copy of the engine's ten fixture tables (the TPC-H-ish star schema
plus ``events``, ``documents`` and ``embeddings``) with the same
column names and types the engine's loaders declare. Row counts
follow the engine's fixture scale: at ``sf=0.1`` ``lineitem`` has
~600k rows and ``orders`` 150k.

The table *data* comes from a fixed generator seed, so every run of
every request seed reads the same bytes; the run's ``--seed`` only
drives the requests (see ``workloads.py``). A generated directory
is reused when its marker file matches ``VERSION`` and the scale.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1
DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge "
    "batch spark line sort window order data column join small big "
    "customer query filter group stream vector"
).split()
_LANGS = np.array(["en", "en", "en", "zh", "de", "fr", "es"])
_SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
_PTYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
_PRIOS = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "error"])
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _days(rng, n, span_days):
    return _EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def _money(rng, n, lo, hi):
    # two-decimal values, stored as doubles like the engine's fixtures
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_docs = max(int(50_000 * sf), 100)
    n_vecs = max(int(50_000 * sf), 100)
    n_events = max(int(1_000_000 * sf), 1_000)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999, 9999),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999, 9999),
    })
    colors = np.array(["red", "blue", "green", "small", "large", "tiny", "big", "pale"])
    things = np.array(["ring", "widget", "bolt", "nut", "gear", "pipe", "valve", "cog"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                colors[rng.integers(0, 8, n_part)],
                things[rng.integers(0, 8, n_part)],
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _PTYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": pa.array(_days(rng, n_ord, 2400), pa.timestamp("us")),
        "o_orderpriority": _PRIOS[rng.integers(0, 5, n_ord)],
    })
    # 1..7 lines per order; (l_orderkey, l_linenumber) is unique so an
    # ORDER BY over it is a total order
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, 2500), pa.timestamp("us")),
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * _DAY_US, n_events)
    ) * np.timedelta64(1, "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 100, n_events), pa.int64()),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_events)],
        "value": _money(rng, n_events, 0, 20),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.15:
            # a near-copy of an earlier document: the dedup operators
            # must find something to collapse
            src = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                rng.shuffle(src)
            else:
                src[int(rng.integers(0, len(src)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, n)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    centers = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_vecs, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def ensure(root: str, sf: float) -> str:
    """Write (or reuse) the fixture directory for scale ``sf`` under
    ``root`` and return its path."""
    out = os.path.join(root, f"sf{sf:g}")
    marker = os.path.join(out, "_VERSION")
    want = f"{VERSION} {DATA_SEED} {sf!r}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == want:
                return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_VERSION"), "w") as f:
        f.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def sizes(sf_dir: str) -> dict[str, int]:
    """Byte size of each fixture file, for the provenance record."""
    return {
        name: os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
        for name in TABLES
    }
