"""Seeded input generators for every workload.

The program under test only ever sees what these functions write: the
ten fixture tables as parquet files (batch workloads), match_event
chunk files and a players table (stream-ctas), and KSQL statement text
(ksql-session). The same seed gives byte-identical inputs.

Table shapes follow the repository's fixture schema (TESTDATA.md):
the same column names, types and value domains, at a row count set by
``rows`` (lineitem rows; the other tables scale with it the way the
fixtures do).
"""

from __future__ import annotations

import json
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
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, rows: int) -> dict[str, int]:
    """Write the ten fixture tables for ``rows`` lineitem rows.

    Returns the row count of each table.
    """
    rng = np.random.default_rng(seed)
    s = rows / 60_000  # the fixtures' sf0.01 has 60k lineitem rows
    n_cust = max(50, int(1500 * s))
    n_supp = max(10, int(100 * s))
    n_part = max(100, int(2000 * s))
    n_ord = max(200, int(15000 * s))
    n_ev = max(500, int(10000 * s))
    n_doc = max(200, int(500 * s))
    n_emb = max(200, int(500 * s))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_ord) * _US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    l_order = np.sort(rng.integers(0, n_ord, rows))
    # line numbers run 1..k within each order
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    linenum = np.arange(rows) - np.repeat(starts, np.diff(np.r_[starts, rows])) + 1
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, rows), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": rng.integers(1, 51, rows).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, rows),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], rows),
        "l_linestatus": rng.choice(["F", "O"], rows),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, rows) * _US_PER_DAY),
    })
    gaps = rng.exponential(259e6, n_ev).astype("int64") + 1  # ~4.3 min apart
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(20, n_ev // 66), n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    long_docs: list[int] = []
    for i in range(n_doc):
        if i % 20 == 19:
            # a near-duplicate: one word of an earlier long document
            # replaced, so its Jaccard similarity sits far above the 0.5
            # threshold, where MinHash-LSH finds every pair and the exact
            # oracle applies
            words = texts[long_docs[int(rng.integers(0, len(long_docs)))]].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(8, 100))
            if n_words >= 40:
                long_docs.append(i)
            texts.append(" ".join(rng.choice(WORDS, n_words)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, a: float) -> np.ndarray:
    """``n`` draws from ``0..n_keys-1`` with Zipf(a) popularity."""
    w = 1.0 / np.arange(1, n_keys + 1) ** a
    return rng.choice(n_keys, size=n, p=w / w.sum())


def players(n_players: int) -> list[dict]:
    """The players TABLE: ``n_players`` rows shaped like the tutorial's."""
    return [
        {"id": str(i), "name": f"Player {i}", "team": f"Team {i % 20}",
         "nationality": f"Nation {i % 30}"}
        for i in range(n_players)
    ]


def match_events(rng: np.random.Generator, n: int, first_offset: int,
                 n_players: int, n_matches: int) -> list[dict]:
    """``n`` match_event rows; player keys are Zipf-skewed, a few ids
    name no player (the stream-table join drops them)."""
    pids = zipf_keys(rng, n, n_players + n_players // 20, 1.1)
    mids = rng.integers(0, n_matches, n)
    kinds = rng.choice(["GOAL", "ASSIST", "FOUL"], n, p=[0.4, 0.3, 0.3])
    home = rng.random(n) < 0.5
    return [
        {"offset": first_offset + i, "id": str(int(mids[i])), "event_type": str(kinds[i]),
         "player_id": str(int(pids[i])), "home": bool(home[i])}
        for i in range(n)
    ]
