"""Deterministic input generation for the benchmark.

The fixture tables (TPC-H-ish star schema, ``events``, ``documents``,
``embeddings``) follow the schemas and value domains of the test fixtures
(FIXTURES.md) but are generated here, from a fixed seed, so a run needs
nothing outside the checkout. Table contents never depend on the run's
``--seed``: the pinned rows-only results in ``expected.json`` stay valid
for every seed. The run seed only drives :func:`lake_inputs` (the file
split and the merge/delete keys of ``lake_ingest``) and the query order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _strs(prefix: str, keys: np.ndarray, width: int) -> pa.Array:
    return pa.array([f"{prefix}{k:0{width}d}" for k in keys.tolist()])


def _dims(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    ck, sk, pk = np.arange(n_cust), np.arange(n_supp), np.arange(n_part)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": ck,
            "c_name": _strs("Customer#", ck, 9),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": sk,
            "s_name": _strs("Supplier#", sk, 9),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pk,
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }),
    }


def orders_table(rng, n_orders: int, n_cust: int) -> pa.Table:
    ok = np.arange(n_orders)
    days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _EPOCH_1995 + days * _DAY_US,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })


def _lineitem(rng, orders: pa.Table, n_part: int, n_supp: int) -> pa.Table:
    lines = rng.integers(1, 8, orders.num_rows)  # 1..7 lines, mean 4
    n = int(lines.sum())
    okey = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    odate = np.repeat(orders["o_orderdate"].to_numpy(), lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": odate + rng.integers(1, 121, n) * _DAY_US,
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    # distinct microsecond timestamps over 30 days, ascending with event_id:
    # per-user orderings (sessions, as-of) then never tie
    span = 30 * _DAY_US
    ts = np.unique(rng.integers(0, span, n + n // 10))[:n]
    ts = np.sort(rng.permutation(ts)[:n])
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": np.arange(n),
        "ts": _EPOCH_2024 + ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {v}}}' for v in k.tolist()],
    })


def _documents(rng, n: int, dup_rate: float = 0.08) -> pa.Table:
    """Word soup over a small vocabulary; ``dup_rate`` of the documents are
    edited copies of an earlier one (1-3 word substitutions), which gives
    the near-duplicate detectors real clusters to find."""
    vocab = np.array(VOCAB)
    docs: list[list[str]] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_rate:
            words = list(docs[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))].tolist()
        docs.append(words)
    text = [" ".join(w) for w in docs]
    return pa.table({
        "doc_id": np.arange(n),
        "text": text,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def stage_tables(out_dir: str, tables: dict[str, float]) -> int:
    """Write ``<out_dir>/<table>.parquet`` for each requested table.

    ``tables`` maps a table name to its scale factor (row counts follow the
    fixtures: sf0.01 has 15 000 orders). Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    written = 0
    star = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}
    if star & tables.keys():
        sf = max(tables[t] for t in star & tables.keys())
        rng = np.random.default_rng(TABLE_SEED)
        dims = _dims(rng, sf)
        orders = orders_table(rng, int(1_500_000 * sf), dims["customer"].num_rows)
        facts = {
            "orders": orders,
            "lineitem": _lineitem(rng, orders, dims["part"].num_rows, dims["supplier"].num_rows),
        }
        for name, t in {**dims, **facts}.items():
            if name in tables:
                written += _write(t, os.path.join(out_dir, f"{name}.parquet"))
    if "events" in tables:
        sf = tables["events"]
        rng = np.random.default_rng(TABLE_SEED + 1)
        t = _events(rng, int(1_000_000 * sf), max(150, int(15_000 * sf)))
        written += _write(t, os.path.join(out_dir, "events.parquet"))
    if "documents" in tables:
        rng = np.random.default_rng(TABLE_SEED + 2)
        t = _documents(rng, int(50_000 * tables["documents"]))
        written += _write(t, os.path.join(out_dir, "documents.parquet"))
    if "embeddings" in tables:
        rng = np.random.default_rng(TABLE_SEED + 3)
        t = _embeddings(rng, int(50_000 * tables["embeddings"]))
        written += _write(t, os.path.join(out_dir, "embeddings.parquet"))
    return written


def lake_inputs(out_dir: str, seed: int, *, n_orders: int, n_files: int,
                n_merges: int, merge_keys: int) -> dict:
    """Seeded inputs of ``lake_ingest``: the orders table split into
    ``n_files`` stream files of random sizes, and ``n_merges`` upsert
    batches (``merge_keys`` rows each, four in five updating existing keys,
    the rest inserting new ones). Returns the file lists, the delete
    predicate and the staged parquet bytes."""
    rng = np.random.default_rng(seed)
    orders = orders_table(np.random.default_rng(TABLE_SEED), n_orders, max(1, n_orders // 10))
    stream_dir = os.path.join(out_dir, "stream")
    merge_dir = os.path.join(out_dir, "merges")
    os.makedirs(stream_dir)
    os.makedirs(merge_dir)
    order = rng.permutation(n_orders)
    cuts = np.sort(rng.choice(np.arange(1, n_orders), n_files - 1, replace=False))
    staged = 0
    stream_files = []
    for i, idx in enumerate(np.split(order, cuts)):
        path = os.path.join(stream_dir, f"part-{i:04d}.parquet")
        staged += _write(orders.take(np.sort(idx)), path)
        stream_files.append(path)
    merge_files = []
    next_key = n_orders
    for i in range(n_merges):
        n_upd = merge_keys * 4 // 5
        upd = rng.choice(n_orders, n_upd, replace=False)
        new = np.arange(next_key, next_key + merge_keys - n_upd)
        next_key += len(new)
        keys = np.concatenate([upd, new])
        batch = orders_table(rng, len(keys), max(1, n_orders // 10))
        batch = batch.set_column(0, "o_orderkey", pa.array(keys))
        path = os.path.join(merge_dir, f"merge-{i:02d}.parquet")
        staged += _write(batch, path)
        merge_files.append(path)
    prio = PRIORITIES[int(rng.integers(0, 5))]
    status = ["F", "O", "P"][int(rng.integers(0, 3))]
    return {
        "stream_dir": stream_dir,
        "stream_files": stream_files,
        "merge_files": merge_files,
        "delete_predicate": f"o_orderpriority = '{prio}' AND o_orderstatus = '{status}'",
        "staged_bytes": staged,
    }
