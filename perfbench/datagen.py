"""Seeded fixture builders for the benchmark.

Every input the program sees is generated here from ``--seed``: the
same seed gives byte-identical tables. The tables have the schemas and
value domains of the engine's canonical testbed (FIXTURES.md §1: a
TPC-H-shaped star schema, an ``events`` tape over January 2024, a word-
bag ``documents`` corpus and unit-norm 64-d ``embeddings``), so every
registry query and its DuckDB oracle run on them unchanged. Row counts
scale with ``sf`` exactly like the testbed (``sf=0.1``: 600,000
lineitem rows, 100,000 events, 5,000 documents, 2,000 embeddings), and
each table family can be scaled on its own.
"""

from __future__ import annotations

import datetime as dt
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
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: The events tape covers January 2024 at the testbed's density
#: (about 139 events an hour at sf=0.1).
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
_EPOCH = dt.datetime(1970, 1, 1)


def _us(t: dt.datetime) -> int:
    return (t - _EPOCH) // dt.timedelta(microseconds=1)


def _pick(rng, values, n) -> pa.Array:
    idx = rng.integers(0, len(values), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(values)
    ).dictionary_decode()


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng, lo, hi, n, digits=2) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), digits)


def _days(rng, start: dt.date, span_days: int, n: int) -> pa.Array:
    """Midnight timestamps (naive, microseconds) uniform over a span."""
    base = _us(dt.datetime.combine(start, dt.time()))
    day = rng.integers(0, span_days, n).astype(np.int64)
    return pa.array(base + day * 86_400_000_000, pa.timestamp("us"))


def tpch_tables(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, part_names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": _money(rng, 900.0, 999.9, n_part, 1),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_li),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def events_table(rng, sf: float) -> pa.Table:
    """Append-only tape: ids follow time order, microsecond stamps."""
    n = int(1_000_000 * sf)
    # stratified by hour: every hour of the tape holds the same number
    # of events (give or take one), at uniform offsets inside the hour
    hours = EVENTS_DAYS * 24
    hour = np.sort(np.arange(n) % hours)
    ts = np.sort(hour * 3_600_000_000 + rng.integers(0, 3_600_000_000, n))
    ts += _us(EVENTS_START)
    props = [f'{{"k": {k}}}' for k in range(100)]
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2),
        "props": _pick(rng, props, n),
    })


def _shuffled_counts(rng, n: int, shares) -> np.ndarray:
    """Category index per row with exact counts n * share, shuffled, so
    the work a query does on each category is the same for every seed."""
    idx = np.repeat(np.arange(len(shares)), np.round(np.array(shares) * n).astype(int))
    idx = np.resize(idx, n)
    rng.shuffle(idx)
    return idx


def corpus_tables(rng, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Word-bag documents (every 20th is a near-copy of an earlier
    document with one word replaced by ``dup``) and clustered unit-norm
    embeddings with a 0-9 label. Category counts are exact, so the
    dedup and per-language work is the same for every seed."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        texts.append(" ".join(words)[:577])
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[_shuffled_counts(rng, n_docs, LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = _shuffled_counts(rng, n_vecs, [0.1] * 10)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def build_tables(
    out_dir: str,
    seed: int,
    sf: float,
    n_docs: int,
    n_vecs: int,
    events_sf: float | None = None,
) -> dict[str, int]:
    """Write all ten testbed tables as ``<out_dir>/<name>.parquet``.
    Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, sf)
    tables["events"] = events_table(rng, sf if events_sf is None else events_sf)
    tables.update(corpus_tables(rng, n_docs, n_vecs))
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def split_hourly(
    events_path: str,
    out_dir: str,
    seed: int,
    start: dt.datetime,
    hours: int,
    replay_share: float = 0.02,
) -> list[dict]:
    """One parquet file per hour of the tape in ``[start, start+hours)``.

    Each hour's file also re-emits a seeded ``replay_share`` of the
    previous hour's events unchanged (an at-least-once producer), so
    the streaming merge resolves real key conflicts. File modification
    times follow the hour order, which is the order a file-source
    stream picks them up in. Returns one ``{path, rows, bytes}`` per
    file.
    """
    rng = np.random.default_rng(seed)
    events = pq.read_table(events_path)
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    os.makedirs(out_dir, exist_ok=True)
    files: list[dict] = []
    prev = None
    t0 = _us(start)
    for h in range(hours):
        lo, hi = t0 + h * 3_600_000_000, t0 + (h + 1) * 3_600_000_000
        idx = np.nonzero((ts >= lo) & (ts < hi))[0]
        chunk = events.take(pa.array(idx))
        if prev is not None and prev.num_rows:
            k = int(round(prev.num_rows * replay_share))
            pick = np.sort(rng.choice(prev.num_rows, size=k, replace=False))
            chunk = pa.concat_tables([prev.take(pa.array(pick)), chunk])
        path = os.path.join(out_dir, f"events_{h:04d}.parquet")
        pq.write_table(chunk, path)
        mtime = 1_700_000_000 + h
        os.utime(path, (mtime, mtime))
        files.append({"path": path, "rows": chunk.num_rows,
                      "bytes": os.path.getsize(path)})
        prev = events.take(pa.array(idx))
    return files
