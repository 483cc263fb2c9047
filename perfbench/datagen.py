"""Seeded generator for the benchmark's input tables.

Writes the ten tables `__spark_entry__` and the engine read (TPC-H-style
star schema, an `events` stream, `documents` and `embeddings`) as
parquet, with the column names, types and value distributions of the
repository's fixtures (FIXTURES.md). Every timestamp is written as
`timestamp[us]`, which Spark reads natively.

The same `(seed, sf)` gives byte-identical tables. Row counts depend on
`sf` only, so two seeds give inputs of the same size and shape and differ
in their values.

`write_stream_backlog` adds the `stream_ingest` inputs: the events
repeated `copies` times, each copy shifted by the events' time span and
by the key range, written one file per copy; and a documents backlog
whose later files repeat texts of earlier ones, so the incremental dedup
of the ingest flow has work to do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line table data agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "AUTOMOBILE", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_ADJ = ("small", "red", "blue", "hot", "cold", "old", "new", "large")
P_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

US_PER_DAY = 86_400_000_000
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_DAYS = 30
DATES_START_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
DATE_DAYS = 2404  # up to 2001-08-01


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor `sf` (sf0.1 = the fixtures'
    bench scale). The corpus tables have a floor so the pipeline
    operators see a corpus with clusters at every scale."""
    return {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(
        pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, n: int, users: int) -> pa.Table:
    # sorted distinct microsecond offsets across EVENT_DAYS days
    span = EVENT_DAYS * US_PER_DAY
    offs = np.sort(rng.choice(span, size=n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(EVENTS_START_US + offs),
        "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _texts(rng, n: int, dup_share: float = 0.05) -> list[str]:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in lens]
    # near duplicates: a copy of another long document plus a marker
    # token, as in the fixtures (every such pair has a high Jaccard)
    long_ids = np.flatnonzero(lens >= 30)
    n_dup = int(n * dup_share)
    dup_at = rng.choice(n, size=n_dup, replace=False)
    for i in dup_at:
        src = int(long_ids[rng.integers(0, len(long_ids))])
        if src != i:
            texts[i] = texts[src] + " dup"
    return texts


def _documents(rng, n: int, id_base: int = 0) -> pa.Table:
    texts = _texts(rng, n)
    ids = np.arange(id_base, id_base + n, dtype="int64")
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[
            rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (labels, dim))
    lab = rng.integers(0, labels, n)
    vec = centers[lab] * 0.15 + rng.normal(0.0, 1.0, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(lab.astype("int32")),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables under `out_dir`; return their row counts."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"]),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[
            rng.integers(0, len(SEGMENTS), c)]),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype="int64")),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, p), rng.integers(0, 8, p))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, p)]),
        "p_size": pa.array(rng.integers(1, 51, p).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10,
                                           2)),
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, c, o).astype("int64")),
        "o_orderstatus": pa.array(np.array(["P", "O", "F"])[
            rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, o)),
        "o_orderdate": _ts(DATES_START_US
                           + rng.integers(0, DATE_DAYS, o) * US_PER_DAY),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, o)]),
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, p, li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900.0, 3000.0, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, li)]),
        "l_shipdate": _ts(DATES_START_US + 86_400_000_000
                          + rng.integers(0, DATE_DAYS + 90, li) * US_PER_DAY),
    })
    tables["events"] = _events(rng, n["events"], n["users"])
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}


def _write_files(parts: list[pa.Table], out_dir: str) -> None:
    """One parquet file per part, with increasing modification times so a
    file stream source lists them in order."""
    os.makedirs(out_dir, exist_ok=True)
    for i, t in enumerate(parts):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def write_stream_backlog(data_dir: str, out_dir: str, seed: int,
                         copies: int) -> dict[str, int]:
    """Events and documents backlogs for the streaming workload, one file
    per copy under `out_dir`/events and `out_dir`/documents."""
    rng = np.random.default_rng(seed + 1)
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"))
    n_ev = ev.num_rows
    ts_us = ev.column("ts").cast(pa.int64()).to_numpy()
    users = int(np.max(ev.column("user_id").to_numpy())) + 1
    parts = []
    for i in range(copies):
        parts.append(ev.set_column(0, "event_id", pa.array(
            ev.column("event_id").to_numpy() + i * n_ev))
            .set_column(1, "ts", _ts(ts_us + i * EVENT_DAYS * US_PER_DAY))
            .set_column(2, "user_id", pa.array(
                ev.column("user_id").to_numpy() + i * users)))
    _write_files(parts, os.path.join(out_dir, "events"))

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    n_doc = docs.num_rows
    dparts = []
    seen: list[str] = []
    for i in range(copies):
        fresh = _documents(rng, n_doc, id_base=i * n_doc)
        texts = fresh.column("text").to_pylist()
        if seen:
            # a third of each later file repeats texts already ingested
            for j in rng.choice(n_doc, size=n_doc // 3, replace=False):
                texts[j] = seen[int(rng.integers(0, len(seen)))]
        seen.extend(texts)
        dparts.append(fresh.set_column(1, "text", pa.array(texts))
                      .set_column(4, "n_chars", pa.array(
                          np.array([len(t) for t in texts], dtype="int64"))))
    _write_files(dparts, os.path.join(out_dir, "documents"))
    return {"events": n_ev * copies, "documents": n_doc * copies}

