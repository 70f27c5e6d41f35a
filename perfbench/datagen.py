"""Seeded input generators for the three workloads.

Every table is a pure function of ``(seed, sizes)``: the same seed always
gives the same bytes, and the program under test only ever sees the
parquet files written here. Shapes follow the repository's fixture schemas
(TPC-H-ish star + ``events`` + ``documents`` + ``embeddings``) so the
registry queries run on them unchanged; ``events`` carries TD's epoch
``time`` column instead of ``ts``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "fr", "es", "de", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
#: 2024-01-01T00:00:00Z — events span T0 .. T0 + EVENT_DAYS days
T0 = 1_704_067_200
EVENT_DAYS = 30
#: orders span 1995-01-01 .. + ORDER_DAYS days
ORDER_T0 = 788_918_400
ORDER_DAYS = 2400


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def warehouse_tables(seed: int, n_events: int, n_orders: int) -> dict[str, pd.DataFrame]:
    """The notebook analyst's database: nation/region/customer/orders/
    lineitem plus a TD-style ``events`` table keyed on epoch ``time``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(n_orders // 10, 50)
    region = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i:02d}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    otime = ORDER_T0 + rng.integers(0, ORDER_DAYS, n_orders) * 86_400
    orders = pd.DataFrame(
        {
            "o_orderkey": okeys,
            "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
            "o_orderdate": pd.to_datetime(otime, unit="s").astype("datetime64[us]"),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
            # TD convention: every table carries an epoch-seconds `time`
            "time": otime.astype(np.int64),
        }
    )
    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    l_ok = np.repeat(okeys, per_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_ok,
            "l_partkey": rng.integers(1, 2001, n_li).astype(np.int64),
            "l_suppkey": rng.integers(1, 101, n_li).astype(np.int64),
            "l_linenumber": (
                np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
            ).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
        }
    )
    events = events_frame(rng, 0, n_events)
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def events_frame(rng: np.random.Generator, first_id: int, n: int) -> pd.DataFrame:
    """TD-style event rows: epoch ``time`` over EVENT_DAYS days."""
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "time": (T0 + rng.integers(0, EVENT_DAYS * 86_400, n)).astype(np.int64),
            "user_id": rng.integers(0, max(n // 50, 20), n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n, p=(0.4, 0.35, 0.1, 0.05, 0.1)),
            "value": np.round(rng.gamma(2.0, 20.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def stage_warehouse(tables: dict[str, pd.DataFrame], dbdir: str) -> None:
    for name, df in tables.items():
        _write(df, os.path.join(dbdir, f"{name}.parquet"))


def _shingles(words: list[str], k: int = 3) -> set[tuple[str, ...]]:
    return {tuple(words[i : i + k]) for i in range(max(len(words) - k + 1, 1))}


def corpus(seed: int, n_docs: int, dup_share: float, n_vecs: int, out_dir: str) -> dict:
    """Write ``documents.parquet`` + ``embeddings.parquet`` under
    ``out_dir``. A seeded ``dup_share`` of the documents are near
    duplicates of an earlier document (1-2 word edits, or an exact copy);
    the returned dict records the planned share and the share measured as
    3-shingle Jaccard >= 0.7 against the source document."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    near_dup = 0
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            src = texts[int(rng.integers(0, i))].split()
            words = list(src)
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            a, b = _shingles(src), _shingles(words)
            near_dup += len(a & b) / len(a | b) >= 0.7
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs),
            "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.standard_normal((10, 64)).astype(np.float32)
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + 0.6 * rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 8.0
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(emb, schema=schema, preserve_index=False),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return {
        "docs": n_docs,
        "vectors": n_vecs,
        "planned_dup_share": dup_share,
        "near_dup_share": round(near_dup / n_docs, 4),
    }


def upload_frames(seed: int, cycle: int, n_rows: int, n_appends: int, n_delta: int):
    """One ``ingest_roundtrip`` cycle's frames: the ``replace`` frame,
    ``n_appends`` append frames of half its size, and a keyed delta for
    ``merge_upsert`` (half updates of existing keys, half inserts)."""
    rng = np.random.default_rng([seed, 3, cycle])
    base = events_frame(rng, 0, n_rows)
    half = n_rows // 2
    appends = [events_frame(rng, n_rows + k * half, half) for k in range(n_appends)]
    total = n_rows + n_appends * half  # event ids 0 .. total - 1
    upd_ids = rng.choice(total, n_delta // 2, replace=False)
    delta = events_frame(rng, 0, n_delta)
    delta["event_id"] = np.concatenate(
        [upd_ids, np.arange(total, total + n_delta - len(upd_ids))]
    ).astype(np.int64)
    return base, appends, delta
