"""Seeded inputs for the benchmark.

``write_tables`` lands the ten fixture tables the query catalogue reads
(``akka_stream_contrib_spark.tables.TABLE_NAMES``) as single-file parquet,
with the schemas, key relationships and value distributions of the
catalogue's reference fixtures: TPC-H-shaped star schema, an ``events``
table sorted by event time, a small text corpus with ~5 % near-duplicate
documents, and unit-norm 64-d embeddings.

``stream_files`` cuts a seeded event stream into files for the streaming
workload: Zipf-skewed users, ``event_id`` increasing with ``ts``, and a few
per cent re-delivered duplicates copied from the previous file, so every
duplicate lands inside the watermark horizon.

Everything here is a pure function of its arguments: the same seed gives
the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark window order data column join small line customer query "
         "filter group sort big vector stream").split()
EMBED_DIM = 64


def _day(start: str, days: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + days.astype("timedelta64[D]")).astype("datetime64[us]")


def table_frames(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """Build the ten tables at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 100)
    n_line, n_ev = max(int(6_000_000 * sf), 400), max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = np.int32
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32),
                                  "r_name": REGIONS})
    nk = np.arange(25, dtype=i32)
    out["nation"] = pd.DataFrame({"n_nationkey": nk,
                                  "n_name": [f"NATION_{k}" for k in nk],
                                  "n_regionkey": nk % 5})
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pd.DataFrame({
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _day("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _day("1995-01-02", rng.integers(0, 2498, n_line))})
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(size=(n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64), "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vecs).astype(i32)})
    return out


def _write(df: pd.DataFrame, path: str) -> None:
    schema = None
    if "embedding" in df.columns:
        schema = pa.schema([("vec_id", pa.int64()),
                            ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())])
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def write_tables(sf: float, seed: int, out_dir: str) -> str:
    """Write the ten tables to ``out_dir/<table>.parquet`` and return the dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in table_frames(sf, seed).items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


STREAM_USERS = 2_000
STREAM_ZIPF_A = 1.3
STREAM_DUP_FRAC = 0.03
STREAM_MEAN_GAP_S = 2.0


def stream_files(seed: int, sizes: list[int]) -> list[pd.DataFrame]:
    """A seeded event stream cut into files of ``sizes[i]`` original events,
    each file after the first also carrying about ``STREAM_DUP_FRAC``
    re-delivered copies of the previous file's events. ``event_id``
    increases strictly with ``ts`` (``STREAM_MEAN_GAP_S`` apart on average);
    users are Zipf(``STREAM_ZIPF_A``)-skewed over ``STREAM_USERS`` ids."""
    rng = np.random.default_rng(seed)
    n = int(sum(sizes))
    gaps = rng.exponential(STREAM_MEAN_GAP_S * 1e6, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    users = (rng.zipf(STREAM_ZIPF_A, n) - 1) % STREAM_USERS
    ev = pd.DataFrame({"event_id": np.arange(n, dtype=np.int64), "ts": ts,
                       "user_id": users.astype(np.int64),
                       "event_type": rng.choice(EVENT_TYPES, n),
                       "value": np.round(rng.exponential(50.0, n), 2)})
    files, prev, lo = [], None, 0
    for size in sizes:
        part = ev.iloc[lo:lo + size]
        lo += size
        if prev is not None:
            k = int(rng.binomial(len(prev), STREAM_DUP_FRAC))
            dup = prev.iloc[np.sort(rng.choice(len(prev), k, replace=False))]
            part = pd.concat([part, dup])
        files.append(part.reset_index(drop=True))
        prev = ev.iloc[lo - size:lo]
    return files


def dedup_events(files: list[pd.DataFrame]) -> pd.DataFrame:
    """The distinct events of a :func:`stream_files` stream, by event_id."""
    return (pd.concat(files, ignore_index=True)
            .drop_duplicates("event_id").sort_values("event_id")
            .reset_index(drop=True))
