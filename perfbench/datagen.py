"""Seeded inputs for the benchmark.

The tables follow the columns and value domains of FIXTURES.md §1–§2
(TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``),
so every declared query and its DuckDB mirror runs on them.  Column
types and key coverage follow the repository's fixed sf0.001–sf0.1 test
tables rather than the FIXTURES.md table where the two differ: those
tables store ``events.ts``, ``o_orderdate`` and ``l_shipdate`` as
microsecond timestamps (FIXTURES.md lists ns and ms), and nearly every
customer has orders.  The same seed always gives the same bytes; the program only
ever sees the files.
"""

from __future__ import annotations

import io
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["write_tables", "documents_table", "write_corpus_shards"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "cold", "large", "new", "old"]
_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_DAY_US = 86_400 * 10**6


def _epoch_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo, hi = _epoch_us(first) // _DAY_US, _epoch_us(last) // _DAY_US
    return rng.integers(lo, hi + 1, n) * _DAY_US


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents over a 30-token vocabulary; ~5% are near
    duplicates of an earlier document (last token swapped for ``dup``)
    and ~0.3% exact copies, so the dedup stages have work to do."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            toks[-1] = "dup"
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(out_dir: Path, seed: int, sf: float) -> None:
    """Write the ten catalog tables at scale ``sf`` (0.01 ≈ 60k lineitem)."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = n_vecs = 500
    i32, i64 = np.int32, np.int64

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=i64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(i64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(i64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
            "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_line)),
        }
    )
    span_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, span_us, n_ev)) + _epoch_us("2024-01-01")
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=i64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(1, n_ev * 3 // 200), n_ev).astype(i64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    tables["documents"] = documents_table(rng, n_docs)
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=i64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(i32),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")


def write_corpus_shards(
    docs: pa.Table, shard_dir: Path, n_shards: int, seed: int
) -> int:
    """Write ``docs`` as ``n_shards`` zstd-compressed JSONL shards, rows
    assigned to shards by a seeded permutation.  Returns the total
    decompressed byte count."""
    shard_dir.mkdir(parents=True, exist_ok=True)
    order = np.random.default_rng(seed).permutation(docs.num_rows)
    rows = docs.to_pylist()
    codec = pa.Codec("zstd")
    plain_bytes = 0
    for s in range(n_shards):
        buf = io.StringIO()
        for i in order[s::n_shards]:
            buf.write(json.dumps(rows[i]) + "\n")
        plain = buf.getvalue().encode("utf-8")
        plain_bytes += len(plain)
        frame = codec.compress(plain, asbytes=True)
        (shard_dir / f"part-{s:03d}.jsonl.zst").write_bytes(frame)
    return plain_bytes
