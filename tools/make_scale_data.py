"""Synthesize a larger scale factor from the driver's sf0.1 tables —
TIMING data for the sf0.1 -> sf1 scale-proof, never a correctness input
(correctness stays on the driver-generated sf0.01 + DuckDB oracles).

Construction (fully deterministic, derived only from driver data):
- scalar tables (customer/supplier/part/orders/lineitem/events): K-fold
  replication with key shifting — every key column k becomes
  k + rep * (max_k + 1), so referential joins keep exactly the same
  fan-out per key and derived lon/lat positions spread to new places.
  Value columns (prices, quantities, dates, event values) repeat, which
  preserves their distributions exactly.
- documents: FRESH text per new doc_id — words drawn from the sf0.1
  corpus vocabulary by a splitmix-style integer hash of (doc_id, j).
  Replicating text verbatim would multiply the near-duplicate rate
  (every 10-clone group is 45 LSH pairs) and turn the dedup queries
  superlinear BY INPUT CONSTRUCTION, which would corrupt the scaling
  measurement; hash-fresh text keeps the duplicate rate ~constant.
- embeddings: fresh unit-ish vectors, embedding[j] = hash(vec_id, j)
  mapped to [-1, 1), labels repeating the sf0.1 label distribution.
- region/nation: copied (fixed dimension tables at every TPC-H sf).

Usage: python tools/make_scale_data.py [K] [OUT_DIR]
Defaults: K=10, OUT_DIR=<checkout>/.scratch/sf1
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
# foreign keys shift by the PARENT table's key span so joins stay closed
PARENT_SPAN = {
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
}


def _mix(a: np.ndarray, b: int) -> np.ndarray:
    """splitmix-ish 64-bit mix, vectorized (uint64 wrap-around math)."""
    x = (a.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
         + np.uint64(b) * np.uint64(0xBF58476D1CE4E5B9))
    x ^= x >> np.uint64(31)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(29)
    return x


def replicate(table: pa.Table, name: str, k: int,
              spans: dict[str, int]) -> pa.Table:
    chunks = []
    for rep in range(k):
        cols = {}
        for col in table.column_names:
            arr = table.column(col).to_numpy(zero_copy_only=False)
            if name in KEY_COLS and col in KEY_COLS[name]:
                span = spans[f"{name}.{col}"]
                arr = arr + rep * span
            elif col in PARENT_SPAN:
                pt, pc = PARENT_SPAN[col]
                arr = arr + rep * spans[f"{pt}.{pc}"]
            cols[col] = arr
        chunks.append(pa.table(cols))
    return pa.concat_tables(chunks)


def fresh_documents(src_tbl: pa.Table, k: int) -> pa.Table:
    words = []
    for t in src_tbl.column("text").to_pylist():
        words.extend(t.split())
    vocab = np.array(sorted(set(words)))
    nv = len(vocab)
    langs = src_tbl.column("lang").to_numpy(zero_copy_only=False)
    sources = src_tbl.column("source").to_numpy(zero_copy_only=False)
    n0 = len(src_tbl)
    n = n0 * k
    doc_id = np.arange(n, dtype=np.int64)
    # doc length: reuse the sf0.1 length distribution positionally
    src_len = np.array([len(t.split())
                        for t in src_tbl.column("text").to_pylist()])
    lens = src_len[doc_id % n0]
    texts = []
    for i in range(n):
        idx = _mix(np.arange(lens[i], dtype=np.uint64), int(doc_id[i])) % nv
        texts.append(" ".join(vocab[idx]))
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": langs[doc_id % n0],
        "source": sources[doc_id % n0],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int32),
    })


def fresh_embeddings(src_tbl: pa.Table, k: int) -> pa.Table:
    dim = len(src_tbl.column("embedding")[0])
    labels = src_tbl.column("label").to_numpy(zero_copy_only=False)
    n0 = len(src_tbl)
    n = n0 * k
    vec_id = np.arange(n, dtype=np.int64)
    h = _mix(np.repeat(vec_id.astype(np.uint64), dim),
             7) + np.tile(np.arange(dim, dtype=np.uint64), n)
    vals = (_mix(h, 13).astype(np.float64) / 2.0**63 - 1.0).astype(np.float32)
    emb = vals.reshape(n, dim)
    return pa.table({
        "vec_id": vec_id,
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": labels[vec_id % n0],
    })


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        ROOT, ".scratch", "sf1")
    os.makedirs(out_dir, exist_ok=True)
    spans: dict[str, int] = {}
    tables = {}
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        tables[t] = pq.read_table(f"{SRC}/{t}.parquet")
    for name, keys in KEY_COLS.items():
        for c in keys:
            arr = tables[name].column(c).to_numpy(zero_copy_only=False)
            spans[f"{name}.{c}"] = int(arr.max()) + 1
    for name in ["region", "nation"]:
        pq.write_table(tables[name], f"{out_dir}/{name}.parquet")
    for name in ["customer", "supplier", "part", "orders", "lineitem",
                 "events"]:
        out = replicate(tables[name], name, k, spans)
        pq.write_table(out, f"{out_dir}/{name}.parquet",
                       row_group_size=200_000)
        print(name, len(out))
    docs = fresh_documents(tables["documents"], k)
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    print("documents", len(docs))
    emb = fresh_embeddings(tables["embeddings"], k)
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")
    print("embeddings", len(emb))


if __name__ == "__main__":
    main()
