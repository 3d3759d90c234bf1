"""Seeded inputs for the benchmark.

The inputs are the project's own sf0.01 test tables, shipped in
`perfbench/sample/` (the ten tables the registered queries read: a
TPC-H-style star schema, an events table, a document corpus and an
embeddings table). A seed picks one structure-preserving relabelling of
them:

  * every id space (orders, customers, parts, suppliers, documents,
    embeddings, events, users) gets one seeded permutation of its own
    values, applied consistently to every table that holds the id, so
    every join still hits the same rows, every near-duplicate document
    keeps its partner, and the oracle SQL still holds;
  * every table's rows are shuffled, so row order carries no meaning.

Row counts, value distributions, vocabulary, document lengths, the
near-duplicate structure and rows per join key are those of the sample,
unchanged. The same seed always gives the same tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SAMPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sample")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# id space -> (table, column) pairs that hold it; the first owns the values
ID_SPACES = {
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
}
# names that spell out their row's id, rewritten with the new id
NAMED = {("customer", "c_name"): ("c_custkey", "Customer#"),
         ("supplier", "s_name"): ("s_suppkey", "Supplier#")}


def _relabel(col, values, perm):
    """`col` with each id values[i] replaced by perm[i]."""
    ids = col.to_numpy()
    idx = np.searchsorted(values, ids)
    if not np.array_equal(values[np.minimum(idx, len(values) - 1)], ids):
        raise ValueError("an id outside its id space")
    return pa.array(perm[idx], col.type)


def generate(seed, out):
    rng = np.random.default_rng(seed)
    tables = {t: pq.read_table(os.path.join(SAMPLE, f"{t}.parquet")).replace_schema_metadata(None)
              for t in TABLES}
    for space, holders in ID_SPACES.items():
        owner, key = holders[0]
        values = np.unique(tables[owner][key].to_numpy())
        perm = rng.permutation(values)
        for t, c in holders:
            tbl = tables[t]
            tables[t] = tbl.set_column(tbl.schema.get_field_index(c), c,
                                       _relabel(tbl[c].combine_chunks(), values, perm))
    for (t, c), (key, prefix) in NAMED.items():
        tbl = tables[t]
        names = pa.array([f"{prefix}{i:09d}" for i in tbl[key].to_pylist()], pa.string())
        tables[t] = tbl.set_column(tbl.schema.get_field_index(c), c, names)
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        tbl = tables[t]
        tbl = pc.take(tbl, pa.array(rng.permutation(tbl.num_rows)))
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"))
