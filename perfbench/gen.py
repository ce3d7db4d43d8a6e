"""Seeded input generator for the benchmark.

The base corpus is the smallest test scale's own `orders`, `lineitem`,
`events` and `documents` tables, kept unchanged in `data/sf0.001/`
(1500 orders, 6000 line items, 1000 events, 500 documents), so the
degree shape of the graph, PageRank's convergence and the dedup
candidate pairs are those of the real tables, not guessed ones.
The workload seed then applies:

- an order-preserving relabel of every key (customers, orders, parts,
  users, events, documents) into a key space `SPARSITY` times as large.
  It changes the key values, their hashes and so the partition each row
  lands in, but keeps every order-dependent tie-break (the value-ordered
  part->part chain edges, id-ordered pairs), so the graph is the same
  up to node names and the iteration counts and the work are the same
  for every seed;
- a row shuffle of every table;
- for `documents`, a salted k-fold replica (the pattern of the engine's
  scale benchmark): replica r > 0 appends the tag token `rep<r>`, so
  shingle and minhash work grows with k instead of collapsing into exact
  duplicates. The tag does not depend on the seed, so neither do the
  candidate pairs and the work.

The engine only ever sees the generated directory (its `sfDir`).
"""
import glob
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "data", "sf0.001")
TABLES = ("orders", "lineitem", "events", "documents")
SPARSITY = 16


def version():
    """Digest of the generator and its base tables (names the cache)."""
    h = hashlib.sha256()
    for f in [__file__] + sorted(glob.glob(os.path.join(BASE, "*.parquet"))):
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:12]


def _relabel(rng, *cols):
    """Maps the values of `cols` (one key domain) through one seeded,
    order-preserving injection into a key space `SPARSITY` times the
    number of distinct keys."""
    arrays = [c.to_numpy() for c in cols]
    keys = np.unique(np.concatenate(arrays))
    image = np.sort(rng.choice(SPARSITY * len(keys), len(keys),
                               replace=False)).astype(np.int64)
    return [pa.array(image[np.searchsorted(keys, a)]) for a in arrays]


def _set(table, name, values):
    return table.set_column(table.schema.get_field_index(name), name, values)


def generate(seed, doc_reps, out_dir):
    """Writes the seeded inputs to `out_dir` (reused when complete)."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t = {n: pq.read_table(os.path.join(BASE, f"{n}.parquet")) for n in TABLES}
    rng = np.random.default_rng(seed)
    orders, lineitem = t["orders"], t["lineitem"]
    okey, lkey = _relabel(rng, orders["o_orderkey"], lineitem["l_orderkey"])
    orders = _set(orders, "o_orderkey", okey)
    lineitem = _set(lineitem, "l_orderkey", lkey)
    orders = _set(orders, "o_custkey", *_relabel(rng, orders["o_custkey"]))
    lineitem = _set(lineitem, "l_partkey",
                    *_relabel(rng, lineitem["l_partkey"]))
    events = t["events"]
    events = _set(events, "user_id", *_relabel(rng, events["user_id"]))
    events = _set(events, "event_id", *_relabel(rng, events["event_id"]))
    docs = t["documents"]
    docs = _set(docs, "doc_id", *_relabel(rng, docs["doc_id"]))
    reps = [docs]
    for r in range(1, doc_reps):
        text = pc.binary_join_element_wise(docs["text"], f"rep{r}", " ")
        rep = _set(docs, "doc_id", pc.add(docs["doc_id"],
                                          r * SPARSITY * docs.num_rows))
        rep = _set(rep, "text", text)
        reps.append(_set(rep, "n_chars", pc.utf8_length(text).cast(pa.int64())))
    docs = pa.concat_tables(reps)
    for name, table in (("orders", orders), ("lineitem", lineitem),
                        ("events", events), ("documents", docs)):
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir
