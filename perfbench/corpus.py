"""Seeded samples of the project's sf0.1 test tables for the query workloads.

`data/sf0.1/` holds unmodified copies of the documents, embeddings and
events tables of the project's synthetic test data at scale factor 0.1
(5,000 documents, 2,000 embeddings, 100,000 events), so a run reads only
files of its checkout. A run draws from them, with its seed:

- documents: whole duplicate families (a document together with its exact
  copies and its `" dup"` near-duplicates) in seeded order until the count
  is reached, so a sample keeps the corpus's duplicate structure; then
  `tools/scale_gen.py` replicates the sample (per-replica character
  bijection and id shift, so replicas are independent shards);
- embeddings and events: seeded row samples, kept in id order.

A count at or above a table's size takes the whole table.

Usage: python3 corpus.py OUT_DIR SEED DOCS REPLICAS [EMBEDDINGS EVENTS]
"""
import importlib.util
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")


def scale_gen():
    """The repository's replica generator, loaded as a module."""
    path = os.path.join(HERE, "..", "tools", "scale_gen.py")
    spec = importlib.util.spec_from_file_location("scale_gen", path)
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, [path]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


def read(table):
    return pq.read_table(os.path.join(DATA, f"{table}.parquet"))


def family(text):
    while text.endswith(" dup"):
        text = text[:-4]
    return text


def sample_documents(rng, n):
    docs = read("documents")
    if n >= docs.num_rows:
        return docs
    members = {}
    for i, t in enumerate(docs.column("text").to_pylist()):
        members.setdefault(family(t), []).append(i)
    groups = list(members.values())
    keep = []
    for g in rng.permutation(len(groups)):
        if len(keep) >= n:
            break
        keep += groups[g]
    return docs.take(pa.array(sorted(keep)))


def sample_rows(rng, table, n):
    t = read(table)
    if n >= t.num_rows:
        return t
    return t.take(pa.array(np.sort(rng.choice(t.num_rows, n, replace=False))))


def generate(out, seed, n_docs, replicas, n_emb=0, n_ev=0):
    """Write the sampled tables under `out`; returns the sizes written."""
    rng = np.random.default_rng(seed)
    sg = scale_gen()
    base = sample_documents(rng, n_docs)
    d = os.path.join(out, "documents.parquet")
    os.makedirs(d, exist_ok=True)
    for r in range(replicas):
        t = base if r == 0 else sg.text_tables(sg.shift(base, "doc_id", r * sg.DOC_OFF), "text", r)
        pq.write_table(t, os.path.join(d, f"part-{r:02d}.parquet"))
    sizes = {"base_docs": base.num_rows, "replicas": replicas,
             "docs": base.num_rows * replicas}
    for table, n in (("embeddings", n_emb), ("events", n_ev)):
        if n:
            t = sample_rows(rng, table, n)
            pq.write_table(t, os.path.join(out, f"{table}.parquet"))
            sizes[table] = t.num_rows
    return sizes


if __name__ == "__main__":
    print(generate(sys.argv[1], *(int(x) for x in sys.argv[2:])))
