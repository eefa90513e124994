#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

A snapshot is made in two steps:

1. A *base* corpus is synthesized from a fixed base seed, in the shape of
   the fixture tables the workloads read (see FIXTURES.md): `documents`
   (text drawn from a closed 31-word vocabulary, 10 to 100 words; 5%
   near-duplicates that repeat another document's text plus " dup") and
   `embeddings` (64-d unit vectors, 10 labels).
2. The workload seed then applies structure-preserving isomorphisms, the
   generalisation of `graft.tools.ScaleGen`'s per-copy transforms:
   - a seeded permutation of the vocabulary within equal-length word
     classes (stop words "the"/"a" and the "dup" marker stay fixed), so
     every Jaccard/MinHash relationship and every `n_chars` is preserved;
   - a seeded signed coordinate permutation of `embeddings` (orthogonal:
     every norm, dot product and cosine is preserved exactly);
   - a seeded row-order shuffle of every table.

So two seeds give different inputs of identical structure and cost, and
the same seed always gives the same bytes. `run.py` calls `generate`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
WORDS = ("a the agg big row key join hash sort slow line part fast scan data "
         "table value small group order query spark merge batch window vector "
         "stream column filter customer").split()
FIXED_WORDS = {"a", "the", "customer"}
LANGS = (["en"] * 8) + (["zh"] * 3) + (["es"] * 3) + (["fr"] * 3) + (["de"] * 3)
DIM = 64
DOCS = 500
VECS = 500


def base_tables():
    """The fixed-seed base snapshot."""
    docs_rng, vec_rng = np.random.default_rng(BASE_SEED).spawn(2)
    texts = [" ".join(docs_rng.choice(WORDS, docs_rng.integers(10, 101)))
             for _ in range(DOCS)]
    # 5% near-duplicates: another document's text plus " dup" (two
    # near-duplicates of one source are then exact duplicates)
    for i in docs_rng.choice(DOCS, DOCS // 20, replace=False):
        j = int(docs_rng.integers(0, DOCS))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    documents = pa.table({
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": texts,
        "lang": docs_rng.choice(LANGS, DOCS),
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    x = vec_rng.standard_normal((VECS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(VECS, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(vec_rng.integers(0, 10, VECS), pa.int32())})
    return {"documents": documents, "embeddings": embeddings}


def vocab_permutation(rng):
    """Seeded bijection on the vocabulary that keeps every word's length."""
    mapping = {w: w for w in WORDS}
    by_len = {}
    for w in WORDS:
        if w not in FIXED_WORDS:
            by_len.setdefault(len(w), []).append(w)
    for ws in by_len.values():
        for a, b in zip(ws, rng.permutation(ws)):
            mapping[a] = str(b)
    return mapping


def isomorph(tables, seed):
    """Apply the seed's structure-preserving transforms to every table."""
    rng = np.random.default_rng([BASE_SEED, seed])
    docs, vecs = tables["documents"], tables["embeddings"]
    m = vocab_permutation(rng)
    texts = [" ".join(m.get(w, w) for w in s.split(" "))
             for s in docs.column("text").to_pylist()]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(texts, pa.string()))
    perm = rng.permutation(DIM)
    sign = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), DIM)
    x = np.stack(vecs.column("embedding").to_numpy(zero_copy_only=False))
    vecs = vecs.set_column(vecs.schema.get_field_index("embedding"), "embedding",
                           pa.array(list((x[:, perm] * sign).astype(np.float32)),
                                    pa.list_(pa.float32())))
    return {name: t.take(rng.permutation(t.num_rows))
            for name, t in (("documents", docs), ("embeddings", vecs))}


def generate(out_dir, seed):
    """Write the seed's snapshot to out_dir/<table>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in isomorph(base_tables(), seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
