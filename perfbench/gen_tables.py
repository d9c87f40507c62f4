"""Seeded corpus for the corpus_dedup workload.

`corpus` writes `documents` and `embeddings` (the schemas of the
repository's fixtures) with planted structure and returns the
generator's truth:
  - exact-duplicate clusters (identical text),
  - near-duplicate clusters (a base text with two word substitutions,
    so pairwise Jaccard over word 3-shingles stays high),
  - benchmark leaks (a 12-word span of a benchmark document, doc_id % 50
    == 0, pasted into corpus documents),
  - embedding clusters: one jittered centroid per label.

Each table is written as PARTS parquet files, so a scan of it runs as
several tasks. The same seed always gives the same bytes.

Where each value comes from. "sf0.1" is the repository's sf0.1 test data
(TESTDATA.md); "unverified" means nothing in the repository backs it.
That corpus has a uniform 31-word vocabulary, vectors without
cluster structure and no near-duplicates, so the planted structure that
ROADMAP item 4 asks for cannot be fitted to it:

| parameter | value | source |
| --- | --- | --- |
| documents, embeddings | 5,000 and 2,000 | sf0.1 row counts |
| words per document | uniform 10-100 | sf0.1 (min 10, max 100, mean 54) |
| lang mix | en 41%, zh/es/fr 15% each, de 14% | sf0.1 |
| sources | 20 | sf0.1 |
| exact-duplicate clusters | 8 pairs per 5,000 documents | sf0.1 holds 8 duplicated texts |
| embeddings | 64-d unit vectors, 10 labels | sf0.1 |
| vocabulary | 400 words, Zipf exponent 1.0 | Zipf's law for natural text; the size is unverified |
| near-duplicate clusters | 2% of documents start one, 2-4 members | unverified |
| leaks | 1% of documents | unverified |
| embedding jitter | sd 0.35 around unit-normal centroids | unverified |
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 5000
N_VECS = 2000
MIN_WORDS, MAX_WORDS = 10, 100
LANGS = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
N_SOURCES = 20
EXACT_PAIRS_PER_DOC = 8 / 5000
VOCAB, ZIPF = 400, 1.0
NEAR_SHARE, LEAK_SHARE = 0.02, 0.01
DIM, N_LABELS, JITTER = 64, 10, 0.35
PARTS = 4


def _write(out_dir, name, cols):
    """`<name>.parquet/part-<k>.parquet`, PARTS files of consecutive rows"""
    table = pa.table(cols)
    path = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, PARTS + 1).astype(int)
    for k in range(PARTS):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(path, f"part-{k}.parquet"))


def corpus(seed, out_dir):
    """Write documents/embeddings; return the planted truth as a dict."""
    n_docs, n_vecs = N_DOCS, N_VECS
    rng = np.random.default_rng([seed, 2])
    words = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)
    zipf = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF
    zipf /= zipf.sum()
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, n_docs)
    texts = [list(words[rng.choice(VOCAB, n, p=zipf)]) for n in lengths]

    # planted clusters: every member copies its base (the lowest doc_id),
    # so clusters never overlap; benchmark docs (id % 50 == 0) stay clean
    free = [int(i) for i in rng.permutation(n_docs) if i % 50 != 0]
    exact, near, leaks = [], [], []
    for _ in range(round(n_docs * EXACT_PAIRS_PER_DOC)):
        members = sorted(free.pop() for _ in range(2))
        texts[members[1]] = list(texts[members[0]])
        exact.append(members)
    for _ in range(round(n_docs * NEAR_SHARE)):
        members = sorted(free.pop() for _ in range(int(rng.integers(2, 5))))
        base = texts[members[0]]
        for m in members[1:]:
            t = list(base)
            for pos in rng.choice(len(t), 2, replace=False):
                t[pos] = words[rng.integers(0, VOCAB)]
            texts[m] = t
        near.append(members)
    for _ in range(round(n_docs * LEAK_SHARE)):
        src, dst = int(rng.integers(0, n_docs // 50)) * 50, free.pop()
        span = texts[src][:12]
        cut = int(rng.integers(0, len(texts[dst])))
        texts[dst] = texts[dst][:cut] + span + texts[dst][cut:]
        leaks.append([src, dst])

    text = [" ".join(t) for t in texts]
    langs = np.array(list(LANGS), dtype=object)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), type=pa.int64()),
        "text": text,
        "lang": langs[rng.choice(len(langs), n_docs, p=list(LANGS.values()))],
        "source": np.array([f"src{i % N_SOURCES}" for i in range(n_docs)], dtype=object),
        "n_chars": pa.array([len(s) for s in text], type=pa.int64())})

    centroids = rng.normal(0.0, 1.0, (N_LABELS, DIM)).astype(np.float32)
    labels = rng.integers(0, N_LABELS, n_vecs)
    vecs = centroids[labels] + rng.normal(0.0, JITTER, (n_vecs, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), type=pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32())})
    return {"exact_clusters": exact, "near_clusters": near, "leaks": leaks,
            "n_docs": n_docs, "n_vecs": n_vecs}
