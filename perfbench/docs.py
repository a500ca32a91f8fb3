"""Seeded `documents` and `embeddings` tables for the curation workload.

Same schema and shape as the engine's test tables: short texts over a
30-word vocabulary, a handful of exact duplicates, about 5% near
duplicates (another document's text plus " dup"), and unit-normalized
64-dimensional float embeddings with ten labels. Single process, single
thread; the seed is an argument.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus

FORMAT = 1
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PROFILE = {"docs": 5000, "vectors": 2000, "dim": 64}


def generate(out_dir, seed, docs, vectors, dim):
    rng = np.random.Generator(np.random.PCG64(seed))
    lens = rng.integers(10, 101, size=docs).tolist()
    picks = rng.integers(0, len(WORDS), size=sum(lens)).tolist()
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(WORDS[p] for p in picks[at:at + n]))
        at += n
    order = rng.permutation(docs).tolist()
    near = order[:docs // 20]
    exact = order[docs // 20:docs // 20 + 8]
    for i in near:
        texts[i] = texts[int(rng.integers(docs))] + " dup"
    for i in exact:
        texts[i] = texts[int(rng.integers(docs))]
    langs = rng.choice(len(LANGS), size=docs, p=LANG_P).tolist()
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    v = rng.standard_normal((vectors, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(vectors), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=vectors), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"tokens": sum(len(t.split(" ")) for t in texts), "docs": docs,
            "vectors": vectors}


def ensure(root, seed):
    """The tables for `seed`, generated once under root."""
    return corpus.cached(root, "curation", dict(PROFILE, format=FORMAT, seed=seed),
                         lambda d: generate(d, seed, **PROFILE))
