"""Seeded synthetic inputs for the benchmark workloads.

Everything here is derived from the workload seed with NumPy and written
with pyarrow, so the corpora never depend on external test data or on
``bench.py``: a later edit to either cannot move this benchmark.

- ``documents`` / ``embeddings`` follow the testdata schemas (10-100
  words per doc; 64-dim float32 vectors, sd 0.125).
- ``derive_10x`` replicates a base corpus ten times the way the repo's
  scale rung does: documents by word rotation (replicas share their word
  multiset), embeddings by the "signs" derivation (each replica pair
  shares a seeded coordinate sign-flip pattern, the odd twin adds one
  quantization step, so every even/odd pair is a planted cosine~1
  near-duplicate while other pairs stay spread across orthants).
- ``VectorStream`` is the dedup stream with planted near-duplicate twins.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2 000 syllable words drawn uniformly: random documents then share few
# near-duplicate signatures, so the pairs a dedup query finds are the
# planted 10x replicas and its work is nearly the same for every variant
VOCAB = [a + b + c for a in ("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze")
         for b in ("b", "d", "g", "k", "l", "m", "n", "r", "s", "t")
         for c in ("an", "el", "ir", "on", "us", "ax", "ey", "oo", "ut", "ia",
                   "a", "e", "i", "o", "u", "ar", "er", "or", "ur", "en")]
LANGS = ["en", "en", "zh", "es", "fr", "de"]
DIMS = 64
QUANT = 10_000  # polar_spark.functions.similarity.QUANT


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float = 1.2) -> np.ndarray:
    """``n`` key indices in [0, n_keys) drawn from a truncated zipf(s)."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=n, p=w / w.sum())


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), size=n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    emb = (rng.standard_normal((n, DIMS)) * 0.125).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
        }
    )


def derive_10x(rng: np.random.Generator, docs: pa.Table, emb: pa.Table, factor: int = 10):
    """The scale rung's 10x derivation (see module docstring)."""
    d_ids = docs.column("doc_id").to_numpy()
    d_txt = docs.column("text").to_pylist()
    out_ids, out_txt, out_lang, out_src = [], [], [], []
    langs = docs.column("lang").to_pylist()
    srcs = docs.column("source").to_pylist()
    for rep in range(factor):
        for i, t in zip(d_ids, d_txt):
            w = t.split(" ")
            k = min(rep, len(w))
            out_txt.append(" ".join(w[k:] + w[:k]))
        out_ids.append(d_ids * factor + rep)
        out_lang += langs
        out_src += srcs
    docs10 = pa.table(
        {
            "doc_id": pa.array(np.concatenate(out_ids), pa.int64()),
            "text": out_txt,
            "lang": out_lang,
            "source": out_src,
            "n_chars": pa.array([len(t) for t in out_txt], pa.int64()),
        }
    )
    base = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    v_ids = emb.column("vec_id").to_numpy()
    flips = rng.integers(0, 2, size=((factor + 1) // 2, DIMS)) * 2 - 1
    vecs, ids = [], []
    for rep in range(factor):
        vecs.append((base * flips[rep // 2] + (rep % 2) * 0.0001).astype(np.float32))
        ids.append(v_ids * factor + rep)
    emb10 = pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids), pa.int64()),
            "embedding": pa.array(list(np.concatenate(vecs)), pa.list_(pa.float32())),
            "label": pa.array(np.tile(emb.column("label").to_numpy(), factor), pa.int32()),
        }
    )
    return docs10, emb10


def write_curate_corpus(dst: str, variant: int, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (10x of a
    seeded base) under ``dst``; returns their row counts."""
    rng = np.random.default_rng([7, variant])
    docs10, emb10 = derive_10x(rng, documents(rng, n_docs), embeddings(rng, n_vecs))
    os.makedirs(dst, exist_ok=True)
    pq.write_table(docs10, os.path.join(dst, "documents.parquet"))
    pq.write_table(emb10, os.path.join(dst, "embeddings.parquet"))
    return {"documents": docs10.num_rows, "embeddings": emb10.num_rows}


def quantized(v: np.ndarray) -> np.ndarray:
    return np.floor(v.astype(np.float64) * QUANT).astype(np.int64)


class VectorStream:
    """The dedup workload's vector sequence, identical in the generator
    and in the engine-side reference check.

    Ids ``0..n_store-1`` are the pre-seeded store; stream ids follow in
    order. A share of stream vectors are planted twins: a copy of an
    earlier vector (kind ``near``: a few records back, so usually in the
    same micro-batch; ``far``: 40-100 back, so usually in an earlier
    batch;
    ``store``: a pre-seeded vector) plus a small integer jitter that
    keeps the cosine far above 0.95."""

    def __init__(self, seed: int, n_store: int, n_stream: int, twin_share: float = 0.1):
        rng = np.random.default_rng([13, seed])
        n = n_store + n_stream
        base = quantized(rng.standard_normal((n, DIMS)) * 0.125)
        self.kind: dict[int, str] = {}
        self.partner: dict[int, int] = {}
        for i in range(n_store, n):
            if rng.random() >= twin_share:
                continue
            r = rng.random()
            if r < 0.4 and i - n_store >= 8:
                k, j = "near", i - int(rng.integers(1, 8))
            elif r < 0.8 and i - n_store >= 100:
                k, j = "far", i - int(rng.integers(40, 100))
            else:
                k, j = "store", int(rng.integers(0, n_store))
            base[i] = base[j] + rng.integers(-20, 21, size=DIMS)
            self.kind[i], self.partner[i] = k, j
        self.vectors = base
        self.n_store = n_store
