"""Text → embedding generation: the missing first step of every vector
pipeline in this engine (similarity.py / semdedup.py / ivf.py / pq.py
all consume an ``array<float>`` column that something must produce).

The MODEL is injectable, the SPARK PLUMBING is real and tested. The encoder
contract is a plain callable

    encoder(texts: list[str]) -> 2-D float array of shape (len(texts), dim)

so a production deployment injects a real model (e.g. a
sentence-transformers ``model.encode`` — not installed in this
container) while the default, ``hash_encoder``, is a REAL
dependency-free embedding: feature-hashed word uni/bi-grams with sign
hashing (Weinberger et al., ICML 2009 "Feature Hashing for Large Scale
Multitask Learning"), sublinear tf weighting and L2 normalisation.
It is deterministic (keyed BLAKE2b, fixed seed), so embeddings are
reproducible across runs, partitionings and cluster sizes — and it is a
legitimate lexical embedding in its own right: cosine on it approximates
tf-weighted n-gram overlap, enough to drive semdedup / ANN end-to-end
from raw text with no model at all.

Scale design (100 TB): ``embed_texts`` is a pure MAP stage — one
Arrow-batched ``mapInPandas`` pass, zero shuffles, zero driver state;
throughput scales linearly with executors. The encoder rides the task
closure (serialized once per task, not per row). For GPU model
encoders, set ``spark.task.resource.gpu.amount`` and batch size via
``spark.sql.execution.arrow.maxRecordsPerBatch`` — the contract here is
already batch-shaped, so the same plumbing serves a CPU hash encoder
and a GPU transformer unchanged.

North-star extension; the reference (a pandas/Kafka/dbt pipeline, e.g.
``producer/kafka_to_s3_bronze.py``) has no vector surface at all.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

__all__ = ["hash_encoder", "embed_texts", "stub_encoder"]

#: Batch encoder contract: list of raw texts in, (n, dim) float array out.
Encoder = Callable[[list[str]], "np.ndarray"]


def stub_encoder(texts: list[str]) -> "np.ndarray":
    """Guard stub documenting the injection point for a real model
    encoder (sentence-transformers et al. — not installed here)."""
    raise NotImplementedError(
        "no model encoder injected — pass encoder=hash_encoder(dim) for the "
        "dependency-free lexical embedding, or a model.encode-style callable"
    )


def hash_encoder(
    dim: int = 256,
    seed: int = 0,
    lowercase: bool = True,
    analyzer: str = "word",
    char_ngram: tuple[int, int] = (3, 5),
) -> Encoder:
    """Deterministic feature-hashing embedding: each n-gram is
    BLAKE2b-hashed (keyed by ``seed``) to a (bucket, sign) pair, counts
    are accumulated with sublinear ``1 + log(tf)`` weighting, and the
    vector is L2-normalised so downstream cosine paths (similarity.py /
    semdedup.py) can use plain dot products. Pure numpy + hashlib —
    safe to pickle into bare executors.

    ``analyzer="word"`` (default) uses word uni- and bi-grams —
    whitespace languages. ``analyzer="char"`` uses character n-grams in
    the ``char_ngram`` length range, for scripts without whitespace (CJK,
    Thai): they tokenize to one giant "word", so word mode can't
    discriminate; char n-grams can."""
    if dim < 2:
        raise ValueError("dim must be >= 2")
    if analyzer not in ("word", "char"):
        raise ValueError(f"analyzer must be word|char, got {analyzer!r}")
    key = seed.to_bytes(8, "little", signed=True)
    lo, hi = char_ngram

    def bucket_sign(gram: str) -> tuple[int, float]:
        h = hashlib.blake2b(gram.encode("utf-8"), key=key, digest_size=8).digest()
        v = int.from_bytes(h, "little")
        return (v >> 1) % dim, 1.0 if v & 1 else -1.0

    def encode(texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), dim), dtype=np.float64)
        for i, text in enumerate(texts):
            t = (text or "").lower() if lowercase else (text or "")
            if analyzer == "word":
                toks = t.split()
                grams = toks + [f"{a}\x00{b}" for a, b in zip(toks, toks[1:])]
            else:
                grams = [
                    t[j:j + n]
                    for n in range(lo, hi + 1)
                    for j in range(len(t) - n + 1)
                ]
            if not grams:
                continue
            counts: dict[str, int] = {}
            for g in grams:
                counts[g] = counts.get(g, 0) + 1
            for g, c in counts.items():
                j, s = bucket_sign(g)
                out[i, j] += s * (1.0 + np.log(c))
            n = np.linalg.norm(out[i])
            if n > 0:
                out[i] /= n
        return out

    return encode


def embed_texts(
    df: DataFrame,
    text_col: str = "text",
    encoder: Encoder | None = None,
    dim: int = 256,
    out_col: str = "embedding",
) -> DataFrame:
    """All input columns + ``out_col: array<float>``, one encoder batch
    per Arrow batch. Map-only: the plan is scan → ArrowEval, no
    Exchange, so this composes with any downstream partitioning
    untouched. ``encoder=None`` uses ``hash_encoder(dim)``."""
    enc = encoder if encoder is not None else hash_encoder(dim)
    if out_col in df.columns:
        raise ValueError(f"column {out_col!r} already exists")
    schema = StructType(df.schema.fields + [StructField(out_col, ArrayType(FloatType()))])
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            vecs = enc([t if t is not None else "" for t in b[text_col].tolist()])
            vecs = np.asarray(vecs, dtype=np.float32)
            if vecs.ndim != 2 or vecs.shape[0] != len(b):
                raise ValueError(
                    f"encoder returned shape {vecs.shape}, expected ({len(b)}, dim)"
                )
            out = b[cols].copy()
            out[out_col] = list(vecs)
            yield out

    return df.mapInPandas(run, schema)
