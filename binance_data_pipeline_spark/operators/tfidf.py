"""TF-IDF / hashing-trick document featurization — sparse vectors in the
standard (indices, values) format, computed MAP-ONLY.

Term frequency is a per-document statistic, so the whole featurization
is a per-row computation: no shuffle, no groupBy — the only corpus-wide
input is the (small) vocabulary with its IDF weights, shipped as a
Spark broadcast variable. That makes this pass free to pipeline with
the parquet scan at 100 TB, where the naive explode → groupBy(doc,
token) → regroup formulation pays two corpus-sized shuffles for what is
ultimately a row-local Counter.

Within-document token counting has no efficient whole-stage-codegen
form (higher-order filter-per-distinct-token is O(distinct × len)
interpreted — the same CodegenFallback wall as
similarity.rp_signatures_batch), so the kernel is an Arrow-batched
``mapInPandas``: one Python Counter per doc per batch, vectorized I/O,
never row-at-a-time serialization. The kernel closes only over locals
and the broadcast handle, so cloudpickle ships it by value and executors
can deserialize it without importing this package (driver-contract safe).

Output schema: (id, indices array<bigint> ascending, values
array<double>) — sklearn/scipy CSR row convention; weights follow
sklearn's smooth-idf TF-IDF with optional L2 normalization, so small
corpora can be validated against the reference implementation directly.

No reference equivalent (no text processing in the reference) — LLM-
pipeline extension surface with operators/vocab.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_OUT_SCHEMA = "id {id_type}, indices array<bigint>, values array<double>"


def _featurize_kernel(
    lookup, dim: int | None, l2_normalize: bool, id_name: str, text_name: str
):
    """mapInPandas kernel factory. ``lookup`` is a broadcast handle to
    {token: (token_id, idf)} or None for the hashing trick (token_id =
    xxhash64-style mod ``dim``, idf ≡ 1)."""

    def run(batches):
        import math
        from collections import Counter

        import pandas as pd

        vocab = lookup.value if lookup is not None else None
        for pdf in batches:
            ids, idx_col, val_col = [], [], []
            for doc_id, text in zip(pdf[id_name], pdf[text_name]):
                toks = str(text).strip().lower().split()
                weights: dict[int, float] = {}
                if vocab is not None:
                    counts = Counter(t for t in toks if t in vocab)
                    for t, c in counts.items():
                        tid, idf = vocab[t]
                        weights[tid] = c * idf
                else:
                    # hashing trick: stable Python hash via md5 low bits
                    # (builtin hash() is salted per process — would break
                    # cross-run determinism)
                    import hashlib

                    counts = Counter(
                        int.from_bytes(
                            hashlib.md5(t.encode()).digest()[:8], "little"
                        )
                        % dim
                        for t in toks
                    )
                    weights = {tid: float(c) for tid, c in counts.items()}
                if l2_normalize and weights:
                    norm = math.sqrt(sum(v * v for v in weights.values()))
                    if norm > 0:
                        weights = {k: v / norm for k, v in weights.items()}
                items = sorted(weights.items())
                ids.append(doc_id)
                idx_col.append([k for k, _ in items])
                val_col.append([round(v, 6) for _, v in items])
            yield pd.DataFrame({"id": ids, "indices": idx_col, "values": val_col})

    return run


def tfidf_vectors(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    l2_normalize: bool = True,
) -> DataFrame:
    """Sparse TF-IDF vectors against a ``vocab.build_vocab``-shaped
    vocabulary (columns token, token_id) with IDF weights (column idf —
    join ``vocab.idf_table`` in, or pass idf≡1 for raw TF). Tokens
    outside the vocabulary are dropped (sklearn behavior).

    The vocabulary is collected to the driver ONCE (vocab_size rows —
    O(100k), not corpus-scaled) and broadcast; the featurization itself
    is map-only."""
    spark = df.sparkSession
    cols = set(vocab.columns)
    if not {"token", "token_id"} <= cols:
        raise ValueError("vocab needs columns token, token_id (see build_vocab)")
    has_idf = "idf" in cols
    mapping = {
        r["token"]: (int(r["token_id"]), float(r["idf"]) if has_idf else 1.0)
        for r in vocab.collect()
    }
    bc = spark.sparkContext.broadcast(mapping)
    id_type = dict(df.dtypes)[id_col]
    kernel = _featurize_kernel(bc, None, l2_normalize, id_col, text_col)
    return df.select(id_col, text_col).mapInPandas(
        kernel, _OUT_SCHEMA.format(id_type=id_type)
    )


def hashing_tf(
    df: DataFrame,
    dim: int = 1 << 18,
    id_col: str = "doc_id",
    text_col: str = "text",
    l2_normalize: bool = True,
) -> DataFrame:
    """Hashing-trick term frequencies: token_id = md5-hash mod ``dim``,
    no vocabulary pass at all — the featurizer for corpora whose
    vocabulary is itself too large to enumerate. Deterministic across
    runs and processes (md5, not the salted builtin hash)."""
    id_type = dict(df.dtypes)[id_col]
    kernel = _featurize_kernel(None, dim, l2_normalize, id_col, text_col)
    return df.select(id_col, text_col).mapInPandas(
        kernel, _OUT_SCHEMA.format(id_type=id_type)
    )
