"""Deduplication operators: exact, SimHash, MinHash+LSH, n-gram Jaccard.

Scale design (the whole point of these at 100 TB):

- Exact dedup is a hash shuffle on the fingerprint — one exchange, map-side
  combine, nothing moves but (fingerprint → keeper) pairs.
- MinHash+LSH: token-hash arrays → O(n) windowed shingle hashes → 16
  permutations → banded buckets. Candidate pairs come from a bucket
  equi-join, so the join is |candidates|-sized, never O(n²). Explicit
  materialization barriers (cache) separate the stages — Catalyst's
  CollapseProject would otherwise inline the shingle expression tree once
  per permutation (measured ~70× blowup at sf0.001).
- SimHash: JVM token hashing, then ONE Arrow-batched popcount kernel per
  batch for the 64-bit vote tally — map-only, no shuffle (the explode +
  64-vote-agg formulation it replaced shuffled a 64-int vector per doc
  per partition; signature parity is test-pinned).
- n-gram Jaccard verifies candidate pairs only (array_intersect/union) —
  the classic LSH-then-verify two-phase shape.

Everything is Catalyst-visible; the single Python boundary is the
Arrow-batched SimHash kernel (vectorized per batch, never per row).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import _spread
from .text import tokens


# --------------------------------------------------------------------------
# Shingles
# --------------------------------------------------------------------------

def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string>. O(len²) per doc
    (slice+concat per position) — use only where the literal strings are
    needed (oracle-parity probes); the dedup pipeline uses
    token_hash_shingles instead."""
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def token_hashes(col: Column | str) -> Column:
    """xxhash64 per whitespace token (array<bigint>)."""
    return F.transform(tokens(col), lambda t: F.xxhash64(t))


def hashed_shingles(hash_array: Column, n: int = 3) -> Column:
    """n-gram shingle hashes from a *materialized* token-hash array —
    O(len) per doc: each shingle hash combines n consecutive token hashes
    via hash(). Distinct set, ready for minhash or Jaccard.

    Docs with fewer than n tokens yield an EMPTY set (no full n-gram
    exists). The index sequence is built only when size >= n — CASE WHEN
    branches evaluate lazily per row, so short docs never touch
    element_at past the array end (Spark 4 ANSI mode would fault with
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT otherwise)."""
    m = F.size(hash_array)
    idx = F.when(m >= n, F.sequence(F.lit(1), m - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.hash(*[F.element_at(hash_array, i + j) for j in range(n)]).cast("long"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------

# Deterministic universal-hash parameters (a*x+b mod p) for minhash
# permutations. p = 2^31-1 (Mersenne) keeps a*x+b within signed-64 range
# (Spark 4 runs ANSI mode by default and faults on long overflow).
_MERSENNE_P31 = (1 << 31) - 1


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    # Deterministic LCG-expanded constants (no RNG at plan time).
    params = []
    state = 0x9E3779B97F4A7C15
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state >> 33) % (_MERSENNE_P31 - 2) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (state >> 33) % (_MERSENNE_P31 - 1)
        params.append((a, b))
    return params


def _minhash_from_hashes(hash_col: Column, num_perm: int) -> Column:
    """MinHash signature (array<bigint>) from a materialized shingle-hash
    array: min((a·h+b) mod p) per permutation."""

    def perm_fn(a: int, b: int):
        # closure factory: pyspark introspects lambda arity → exactly 1 arg
        return lambda h: (F.lit(a) * F.pmod(h, F.lit(_MERSENNE_P31)) + F.lit(b)) % F.lit(_MERSENNE_P31)

    return F.array(
        *[F.array_min(F.transform(hash_col, perm_fn(a, b))) for a, b in _perm_params(num_perm)]
    )


def band_hashes(sig_col: Column, num_perm: int, bands: int) -> Column:
    """LSH band keys from a minhash signature: hash of each band's
    signature slice, salted by band index (array<int>, one per band).
    The SINGLE definition of a band key: keys built by a second formula
    would silently stop colliding with these, and candidates would be
    lost."""
    rows_per_band = num_perm // bands
    return F.array(
        *[
            F.hash(F.slice(sig_col, b * rows_per_band + 1, rows_per_band), F.lit(b))
            for b in range(bands)
        ]
    )


def _materialize(df: DataFrame) -> DataFrame:
    """Eager materialization barrier for small intermediates reused by
    several plan branches (self-joins). Preferred over .cache(): a lazy
    cache referenced from both sides of a join gets filled concurrently by
    racing tasks (block-manager lock serialization measured as 10-70×
    slowdowns at sf0.1); an eager localCheckpoint fills once, then every
    branch reads stored blocks."""
    return df.localCheckpoint(eager=True)


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Materialized (id, shingle-hash set) table — cached because every
    downstream stage (signatures, Jaccard verify) reuses it.

    Docs shorter than n tokens have no shingles and are excluded: they can
    never clear a Jaccard threshold, and keeping them would put every
    short doc into one degenerate LSH bucket (an O(shorts²) candidate
    blow-up at scale)."""
    toks = _spread(df).select(F.col(id_col).alias("id"), token_hashes(text_col).alias("th"))
    sh = toks.select("id", hashed_shingles(F.col("th"), n).alias("sh"))
    # filter AFTER the materialization barrier: a filter on the computed
    # column before it would be pushed into the projection and re-evaluate
    # the whole (interpreted, HOF-based) shingle expression a second time
    # per row — measured ~3× on the shingle build
    return _materialize(sh).where(F.size("sh") > 0)


def _make_mm3_mix_long():
    """Factory for one vectorized Murmur3_x86_32.hashLong step:
    ``vals`` int64, ``h`` uint32 running hashes. Bit-identical to
    Spark's ``F.hash`` accumulation over BIGINT children (verified
    element-wise against the JVM in
    tests/test_operators.py::test_minhash_table_parity). Nested so
    executor closures capture it BY VALUE — the driver's vanilla
    session does not ship this package to Python workers."""
    import numpy as np

    C1 = np.uint32(0xCC9E2D51)
    C2 = np.uint32(0x1B873593)

    def rotl(x, r):
        return (x << np.uint32(r)) | (x >> np.uint32(32 - r))

    def mm3_mix_long(vals, h):
        u = vals.view(np.uint64)

        def mix_k1(k1):
            return rotl(k1 * C1, 15) * C2

        def mix_h1(h1, k1):
            return rotl(h1 ^ k1, 13) * np.uint32(5) + np.uint32(0xE6546B64)

        h1 = mix_h1(h, mix_k1((u & np.uint64(0xFFFFFFFF)).astype(np.uint32)))
        h1 = mix_h1(h1, mix_k1((u >> np.uint64(32)).astype(np.uint32)))
        h1 = h1 ^ np.uint32(8)
        h1 = h1 ^ (h1 >> np.uint32(16))
        h1 = h1 * np.uint32(0x85EBCA6B)
        h1 = h1 ^ (h1 >> np.uint32(13))
        h1 = h1 * np.uint32(0xC2B2AE35)
        h1 = h1 ^ (h1 >> np.uint32(16))
        return h1

    return mm3_mix_long


_mm3_mix_long = _make_mm3_mix_long()


def minhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
) -> DataFrame:
    """ONE materialized (id, sh, sig) table for the minhash pipeline —
    shingle-hash set AND minhash signature from a single Arrow pass over
    the JVM token hashes (string hashing stays JVM xxhash64 for
    bit-parity; the n-gram murmur3 combine, the distinct, and all
    ``num_perm`` permutation minima run vectorized per batch).

    Replaces the former two-stage shape (shingle checkpoint + signature
    checkpoint: the signature HOFs re-read the stored shingle blocks as a
    second job) with one job and one barrier. Shingle-hash VALUES are
    bit-identical to ``hashed_shingles``; only the array ORDER differs
    (sorted distinct vs first-occurrence distinct), which nothing
    downstream observes — Jaccard uses set sizes, minhash uses set
    minima (parity pinned in tests). Docs shorter than ``n`` tokens get
    an empty ``sh`` and are filtered exactly like ``shingle_table``."""
    import numpy as np

    params = _perm_params(num_perm)
    id_type = df.schema[id_col].dataType.simpleString()

    def build(batches):
        a_params = np.array([p[0] for p in params], dtype=np.int64)
        b_params = np.array([p[1] for p in params], dtype=np.int64)
        p31 = np.int64(_MERSENNE_P31)
        for b in batches:
            ids = b[b.columns[0]].to_numpy()
            th_vals = b[b.columns[1]].to_numpy()
            n_docs = len(th_vals)
            sh_out: list = [None] * n_docs
            sig_out: list = [None] * n_docs
            seg_arrays = []
            seg_doc = []
            for i, th in enumerate(th_vals):
                arr = np.asarray(th, dtype=np.int64)
                if len(arr) < n:
                    sh_out[i] = []
                    sig_out[i] = []
                    continue
                seg_arrays.append(arr)
                seg_doc.append(i)
            if seg_arrays:
                # every doc contributes its count[k] shingle positions to
                # each offset column IN DOC ORDER, so position p of the
                # three columns is shingle p's (t0, t1, t2) triple
                counts = np.array([len(a) - (n - 1) for a in seg_arrays])
                cols = [
                    np.concatenate([a[j : len(a) - (n - 1) + j] for a in seg_arrays])
                    for j in range(n)
                ]
                h = np.full(len(cols[0]), 42, dtype=np.uint32)
                for col in cols:
                    h = _mm3_mix_long(col, h)
                hashes = h.view(np.int32).astype(np.int64)
                starts = np.zeros(len(counts), dtype=np.int64)
                starts[1:] = np.cumsum(counts)[:-1]
                hmod = ((hashes % p31) + p31) % p31
                perms = (
                    a_params[:, None] * hmod[None, :] + b_params[:, None]
                ) % p31  # (num_perm, total)
                mins = np.minimum.reduceat(perms, starts, axis=1)  # (perm, docs)
                for k, i in enumerate(seg_doc):
                    lo, hi = starts[k], starts[k] + counts[k]
                    sh_out[i] = np.unique(hashes[lo:hi]).tolist()
                    sig_out[i] = mins[:, k].tolist()
            yield pd.DataFrame({"id": ids, "sh": sh_out, "sig": sig_out})

    toks = _spread(df).select(
        F.col(id_col).alias("id"), token_hashes(text_col).alias("th")
    )
    tbl = toks.mapInPandas(
        build, f"id {id_type}, sh array<long>, sig array<long>"
    )
    return _materialize(tbl).where(F.size("sh") > 0)


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    shingle_df: DataFrame | None = None,
    max_bucket_size: int | None = None,
    table_df: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: split the signature into `bands` bands, hash each band,
    bucket-join → candidate pairs (id_a < id_b, distinct).

    ``table_df`` (a ``minhash_table`` result) supplies ready signatures —
    no second materialization; ``shingle_df`` keeps the legacy two-stage
    path for callers that already built a shingle table.

    The only shuffle is the band-bucket exchange; pair blow-up is bounded by
    bucket sizes, not corpus size.

    ``max_bucket_size`` is the 100 TB skew guard: a bucket of width w emits
    w²/2 candidate pairs, and real crawls always have a few degenerate
    buckets (boilerplate, template pages) that would dominate the join.
    Buckets wider than the cap are DROPPED from candidate generation — the
    standard large-scale posture (datasketch/spark-dedup do the same): a
    pair of genuinely similar docs agrees on many bands, so losing its
    pathological bucket rarely loses the pair, and the verify stage never
    sees the w² explosion. The bucket-size table this filters on is
    aggregated (distinct buckets, not rows) and the filter is a semi-join.
    """
    if table_df is not None:
        sig_df = table_df.select("id", "sig")
    elif shingle_df is not None:
        sig_df = _materialize(
            shingle_df.select("id", _minhash_from_hashes(F.col("sh"), num_perm).alias("sig"))
        )
    else:
        sig_df = minhash_table(df, id_col, text_col, n, num_perm).select("id", "sig")
    banded = sig_df.select(
        "id", F.posexplode(band_hashes(F.col("sig"), num_perm, bands)).alias("band_id", "bh")
    )
    if max_bucket_size is not None:
        ok_buckets = (
            banded.groupBy("band_id", "bh")
            .agg(F.count(F.lit(1)).alias("w"))
            .where(F.col("w") <= max_bucket_size)
            .select("band_id", "bh")
        )
        banded = banded.join(ok_buckets, ["band_id", "bh"], "left_semi")
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify on the
    (hashed) shingle sets → pairs with jaccard ≥ threshold. See
    minhash_candidate_pairs for the ``max_bucket_size`` skew guard.
    Shingles and signatures come from ONE fused Arrow pass
    (``minhash_table``) — one materialization barrier instead of two."""
    tbl = minhash_table(df, id_col, text_col, n, num_perm)
    sh = tbl.select("id", "sh")
    cands = minhash_candidate_pairs(
        df, id_col, text_col, n, num_perm, bands, table_df=tbl,
        max_bucket_size=max_bucket_size,
    )
    return (
        cands.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _simhash_batch_udf():
    """Arrow-batched SimHash kernel: token xxhash64 arrays in (JVM-computed,
    so hashes match the JVM formulation bit-for-bit), signed-64 signature
    out. Per batch: one np.unpackbits over the little-endian byte view
    (token × 64 bit matrix, uint8), np.add.reduceat per doc for the bit
    sums, votes = 2·sums − count, bit set iff votes > 0. One vectorized
    pass replaces 64 per-bit vote aggregates — and makes the whole operator
    map-side (the explode + groupBy formulation shuffled a 64-int vector
    per doc per partition). Docs are chunked so the bit matrix stays
    ~64 MB regardless of Arrow batch size."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)

    def doc_chunk(counts: "np.ndarray", budget: int = 1_000_000):
        # yield (start_doc, end_doc) slices whose token totals stay small
        start, running = 0, 0
        for i, c in enumerate(counts):
            if running + c > budget and i > start:
                yield start, i
                start, running = i, 0
            running += int(c)
        if start < len(counts):
            yield start, len(counts)

    @pandas_udf("long")
    def sim(hashes: pd.Series) -> pd.Series:
        arrays = [np.asarray(h, dtype=np.int64) for h in hashes]
        counts = np.fromiter((len(a) for a in arrays), dtype=np.int64, count=len(arrays))
        out = np.zeros(len(arrays), dtype=np.int64)
        for lo, hi in doc_chunk(counts):
            seg_counts = counts[lo:hi]
            nz = seg_counts > 0  # empty docs: votes all -0 → sig 0
            if not nz.any():
                continue
            flat = np.concatenate([arrays[i] for i in range(lo, hi)])
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )  # (tokens, 64) uint8; little-endian byte view → column i is bit i
            starts = np.zeros(len(seg_counts), dtype=np.int64)
            starts[1:] = np.cumsum(seg_counts)[:-1]
            sums = np.zeros((len(seg_counts), 64), dtype=np.int64)
            # reduceat over nonempty docs only: an empty doc would make
            # consecutive indices equal, which reduceat treats as a
            # single-element slice instead of an empty sum
            sums[nz] = np.add.reduceat(bits, starts[nz], axis=0, dtype=np.int64)
            votes = 2 * sums - seg_counts[:, None]
            sig_u = ((votes > 0) * weights).sum(axis=1, dtype=np.uint64)
            out[lo:hi] = sig_u.view(np.int64)
        return pd.Series(out)

    return sim


def with_simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """(id, simhash): each token votes ±1 per bit of its xxhash64; bit i of
    the signature is set iff the vote sum is positive.

    Hashing stays JVM-side (token_hashes → array<bigint>, whole-stage
    codegen); the 64-bit vote tally runs as ONE Arrow-batched popcount
    matmul per batch (see _simhash_batch_udf) — map-only, no shuffle. The
    earlier explode + 64-vote-agg formulation produced identical signatures
    (pinned by test_simhash_matches_vote_agg) but paid a doc-wide shuffle
    and a 64-column aggregate; the per-token 64-wide array zip_with variant
    runs interpreted and was ~50× slower still.

    Docs with zero tokens are excluded (the vote-agg formulation had no
    rows to aggregate for them; parity preserved)."""
    if bits != 64:
        raise ValueError("simhash is fixed at 64 bits (one BIGINT signature)")
    th = _spread(df).select(F.col(id_col).alias("id"), token_hashes(text_col).alias("th"))
    return th.where(F.size("th") > 0).select(
        "id", _simhash_batch_udf()(F.col("th")).alias("simhash")
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int | None = None,
    max_block_size: int | None = None,
    dup_ratio_gate: float = 1.25,
) -> DataFrame:
    """Near-dup pairs by SimHash with pigeonhole banding (the Manku/Jain/
    Sarma WWW'07 simhash-dedup construction): split the 64-bit signature
    into ``bands`` = max_hamming + 1 equal bands and block on each band's
    value — a pair within hamming ≤ max_hamming differs in at most
    max_hamming bits, so by pigeonhole at least one band is IDENTICAL.
    Candidates = pairs sharing any full band; verify hamming with
    bit_count(xor). Recall is therefore exact (1.0) for the hamming bound;
    the earlier single-prefix variant (block on the top 16 bits only)
    missed every pair whose differing bits touched the prefix — measured
    0.0 recall on the driver corpus sample.

    Scale shape: one posexplode to `bands` rows per doc (band values are
    JVM bit-shifts), one shuffle on (band_idx, band_value), per-block
    self-join, distinct on the id pair. Still never O(n²): candidates are
    bounded by band-block widths exactly like MinHash's banded buckets.

    ``max_block_size`` is the same skew guard as MinHash's
    ``max_bucket_size``: a block of width w (in DOCS) emits up to w²/2
    join rows, so degenerate blocks (boilerplate-dominated corpora hash
    many docs to one band value) are dropped from candidate generation
    when capped. Identical-signature pairs are emitted regardless (they
    need no banding — strictly more recall than the per-doc-block
    formulation, which lost them when every shared block was over-cap).

    Dup-heavy corpora (the production case — Manku's paper dedups
    identical fingerprints first): banding, the self-join, and the
    hamming verify all run over DISTINCT signatures, so a class of k
    byte-identical docs costs ONE row through the quadratic machinery
    instead of k rows through every band; the k²/2 output pairs are
    generated once, at output, by expanding signature pairs back to
    members. The round-8 100× smoke measured the per-doc formulation's
    wall growing 17.2× on 10× data — the candidate/verify legs were
    re-verifying every member of every dup class in every band.

    Low-dup corpora pay the distinct-signature machinery (an extra
    groupBy/collect_list shuffle + the expansion joins) for nothing, so
    the formulation is GATED: the signatures are materialized once,
    one cheap aggregate probes the duplication ratio
    (count / approx_count_distinct), and below ``dup_ratio_gate`` the
    per-doc direct banding path runs instead — same single band shuffle,
    no member machinery. Both paths compute the exact same pair set
    (pinned by test_simhash_gate_paths_agree); the gate is performance
    only. The per-doc path is taken only when ``max_block_size`` is
    None, because under a cap the distinct path's keep-identical-pairs
    guarantee differs by design."""
    n_bands = bands if bands is not None else max_hamming + 1
    width = 64 // n_bands
    # NOTE (r12): fusing the gate aggregate with a persist()-fill (one job
    # instead of checkpoint + aggregate) was tried and MEASURED SLOWER —
    # 0.58 s fused vs 0.19 s checkpoint + 0.13 s aggregate at sf0.1/quiet:
    # the cache operator's columnar encoding costs more than the extra
    # job round-trip. The two-step barrier stays.
    sig = _materialize(with_simhash(df, id_col, text_col))
    # band i = bits [i*width, (i+1)*width) of the signature, as a separate
    # blocking key per band index (shiftright + mask keeps it JVM-side;
    # the last band absorbs any remainder bits)
    band_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                (
                    # last band absorbs the remainder bits when 64 % bands != 0
                    F.shiftrightunsigned("simhash", i * width)
                    if i == n_bands - 1
                    else F.shiftrightunsigned("simhash", i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                ).alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    if max_block_size is None:
        n_docs, n_sigs = sig.agg(
            F.count(F.lit(1)), F.approx_count_distinct("simhash")
        ).first()
        if n_docs < dup_ratio_gate * n_sigs:
            # low duplication: direct per-doc banding, no member machinery
            blk = sig.select(
                "id", "simhash", F.explode(band_cols).alias("b")
            ).select(
                "id", "simhash",
                F.col("b.band_idx").alias("bi"), F.col("b.band_val").alias("bv"),
            )
            l, r = blk.alias("l"), blk.alias("r")
            return (
                l.join(
                    r,
                    (F.col("l.bi") == F.col("r.bi"))
                    & (F.col("l.bv") == F.col("r.bv"))
                    & (F.col("l.id") < F.col("r.id")),
                )
                .select(
                    F.col("l.id").alias("id_a"),
                    F.col("r.id").alias("id_b"),
                    F.bit_count(
                        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
                    ).cast("int").alias("hamming"),
                )
                .where(F.col("hamming") <= max_hamming)
                .distinct()
            )
    # ONE shuffle builds everything the distinct-signature plan needs:
    # member lists (sorted, so in-class pairs come out ordered) and the
    # class size n (weights the block cap; sizes the same-sig output)
    members = _materialize(
        sig.groupBy("simhash").agg(
            F.sort_array(F.collect_list("id")).alias("ids"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    sigs = members.select("simhash", "n")
    blk = sigs.select("simhash", "n", F.explode(band_cols).alias("b")).select(
        "simhash", "n", F.col("b.band_idx").alias("bi"), F.col("b.band_val").alias("bv")
    )
    if max_block_size is not None:
        # weight by member count: the cap keeps its original meaning (a
        # block's DOC width), not a distinct-signature count
        ok = (
            blk.groupBy("bi", "bv")
            .agg(F.sum("n").alias("w"))
            .where(F.col("w") <= max_block_size)
            .select("bi", "bv")
        )
        blk = blk.join(ok, ["bi", "bv"], "left_semi")
    l, r = blk.alias("l"), blk.alias("r")
    sig_pairs = (
        l.join(
            r,
            (F.col("l.bi") == F.col("r.bi"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.simhash") < F.col("r.simhash")),
        )
        .select(
            F.col("l.simhash").alias("ha"),
            F.col("r.simhash").alias("hb"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # expand signature pairs to doc pairs: each doc has ONE signature,
    # so every unordered doc pair appears under exactly one (ha, hb) —
    # no distinct needed on the (quadratic) output. sig_pairs is the
    # small side by construction (distinct near-dup SIGNATURE pairs) —
    # broadcast it so the first expansion join costs no shuffle; the
    # double-explode generates member×member pairs JVM-side
    ma = members.select(F.col("simhash").alias("ha"), F.col("ids").alias("ids_a"))
    mb = members.select(F.col("simhash").alias("hb"), F.col("ids").alias("ids_b"))
    cross = (
        ma.join(F.broadcast(sig_pairs), "ha")
        .join(mb, "hb")
        .select(F.explode("ids_a").alias("id_x"), "ids_b", "hamming")
        .select("id_x", F.explode("ids_b").alias("id_y"), "hamming")
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            "hamming",
        )
    )
    # identical-signature pairs (hamming 0), generated in place from the
    # sorted member list — no self-join: ids[i] pairs with every later
    # ids[j], already ordered
    pair_structs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    same = (
        members.where(F.col("n") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.a").alias("id_a"),
            F.col("p.b").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(same)


# --------------------------------------------------------------------------
# Corpus materialization: exact + near-dup clustering → canonical keepers
# --------------------------------------------------------------------------

def cluster_pairs(pairs: DataFrame, max_iter: int = 15) -> DataFrame:
    """Connected components over near-dup pairs (id_a, id_b) by iterative
    min-label propagation: every node starts labeled with itself; each
    round, a node adopts the smallest label among itself and its neighbors;
    stop at fixpoint. Returns (id, cluster_id = smallest id in component).

    Scale shape: each round is one groupBy over the (undirected) edge list
    joined back to labels, PLUS a pointer-jumping shortcut (adopt your
    label's label) — the shortcut halves remaining path lengths every
    round, so convergence is O(log diameter), not O(diameter) (a chain of
    2^15 nodes closes inside the default iteration budget). Shuffles are
    edge-sized; the label table is node-sized. Each round is checkpointed
    so the plan doesn't grow with iterations (lineage reset, not
    recompute); the driver-side loop carries only a changed-count."""
    edges = _materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = _materialize(
        edges.select(F.col("src").alias("id")).distinct().select("id", F.col("id").alias("label"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(neighbor_min, labels.id == neighbor_min.src, "left").select(
            "id",
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
        )
        # pointer jumping: also adopt the label of your label — halves the
        # remaining distance to the component minimum every round
        lab2 = stepped.select(F.col("id").alias("lid"), F.col("label").alias("llabel"))
        updated = _materialize(
            stepped.join(lab2, stepped.label == lab2.lid, "left").select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("llabel"), F.col("label"))).alias("label"),
            )
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "id")
            .where(F.col("u.label") != F.col("l.label"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    else:
        # exhausted max_iter before the fixpoint: remaining components are
        # SPLIT, so keepers/audit mappings downstream would be silently
        # wrong. Pointer jumping makes this need diameter > ~2^max_iter,
        # but when it happens it must be observable, not silent.
        import warnings

        warnings.warn(
            f"cluster_pairs did not converge within max_iter={max_iter} "
            f"({changed} labels still changing); components may be split — "
            "raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.85,
    num_perm: int = 16,
    bands: int = 8,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The LLM-training-data job: materialize a deduplicated corpus.

    1. EXACT pass: md5(text) fingerprint groups → smallest id survives
       (one hash shuffle; at 100 TB this is the cheap pass that typically
       removes the bulk of crawl duplicates).
    2. NEAR pass on survivors: MinHash+LSH candidate pairs verified by
       exact shingle Jaccard ≥ threshold (bucket joins, never O(n²)).
    3. CLUSTER: connected components over the verified pairs; the smallest
       id in each component is its canonical keeper.

    Returns (kept_docs, mapping) where mapping is
    (doc_id, kept_doc_id, reason ∈ {'kept', 'exact_dup', 'near_dup'}) —
    the audit trail a removal pipeline must persist."""
    ids = F.col(id_col)
    fp = df.select(ids.alias("id"), F.md5(F.col(text_col)).alias("fp"))
    keeper_by_fp = fp.groupBy("fp").agg(F.min("id").alias("exact_keeper"))
    exact_map = _materialize(
        fp.join(keeper_by_fp, "fp").select("id", "exact_keeper")
    )
    survivors = df.join(
        exact_map.where(F.col("id") == F.col("exact_keeper")).select("id"),
        ids == F.col("id"),
        "left_semi",
    )

    near_pairs = minhash_near_dups(
        survivors, id_col=id_col, text_col=text_col, threshold=threshold,
        num_perm=num_perm, bands=bands, max_bucket_size=max_bucket_size,
    ).select("id_a", "id_b")
    clusters = cluster_pairs(near_pairs)

    near_map = clusters.select(
        F.col("id").alias("near_id"), F.col("cluster_id").alias("near_keeper")
    )
    mapping = (
        exact_map.join(near_map, exact_map.exact_keeper == near_map.near_id, "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("near_keeper", "exact_keeper").alias("kept_doc_id"),
            F.when(F.col("id") == F.coalesce("near_keeper", "exact_keeper"), "kept")
            .when(F.col("id") != F.col("exact_keeper"), "exact_dup")
            .otherwise("near_dup")
            .alias("reason"),
        )
    )
    kept = df.join(
        mapping.where(F.col("reason") == "kept").select(F.col("kept_doc_id").alias("__k")),
        ids == F.col("__k"),
        "left_semi",
    )
    return kept, mapping
