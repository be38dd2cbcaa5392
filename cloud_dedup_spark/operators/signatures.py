"""Shingling + MinHash + SimHash signatures as one vectorized Arrow pass.

Reference analog: the per-file MD5 fingerprint (src/cloud_duplicate_analyzer.py:100-111)
is the reference's only content signature; the graft generalizes it to
similarity-preserving signatures (north_rule).  Per BASELINE.json
``input_hint`` the UDF surface is **vectorized pandas/Arrow only — no per-row
Python UDFs**: this module is the pipeline's single Python stage, ONE
scalar-iterator pandas UDF kernel over Arrow batches of normalized content,
with all inner math in numpy.

Design for scale:
  * ONE pass computes tokens → shingles → MinHash → band hashes → SimHash;
    content crosses the JVM↔Arrow boundary exactly once.  The same kernel
    has a shingle-only mode (``compute_signatures(..., shingles_only=True)``)
    for callers that read only the shingle columns: an opaque UDF defeats
    column pruning, so without it they would pay the MinHash/band/SimHash
    work anyway.  Both modes share the token/shingle arithmetic, so the
    shingle values are bit-identical.
  * Arrow batch size is capped session-wide (2048 rows) so the per-batch
    signature matrices stay bounded (SURVEY.md §7.4 item 4).
  * Shingle sets are stored folded to 32 bits (array<int>) — halves the
    checkpoint footprint; exact-Jaccard verification on hashed shingles is
    exact w.r.t. the hashed sets and within ~1e-7 of token-true Jaccard for
    realistic set sizes.
  * MinHash is one-permutation hashing with rotation densification
    (``_oph_minhash``), O(m) per doc.  The MinHash vector itself never
    leaves the UDF: only its band hashes do.  The universal (a·x + b) mod p
    family survives in tests/test_signatures.py as the reference estimator
    that OPH's Jaccard estimates are checked against.
  * Band hashes are emitted here (not at candidate time) so the LSH stage is
    a pure JVM explode+groupBy with zero additional Python.

Determinism: token hashes are blake2b (content-derived, process-independent);
the OPH seed is ``cfg.minhash_seed`` — pinned so recall comparisons are
reproducible across runs and cluster sizes (SURVEY.md §7.4 item 3).

Rejected experiment (round 3, measured): moving the tokenizer + token hash
JVM-side (regexp_extract_all + transform/xxhash64, UDF consuming the int64
array) REGRESSED the stage 25.8 → 84.6 s at 500k files / local[16] — Java's
regex engine plus per-element Catalyst lambda evaluation is ~3× slower here
than Python sre + the batch-lifetime blake2b cache, and it moved the cost
into the same stage's JVM threads so nothing else absorbed it.  Details in
BENCH/ANALYSIS.md.
"""

from __future__ import annotations

import hashlib
import re
import sys
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cloud_dedup_spark.config import MAX_U64, DedupConfig

_TOKEN_RE = re.compile(r"[a-z_][a-z0-9_]*|[0-9]+|[^\sa-z0-9_]")

# Odd multiplier for the rolling shingle combine (64-bit wraparound is fine —
# we only need a well-mixed deterministic value, not a modular inverse).
_SHINGLE_MULT = np.uint64(0x9E3779B97F4A7C15)

_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def _token_hash64(token: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest(), "big"
    )


def _token_hash_array(tokens: list[str], cache: dict[str, int]) -> np.ndarray:
    """Per-token 64-bit hashes as a uint64 array (cached across the batch).

    Computed ONCE per doc and shared by the shingle and SimHash passes — the
    per-token Python loop is the single biggest constant in the signature
    UDF, so it must not run twice (measured ~180 µs/doc of the ~700 µs
    total at ~850 tokens/doc).
    """
    n = len(tokens)
    th = np.empty(n, dtype=np.uint64)
    for i, tok in enumerate(tokens):
        h = cache.get(tok)
        if h is None:
            h = _token_hash64(tok)
            cache[tok] = h
        th[i] = h
    return th


def _shingle_hashes_from(th: np.ndarray, k: int) -> np.ndarray:
    """Distinct k-token rolling shingle hashes, folded to uint32, as uint64 array."""
    n = len(th)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n < k:
        # short doc: ONE rolling hash over all tokens — but emitted as BOTH
        # 32-bit halves (a 2-element set), keeping full 64-bit
        # discrimination.  A single folded value gave two unrelated short
        # docs hashed-Jaccard 1.0 with probability 2^-32 — at 10^6
        # short files that is ~hundreds of expected false 'duplicate' pairs
        # that verification cannot reject, because it scores the same
        # folded sets (round-4 review).  Identical docs still share both
        # halves (J = 1.0); a half-collision yields J ≤ 1/3, far below any
        # accept threshold.
        acc = np.zeros(1, dtype=np.uint64)
        for j in range(n):
            acc = acc * _SHINGLE_MULT + th[j : j + 1]
        return np.unique(
            np.concatenate([acc >> np.uint64(32), acc & np.uint64(0xFFFFFFFF)])
        )
    else:
        m = n - k + 1
        acc = np.zeros(m, dtype=np.uint64)
        for j in range(k):
            acc = acc * _SHINGLE_MULT + th[j : j + m]
        sh = acc
    # fold 64→32 bits, dedupe
    return np.unique((sh >> np.uint64(32)) ^ (sh & np.uint64(0xFFFFFFFF)))


def _shingle_hashes(tokens: list[str], k: int, cache: dict[str, int]) -> np.ndarray:
    """Token-list convenience wrapper (tests use this form directly)."""
    return _shingle_hashes_from(_token_hash_array(tokens, cache), k)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Stateless 64-bit mixer (SplitMix64 finalizer) — uint64 in/out."""
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _oph_minhash(shingles: np.ndarray, k: int, seed: int) -> np.ndarray:
    """One-permutation MinHash with rotation densification — O(m), not O(k·m).

    One hash pass assigns each shingle to one of k bins (its low bits); each
    bin keeps the minimum hash value landing in it; empty bins borrow the
    next non-empty bin's value cyclically (densified MinHash, Shrivastava &
    Li 2014 — both sides densify identically, so collision probability stays
    ≈ Jaccard; unbiasedness is pinned empirically in
    tests/test_signatures.py).  k must be a power of two.
    """
    h = _splitmix64(shingles ^ np.uint64(seed * 0x9E3779B97F4A7C15 & MAX_U64))
    bins = (h & np.uint64(k - 1)).astype(np.int64)
    sig = np.full(k, _U64_MAX, dtype=np.uint64)
    # group-min via sort + reduceat (np.minimum.at is an order of magnitude
    # slower for this shape)
    order = np.argsort(bins, kind="stable")
    hv = h[order]
    uniq_bins, first_idx = np.unique(bins[order], return_index=True)
    sig[uniq_bins] = np.minimum.reduceat(hv, first_idx)
    if len(uniq_bins) < k:
        if len(uniq_bins) == 0:  # degenerate: no shingles reached any bin
            return np.zeros(k, dtype=np.int64)
        # rotation densification, vectorized: each bin borrows from the next
        # non-empty bin to its right (cyclic)
        pos = np.searchsorted(uniq_bins, np.arange(k))
        sig = sig[uniq_bins[pos % len(uniq_bins)]]
    return sig.astype(np.int64)


def _band_hashes(sig: np.ndarray, num_bands: int, rows: int) -> np.ndarray:
    """Hash each (band of r signature values) to one int64 key."""
    mat = sig.astype(np.uint64).reshape(num_bands, rows)
    acc = np.zeros(num_bands, dtype=np.uint64)
    for j in range(rows):
        acc = (acc * _SHINGLE_MULT) ^ (mat[:, j] + np.uint64(0x51ED270B))
        acc *= _SHINGLE_MULT
    # mix in the band index so identical row-slices in different bands differ
    acc ^= np.arange(num_bands, dtype=np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)
    return acc.astype(np.int64)


_SHIFTS64 = np.arange(64, dtype=np.uint64)
_LITTLE_ENDIAN = sys.byteorder == "little"


def _simhash_from_hashes(th: np.ndarray) -> int:
    """64-bit SimHash over token-hash frequencies (charikar fingerprint).

    Bit-for-bit identical to the dict-of-counts formulation it replaces: the
    frequency-weighted sum over unique hashes equals the plain ±bit sum over
    ALL token occurrences, so no unique/count pass is needed at all, and
    ``np.unpackbits`` over the raw hash bytes replaces the 64-column
    shift-and-mask matrix (measured 273 → 67 µs/doc at ~850 tokens).
    """
    n = len(th)
    if n == 0:
        return 0
    if _LITTLE_ENDIAN:
        bits = np.unpackbits(
            th.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        acc = 2 * bits.sum(axis=0, dtype=np.int64) - n
    else:  # byte-view bit order is host-endian; keep the portable path
        bits = ((th[:, None] >> _SHIFTS64[None, :]) & np.uint64(1)).astype(np.int64)
        acc = 2 * bits.sum(axis=0) - n
    fp = ((acc >= 0).astype(np.uint64) << _SHIFTS64).sum(dtype=np.uint64)
    return int(fp.astype(np.int64))  # reinterpret as signed for LongType


def _simhash(tokens: list[str], cache: dict[str, int]) -> int:
    """Token-list convenience wrapper (tests use this form directly)."""
    return _simhash_from_hashes(_token_hash_array(tokens, cache))


# Output fields of the signature kernel, in order.  The shingle-only mode
# emits the first three.
_SIG_FIELDS = (
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("n_shingles", T.IntegerType()),
    T.StructField("shingles", T.ArrayType(T.IntegerType())),
    T.StructField("band_hashes", T.ArrayType(T.LongType())),
    T.StructField("simhash", T.LongType()),
)


def _signature_udf(cfg: DedupConfig, shingles_only: bool):
    """Scalar-iterator pandas UDF: content_norm → signature struct."""
    k = cfg.shingle_size
    nb, r = cfg.num_bands, cfg.rows_per_band
    n_hashes, seed = cfg.num_hashes, cfg.minhash_seed
    fields = _SIG_FIELDS[:3] if shingles_only else _SIG_FIELDS
    no_bands = np.empty(0, dtype=np.int64)

    @F.pandas_udf(T.StructType(list(fields)))
    def signature_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        token_cache: dict[str, int] = {}
        for series in batches:
            out = {f.name: [] for f in fields}
            for text in series:
                tokens = _TOKEN_RE.findall(text) if text else []
                th = _token_hash_array(tokens, token_cache)
                sh = _shingle_hashes_from(th, k)
                out["n_tokens"].append(len(th))
                out["n_shingles"].append(len(sh))
                # int32 reinterpretation for compact ArrayType(IntegerType)
                out["shingles"].append(sh.astype(np.uint32).astype(np.int32))
                if shingles_only:
                    continue
                out["band_hashes"].append(
                    _band_hashes(_oph_minhash(sh, n_hashes, seed), nb, r)
                    if len(sh) else no_bands
                )
                out["simhash"].append(_simhash_from_hashes(th))
            if len(token_cache) > 1_000_000:  # bound executor-side cache
                token_cache.clear()
            yield pd.DataFrame(out)

    return signature_udf


# Checkpoint schema of the pipeline's signatures stage table (pipeline.py and
# streaming/incremental.py must agree — incremental appends delta rows to the
# batch table).  It is ``file_id`` plus the kernel's full output.
SIG_TABLE_COLUMNS = ("file_id",) + tuple(f.name for f in _SIG_FIELDS)


def compute_signatures(
    files: DataFrame, cfg: DedupConfig, shingles_only: bool = False
) -> DataFrame:
    """Signatures table: one row per input file (SURVEY.md §3 checkpoint #1).

    Input: any frame with ``content_norm`` (plus ``file_id``).  All input
    columns except the content ones pass through, so the pipeline can feed a
    lean (file_id, content_norm) projection while tests can feed the full
    identity frame and keep repo/path for assertions.
    Output: passthrough columns + n_tokens, n_shingles, shingles,
    band_hashes, simhash.  ``shingles_only=True`` stops after shingles —
    the subset the substring channel reads — and skips the MinHash, band
    and SimHash work.
    """
    udf = _signature_udf(cfg, shingles_only)
    sig = files.withColumn("sig", udf(F.col("content_norm")))
    passthrough = [c for c in files.columns if c not in ("content", "content_norm")]
    return sig.select(*passthrough, "sig.*")
