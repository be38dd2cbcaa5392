"""Signature stage: determinism, identity, similarity monotonicity.

Analog of the reference's scalar-helper tests (tests/test_coverage_gaps.py:41-82
tests md5/human_size/fmt_ts directly) — we drive the UDF internals as plain
functions plus the Spark stage end-to-end.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from cloud_dedup_spark.config import DedupConfig
from cloud_dedup_spark.functions.normalize import with_identity
from cloud_dedup_spark.operators.signatures import (
    _oph_minhash,
    _shingle_hashes,
    _simhash,
    _TOKEN_RE,
    SIG_TABLE_COLUMNS,
    compute_signatures,
)

CFG = DedupConfig()

# Reference estimator: classic MinHash over a universal hash family,
# h_i(x) = ((a_i·x + b_i) wrap 2^64) mod p with p = 2^61 − 1.  The products
# deliberately wrap mod 2^64 before the mod-p reduction: the wraparound is a
# mixing step, and the family is empirically min-wise unbiased (a 'small-a
# no-wrap' variant measurably over-estimated Jaccard).  The library uses
# one-permutation hashing; these tests check it against this family.
MERSENNE_P = (1 << 61) - 1


def _hash_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """Universal-family params a, b uniform in [1, p) / [0, p)."""
    rng = np.random.RandomState(cfg.minhash_seed)
    a = rng.randint(1, MERSENNE_P, size=cfg.num_hashes, dtype=np.uint64)
    b = rng.randint(0, MERSENNE_P, size=cfg.num_hashes, dtype=np.uint64)
    return a, b


def _minhash(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """sig[i] = min over x of ((a_i·x + b_i) mod 2^64) mod p — (n_hashes,) int64."""
    vals = (a[:, None] * shingles[None, :] + b[:, None]) % np.uint64(MERSENNE_P)
    return vals.min(axis=1).astype(np.int64)


def _sig_of(text: str, mode: str = "universal") -> np.ndarray:
    tokens = _TOKEN_RE.findall(text.lower())
    sh = _shingle_hashes(tokens, CFG.shingle_size, {})
    if mode == "oph":
        return _oph_minhash(sh, CFG.num_hashes, CFG.minhash_seed)
    a, b = _hash_params(CFG)
    return _minhash(sh, a, b)


def test_config_rejects_non_power_of_two_num_hashes():
    """OPH bins by the hash's low bits, so num_hashes must be a power of
    two; a bad value fails when the config is built, not inside the UDF."""
    with pytest.raises(ValueError, match="power of two"):
        DedupConfig(num_hashes=96, num_bands=24, rows_per_band=4)


def test_minhash_deterministic():
    t = "def load_parse(a, b): return a + b"
    assert np.array_equal(_sig_of(t), _sig_of(t))


def test_minhash_identical_vs_disjoint():
    base = " ".join(f"tok{i} alpha beta gamma delta" for i in range(40))
    other = " ".join(f"zzz{i} omega psi chi phi" for i in range(40))
    sim_frac = (_sig_of(base) == _sig_of(base)).mean()
    dis_frac = (_sig_of(base) == _sig_of(other)).mean()
    assert sim_frac == 1.0
    assert dis_frac < 0.1


@pytest.mark.parametrize("mode", ["universal", "oph"])
def test_minhash_estimates_jaccard(mode):
    """MinHash agreement fraction ≈ true Jaccard — the library's OPH and the
    universal reference family."""
    words = [f"w{i}" for i in range(300)]
    a_txt = " ".join(words)
    b_txt = " ".join(words[:240] + [f"x{i}" for i in range(60)])
    tokens_a = _TOKEN_RE.findall(a_txt)
    tokens_b = _TOKEN_RE.findall(b_txt)
    sh_a = set(_shingle_hashes(tokens_a, CFG.shingle_size, {}).tolist())
    sh_b = set(_shingle_hashes(tokens_b, CFG.shingle_size, {}).tolist())
    true_j = len(sh_a & sh_b) / len(sh_a | sh_b)
    est_j = (_sig_of(a_txt, mode) == _sig_of(b_txt, mode)).mean()
    assert abs(est_j - true_j) < 0.15  # 128 hashes → σ ≈ 0.044


def test_oph_deterministic_and_distinct():
    t = "def load_parse(a, b): return a + b"
    assert np.array_equal(_sig_of(t, "oph"), _sig_of(t, "oph"))
    other = "completely unrelated words forming different shingles entirely here"
    assert not np.array_equal(_sig_of(t, "oph"), _sig_of(other, "oph"))


def test_oph_densification_fills_all_bins():
    """Short docs leave most of the 128 bins empty; densification must fill
    every bin deterministically (identical short docs → identical sigs).
    An empty bin holds the uint64 max sentinel, which reads -1 as int64."""
    sh = _shingle_hashes(["a", "b", "c", "d", "e", "f"], CFG.shingle_size, {})
    sig = _oph_minhash(sh, CFG.num_hashes, CFG.minhash_seed)
    assert len(sig) == CFG.num_hashes
    assert (sig.view(np.uint64) != np.iinfo(np.uint64).max).all()
    sig2 = _oph_minhash(sh.copy(), CFG.num_hashes, CFG.minhash_seed)
    assert np.array_equal(sig, sig2)


def test_simhash_hamming_small_for_near_edit():
    base = " ".join(f"ident_{i} value_{i}" for i in range(100))
    near = base.replace("ident_5", "renamed_5", 1)
    far = " ".join(f"other_{i} thing_{i}" for i in range(100))
    fp = _simhash(_TOKEN_RE.findall(base), {})
    fp_near = _simhash(_TOKEN_RE.findall(near), {})
    fp_far = _simhash(_TOKEN_RE.findall(far), {})
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")
    assert ham(fp, fp_near) <= 3
    assert ham(fp, fp_far) > 10


def test_empty_and_short_content():
    assert _shingle_hashes([], CFG.shingle_size, {}).size == 0
    # shorter than one shingle: ONE rolling hash, emitted as its two 32-bit
    # halves so short docs keep full 64-bit discrimination (a single folded
    # value collides two unrelated short docs at 2^-32 with an unrejectable
    # hashed-Jaccard of 1.0 — round-4 review)
    short = _shingle_hashes(["a", "b"], CFG.shingle_size, {})
    assert short.size == 2
    # identical short docs share both halves (J=1); different short docs
    # share neither
    short2 = _shingle_hashes(["a", "b"], CFG.shingle_size, {})
    other = _shingle_hashes(["a", "c"], CFG.shingle_size, {})
    assert (short == short2).all()
    assert len(np.intersect1d(short, other)) == 0
    assert _simhash([], {}) == 0


@pytest.fixture(scope="module")
def sigs(spark, corpus):
    files, _ = corpus
    out = compute_signatures(with_identity(files), CFG).cache()
    out.count()
    return out


SIG_FIELDS = ["n_tokens", "n_shingles", "shingles", "band_hashes", "simhash"]


def test_signature_output_contract(spark, sigs, corpus):
    """Passthrough columns, then the kernel's fields — no MinHash vector;
    the shingle-only mode stops after the first three fields."""
    files, _ = corpus
    ident = with_identity(files)
    passthrough = [c for c in ident.columns if c not in ("content", "content_norm")]
    assert sigs.columns == passthrough + SIG_FIELDS
    assert list(SIG_TABLE_COLUMNS) == ["file_id"] + SIG_FIELDS
    lean = compute_signatures(ident, CFG, shingles_only=True)
    assert lean.columns == passthrough + SIG_FIELDS[:3]


def test_signature_stage_schema_and_counts(sigs, corpus):
    files, truth = corpus
    assert sigs.count() == files.count()
    row = sigs.filter(F.col("n_shingles") > 0).first()
    assert len(row["band_hashes"]) == CFG.num_bands
    assert len(set(row["band_hashes"])) > 1
    assert row["simhash"] != 0
    # empty files: no shingles, no bands
    empty = sigs.filter(F.col("n_tokens") == 0)
    assert empty.count() == len(truth.empty_group)
    assert all(len(r["band_hashes"]) == 0 for r in empty.collect())


def test_exact_dup_files_get_identical_signatures(sigs, corpus):
    _, truth = corpus
    repo, path = truth.exact_groups[0][0]
    other_repo, other_path = truth.exact_groups[0][1]
    a = sigs.filter((F.col("repo") == repo) & (F.col("path") == path)).first()
    b = sigs.filter(
        (F.col("repo") == other_repo) & (F.col("path") == other_path)
    ).first()
    assert a["n_shingles"] > 0
    assert a["simhash"] == b["simhash"]
    assert a["band_hashes"] == b["band_hashes"]


def test_shingle_only_signatures_match_full(spark, sigs, corpus):
    """The shingle-only mode (the substring channel's lean input — skips
    MinHash/band/SimHash work an opaque UDF would otherwise always pay)
    must emit exactly the full mode's n_tokens/n_shingles/shingles for
    every file."""
    files, _ = corpus
    lean = compute_signatures(with_identity(files), CFG, shingles_only=True)
    cols = ["repo", "path", "n_tokens", "n_shingles", "shingles"]
    full_rows = {
        (r["repo"], r["path"]): (r["n_tokens"], r["n_shingles"], r["shingles"])
        for r in sigs.select(*cols).collect()
    }
    lean_rows = {
        (r["repo"], r["path"]): (r["n_tokens"], r["n_shingles"], r["shingles"])
        for r in lean.select(*cols).collect()
    }
    assert lean_rows == full_rows

