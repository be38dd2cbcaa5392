"""Pipeline configuration.

The reference (``/root/reference/src/cloud_duplicate_analyzer.py``) carries its
config as CLI flags: ``mtime_fuzz`` (default 5.0 s), ``use_checksum``
(default True), ``skip_hidden`` (default False) — see main() argparse at
src/cloud_duplicate_analyzer.py:1392-1414.  The scaled engine replaces the
metadata knobs with content-similarity knobs (shingle/MinHash/SimHash/LSH),
pinned here so every run — tests, bench, driver — uses one deterministic
config (SURVEY.md §7.4 item 3: recall parity requires pinned seeds).
"""

from __future__ import annotations

from dataclasses import dataclass

MAX_U64 = (1 << 64) - 1


@dataclass(frozen=True)
class DedupConfig:
    """Knobs for the near-duplicate pipeline.

    Defaults give candidate probability ≥ 0.999999 at Jaccard 0.8
    (1 - (1 - 0.8**rows_per_band) ** num_bands with 32 bands × 4 rows),
    which is what the ≥0.99 dup-pair recall target needs (BASELINE.json:2).
    """

    # --- normalization / shingling ---
    shingle_size: int = 5           # tokens per shingle (w-shingling over code tokens)
    # --- MinHash (one-permutation hashing: bins are the hash's low bits) ---
    num_hashes: int = 128           # a power of two
    num_bands: int = 32             # num_bands * rows_per_band == num_hashes
    rows_per_band: int = 4
    minhash_seed: int = 42
    # --- SimHash (64-bit) ---
    hamming_threshold: int = 3      # near-dup if popcount(xor) <= this
    # --- verification ---
    jaccard_threshold: float = 0.8  # exact-Jaccard acceptance for near-dups
    # --- LSH skew handling (SURVEY.md §7.4 item 1) ---
    band_bucket_cap: int = 64       # buckets larger than this switch to sorted
                                    # neighbour chaining instead of all-pairs
    # --- substring pass ---
    substring_min_len: int = 64     # ignore containments shorter than this many
                                    # normalized chars (noise floor)
    substring_min_tokens: int = 12  # needles must have at least this many tokens
    substring_max_anchor_df: int = 1000  # needles whose RAREST shingle still
                                    # appears in more docs than this are
                                    # template-dominated; skip them here (the
                                    # LSH channel owns their duplicates) to
                                    # bound anchor-join fan-out

    def __post_init__(self) -> None:
        if self.num_hashes < 1 or self.num_hashes & (self.num_hashes - 1):
            raise ValueError(f"num_hashes({self.num_hashes}) must be a power of two")
        if self.num_bands * self.rows_per_band != self.num_hashes:
            raise ValueError(
                f"num_bands({self.num_bands}) * rows_per_band({self.rows_per_band})"
                f" != num_hashes({self.num_hashes})"
            )


@dataclass(frozen=True)
class MetaConfig:
    """Reference-parity knobs for the metadata classifier.

    Mirrors the reference CLI defaults: ``--mtime-fuzz 5.0``
    (src/cloud_duplicate_analyzer.py:1397-1399), ``--no-checksum`` off
    (:1400-1402), ``--include-hidden`` off (:1403-1405).
    """

    mtime_fuzz: float = 5.0
    use_checksum: bool = True
    skip_hidden: bool = True


DEFAULT_CONFIG = DedupConfig()
DEFAULT_META = MetaConfig()
