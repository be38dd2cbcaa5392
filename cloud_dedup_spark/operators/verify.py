"""Exact verification of LSH candidate pairs — Jaccard + Hamming, JVM-side.

Reference analog: ``classify_pair`` (src/cloud_duplicate_analyzer.py:203-268),
the operator that CONFIRMS a blocked candidate with an exact content check
(MD5 equality, :257-265).  The graft's verification confirms near-dup
candidates with **exact Jaccard on the hashed shingle sets** and **Hamming
distance on SimHash fingerprints** (north_rule: "confirm pairs with exact
Jaccard/Hamming verification").  Both are native Column expressions
(array_intersect / bit_count) — no Python, stays in whole-stage codegen.

The two-dimensional verdict mirrors the reference's
(content_match × version_status) classification (SURVEY.md §7.1):
``match_kind`` ∈ {near, none} here (exact/substring edges come from their own
channels) and the raw scores (``jaccard``, ``hamming``) are kept as columns so
downstream rollups can re-threshold without recomputing.

Scale notes: the join back to signatures is two hash joins on file_id (sorted
64-bit keys, AQE-coalesced).  Shingle arrays are int32 and only the two
columns needed are selected — column pruning keeps the shuffle narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_dedup_spark.config import DedupConfig


def verify_pairs(
    pairs: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig,
    small_pairs: bool = False,
) -> DataFrame:
    """Score candidate pairs; keep all with scores, flag accepted ones.

    Output: src, dst, jaccard, hamming, match_kind ('near' | 'none'),
    accepted (bool).  Accepted = exact Jaccard ≥ τ, OR SimHash Hamming ≤ k
    with Jaccard ≥ τ/2 (the SimHash channel catches token-frequency-preserving
    edits that shingle Jaccard underrates; the Jaccard floor stops
    boilerplate-only pairs from sneaking through on fingerprint luck).

    ``small_pairs``: the caller asserts the pair set is bounded and small
    (the incremental fold: pairs are delta-anchored).  The semi-filter and
    both equi-joins are then broadcast-hinted at PLAN time, so the wide
    signature table is never exchanged — AQE would pick broadcast joins
    anyway, but only after materializing the corpus-sized sigs exchange to
    measure it, an O(corpus) shuffle write per call (measured: 3.4 MB/fold
    at a 1.2k-file corpus, the fold's largest shuffle; pinned by
    tests/test_incremental.py::test_fold_shuffle_stays_flat_as_corpus_grows).
    """
    # candidate pairs touch a small fraction of files — semi-filter the wide
    # signature table (shingle arrays dominate its bytes) down to paired ids
    # BEFORE the equi-joins, so only the filtered slice shuffles (measured:
    # shuffling the full array column twice was the stage's main cost)
    # No explicit broadcast hint by default: paired_ids scales with the
    # corpus (every file in any LSH bucket of size >= 2), so forcing a
    # broadcast OOMs the driver at 10^9 files.  AQE picks a broadcast
    # semi-join when the id set is below autoBroadcastJoinThreshold and
    # falls back to a shuffled semi-join when it isn't — both plans keep
    # the wide shingle column on the streamed side only.
    paired_ids = (
        pairs.select(F.col("src").alias("file_id"))
        .unionByName(pairs.select(F.col("dst").alias("file_id")))
        .distinct()
    )
    if small_pairs:
        paired_ids = F.broadcast(paired_ids)
        # the caller's pair COUNT bounds broadcast ROWS, not bytes: the
        # payload is the semi-filtered signature slice INCLUDING shingle
        # arrays, so 400k pairs over big files can still be a multi-GB
        # broadcast (Spark hard-fails at 8 GB; the driver collects it
        # first).  Measure the true weight cheaply — sum(n_shingles) over
        # the paired ids, narrow columns only — and demote to the AQE
        # shuffled plan when the slice is heavy (round-4 review).
        weight = (
            sigs.select("file_id", "n_shingles")
            .join(paired_ids, "file_id", "left_semi")
            .agg(F.sum("n_shingles"))
            .first()[0]
            or 0
        )
        # int32 shingles: 64M ≈ 256 MB serialized — comfortably inside
        # the driver and executor copies at default headroom
        small_pairs = weight <= 64_000_000
    side = sigs.select("file_id", "shingles", "simhash").join(
        paired_ids, "file_id", "left_semi"
    )
    if small_pairs:
        side = F.broadcast(side)
    a = side.select(
        F.col("file_id").alias("src"),
        F.col("shingles").alias("sh_a"),
        F.col("simhash").alias("fp_a"),
    )
    b = side.select(
        F.col("file_id").alias("dst"),
        F.col("shingles").alias("sh_b"),
        F.col("simhash").alias("fp_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jaccard = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))

    scored = (
        pairs.join(a, "src")
        .join(b, "dst")
        .withColumn("jaccard", jaccard)
        .withColumn("hamming", hamming)
        .drop("sh_a", "sh_b", "fp_a", "fp_b")
    )
    accepted = (F.col("jaccard") >= cfg.jaccard_threshold) | (
        (F.col("hamming") <= cfg.hamming_threshold)
        & (F.col("jaccard") >= cfg.jaccard_threshold / 2)
    )
    return scored.withColumn("accepted", accepted).withColumn(
        "match_kind", F.when(accepted, F.lit("near")).otherwise(F.lit("none"))
    )


def accepted_edges(verified: DataFrame) -> DataFrame:
    """Edges for the clustering stage: (src, dst, edge_kind, score)."""
    return verified.filter("accepted").select(
        "src", "dst", F.lit("near").alias("edge_kind"),
        F.col("jaccard").alias("score"),
    )
