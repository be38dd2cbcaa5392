"""LSH band-bucket candidate generation with explicit hot-key skew handling.

Reference analog: the blocking join on (name, size) — "O(1) candidate lookup"
(src/cloud_duplicate_analyzer.py:196-200, :310-327; docs/how-it-works.md:22) —
generalized to MinHash band hashing (north_rule).  The reference caps
within-block work by taking only the first hit per key per service
(:323-325, SURVEY.md §4 X5); our analog is the per-bucket pair cap with
sorted-neighbour chaining.

Scale design (this is shuffle boundary #1, SURVEY.md §3):
  * Bands were precomputed in the signatures pass, so this stage is pure JVM:
    posexplode → groupBy → higher-order-function pair expansion.  No Python.
  * **Skew**: boilerplate-heavy corpora put a large fraction of files into a
    few band buckets.  AQE's skew-join splitting does not help a skewed
    groupBy key (SURVEY.md §4 X1), so we do it explicitly, two-pass:
      pass 1 — bucket sizes (cheap count per key);
      pass 2 — buckets ≤ cap take the all-pairs path; buckets > cap are
      **salted** into ⌈size/cap⌉ sub-groups; inside each salt group we emit a
      *star over the group leader plus a neighbour chain* (2(size−1)−1
      edges, linear not quadratic) and the per-salt leaders get the same
      star+chain across salts, preserving bucket-level connectivity for the
      clustering stage at O(size) total edges.  Salt assignment is keyed per
      (band, file) — each band partitions a hot bucket independently — and
      the WITHIN-GROUP order is the band-rotated SimHash, so content-similar
      members sort adjacent and a true pair in the same salt group gets a
      direct chain edge with high probability (see the in-function comment
      for the honest math; a random order gave such a pair only ~4/cap per
      band).  The incremental fold shares the sizing and the salt, and pairs
      a delta member within its own salt group only.
    Bucket-LEVEL connectivity always survives (star+chain); unrelated files
    sharing only boilerplate produce edges that verification rejects — which
    is exactly the desired outcome.  A small true family buried in a hot
    bucket is the hard case; SimHash-locality ordering is what recovers it.
  * Exact-duplicate pre-collapse (operators/exact.py) runs before this stage,
    so identical bodies enter LSH once — the main skew source is gone before
    salting even matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloud_dedup_spark.config import DedupConfig

# star over the first-in-order representative + consecutive chain:
# 2(size-1)-1 edges (the chain's first edge duplicates a star edge and is
# skipped — the count the linearity test pins).
# Either shape alone is order-brittle once verification rejects cross-family
# edges inside a hot bucket: a chain a1–x–a2 splits the {a1,a2} family when
# the interloper x sorts between them, and a star splits every family when x
# happens to be the min id.  The union survives both single-interloper
# adversarial orderings: the star bridges chain gaps (rep reaches past x) and
# the chain bridges a bad rep (members still link consecutively).  Still
# O(size) edges, every edge still exact-verified downstream.
# (slice() is 1-based, the [] subscript is 0-based; the chain part skips
# its first edge, which the star covers)
_STAR_AND_CHAIN = (
    "concat("
    "transform(slice(ids, 2, size(ids) - 1), y -> struct(ids[0] AS src, y AS dst)), "
    "transform(slice(ids, 2, size(ids) - 2), (x, i) -> "
    "struct(x AS src, ids[i + 2] AS dst)))"
)


def explode_bands(sigs: DataFrame) -> DataFrame:
    """(file_id, band_key) rows; one per (file, band). Empty-signature files
    (empty content — reference empty-file fast path :250-252) never reach LSH."""
    # band_key re-mixes the band index even though _band_hashes already did
    # (signatures.py) — deliberately retained belt-and-braces: this value is
    # the PERSISTED bands stage-table contract (incremental folds union
    # prior_bands with fresh deltas), so changing either mix silently
    # orphans every stored bucket key.  The cross-band-collision invariant's
    # owner is THIS xxhash64; the arange-mix upstream is frozen with it.
    return (
        sigs.filter(F.col("n_shingles") > 0)
        .select("file_id", F.posexplode("band_hashes").alias("band_idx", "band_hash"))
        .select("file_id", F.xxhash64("band_idx", "band_hash").alias("band_key"))
    )


def hot_bucket_sizes(bands: DataFrame, cap: int) -> DataFrame:
    """(band_key, bucket_n) of each band bucket above ``cap`` rows."""
    sizes = bands.groupBy("band_key").agg(F.count(F.lit(1)).alias("bucket_n"))
    return sizes.filter(F.col("bucket_n") > cap)


def hot_bucket_salt(cap: int) -> Column:
    """A hot-bucket row's salt group, of about ``cap`` rows; each band salts
    a bucket independently.  The fold salts with it too, so a delta file
    lands in the salt group a full recompute puts it in."""
    n_salts = F.ceil(F.col("bucket_n") / cap).cast("long")
    return F.pmod(F.xxhash64("band_key", "file_id"), n_salts)


def _pairs_from_buckets(buckets: DataFrame, expr: str) -> DataFrame:
    return (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode(F.expr(expr)).alias("e"))
        .select("e.src", "e.dst")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, cfg: DedupConfig, bands: DataFrame
) -> DataFrame:
    """Candidate edges (src < dst), deduplicated across bands.

    Output: ``src, dst`` (file_id pairs).  Downstream verification joins the
    signature table to score them (operators/verify.py).

    ``bands``: the ``explode_bands(sigs)`` (file_id, band_key) frame.  This
    stage reads the band list twice (bucket-size pass + bucket-build pass);
    when the caller checkpoints the narrow exploded frame (pipeline.py), both
    passes scan 16 B/row instead of re-deserializing the wide signature rows
    (shingle arrays dominate those) and re-running the explode.  ``sigs``
    supplies only the SimHash that orders hot buckets.
    """
    cap = cfg.band_bucket_cap

    # hot-key list is tiny (heavy-hitter distribution) → broadcast it
    hot = F.broadcast(hot_bucket_sizes(bands, cap))

    tagged = bands.join(hot, "band_key", "left")

    # --- normal buckets: all-pairs within bucket ---
    # Round-6: a band_key self-equi-join with file_id < other_id, NOT the
    # old collect_list → higher-order-function pair expansion.  The pair
    # SET is identical (all i<j pairs within each ≤cap bucket), but the
    # join stays entirely inside whole-stage codegen over narrow (16 B)
    # rows, where the old path paid an ObjectHashAggregate building
    # millions of tiny arrays (one per mostly-singleton bucket) plus
    # interpreted transform/slice/struct evaluation per bucket — measured
    # 15.5 s → ~3 s for the pair stage at 240k files / 7.3M band rows.
    # Quadratic blow-up is impossible by construction: every key here has
    # bucket_n ≤ cap, so per-key fan-out is ≤ cap².
    normal = tagged.filter(F.col("bucket_n").isNull()).select(
        "band_key", "file_id"
    )
    normal_pairs = (
        normal.join(
            normal.withColumnRenamed("file_id", "other_id"), "band_key"
        )
        .filter(F.col("file_id") < F.col("other_id"))
        .select(
            F.col("file_id").alias("src"), F.col("other_id").alias("dst")
        )
    )

    # --- hot buckets: salt → star+chain within salt → star+chain the reps ---
    # Salt assignment is keyed on xxhash64(band_key, file_id), so every one
    # of the ~32 bands PARTITIONS a hot bucket independently.  Within a salt
    # group the order is the band-ROTATED SimHash, not a random hash —
    # honest math (round-4 review): with random order, a true pair that
    # lands in the same cap-sized group gets a direct star/chain edge with
    # probability only ~4/cap (interloper edges are rejected by exact
    # verification, so transitive paths don't save it), ≈1% over 32 bands at
    # cap 64.  Near-dup docs have near-identical SimHashes (few differing
    # bits), so whenever the band's rotation leaves their differing bits in
    # the LOW positions (P ≈ 1 − n_diff_bits/64 per band, independent across
    # bands because each band rotates by a different amount), the pair sorts
    # ADJACENT in the group and gets the chain edge.  Rotation preserves
    # Hamming structure; hashing would destroy exactly the locality this
    # ordering exists to exploit.  Bucket connectivity never depends on it —
    # star+chain keeps every group connected regardless of order.
    # rotl(simhash, band_key mod 64); shift-by-64 wraps to 0 in the JVM so
    # the rot==0 case degenerates to simhash|simhash == simhash, still exact
    rotated_simhash = F.coalesce(
        F.expr(
            "shiftleft(simhash, cast(pmod(band_key, 64) as int)) | "
            "shiftrightunsigned(simhash, cast(64 - pmod(band_key, 64) as int))"
        ),
        F.col("h"),  # files without a simhash fall back to the random order
    )
    hot_bands = (
        tagged.filter(F.col("bucket_n").isNotNull())
        .join(sigs.select("file_id", "simhash"), "file_id", "left")
        .withColumn("h", F.xxhash64("band_key", "file_id"))
        .withColumn("salt", hot_bucket_salt(cap))
        .withColumn("ord", rotated_simhash)
    )
    # materialized once: this aggregation (shuffle + per-group sort of every
    # hot-bucket row) otherwise re-computes in both the salted-pairs and the
    # rep-buckets plan branches (round-4 review)
    salt_buckets = hot_bands.groupBy("band_key", "salt").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ord", "h", "file_id"))),
            lambda s: s["file_id"],
        ).alias("ids")
    ).localCheckpoint()
    salted_pairs = _pairs_from_buckets(salt_buckets, _STAR_AND_CHAIN)
    rep_buckets = (
        salt_buckets.select("band_key", F.element_at("ids", 1).alias("rep"))
        .groupBy("band_key")
        .agg(F.sort_array(F.collect_list("rep")).alias("ids"))
    )
    rep_pairs = _pairs_from_buckets(rep_buckets, _STAR_AND_CHAIN)

    return (
        normal_pairs.unionByName(salted_pairs)
        .unionByName(rep_pairs)
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )
