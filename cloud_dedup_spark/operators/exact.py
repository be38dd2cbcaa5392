"""Exact-duplicate channel: byte-identical content across files.

Reference analog: the MD5-equality confirm path of ``classify_pair``
(src/cloud_duplicate_analyzer.py:257-265 — "MD5 equal → identical") plus the
empty-file fast path (:250-252, empty files are identical without hashing).
In the scaled engine this runs FIRST, before any shingling, for two reasons:

 1. It is the cheap-before-expensive staging the reference uses
    (name+size before MD5, SURVEY.md §4 X3): ``sha2(content, 256)`` is one
    JVM-side pass, no Python.
 2. It collapses every byte-identical family to ONE representative before
    MinHash/LSH, which is the single biggest skew reducer: the hot-band
    problem (thousands of identical license/boilerplate files landing in one
    LSH bucket) mostly disappears when identical bodies enter LSH once
    (SURVEY.md §7.4 item 1).

Scale notes: group stats come from a ``groupBy`` (map-side partial
aggregation — one combined row per distinct sha leaves each mapper) joined
back to the pruned (hash, id, repo, path) rows; a window over the sha
partition was rejected because it cannot partially aggregate and funnels
every row of the hottest sha through a single task's sort — the exact skew
this module exists to defuse (round-4 review).  AQE's skew-join splitting
(enabled in session.py) can split the join's hot partitions; it cannot
split a window partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# cap of every per-group member array: exact groups, clusters and the
# report's group details
MAX_MEMBERS_PER_GROUP = 1000


def group_key() -> F.Column:
    """Grouping key: the sha, or a per-row surrogate when it is NULL.

    sha2(NULL content) is NULL, and both window partitions and groupBy treat
    NULLs as equal — unguarded, every unreadable/NULL-content row welded
    into ONE bogus 'byte-identical' family (round-4 review).  The surrogate
    makes each such row its own singleton group (it proceeds to nothing:
    singletons emit no edges).  A hex sha can never collide with the
    NUL-prefixed surrogate.  The incremental fold keys its delta reps on it."""
    return F.coalesce(
        F.col("content_sha256"),
        F.concat(F.lit("\x00null:"), F.col("file_id").cast("string")),
    )


def exact_duplicate_clusters(files: DataFrame) -> DataFrame:
    """Group byte-identical files; one row per file with its exact-group id.

    Input: identity frame from ``with_identity`` (needs file_id,
    content_sha256, repo, path).
    Output columns: ``content_sha256, file_id, repo, path, exact_group_id,
    exact_group_size, is_exact_rep`` where ``exact_group_id`` is the min
    file_id of the group (deterministic representative — reference analog of
    first-hit-per-key selection, src/cloud_duplicate_analyzer.py:323-325) and
    ``is_exact_rep`` marks the representative row that proceeds to the
    near-dup stages.
    """
    pruned = files.select("content_sha256", "file_id", "repo", "path").withColumn(
        "_k", group_key()
    )
    stats = pruned.groupBy("_k").agg(
        F.min("file_id").alias("exact_group_id"),
        F.count(F.lit(1)).alias("exact_group_size"),
    )
    return (
        pruned.join(stats, "_k")
        .withColumn("is_exact_rep", F.col("file_id") == F.col("exact_group_id"))
        .select(
            "content_sha256", "file_id", "repo", "path",
            "exact_group_id", "exact_group_size", "is_exact_rep",
        )
    )


def exact_duplicate_groups(files: DataFrame) -> DataFrame:
    """Cluster-level view: one row per byte-identical group with ≥ 2 members.

    Reference analog: duplicate groups with ``content_match='identical'``
    (built at src/cloud_duplicate_analyzer.py:412-428) and the ≥2-services
    presence predicate (:326-327) — here ≥2 *files*, with the cross-repo span
    as a column (`n_repos`) instead of a filter, so single-repo exact dups
    remain visible to the rollups.

    ``members`` holds at most ``MAX_MEMBERS_PER_GROUP`` members (the first by
    (repo, path) order); counts always cover the full group.  Uncapped,
    collect_list over a mega-group (millions of identical lockfiles) builds
    an unbounded single-buffer array — the same fan-in shape every other
    rollup here caps (round-4 review).
    """
    key = group_key()
    stats = files.withColumn("_k", key).groupBy("_k").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.countDistinct("repo").alias("n_repos"),
        F.min("file_id").alias("exact_group_id"),
        F.min("n_bytes").alias("n_bytes"),
    )
    w = Window.partitionBy("_k").orderBy("repo", "path")
    members = (
        files.withColumn("_k", key)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= MAX_MEMBERS_PER_GROUP)
        .groupBy("_k")
        .agg(
            F.sort_array(F.collect_list(F.struct("repo", "path"))).alias("members")
        )
    )
    return (
        stats.join(members, "_k")
        .filter(F.col("n_files") >= 2)
        .withColumn(
            "content_sha256",
            F.when(~F.col("_k").startswith("\x00"), F.col("_k")),
        )
        .select(
            "content_sha256", "n_files", "n_repos",
            "exact_group_id", "members", "n_bytes",
        )
    )


def exact_pair_edges(clusters: DataFrame) -> DataFrame:
    """Edges (id_a < id_b) linking each member to its group representative.

    A star over the representative — not all-pairs — is enough for connected
    components and keeps edge count linear in group size (an n-member
    identical family yields n-1 edges, not n*(n-1)/2).
    """
    return (
        clusters.filter(~F.col("is_exact_rep"))
        .select(
            F.least("exact_group_id", "file_id").alias("src"),
            F.greatest("exact_group_id", "file_id").alias("dst"),
            F.lit("exact").alias("edge_kind"),
            F.lit(1.0).alias("score"),
        )
    )
