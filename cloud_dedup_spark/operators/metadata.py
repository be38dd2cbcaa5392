"""Reference-parity metadata dedup: the (name,size)+MD5 engine, Spark-first.

This module re-expresses the reference's ACTUAL computation — blocking on
(name, size), pair classification via the classify_pair decision table,
worst-case group labels — as declarative DataFrame ops over the
``files_meta`` fixture shape (FIXTURES.md §2).  It exists for semantic parity
with src/cloud_duplicate_analyzer.py; the content pipeline
(plans/pipeline.py) is the scaled engine.

Operator map:
  * candidate blocking join J1 (:310-327) → groupBy/self-join on (name, size)
  * first-hit-per-key P6 (:323-325)       → row_number() == 1
  * ≥2-services predicate P5 (:326-327)   → countDistinct(service) >= 2
  * classify_pair V1 (:203-268)           → when/otherwise ladder (decision
    table verbatim, docs/how-it-works.md:30-38; incl. the both-dangling
    symlink case pinned by tests/test_cloud_duplicate_analyzer.py:358-371)
  * worst-case fold A1 (:334-394)         → max(struct(rank, label))
  * newest_in A2 (:420-423)               → max_by(service, mtime)
  * age_difference_days A3 (:424-427)     → (max-min)/86400 rounded
  * mixed-type second pass J4 (:435-482)  → left_anti + rel_path equi-join
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cloud_dedup_spark.config import MetaConfig

# worst-case precedence ranks — reference rank dicts (:333-334:
# content different > unverified > identical; version conflict > phantom >
# diverged > same).  The symlink statuses are ranked too (target_diverged >
# target_identical): the reference short-circuits symlink groups on the
# FIRST pair, but a declarative worst-case fold must not let the default-0
# alphabetical tiebreak report 'target_identical' for a group with diverged
# targets (round-4 review).
_CONTENT_RANK = "CASE content_match WHEN 'different' THEN 3 WHEN 'unverified' THEN 2 WHEN 'identical' THEN 1 ELSE 0 END"
_VERSION_RANK = (
    "CASE version_status WHEN 'conflict' THEN 5 WHEN 'phantom' THEN 4 "
    "WHEN 'diverged' THEN 3 WHEN 'target_diverged' THEN 2 "
    "WHEN 'target_identical' THEN 1 ELSE 0 END"
)


def classify_pair_columns(cfg: MetaConfig | None = None) -> tuple[Column, Column]:
    """(content_match, version_status) for a joined pair row.

    Expects struct columns ``a`` and ``b`` with fields: size, mtime,
    is_symlink, symlink_target, content_md5 (empty string = hash-read
    failure, reference :109-110).  Evaluation order matches the reference
    exactly (:231-268): mixed-type → both-symlink → empty-file → no-checksum
    → hash-failure → md5 compare.
    """
    cfg = cfg or MetaConfig()
    A, B = F.col("a"), F.col("b")
    within_fuzz = F.abs(A["mtime"] - B["mtime"]) <= F.lit(cfg.mtime_fuzz)
    by_mtime = F.when(within_fuzz, F.lit("same")).otherwise(F.lit("diverged"))
    md5_failed = (A["content_md5"] == "") | (B["content_md5"] == "")
    md5_equal = A["content_md5"] == B["content_md5"]

    mixed = A["is_symlink"] != B["is_symlink"]
    both_sym = A["is_symlink"] & B["is_symlink"]
    targets_equal = (
        A["symlink_target"].isNotNull()
        & B["symlink_target"].isNotNull()
        & (A["symlink_target"] == B["symlink_target"])
    )
    empty = (A["size"] == 0) & (B["size"] == 0)

    content_match = (
        F.when(mixed, F.lit("mixed_type"))
        .when(both_sym, F.lit("symlink"))
        .when(empty, F.lit("identical"))
        .when(F.lit(not cfg.use_checksum), F.lit("unverified"))
        .when(md5_failed, F.lit("unverified"))
        .when(md5_equal, F.lit("identical"))
        .otherwise(F.lit("different"))
    )
    version_status = (
        F.when(mixed, F.lit("conflict"))
        .when(both_sym & targets_equal, F.lit("target_identical"))
        .when(both_sym, F.lit("target_diverged"))  # incl. both-dangling (None, None)
        .when(empty, F.lit("same"))
        .when(F.lit(not cfg.use_checksum), by_mtime)
        .when(md5_failed, by_mtime)
        .when(md5_equal, by_mtime)
        .when(within_fuzz, F.lit("phantom"))  # different content, same mtime
        .otherwise(F.lit("diverged"))
    )
    return content_match, version_status


_PAIR_FIELDS = ("service", "rel_path", "size", "mtime", "is_symlink",
                "symlink_target", "content_md5")


def _first_hit_per_key(files_meta: DataFrame, key: list[str]) -> DataFrame:
    """P6: only the first record per key per service joins the group
    (reference hits[0], :323-325); ordering by rel_path for determinism."""
    w = Window.partitionBy(*key, "service").orderBy("rel_path")
    return (
        files_meta.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def candidate_pairs(files_meta: DataFrame, cfg: MetaConfig | None = None) -> DataFrame:
    """J1 + J2: block on (name, size), pair across services within block.

    Input: files_meta(service, rel_path, name, name_orig, size, mtime,
    is_symlink, symlink_target, content_md5).  Output: one row per unordered
    cross-service pair with struct columns a/b and the classification.
    """
    cfg = cfg or MetaConfig()
    base = files_meta
    if cfg.skip_hidden:
        # P1: names starting with '.' (and .DS_Store, P2) never match
        base = base.filter(~F.col("name").startswith("."))
    # P2 is CASE-SENSITIVE on the original name (reference :148-149 skips
    # exactly '.DS_Store'); matching the lowercased column dropped files
    # literally named '.ds_store' that the reference keeps (round-4 review)
    base = base.filter(F.col("name_orig") != ".DS_Store")
    firsts = _first_hit_per_key(base, ["name", "size"])

    lhs = firsts.select(
        "name", "size", F.struct(*_PAIR_FIELDS).alias("a")
    )
    rhs = firsts.select(
        "name", "size", F.struct(*_PAIR_FIELDS).alias("b")
    )
    pairs = lhs.join(rhs, ["name", "size"]).filter(
        F.col("a.service") < F.col("b.service")
    )
    content_match, version_status = classify_pair_columns(cfg)
    return pairs.withColumn("content_match", content_match).withColumn(
        "version_status", version_status
    )


def duplicate_groups_meta(
    files_meta: DataFrame, cfg: MetaConfig | None = None
) -> DataFrame:
    """Stage-4 analog: fold classified pairs into per-(name,size) groups.

    Routing mirrors :430-433 exactly: ONLY 'different' groups are conflicts —
    'identical' AND 'unverified' are duplicates (with use_checksum=False
    every group is 'unverified', and routing those to conflicts reported
    zero duplicates where the reference reports them all — round-4 review);
    symlink/mixed groups routed by their own labels (:349-389).
    Output: name, size, n_services, services, content_match, version_status,
    newest_in, age_difference_days, group_kind.
    """
    cfg = cfg or MetaConfig()
    pairs = candidate_pairs(files_meta, cfg)

    grouped = pairs.groupBy("name", "size").agg(
        F.max(F.expr(f"struct({_CONTENT_RANK} AS r, content_match AS v)"))["v"].alias(
            "content_match"
        ),
        F.max(F.expr(f"struct({_VERSION_RANK} AS r, version_status AS v)"))["v"].alias(
            "version_status"
        ),
        # A3 inputs over the union of both sides of every pair
        F.greatest(F.max("a.mtime"), F.max("b.mtime")).alias("_max_mtime"),
        F.least(F.min("a.mtime"), F.min("b.mtime")).alias("_min_mtime"),
        F.array_sort(
            F.array_distinct(
                F.flatten(F.collect_list(F.array(F.col("a.service"), F.col("b.service"))))
            )
        ).alias("services"),
    )
    grouped = grouped.withColumn("n_services", F.size("services"))
    # A2 newest_in: max_by(service, mtime) over the exploded pair sides,
    # reported only for diverged/phantom groups (:420-423)
    sides = pairs.select(
        "name", "size", F.explode(F.array("a", "b")).alias("m")
    ).select("name", "size", F.col("m.service").alias("service"), F.col("m.mtime").alias("mtime"))
    newest = sides.groupBy("name", "size").agg(
        F.max_by("service", "mtime").alias("newest_in")
    )
    out = (
        grouped.join(newest, ["name", "size"])
        .withColumn(
            "newest_in",
            F.when(
                F.col("version_status").isin("diverged", "phantom"), F.col("newest_in")
            ),
        )
        .withColumn(
            "age_difference_days",
            F.round((F.col("_max_mtime") - F.col("_min_mtime")) / 86400.0, 2),
        )
        .withColumn(
            "group_kind",
            F.when(F.col("content_match") == "mixed_type", F.lit("conflict"))
            .when(F.col("content_match") == "symlink", F.lit("symlink"))
            .when(F.col("content_match") == "different", F.lit("conflict"))
            .otherwise(F.lit("duplicate")),  # identical AND unverified
        )
        .drop("_max_mtime", "_min_mtime")
    )
    return out


def pair_stats_pivot(files_meta: DataFrame, cfg: MetaConfig | None = None) -> DataFrame:
    """A11: per service pair, counts by content_match category (the report's
    section-2 stats, :877-899) — counting GROUPS, not raw pair verdicts.

    The reference buckets each GROUP containing both services by the group's
    worst-case content_match (dup_in_pair / conf_in_pair, :881-899); counting
    raw pairs double-booked heterogeneous groups under their best pair (a
    group folding to 'different' still contributed its internal 'identical'
    pair to that cell — round-4 review).

    Output: service_a, service_b, n_pairs (groups spanning the pair), plus
    one count column per content_match value (identical / different /
    unverified / symlink / mixed_type).
    """
    groups = duplicate_groups_meta(files_meta, cfg)
    pair_expr = F.expr(
        "flatten(transform(services, (x, i) -> "
        "transform(slice(services, i + 2, size(services)), "
        "y -> struct(x AS service_a, y AS service_b))))"
    )
    return (
        groups.select(F.explode(pair_expr).alias("p"), "content_match")
        .select(
            F.col("p.service_a").alias("service_a"),
            F.col("p.service_b").alias("service_b"),
            "content_match",
        )
        .groupBy("service_a", "service_b")
        .pivot("content_match",
               ["identical", "different", "unverified", "symlink", "mixed_type"])
        .count()
        .na.fill(0)
        .withColumn(
            "n_pairs",
            F.col("identical") + F.col("different") + F.col("unverified")
            + F.col("symlink") + F.col("mixed_type"),
        )
    )


def mixed_type_second_pass(
    files_meta: DataFrame, handled: DataFrame, cfg: MetaConfig | None = None
) -> DataFrame:
    """J4: re-join unhandled rows across services on rel_path to catch
    file-vs-symlink pairs whose sizes (-1 vs real) defeated the (name,size)
    block (:435-482).

    ``handled``: DataFrame with a ``rel_path`` column — the rel_paths of
    already-emitted groups/symlinks (the reference's ``already_handled`` set,
    :439-443, holds REL_PATHS, one per group).  The old (name,size)-key
    anti-join removed a row because its key was grouped at a DIFFERENT
    rel_path, silently dropping the file-vs-symlink conflict at the row's
    own path (round-4 review).  Output: classified rel_path pairs
    (mixed-type conflicts only).
    """
    cfg = cfg or MetaConfig()
    handled_rp = handled.select(
        F.lower("rel_path").alias("rel_path_lower")
    ).distinct()
    leftover = files_meta.withColumn(
        "rel_path_lower", F.lower("rel_path")
    ).join(handled_rp, "rel_path_lower", "left_anti")
    lhs = leftover.select("rel_path_lower", F.struct(*_PAIR_FIELDS).alias("a"))
    rhs = leftover.select("rel_path_lower", F.struct(*_PAIR_FIELDS).alias("b"))
    pairs = lhs.join(rhs, "rel_path_lower").filter(
        F.col("a.service") < F.col("b.service")
    )
    content_match, version_status = classify_pair_columns(cfg)
    return (
        pairs.withColumn("content_match", content_match)
        .withColumn("version_status", version_status)
        .filter(F.col("content_match") == "mixed_type")
    )
