"""Folder/prefix rollups + report aggregations — reference stages 7-10.

Reference analogs (SURVEY.md §2.5-2.7, §3 stages 7-10):
  * folder name-set aggregation (A6, src/cloud_duplicate_analyzer.py:551-556)
  * folder universe + ancestor expansion (:563-570) and presence-including-
    descendants test (:576-581)
  * pairwise set-relationship classification E2 (:597-622)
  * in_all / per-repo-only / pairwise-shared details E3-E5 (:626-637)
  * relationship histogram A7 (:648-650)
  * subtree rollup J5+A8 (:659-680) — here via ancestor-prefix explode +
    groupBy instead of the O(n²) startswith scan the reference does (a
    startswith theta-join would be a BroadcastNestedLoopJoin in Spark;
    exploding each folder's own ancestors makes it a hash aggregation,
    SURVEY.md §2.3 J5)
  * safe-to-delete roots O4 (:682-694) — highest identical subtrees only
  * pairwise duplicate counts A4 (:525-530), unique counts A5 (:533-546)

Everything is native DataFrame ops; the only data-dependent fan-out is the
ancestor explode, bounded by path depth (≤ ~20 in real repos).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_folder_name(files: DataFrame) -> DataFrame:
    """Add ``folder`` (dirname of ``path``, '' at root) and ``name``
    (lowercased basename).

    Reference: rel_path → folder/name derivation (:151, :163, :176-182) with
    the case-insensitive name normalization (:177).
    """
    parts = F.split(F.col("path"), "/")
    return files.withColumn(
        "folder", F.array_join(F.slice(parts, 1, F.size(parts) - 1), "/")
    ).withColumn("name", F.lower(F.element_at(parts, -1)))


def _ancestors_incl_self() -> F.Column:
    """array of ancestor prefixes of `folder`, deepest last, root '' excluded.

    Root exclusion is reference-exact on BOTH consumers: presence at the
    root counts DIRECT files only (the reference's descendant test uses the
    prefix "./", which no folder string starts with, :576-580), and the
    ancestor loop skips "." (:568-570).  The root's subtree-over-ALL-folders
    semantics (:659-661) is handled as an explicit special case in
    ``subtree_rollup``, not here."""
    fp = F.split(F.col("folder"), "/")
    return F.when(F.col("folder") == "", F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(fp)),
            lambda i: F.array_join(F.slice(fp, F.lit(1), i), "/"),
        )
    )


def folder_presence(files: DataFrame) -> DataFrame:
    """(folder, repo) rows: repo has ≥1 file in folder OR any descendant.

    Reference presence test incl. descendants (:576-581) + ancestor expansion
    of the folder universe (:563-570).
    """
    with_f = with_folder_name(files)
    direct = with_f.select("repo", "folder")
    via_desc = with_f.select(
        "repo", F.explode(_ancestors_incl_self()).alias("folder")
    )
    return direct.unionByName(via_desc).distinct()


def folder_name_sets(files: DataFrame) -> DataFrame:
    """(folder, repo) → sorted set of direct-children file names (A6)."""
    return (
        with_folder_name(files)
        .groupBy("folder", "repo")
        .agg(F.sort_array(F.collect_set("name")).alias("names"))
    )


def folder_comparisons(files: DataFrame) -> DataFrame:
    """Per-folder cross-repo relationship — reference folder analysis stage 8.

    Output: folder, n_repos, repos_present, relationship
    ('unique' | 'identical' | 'subset/superset' | 'overlap'),
    names_in_all, total_unique_files.

    Pairwise set relations fold with the reference's EXACT vocabulary and
    precedence (:611-618): all pairs identical → identical; any overlap →
    overlap; otherwise any subset or superset relation (in either or BOTH
    directions) → the single value 'subset/superset' — the reference has no
    'mixed'/'subset'/'superset' buckets, and inventing them made the A7
    histogram and the report's folder section disagree with the reference
    (round-4 review)."""
    presence = folder_presence(files)
    sets = folder_name_sets(files)
    # (folder × present repo) grid; repos present only via descendants get ∅
    grid = presence.join(sets, ["folder", "repo"], "left").withColumn(
        "names", F.coalesce("names", F.array())
    )

    per_folder = grid.groupBy("folder").agg(
        F.count(F.lit(1)).alias("n_repos"),
        F.sort_array(F.collect_list("repo")).alias("repos_present"),
        F.sort_array(F.collect_list(F.struct("repo", "names"))).alias("repo_sets"),
    )

    # all unordered pairs of repo_sets, classified JVM-side
    pair_rels = F.expr(
        """
        flatten(transform(repo_sets, (x, i) ->
          transform(slice(repo_sets, i + 2, size(repo_sets)), y ->
            CASE
              WHEN size(array_except(x.names, y.names)) = 0
                   AND size(array_except(y.names, x.names)) = 0 THEN 'identical'
              WHEN size(array_except(x.names, y.names)) = 0 THEN 'subset'
              WHEN size(array_except(y.names, x.names)) = 0 THEN 'superset'
              ELSE 'overlap'
            END)))
        """
    )
    rel = (
        F.when(F.col("n_repos") == 1, F.lit("unique"))
        .when(F.size(F.array_distinct("pair_rels")) == 0, F.lit("unique"))
        .when(
            F.array_distinct("pair_rels") == F.array(F.lit("identical")),
            F.lit("identical"),
        )
        .when(F.array_contains("pair_rels", "overlap"), F.lit("overlap"))
        .when(
            F.array_contains("pair_rels", "subset")
            | F.array_contains("pair_rels", "superset"),
            F.lit("subset/superset"),
        )
        .otherwise(F.lit("overlap"))  # reference fallback (:617-618)
    )
    in_all = F.expr(
        "sort_array(aggregate(slice(repo_sets, 2, size(repo_sets)), "
        "repo_sets[0].names, (acc, x) -> array_intersect(acc, x.names)))"
    )
    union_all = F.expr(
        "aggregate(repo_sets, cast(array() as array<string>), "
        "(acc, x) -> array_union(acc, x.names))"
    )
    return per_folder.withColumn("pair_rels", pair_rels).select(
        "folder",
        "n_repos",
        "repos_present",
        rel.alias("relationship"),
        F.when(F.col("n_repos") >= 2, in_all).otherwise(F.array()).alias("names_in_all"),
        F.size(union_all).alias("total_unique_files"),
    )


def folder_detail_rows(files: DataFrame) -> DataFrame:
    """Name-level detail — relational form of the reference's details dict
    (in_all / <repo>_only / pairwise-shared, :626-637).

    Output: folder, name, repos (sorted array), detail with the reference's
    key vocabulary: 'in_all' (present in every present repo), '<repo>_only'
    (exactly one repo, :629-631), and one row per unordered repo pair
    '<la>+<lb>' for names shared by ≥2 but not all present repos (:633-637 —
    a name in 3 of 4 repos yields its 3 pair rows, exactly the reference's
    ``(sets[la] & sets[lb]) - in_all`` expansion).
    """
    with_f = with_folder_name(files)
    n_present = folder_presence(files).groupBy("folder").agg(
        F.count(F.lit(1)).alias("n_repos_present")
    )
    by_name = (
        with_f.groupBy("folder", "name")
        .agg(F.sort_array(F.collect_set("repo")).alias("repos"))
        .join(n_present, "folder")
    )
    # all unordered '<la>+<lb>' labels of the (sorted) repos array, JVM-side
    pair_labels = F.expr(
        """
        flatten(transform(repos, (x, i) ->
          transform(slice(repos, i + 2, size(repos)), y -> concat(x, '+', y))))
        """
    )
    # single-repo names FIRST: in a folder present in only one repo, a name
    # is trivially "in all present repos", but the reference labels it
    # '<repo>_only' with in_all=[] (:590-596) — the in_all-first order
    # mislabeled every unique folder's file list (round-4 review)
    details = (
        F.when(
            F.size("repos") == 1,
            F.array(F.concat(F.element_at("repos", 1), F.lit("_only"))),
        )
        .when(
            F.size("repos") == F.col("n_repos_present"), F.array(F.lit("in_all"))
        )
        .otherwise(pair_labels)
    )
    return by_name.select(
        "folder", "name", "repos", F.explode(details).alias("detail")
    )


def subtree_rollup(fc: DataFrame) -> DataFrame:
    """Roll folder relationships up each ancestor chain (J5 + A8).

    Input: folder_comparisons output.  Output: folder, subtree_status
    ('unique' | 'identical' | 'overlap' | 'partial'), subtree_total_files,
    n_descendants.  A folder's subtree is itself + all descendant folders;
    statuses fold with the reference's exact ladder (:667-680): all-unique →
    unique, all-identical → identical, any-overlap → overlap, else partial
    (the old single 'mixed' bucket collapsed the reference's overlap/partial
    split — round-4 review).
    """
    exploded = fc.select(
        F.explode(_ancestors_incl_self()).alias("ancestor"),
        "relationship",
        "total_unique_files",
    )
    all_unique = F.min(F.col("relationship") == "unique")
    all_identical = F.min(F.col("relationship") == "identical")
    any_overlap = F.max(F.col("relationship") == "overlap")
    aggs = [
        F.when(all_unique, F.lit("unique"))
        .when(all_identical, F.lit("identical"))
        .when(any_overlap, F.lit("overlap"))
        .otherwise(F.lit("partial"))
        .alias("subtree_status"),
        F.sum("total_unique_files").alias("subtree_total_files"),
        F.count(F.lit(1)).alias("n_descendants"),
    ]
    non_root = exploded.groupBy(F.col("ancestor").alias("folder")).agg(*aggs)
    # root special case (reference :659-661): when fc HAS a root row (files
    # directly at root), its subtree spans ALL folder comparisons — the
    # ancestor explode cannot express "descendant of root" because root is
    # not a string prefix of anything
    root = (
        fc.withColumn("ancestor", F.lit(""))
        .groupBy(F.col("ancestor").alias("folder"))
        .agg(*aggs)
        .join(
            fc.filter(F.col("folder") == "").select("folder").distinct(),
            "folder",
            "left_semi",
        )
    )
    return non_root.unionByName(root)


def safe_dedup_roots(rollup: DataFrame) -> DataFrame:
    """Highest-level fully-identical subtrees (O4, :682-694).

    A folder qualifies when its whole subtree is 'identical' and NO proper
    ancestor also qualifies — pinned by reference
    tests/test_cloud_duplicate_analyzer.py:147-155 ("highest level only").
    """
    identical = rollup.filter(F.col("subtree_status") == "identical").select("folder")
    fp = F.split(F.col("folder"), "/")
    # root '' never suppresses descendants — reference-exact quirk: its
    # '(root)' label never string-prefix-matches `path.startswith(other+'/')`
    # (:688-691), so an identical root AND an identical child are BOTH roots
    proper_ancestors = F.when(F.size(fp) <= 1, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(fp) - 1),
            lambda i: F.array_join(F.slice(fp, F.lit(1), i), "/"),
        )
    )
    anc = identical.select(
        "folder", F.explode(proper_ancestors).alias("ancestor")
    ).join(
        identical.select(F.col("folder").alias("ancestor")), "ancestor", "inner"
    ).select("folder").distinct()
    return identical.join(anc, "folder", "left_anti")


def pairwise_repo_counts(clusters: DataFrame) -> DataFrame:
    """Per repo pair: number of clusters containing both repos (A4, :525-530).

    Input: cluster_summary output; its ``repos`` set (bounded by repo count)
    is read, never the member list, which is capped and would under-count
    mega-clusters.
    """
    repo_pairs = F.expr(
        """
        flatten(transform(repos, (x, i) ->
          transform(slice(repos, i + 2, size(repos)), y ->
            struct(x AS repo_a, y AS repo_b))))
        """
    )
    return (
        clusters.select("cluster_id", F.explode(repo_pairs).alias("p"))
        .groupBy(F.col("p.repo_a").alias("repo_a"), F.col("p.repo_b").alias("repo_b"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def unique_file_counts(assignments: DataFrame) -> DataFrame:
    """Per-repo count of files in no multi-member cluster (A5, :533-546) —
    the left-anti-join pattern the reference does with set membership.

    Quarantined rows (id-collision singletons) are counted as unique without
    joining on their label: the quarantine label space (file_id2) is not
    structurally disjoint from graph cluster ids, so a label match against a
    real cluster would wrongly demote the quarantined file from unique.
    """
    clean = assignments.filter(~F.col("quarantined"))
    multi = (
        clean.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("cluster_id")
    )
    uniques = clean.join(multi, "cluster_id", "left_anti").select("repo").unionByName(
        assignments.filter(F.col("quarantined")).select("repo")
    )
    return uniques.groupBy("repo").agg(F.count(F.lit(1)).alias("n_unique_files"))


def relationship_histogram(fc: DataFrame) -> DataFrame:
    """Folders per relationship value (A7, :648-650)."""
    return fc.groupBy("relationship").agg(F.count(F.lit(1)).alias("n_folders"))
