"""Run report: the JSON summary + metrics sink (reference S5/S6).

The reference serializes one result dict to JSON (src/cloud_duplicate_analyzer.py:1450-1459)
and prints a stdout summary (:1464-1496).  Here the big artifacts are the
checkpointed stage tables (pipeline.py); the report is the small collected
summary — totals, per-repo stats, pairwise counts, cluster-size histogram,
relationship histogram, stage lineage/skew metrics — built from aggregate
DataFrames and collected only at the very end (everything driver-side here is
a few hundred rows, never the raw data).  ``build_report`` runs its seven
actions (two checkpoints, five collects) as concurrent driver threads,
each collect waiting only on the checkpoint it reads.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloud_dedup_spark.metrics import RunMetrics, driver_threads
from cloud_dedup_spark.operators.exact import MAX_MEMBERS_PER_GROUP
from cloud_dedup_spark.operators.rollup import (
    folder_comparisons,
    pairwise_repo_counts,
    relationship_histogram,
    safe_dedup_roots,
    subtree_rollup,
    unique_file_counts,
    with_folder_name,
)


# Driver-side collection caps: the reference holds every group in RAM
# (src/cloud_duplicate_analyzer.py:273-713 — single process); the graft pages
# only the TOP slices of the stage tables into the report so the collect
# stays bounded at any corpus size.  Member arrays share
# MAX_MEMBERS_PER_GROUP with the exact-group and cluster stage tables.
MAX_GROUP_DETAILS = 200
MAX_TREE_FOLDERS = 500
MAX_TREE_FILES = 5000

# strongest-edge ranking for the per-file classification symbol
# (exact ★ > substring ↪ > near ✓; reference _file_sym decision ladder,
# src/cloud_duplicate_analyzer.py:719-734).  SINGLE owner of the ladder:
# every rank/decode expression below derives from these two dicts — the
# same mapping used to be hardcoded in four separate when-chains, so adding
# an edge kind could silently misclassify in whichever copy was missed
# (round-4 review).
_KIND_RANK = {"exact": 3, "substring": 2, "near": 1}
_RANK_KIND = {v: k for k, v in _KIND_RANK.items()}


def _rank_expr(col: str) -> F.Column:
    """kind/edge_kind string → rank int, from the one ladder."""
    expr = None
    for kind, rank in _KIND_RANK.items():
        cond = F.col(col) == kind
        expr = F.when(cond, rank) if expr is None else expr.when(cond, rank)
    return expr


def _kind_expr(col: str) -> F.Column:
    """rank int → kind string, from the one ladder."""
    expr = None
    for rank, kind in _RANK_KIND.items():
        cond = F.col(col) == rank
        expr = F.when(cond, kind) if expr is None else expr.when(cond, kind)
    return expr


def file_classifications(identity: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-file match classification from incident edges.

    Output: file_id, repo, path, kind ('exact'|'substring'|'near'|NULL for
    files with no duplicate edge).  The strongest incident edge wins — the
    graft's analog of the reference's (content_match × version_status)
    classification cells (:719-734)."""
    rank = F.coalesce(_rank_expr("edge_kind"), F.lit(_KIND_RANK["near"]))
    incident = (
        edges.select(F.col("src").alias("file_id"), rank.alias("rank"))
        .unionByName(edges.select(F.col("dst").alias("file_id"), rank.alias("rank")))
        .groupBy("file_id")
        .agg(F.max("rank").alias("rank"))
        .withColumn("kind", F.coalesce(_kind_expr("rank"), F.lit("near")))
        .select("file_id", "kind")
    )
    return identity.select("file_id", "repo", "path").join(
        incident, "file_id", "left"
    )


def build_report(result: dict, scan_warnings: list[str] | None = None) -> dict:
    """Collect the run summary from pipeline outputs (run_pipeline's dict).

    ``scan_warnings``: ingest-anomaly strings from
    sources.files_source.scan_warnings — rides the dict into the JSON sink
    and the HTML banner (reference S6 warnings block, :1490-1496)."""
    identity: DataFrame = result["identity"]
    assignments: DataFrame = result["assignments"]
    clusters: DataFrame = result["clusters"]
    edges: DataFrame = result["edges"]
    metrics: RunMetrics = result["metrics"]
    spark = identity.sparkSession

    # multi-consumer frames materialized once: fc feeds the histogram, the
    # subtree rollup AND the fc_rows collect; cls feeds the tree rows and
    # the group-detail join — unmaterialized, each collect re-ran the double
    # explode / classification joins (round-4 review).  The seven actions
    # move few rows and most of their wall is driver-side planning, so they
    # run as concurrent threads, each collect waiting only on the checkpoint
    # it reads.
    with driver_threads(spark, 7) as submit:
        fc = submit(lambda: folder_comparisons(
            identity.select("repo", "path")).localCheckpoint())
        cls = submit(lambda: file_classifications(identity, edges).localCheckpoint())
        scalars = submit(lambda: _scalar_sections(
            identity, clusters, edges, assignments, fc.result()))
        roots = submit(lambda: _safe_roots(fc.result()))
        fc_rows = submit(lambda: _folder_rows(fc.result()))
        group_details = submit(lambda: _group_details(assignments, cls.result()))
        folder_files = submit(lambda: _folder_files(cls.result()))

    sections = scalars.result()

    def keyed(tag: str, decode: Callable = lambda k: k) -> dict:
        return {decode(*key): n for key, n in sections[tag].items()}

    per_repo = keyed("per_repo")
    cluster_hist = keyed("cluster_hist", int)
    return {
        "total_files": sum(per_repo.values()),
        "n_quarantined_id_collisions": sections["quarantined"].get(("true",), 0),
        "per_repo_files": per_repo,
        "n_clusters": sum(cluster_hist.values()),
        "cluster_size_histogram": cluster_hist,
        "edge_kinds": keyed("edge_kinds"),
        "pairwise_duplicate_clusters": keyed("pairwise", lambda a, b: f"{a}+{b}"),
        "unique_files_per_repo": keyed("uniques"),
        "folder_relationship_histogram": keyed("rel_hist"),
        "safe_dedup_roots": roots.result(),
        "duplicate_group_details": group_details.result(),
        "folder_comparisons": fc_rows.result(),
        "folder_files": folder_files.result(),
        "scan_warnings": list(scan_warnings or []),
        "stages": metrics.to_dict(),
    }


def _scalar_sections(
    identity: DataFrame, clusters: DataFrame, edges: DataFrame,
    assignments: DataFrame, fc: DataFrame,
) -> dict[str, dict]:
    """Section tag → {key tuple: count}, for every scalar section.

    One collect over a tagged union of (tag, key, n) rows, in place of one
    action per section; each section frame is its key columns followed by
    its count."""
    def count_by(df: DataFrame, *keys: str) -> DataFrame:
        return df.groupBy(*keys).agg(F.count(F.lit(1)))

    sections = {
        "per_repo": count_by(identity, "repo"),
        "cluster_hist": count_by(clusters, "n_files"),
        "edge_kinds": count_by(edges, "edge_kind"),
        "pairwise": pairwise_repo_counts(clusters),
        "uniques": unique_file_counts(assignments),
        "rel_hist": relationship_histogram(fc),
        "quarantined": count_by(assignments, "quarantined"),
    }
    tagged = reduce(DataFrame.unionByName, [
        df.select(
            F.lit(tag).alias("tag"),
            F.array(*[F.col(c).cast("string") for c in df.columns[:-1]])
            .alias("key"),
            F.col(df.columns[-1]).cast("long").alias("n"),
        )
        for tag, df in sections.items()
    ])
    out: dict[str, dict] = {tag: {} for tag in sections}
    for r in tagged.collect():
        out[r["tag"]][tuple(r["key"])] = r["n"]
    return out


def _safe_roots(fc: DataFrame) -> list[str]:
    return [r["folder"] for r in
            safe_dedup_roots(subtree_rollup(fc)).orderBy("folder").collect()]


def _folder_rows(fc: DataFrame) -> list[dict]:
    return [
        {
            "folder": r["folder"],
            "relationship": r["relationship"],
            "n_repos": int(r["n_repos"]),
        }
        for r in fc.orderBy("folder").limit(MAX_TREE_FOLDERS).collect()
    ]


# ---- drill-down detail (reference sections 4/5 per-group tables and the
# nested folder tree, :1041-1386) — paged from the stage tables with
# driver-safe caps, never the raw corpus

def _group_details(assignments: DataFrame, cls: DataFrame) -> list[dict]:
    # quarantined singletons never join a drill-down group: their file_id2
    # labels are not structurally disjoint from graph cluster ids, so a
    # label collision would alias them into a real group's member list
    drill = assignments.filter(~F.col("quarantined"))
    # per-group member arrays are capped like cluster_summary's: the LIMIT
    # bounds how many groups reach the driver, but an uncapped collect_list
    # still buffered a mega-cluster's millions of members in one aggregation
    # task before the limit applied (round-4 review)
    rn = F.row_number().over(Window.partitionBy("cluster_id").orderBy("repo", "path"))
    rows = (
        drill.join(cls.select("file_id", "kind"), "file_id", "left")
        .withColumn("_rn", rn)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.countDistinct("repo").alias("n_repos"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_rn") <= MAX_MEMBERS_PER_GROUP,
                        F.struct("repo", "path", "kind"),
                    )
                )
            ).alias("members"),
        )
        .filter(F.col("n_files") >= 2)
        .orderBy(F.desc("n_files"), "cluster_id")
        .limit(MAX_GROUP_DETAILS)
        .collect()
    )
    return [
        {
            "cluster_id": int(r["cluster_id"]),
            "n_files": int(r["n_files"]),
            "n_repos": int(r["n_repos"]),
            "members": [
                {"repo": m["repo"], "path": m["path"], "kind": m["kind"]}
                for m in r["members"]
            ],
        }
        for r in rows
    ]


def _folder_files(cls: DataFrame) -> dict[str, list]:
    # per-(folder, name) presence + strongest classification for the tree
    # (same folder/name derivation as the rollup stage so tree nodes line up
    # with folder_comparisons rows)
    rows = (
        with_folder_name(cls)
        .groupBy("folder", "name")
        .agg(
            F.countDistinct("repo").alias("n_repos"),
            F.max(_rank_expr("kind")).alias("rank"),
        )
        .orderBy("folder", "name")
        .limit(MAX_TREE_FILES)
        .collect()
    )
    folder_files: dict[str, list] = {}
    for r in rows:
        folder_files.setdefault(r["folder"], []).append(
            {
                "name": r["name"],
                "n_repos": int(r["n_repos"]),
                "kind": _RANK_KIND.get(r["rank"]),
            }
        )
    return folder_files


def write_report(
    result: dict, path: str, scan_warnings: list[str] | None = None
) -> dict:
    """JSON sink.  ``scan_warnings`` must be threaded here by the caller —
    without the parameter the written report always claimed a clean scan
    even when ingest anomalies existed (round-4 review)."""
    report = build_report(result, scan_warnings=scan_warnings)
    with open(path, "w") as f:
        json.dump(report, f, indent=2, sort_keys=True, default=str)
    return report
