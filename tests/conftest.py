"""Shared Spark session + corpus fixtures.

One session per test run (Spark startup ~10 s dominates otherwise), local[4]
with a small shuffle-partition count — the same settings shape as a real
cluster run, just narrower (session.py is the single source of truth).
"""

from __future__ import annotations

import time

import pytest

from cloud_dedup_spark.corpus import corpus_df
from cloud_dedup_spark.session import build_session

N_FILES = 400
SEED = 42


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="cloud-dedup-tests", master="local[4]",
                      shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    """(files DataFrame, truth) — cached so every module reuses one plan."""
    df, truth = corpus_df(spark, N_FILES, SEED)
    df = df.cache()
    df.count()
    return df, truth


def cluster_pairs(clusters):
    """Unordered member-pair set of a cluster list — the recall currency."""
    out = set()
    for members in clusters:
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add(frozenset((ms[i], ms[j])))
    return out


def run_in_job_group(spark, group: str, fn):
    """Run ``fn()`` under the caller's job group ``group``; assert that the
    group holds jobs and that no job started meanwhile ran ungrouped (a pool
    thread that dropped the caller's local properties)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def settled_ungrouped():
        # the status store is fed by an asynchronous listener: read until
        # two reads agree, so jobs that just ended are not missed
        prev = set(tracker.getJobIdsForGroup(None))
        for _ in range(40):
            time.sleep(0.05)
            cur = set(tracker.getJobIdsForGroup(None))
            if cur == prev:
                break
            prev = cur
        return cur

    before = settled_ungrouped()
    sc.setJobGroup(group, f"{group} description")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert settled_ungrouped() - before == set()
    assert tracker.getJobIdsForGroup(group)


def direct_report(res: dict) -> dict:
    """Every section of ``build_report`` but ``stages``, each built from its
    own serial query over the same pipeline result, with the drill-down
    order and caps applied in Python — the reference the report is checked
    against.  The caps are read from the report module at call time, so a
    test that shrinks them shrinks them here too."""
    from pyspark.sql import functions as F

    from cloud_dedup_spark import report
    from cloud_dedup_spark.operators.rollup import (
        folder_comparisons,
        pairwise_repo_counts,
        relationship_histogram,
        safe_dedup_roots,
        subtree_rollup,
        unique_file_counts,
        with_folder_name,
    )

    identity, clusters = res["identity"], res["clusters"]
    edges, assignments = res["edges"], res["assignments"]

    def counts(df, key):
        return {r[key]: r["count"] for r in df.groupBy(key).count().collect()}

    fc = folder_comparisons(identity.select("repo", "path"))
    cls = report.file_classifications(identity, edges)
    kind_of = {r["file_id"]: r["kind"] for r in cls.collect()}
    rank = {"exact": 3, "substring": 2, "near": 1}

    groups: dict = {}
    for r in assignments.filter(~F.col("quarantined")).collect():
        groups.setdefault(r["cluster_id"], []).append(
            (r["repo"], r["path"], kind_of[r["file_id"]]))
    details = sorted(
        ((cid, ms) for cid, ms in groups.items() if len(ms) >= 2),
        key=lambda g: (-len(g[1]), g[0]),
    )[:report.MAX_GROUP_DETAILS]

    names: dict = {}
    for r in with_folder_name(cls).collect():
        repos, kinds = names.setdefault((r["folder"], r["name"]), (set(), set()))
        repos.add(r["repo"])
        if r["kind"] is not None:
            kinds.add(r["kind"])
    folder_files: dict = {}
    for (folder, name), (repos, kinds) in sorted(names.items())[
            :report.MAX_TREE_FILES]:
        folder_files.setdefault(folder, []).append({
            "name": name, "n_repos": len(repos),
            "kind": max(kinds, key=rank.get) if kinds else None,
        })

    return {
        "total_files": identity.count(),
        "n_quarantined_id_collisions": assignments.filter(
            F.col("quarantined")).count(),
        "per_repo_files": counts(identity, "repo"),
        "n_clusters": clusters.count(),
        "cluster_size_histogram": counts(clusters, "n_files"),
        "edge_kinds": counts(edges, "edge_kind"),
        "pairwise_duplicate_clusters": {
            f"{r['repo_a']}+{r['repo_b']}": r["n_clusters"]
            for r in pairwise_repo_counts(clusters).collect()
        },
        "unique_files_per_repo": {
            r["repo"]: r["n_unique_files"]
            for r in unique_file_counts(assignments).collect()
        },
        "folder_relationship_histogram": {
            r["relationship"]: r["n_folders"]
            for r in relationship_histogram(fc).collect()
        },
        "safe_dedup_roots": sorted(
            r["folder"] for r in safe_dedup_roots(subtree_rollup(fc)).collect()
        ),
        "duplicate_group_details": [
            {
                "cluster_id": cid, "n_files": len(ms),
                "n_repos": len({repo for repo, _, _ in ms}),
                "members": [
                    {"repo": repo, "path": path, "kind": kind}
                    for repo, path, kind in sorted(
                        ms, key=lambda m: (m[0], m[1], m[2] or "")
                    )[:report.MAX_MEMBERS_PER_GROUP]
                ],
            }
            for cid, ms in details
        ],
        "folder_comparisons": sorted(
            ({"folder": r["folder"], "relationship": r["relationship"],
              "n_repos": r["n_repos"]} for r in fc.collect()),
            key=lambda row: row["folder"],
        )[:report.MAX_TREE_FOLDERS],
        "folder_files": folder_files,
        "scan_warnings": [],
    }


def typed(value):
    """A report section with the type of every key and value made part of
    it, so ``{2: 1}`` and ``{2.0: 1}`` or ``{"2": 1}`` compare unequal."""
    if isinstance(value, dict):
        return {(type(k).__name__, k): typed(v) for k, v in value.items()}
    if isinstance(value, list):
        return [typed(v) for v in value]
    return (type(value).__name__, value)


def assert_report(res: dict, rep: dict) -> None:
    """``rep`` equals ``direct_report(res)`` in every key but ``stages``."""
    want = direct_report(res)
    assert set(rep) - {"stages"} == set(want)
    for name, expected in want.items():
        assert typed(rep[name]) == typed(expected), name
