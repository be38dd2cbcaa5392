"""Shared Spark session + corpus fixtures.

One session per test run (Spark startup ~10 s dominates otherwise), local[4]
with a small shuffle-partition count — the same settings shape as a real
cluster run, just narrower (session.py is the single source of truth).
"""

from __future__ import annotations

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


def direct_report_scalars(res: dict) -> dict:
    """Every scalar section of ``build_report``, each from its own aggregate
    over the same pipeline result — the reference the report is checked
    against."""
    from pyspark.sql import functions as F

    from cloud_dedup_spark.operators.rollup import (
        folder_comparisons,
        pairwise_repo_counts,
        relationship_histogram,
        unique_file_counts,
    )

    identity, clusters = res["identity"], res["clusters"]
    edges, assignments = res["edges"], res["assignments"]

    def counts(df, key):
        return {r[key]: r["count"] for r in df.groupBy(key).count().collect()}

    fc = folder_comparisons(identity.select("repo", "path"))
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
    }


def typed(value):
    """A scalar section with the type of every key and value made part of
    it, so ``{2: 1}`` and ``{2.0: 1}`` or ``{"2": 1}`` compare unequal."""
    if isinstance(value, dict):
        return {(type(k).__name__, k): typed(v) for k, v in value.items()}
    return (type(value).__name__, value)


def assert_report_scalars(res: dict, rep: dict) -> None:
    want = direct_report_scalars(res)
    for name, expected in want.items():
        assert typed(rep[name]) == typed(expected), name
