"""Exact channel: byte-identical grouping (reference MD5-equality path,
src/cloud_duplicate_analyzer.py:257-265) + star-edge generation."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cloud_dedup_spark.functions.normalize import with_identity
from cloud_dedup_spark.operators.exact import (
    exact_duplicate_clusters,
    exact_duplicate_groups,
    exact_pair_edges,
)


@pytest.fixture(scope="module")
def exact(spark, corpus):
    files, _ = corpus
    out = exact_duplicate_clusters(with_identity(files)).cache()
    out.count()
    return out


def test_exact_groups_match_truth(exact, corpus):
    _, truth = corpus
    rows = exact.filter(F.col("exact_group_size") >= 2).collect()
    got = {}
    for r in rows:
        got.setdefault(r["exact_group_id"], set()).add((r["repo"], r["path"]))
    got_groups = {frozenset(v) for v in got.values()}
    # planted exact groups + the empty-file group must each be one exact group
    expected = {frozenset(g) for g in truth.exact_groups}
    expected.add(frozenset(truth.empty_group))
    assert expected <= got_groups
    # nothing else should be byte-identical (plants are content-unique)
    assert got_groups == expected


def test_one_representative_per_group(exact):
    bad = (
        exact.groupBy("content_sha256")
        .agg(F.sum(F.col("is_exact_rep").cast("int")).alias("n_reps"))
        .filter(F.col("n_reps") != 1)
    )
    assert bad.count() == 0


def test_star_edges_linear_in_group_size(exact):
    edges = exact_pair_edges(exact)
    n_members = exact.filter("exact_group_size >= 2").count()
    n_groups = exact.filter("exact_group_size >= 2").select(
        "exact_group_id").distinct().count()
    assert edges.count() == n_members - n_groups  # n-1 edges per group
    assert edges.filter(F.col("src") >= F.col("dst")).count() == 0


def test_group_view_spans(spark, corpus):
    files, truth = corpus
    groups = exact_duplicate_groups(with_identity(files))
    multi_repo = groups.filter(F.col("n_repos") >= 2).count()
    # every planted exact group spans ≥2 repos, plus the empty group
    assert multi_repo == len(truth.exact_groups) + 1


def test_null_sha_rows_are_singletons_not_a_welded_family(spark):
    """Round-4 review: window/groupBy treat NULL keys as equal, so rows with
    NULL content_sha256 (unreadable/NULL content upstream) all welded into
    ONE bogus byte-identical family with n-1 exact edges."""
    rows = [
        (1, "sha_x", "r1", "a"),
        (2, "sha_x", "r2", "b"),
        (3, None, "r1", "c"),
        (4, None, "r2", "d"),
    ]
    files = spark.createDataFrame(
        rows, "file_id long, content_sha256 string, repo string, path string"
    )
    out = {r["file_id"]: r for r in exact_duplicate_clusters(files).collect()}
    assert len(out) == 4  # no row dropped by the stats join
    assert out[1]["exact_group_id"] == 1 and out[2]["exact_group_id"] == 1
    assert out[2]["exact_group_size"] == 2
    # NULL-sha rows: each its own singleton representative
    for fid in (3, 4):
        assert out[fid]["exact_group_id"] == fid
        assert out[fid]["exact_group_size"] == 1
        assert out[fid]["is_exact_rep"]
    edges = exact_pair_edges(exact_duplicate_clusters(files)).collect()
    assert {(e["src"], e["dst"]) for e in edges} == {(1, 2)}


def test_groups_member_cap_bounds_the_array(spark, monkeypatch):
    import cloud_dedup_spark.operators.exact as ex

    monkeypatch.setattr(ex, "MAX_MEMBERS_PER_GROUP", 5)
    rows = [(i, "same", "r", f"p{i}", 10) for i in range(20)]
    files = spark.createDataFrame(
        rows,
        "file_id long, content_sha256 string, repo string, path string, n_bytes int",
    )
    out = exact_duplicate_groups(files).collect()
    assert len(out) == 1
    assert out[0]["n_files"] == 20          # counts cover the full group
    assert len(out[0]["members"]) == 5      # array bounded by the cap
    assert out[0]["content_sha256"] == "same"
