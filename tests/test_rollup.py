"""Folder rollup operators — scenario tests mirroring the reference's
unique-folder-visibility suite (tests/test_unique_folder_visibility.py) and
hierarchy tests (tests/test_cloud_duplicate_analyzer.py:102-168)."""

from __future__ import annotations

import pytest

from cloud_dedup_spark.operators.rollup import (
    folder_comparisons,
    folder_detail_rows,
    folder_presence,
    pairwise_repo_counts,
    relationship_histogram,
    safe_dedup_roots,
    subtree_rollup,
    unique_file_counts,
    with_folder_name,
)


def _files(spark, rows):
    return spark.createDataFrame(rows, "repo string, path string")


def _fc_map(fc):
    return {r["folder"]: r for r in fc.collect()}


def test_folder_and_name_derivation(spark):
    rows = with_folder_name(_files(spark, [("a", "x/y/File.PY"), ("a", "root.md")])).collect()
    got = {(r["folder"], r["name"]) for r in rows}
    assert got == {("x/y", "file.py"), ("", "root.md")}


def test_presence_includes_descendants(spark):
    # repo b touches folder 'a' only through a descendant file
    df = _files(spark, [("ra", "a/f1.py"), ("rb", "a/sub/f2.py")])
    got = {(r["folder"], r["repo"]) for r in folder_presence(df).collect()}
    assert ("a", "rb") in got and ("a", "ra") in got
    assert ("a/sub", "rb") in got and ("a/sub", "ra") not in got


def test_relationship_identical_subset_overlap_unique(spark):
    df = _files(spark, [
        # identical: same names both repos
        ("ra", "ident/x.py"), ("ra", "ident/y.py"),
        ("rb", "ident/x.py"), ("rb", "ident/y.py"),
        # subset/superset: ra ⊂ rb (reference vocabulary :611-618)
        ("ra", "sub/x.py"),
        ("rb", "sub/x.py"), ("rb", "sub/y.py"),
        # overlap: shared + each side extra
        ("ra", "ovl/x.py"), ("ra", "ovl/a.py"),
        ("rb", "ovl/x.py"), ("rb", "ovl/b.py"),
        # unique folder: one repo only
        ("ra", "solo/z.py"),
    ])
    fc = _fc_map(folder_comparisons(df))
    assert fc["ident"]["relationship"] == "identical"
    assert fc["sub"]["relationship"] == "subset/superset"
    assert fc["ovl"]["relationship"] == "overlap"
    assert fc["solo"]["relationship"] == "unique"
    assert fc["ident"]["names_in_all"] == ["x.py", "y.py"]
    assert fc["ovl"]["names_in_all"] == ["x.py"]
    assert fc["ovl"]["total_unique_files"] == 3


def test_empty_vs_nonempty_direct_set_is_containment(spark):
    # rb present in 'a' only via descendants → direct set ∅ ⊂ ra's
    df = _files(spark, [("ra", "a/f.py"), ("rb", "a/deep/g.py")])
    fc = _fc_map(folder_comparisons(df))
    assert fc["a"]["n_repos"] == 2
    assert fc["a"]["relationship"] == "subset/superset"


def test_detail_rows(spark):
    """Reference detail-key vocabulary (:626-637): in_all / <repo>_only /
    '<la>+<lb>' pair rows — the reference's
    tests/test_unique_folder_visibility.py scenarios name exactly these keys."""
    df = _files(spark, [
        ("ra", "d/common.py"), ("rb", "d/common.py"), ("rc", "d/common.py"),
        ("ra", "d/mine.py"),
        ("ra", "d/pair.py"), ("rb", "d/pair.py"),
    ])
    got: dict = {}
    for r in folder_detail_rows(df).filter("folder = 'd'").collect():
        got.setdefault(r["name"], set()).add(r["detail"])
    assert got == {
        "common.py": {"in_all"},
        "mine.py": {"ra_only"},
        "pair.py": {"ra+rb"},
    }


def test_detail_rows_pair_expansion(spark):
    """A name in 3 of 4 present repos expands to its 3 '<la>+<lb>' rows —
    the reference's pairwise (sets[la] & sets[lb]) - in_all loop (:633-637)."""
    df = _files(spark, [
        ("ra", "d/trio.py"), ("rb", "d/trio.py"), ("rc", "d/trio.py"),
        ("rd", "d/anchor.py"),  # makes rd present in 'd' without trio.py
    ])
    rows = folder_detail_rows(df).filter("name = 'trio.py'").collect()
    assert {r["detail"] for r in rows} == {"ra+rb", "ra+rc", "rb+rc"}


def test_subtree_rollup_and_safe_roots(spark):
    df = _files(spark, [
        # vendor tree identical in both repos (names)
        ("ra", "vendor/lib/a.py"), ("rb", "vendor/lib/a.py"),
        ("ra", "vendor/lib/deep/b.py"), ("rb", "vendor/lib/deep/b.py"),
        # mixed tree: identical child + unique child
        ("ra", "mix/same/x.py"), ("rb", "mix/same/x.py"),
        ("ra", "mix/only/a.py"),
    ])
    roll = subtree_rollup(folder_comparisons(df))
    got = {r["folder"]: r["subtree_status"] for r in roll.collect()}
    assert got["vendor"] == "identical"
    assert got["vendor/lib"] == "identical"
    assert got["mix"] == "partial"
    assert got["mix/only"] == "unique"
    # highest-level-only: vendor reported, vendor/lib suppressed
    roots = {r["folder"] for r in safe_dedup_roots(roll).collect()}
    assert "vendor" in roots
    assert "vendor/lib" not in roots and "vendor/lib/deep" not in roots
    assert "mix" not in roots and "mix/same" in roots


def test_histogram(spark):
    df = _files(spark, [
        ("ra", "i/x.py"), ("rb", "i/x.py"),
        ("ra", "u/z.py"),
    ])
    got = {r["relationship"]: r["n_folders"]
           for r in relationship_histogram(folder_comparisons(df)).collect()}
    assert got == {"identical": 1, "unique": 1}


def test_pairwise_and_unique_counts(spark):
    asg = spark.createDataFrame(
        [
            (1, "ra", "p1", 100, False), (2, "rb", "p2", 100, False),  # ra+rb
            (3, "ra", "p3", 300, False), (4, "rc", "p4", 300, False),  # ra+rc
            (5, "ra", "p5", 5, False),                                 # singleton
            (6, "rb", "p6", 6, False),                                 # singleton
        ],
        "file_id long, repo string, path string, cluster_id long, "
        "quarantined boolean",
    )
    from cloud_dedup_spark.operators.cluster import cluster_summary
    clusters = cluster_summary(asg)
    pw = {(r["repo_a"], r["repo_b"]): r["n_clusters"]
          for r in pairwise_repo_counts(clusters).collect()}
    assert pw == {("ra", "rb"): 1, ("ra", "rc"): 1}
    uq = {r["repo"]: r["n_unique_files"] for r in unique_file_counts(asg).collect()}
    assert uq == {"ra": 1, "rb": 1}


def test_corpus_unique_subtree_is_unique(spark, corpus):
    files, truth = corpus
    fc = folder_comparisons(files.select("repo", "path"))
    row = fc.filter(fc["folder"] == truth.unique_subtree_prefix).first()
    assert row is not None and row["relationship"] == "unique"
    # and the identical-subtree plant compares identical at its prefix
    row2 = fc.filter(fc["folder"] == truth.identical_subtree_prefix).first()
    assert row2 is not None and row2["relationship"] == "identical"


def test_root_subtree_spans_all_folders_when_root_has_files(spark):
    """Reference :659-661: a '(root)' comparison row (files directly at the
    root) gets a subtree over ALL folders; and per the reference's
    string-prefix quirk (:688-691) an identical root does NOT suppress
    identical descendants in safe roots."""
    df = _files(spark, [
        ("ra", "top.py"), ("rb", "top.py"),            # direct root files
        ("ra", "v/a.py"), ("rb", "v/a.py"),            # identical child
        ("ra", "u/only.py"),                            # unique child
    ])
    fc = folder_comparisons(df)
    assert fc.filter("folder = ''").count() == 1       # root row exists
    roll = subtree_rollup(fc)
    got = {r["folder"]: r for r in roll.collect()}
    # root's subtree covers root + v + u = all three comparisons
    assert got[""]["n_descendants"] == 3
    assert got[""]["subtree_status"] == "partial"      # identical + unique mix
    assert got["v"]["subtree_status"] == "identical"
    # no root row without direct root files
    df2 = _files(spark, [("ra", "v/a.py"), ("rb", "v/a.py")])
    assert subtree_rollup(folder_comparisons(df2)).filter("folder = ''").count() == 0
    # identical root does not suppress identical descendants (quirk parity)
    df3 = _files(spark, [
        ("ra", "r.py"), ("rb", "r.py"),
        ("ra", "v/a.py"), ("rb", "v/a.py"),
    ])
    roots = {r["folder"] for r in
             safe_dedup_roots(subtree_rollup(folder_comparisons(df3))).collect()}
    assert roots == {"", "v"}
