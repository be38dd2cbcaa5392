"""Connected components (driver union-find and star contraction): explicit
graphs with known components.

Analog of the reference's group-building assertions
(tests/test_cloud_duplicate_analyzer.py:171-243 assert exact group routing)."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from cloud_dedup_spark.operators.cluster import (
    cluster_assignments,
    cluster_summary,
    connected_components,
)


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df).collect()
    got = {r["file_id"]: r["cluster_id"] for r in rows}
    assert len(rows) == len(got)  # one row per endpoint
    return got


def test_single_edge(spark):
    assert _labels(spark, [(1, 2)]) == {1: 1, 2: 1}


def test_chain_converges_to_min(spark):
    # a path graph exercises multi-iteration propagation (diameter 5)
    got = _labels(spark, [(5, 4), (4, 3), (3, 2), (2, 1), (1, 0)])
    assert got == {i: 0 for i in range(6)}


def test_two_components(spark):
    got = _labels(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_triangle_plus_bridge(spark):
    got = _labels(spark, [(7, 8), (8, 9), (7, 9), (9, 20)])
    assert set(got.values()) == {7}


def test_assignments_include_singletons(spark):
    files = spark.createDataFrame(
        [(1, "a", "p1"), (2, "a", "p2"), (3, "b", "p3")],
        "file_id long, repo string, path string",
    )
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    rows = cluster_assignments(files, edges).collect()
    got = {r["file_id"]: r["cluster_id"] for r in rows}
    assert got == {1: 1, 2: 1, 3: 3}  # 3 is a singleton = own label


def test_cluster_summary_fields(spark):
    files = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2"), (3, "b", "p3")],
        "file_id long, repo string, path string",
    )
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    asg = cluster_assignments(files, edges).withColumn("quarantined", F.lit(False))
    summ = cluster_summary(asg).collect()
    assert len(summ) == 1
    row = summ[0]
    assert row["n_files"] == 3 and row["n_repos"] == 2
    assert row["representative"]["file_id"] == 1
    assert len(row["members"]) == 3


def _reference_labels(edges):
    """Plain-Python union-find: every endpoint → its component's min id
    (linking always keeps the smaller root, so roots are minima)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _random_path(rng, n):
    """A path over n distinct signed 64-bit ids in random order."""
    ids = rng.sample(range(-(2**61), 2**61), n)
    return [(ids[i], ids[i + 1]) for i in range(n - 1)]


def _random_graph(seed):
    """A path and a star over shuffled signed 64-bit ids, random sparse
    edges, duplicate edges and self-loops."""
    rng = random.Random(seed)
    ids = rng.sample(range(-(2**61), 2**61), 300)
    path, star, rest = ids[:40], ids[40:80], ids[80:]
    edges = [(path[i], path[i + 1]) for i in range(len(path) - 1)]
    edges += [(star[0], leaf) for leaf in star[1:]]
    edges += [tuple(rng.sample(rest[:150], 2)) for _ in range(60)]
    edges += rng.sample(edges, 20)  # duplicates
    edges += [(v, v) for v in rng.sample(rest[:150], 5)]  # self-loops
    rng.shuffle(edges)
    return [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]


@pytest.mark.parametrize("branch", ["driver", "distributed"])
@pytest.mark.parametrize("shape", ["mixed", "empty"])
def test_cc_branches_match_reference(spark, monkeypatch, branch, shape):
    """Both plans of connected_components give the reference's labels: the
    driver union-find below the gate, star contraction above it (forced by
    a gate below any edge count; the other branch's kernel is made to fail
    so the test knows which one ran)."""
    import cloud_dedup_spark.operators.cluster as cl

    def must_not_run(*args, **kwargs):
        raise AssertionError(f"{branch} branch ran the other kernel")

    if branch == "driver":
        monkeypatch.setattr(cl, "_star_contraction", must_not_run)
    else:
        monkeypatch.setattr(cl, "DRIVER_CC_MAX_EDGES", -1)
        monkeypatch.setattr(cl, "_min_labels", must_not_run)
    edges = _random_graph(17) if shape == "mixed" else []
    assert _labels(spark, edges) == _reference_labels(edges)


def test_distributed_cc_labels_a_long_random_path(spark, monkeypatch):
    """A 1000-node path, a star and a clique, all with random ids, through
    the distributed loop.  Its rounds grow with log n (a pure-Python model
    of the loop needs 8 on this path, where a loop whose rounds follow the
    path's length passes the round bound), and no round adds an edge."""
    import cloud_dedup_spark.operators.cluster as cl

    monkeypatch.setattr(cl, "DRIVER_CC_MAX_EDGES", -1)
    rng = random.Random(1000)
    edges = _random_path(rng, 1000)
    hub, *leaves = rng.sample(range(-(2**61), 2**61), 100)
    edges += [(hub, leaf) for leaf in leaves]
    clique = rng.sample(range(-(2**61), 2**61), 30)
    edges += [(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]]
    counts = []
    check = cl._star_check

    def counting_check(star):
        unsettled, n_edges = check(star)
        counts.append(n_edges)
        return unsettled, n_edges

    monkeypatch.setattr(cl, "_star_check", counting_check)
    got = _labels(spark, edges)
    assert got == _reference_labels(edges)
    assert len(set(got.values())) == 3
    assert len(counts) <= 10
    assert all(b <= a for a, b in zip([len(edges)] + counts, counts))


def test_distributed_cc_raises_at_round_bound(spark, monkeypatch):
    """Labels still changing at the round bound raise instead of coming
    back unconverged."""
    import cloud_dedup_spark.operators.cluster as cl

    monkeypatch.setattr(cl, "DRIVER_CC_MAX_EDGES", -1)
    monkeypatch.setattr(cl, "MAX_CC_ROUNDS", 3)
    edges = _random_path(random.Random(150), 150)
    with pytest.raises(RuntimeError, match="after 3 rounds"):
        cl.connected_components(spark.createDataFrame(edges, "src long, dst long"))


def test_cc_with_given_edge_count(spark):
    """A caller that passes its own edge count gets the same labels, and an
    empty graph then starts no job before the caller's own action."""
    import cloud_dedup_spark.operators.cluster as cl

    edges = _random_graph(23)
    e_df = spark.createDataFrame(edges, "src long, dst long")
    rows = cl.connected_components(e_df, n_edges=len(edges)).collect()
    assert {r["file_id"]: r["cluster_id"] for r in rows} == _reference_labels(edges)
    sc = spark.sparkContext
    sc.setJobGroup("cc-empty", "cc-empty")
    try:
        cl.connected_components(
            spark.createDataFrame([], "src long, dst long"), n_edges=0
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("cc-empty") == []
