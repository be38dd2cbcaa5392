"""Connected-components clustering over verified edges.

Reference analog: duplicate-group building — the reference walks each
candidate key and folds pair verdicts into one group
(src/cloud_duplicate_analyzer.py:400-433).  Its groups are one-key islands;
ours are true graph components because near-dup/substring edges chain across
blocks, so we need a fixed point: every file's cluster label converges to the
minimum file_id reachable through accepted edges (SURVEY.md §4 "iterative
connected components").

The plan is chosen at runtime from the measured edge count, the build-side
choice of *Design Trade-offs for a Robust Dynamic Hybrid Hash Join* (VLDB
2022).  Up to ``DRIVER_CC_MAX_EDGES`` edges, one Arrow collect brings the
edge list to the driver and a union-find labels it: one job in place of the
loop's ~17, whose cost on small graphs is its per-job latency, not its
data.  Union-find needs no rounds, so a long path costs what a star does.
A numpy port of hash-to-min would not: its round count grows with the
diameter (on a 4-vCPU host: 2.1 s on 2M random edges, 357 s on a 200k-node
path).

Above the gate the loop is driver-side hash-to-min, since Catalyst has no
fixed-point operator:
  label(v) ← min(label(v), min over neighbours u of label(u))
iterated until no label changes.  Converges in O(diameter) rounds — dup
clusters are near-cliques plus short substring chains, so diameter is small
(single digits) even at 10^12-file scale.

Scale notes per iteration: one shuffle (groupBy id after the edge-label
join).  Lineage is cut every round with ``localCheckpoint`` — without it the
plan doubles each iteration and the job dies on plan-compile time long before
data size matters (SURVEY.md §7.4 item 2).  On a durable cluster run, swap
localCheckpoint for a checkpoint/Iceberg stage-table write (plans/pipeline.py
does this when given a checkpoint location).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# edge lists up to this size are labelled on the driver: 16 B per edge, 32 MB
# of Arrow at the gate.  On a 4-vCPU host a 2M-edge path took 8 s to collect
# and label (2.0 s of it the union-find) at 464 MB peak Python driver RSS.
# The same order as the fold's member-broadcast gate
DRIVER_CC_MAX_EDGES = 2_000_000


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iterations: int = 50,
    check_every: int = 2,
    n_edges: int | None = None,
) -> DataFrame:
    """Label every vertex with the min file_id of its component.

    ``edges``: (src, dst) long pairs.  ``vertices``: optional (file_id) frame;
    vertices absent from any edge keep themselves as their label (singleton
    clusters).  Returns (file_id, cluster_id).  The edge count picks the
    plan: up to ``DRIVER_CC_MAX_EDGES`` edges are labelled on the driver,
    more run the distributed loop, which ``max_iterations`` and
    ``check_every`` bound.  ``n_edges``: the row count of ``edges`` when the
    caller already has it (an empty graph then starts no job).

    Edge endpoints are always unioned into the vertex set: a ``vertices``
    frame missing a bridge endpoint silently split its component (the inner
    join dropped the bridge's edges) — the touched-component caller upholds
    "members cover every endpoint" only by construction across many joins,
    and one future edit there must not corrupt labels (round-4 review).
    Extra endpoint labels are harmless to callers that join labels back onto
    their own member list.
    """
    if n_edges is None:
        # one job for the count and the collect: at most one edge past the
        # gate reaches the driver, and a result within the gate is every edge
        pairs = edges.select("src", "dst").limit(DRIVER_CC_MAX_EDGES + 1).toPandas()
        n_edges = len(pairs)
    elif 0 < n_edges <= DRIVER_CC_MAX_EDGES:
        pairs = edges.select("src", "dst").toPandas()
    if n_edges > DRIVER_CC_MAX_EDGES:
        return _hash_to_min(edges, vertices, max_iterations, check_every)
    ids = roots = np.empty(0, dtype=np.int64)
    if n_edges:
        ids, roots = _min_labels(
            pairs["src"].to_numpy(np.int64), pairs["dst"].to_numpy(np.int64)
        )
    # gate-bounded and already held on the driver, so the hint is safe: the
    # caller's join (every file, in cluster_assignments) broadcasts the
    # labels instead of shuffling both sides
    labels = F.broadcast(edges.sparkSession.createDataFrame(
        pd.DataFrame({"file_id": ids, "cluster_id": roots}),
        "file_id long, cluster_id long",
    ))
    if vertices is None:
        return labels
    loners = vertices.select("file_id").distinct().join(labels, "file_id", "left_anti")
    return labels.unionByName(loners.withColumn("cluster_id", F.col("file_id")))


def _min_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, labels): every endpoint id of the ``src[i]``–``dst[i]`` edges,
    ascending, and the min id of its component.

    Union-find over compacted indices.  ``np.unique`` sorts, so the smaller
    index is the smaller id; linking always puts the root with the smaller
    index on top and path halving only moves a node's parent down, so every
    parent index is at most its child's and each root is its tree's min.
    """
    ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    parent = list(range(len(ids)))
    m = len(src)
    for a, b in zip(idx[:m].tolist(), idx[m:].tolist()):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        while parent[b] != b:
            parent[b] = parent[parent[b]]
            b = parent[b]
        if a < b:
            parent[b] = a
        elif b < a:
            parent[a] = b
    # pointer jumping to the roots: O(log depth) vectorized passes
    root = np.asarray(parent, dtype=np.int64)
    while True:
        up = root[root]
        if np.array_equal(up, root):
            return ids, ids[root]
        root = up


def _hash_to_min(
    edges: DataFrame,
    vertices: DataFrame | None,
    max_iterations: int,
    check_every: int,
) -> DataFrame:
    """The distributed loop of ``connected_components`` (module docstring)."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    endpoints = sym.select(F.col("src").alias("file_id"))
    if vertices is None:
        verts = endpoints.distinct()
    else:
        verts = vertices.select("file_id").unionByName(endpoints).distinct()

    # lazy checkpoints: the per-round lineage cut is what matters (without it
    # the plan doubles each iteration).  eager=False saves the checkpoint's
    # own collect job, but not the round's shuffles: under AQE the call
    # itself runs every shuffle and broadcast stage of its plan, on this
    # thread (a groupBy + broadcast-join frame ran 2 jobs at the call and 2
    # more at its count; with AQE off, 1 at the call).  Only the final
    # stage waits for the convergence count every ``check_every`` rounds.
    labels = verts.withColumn("cluster_id", F.col("file_id")).localCheckpoint(
        eager=False
    )
    sym = sym.localCheckpoint(eager=False)

    for it in range(max_iterations):
        # hash-to-min step: min over own label and neighbours' labels
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["file_id"])
            .groupBy(sym["src"].alias("file_id"))
            .agg(F.min("cluster_id").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, "file_id", "left").select(
            "file_id",
            F.least(
                F.col("cluster_id"), F.coalesce("nbr_label", F.col("cluster_id"))
            ).alias("cluster_id"),
            F.col("cluster_id").alias("_old"),
        )
        # pointer-jumping step: label ← label(label), collapsing chains in
        # O(log diameter) total iterations instead of O(diameter) — matters
        # for the path-shaped components the salted-chain buckets produce
        parents = stepped.select(
            F.col("file_id").alias("cluster_id"),
            F.col("cluster_id").alias("_grand"),
        )
        new_labels = (
            stepped.join(parents, "cluster_id", "left")
            .select(
                "file_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("_grand", F.col("cluster_id"))
                ).alias("cluster_id"),
                "_old",
            )
            .localCheckpoint(eager=False)
        )
        # the convergence count is a full extra job; with pointer jumping the
        # loop converges in O(log diameter) rounds, so probing every
        # ``check_every``-th round trades at most one surplus iteration for
        # half the count jobs (part of the small-stage latency floor,
        # BENCH/ANALYSIS.md)
        labels = new_labels.drop("_old")
        if (it + 1) % check_every == 0 or it == max_iterations - 1:
            changed = new_labels.filter(
                F.col("cluster_id") != F.col("_old")
            ).count()
            if changed == 0:
                break
    return labels


def cluster_assignments(
    files: DataFrame, edges: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """Attach cluster ids to every file (singletons = own file_id).

    ``files`` needs (file_id, repo, path); ``edges`` is the union of exact /
    near / substring accepted edges.  Output: file_id, repo, path,
    cluster_id, with cluster_id = min file_id in the component.
    """
    labels = connected_components(edges, vertices=None, max_iterations=max_iterations)
    return files.select("file_id", "repo", "path").join(
        labels, "file_id", "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col("file_id")))


def cluster_summary(assignments: DataFrame, member_cap: int = 1000) -> DataFrame:
    """Per-cluster aggregates — reference group fields analog
    (size, repo span, representative; src/cloud_duplicate_analyzer.py:412-428
    builds rel_path/matches/service_details per group).

    Quarantined rows (id-collision singletons, plans/pipeline.py) are excluded
    BEFORE grouping: their labels live in the file_id2 hash space, which is
    not structurally disjoint from the min-file_id label space, so grouping
    them together could alias a quarantined file into a real cluster's row.
    Dropping them here makes that aliasing impossible — a quarantined file is
    by construction never a member of any duplicate cluster.

    ``members`` holds at most ``member_cap`` members (first by (repo, path));
    counts and the ``repos`` set always cover the full cluster.  Uncapped,
    a mega-cluster (millions of identical lockfiles arriving through the
    exact star edges) materialized an unbounded single-buffer array — the
    fan-in shape exact_duplicate_groups caps one stage earlier (round-4
    review).  ``repos`` is a distinct-set column (bounded by repo count, not
    file count) so rollups never need the full member list.
    """
    if "quarantined" in assignments.columns:
        assignments = assignments.filter(~F.col("quarantined"))
    w = Window.partitionBy("cluster_id").orderBy("repo", "path")
    capped = assignments.withColumn("_rn", F.row_number().over(w))
    return (
        capped.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.countDistinct("repo").alias("n_repos"),
            F.min(F.struct("file_id", "repo", "path")).alias("representative"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_rn") <= member_cap, F.struct("repo", "path")
                    )
                )
            ).alias("members"),
            F.sort_array(F.collect_set("repo")).alias("repos"),
        )
        .filter(F.col("n_files") >= 2)
    )
