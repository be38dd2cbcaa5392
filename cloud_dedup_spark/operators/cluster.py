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

Above the gate a driver-side loop runs, since Catalyst has no fixed-point
operator: alternating large-star and small-star steps (Kiveris et al.,
*Connected Components in MapReduce and Beyond*, SoCC 2014; GraphFrames runs
the same).  Each step is one window over the edge list by vertex that links
neighbours to a neighbourhood minimum, and neither adds an edge.  The loop
stops once every component is a star around its minimum, and past
``MAX_CC_ROUNDS`` it raises rather than return unconverged labels.  Rounds
grow with log n whatever the id order: a pure-Python model of the loop
needed 4-5, 6, 8-9 and 10-11 rounds on paths of 40, 150, 1000 and 10,000
nodes over five random id orders each, and 6, 8, 10 and 14 with sorted ids.

Scale notes per round: the two windows, the distinct and the check's groupBy
shuffle.  Each round's edges are persisted, counted and then cut from their
lineage with ``localCheckpoint``.  The cut keeps the plan one round deep:
uncut, the plan doubles each round and the job dies on plan-compile time long
before data size matters (SURVEY.md §7.4 item 2).  The count loads the cache
before the cut, so the checkpoint carries the cache's real size: a checkpoint
of the unloaded plan carries the plan's size estimate, which compounds round
over round until the driver heap runs out.  On a durable cluster run, swap
localCheckpoint for a checkpoint/Iceberg stage-table write
(plans/pipeline.py does this when given a checkpoint location).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloud_dedup_spark.operators.exact import MAX_MEMBERS_PER_GROUP

# edge lists up to this size are labelled on the driver: 16 B per edge, 32 MB
# of Arrow at the gate.  On a 4-vCPU host a 2M-edge path took 8 s to collect
# and label (2.0 s of it the union-find) at 464 MB peak Python driver RSS.
# The same order as the fold's member-broadcast gate
DRIVER_CC_MAX_EDGES = 2_000_000
# round bound of the distributed loop, far above the log n rounds it needs
# (8 on a 1000-node path with random ids, 14 on a 10,000-node sorted one)
MAX_CC_ROUNDS = 200


def connected_components(edges: DataFrame, n_edges: int | None = None) -> DataFrame:
    """Label every edge endpoint with the min file_id of its component.

    ``edges``: (src, dst) long pairs.  Returns (file_id, cluster_id), one row
    per endpoint; a caller with isolated vertices joins the labels onto its
    own vertex list (``cluster_assignments``).  The edge count picks the
    plan: up to ``DRIVER_CC_MAX_EDGES`` edges are labelled on the driver,
    more run the distributed loop.  ``n_edges``: the row count of ``edges``
    when the caller already has it (an empty graph then starts no job).
    """
    if n_edges is None:
        # one job for the count and the collect: at most one edge past the
        # gate reaches the driver, and a result within the gate is every edge
        pairs = edges.select("src", "dst").limit(DRIVER_CC_MAX_EDGES + 1).toPandas()
        n_edges = len(pairs)
    elif 0 < n_edges <= DRIVER_CC_MAX_EDGES:
        pairs = edges.select("src", "dst").toPandas()
    if n_edges > DRIVER_CC_MAX_EDGES:
        return _star_contraction(edges)
    ids = roots = np.empty(0, dtype=np.int64)
    if n_edges:
        ids, roots = _min_labels(
            pairs["src"].to_numpy(np.int64), pairs["dst"].to_numpy(np.int64)
        )
    # gate-bounded and already held on the driver, so the hint is safe: the
    # caller's join (every file, in cluster_assignments) broadcasts the
    # labels instead of shuffling both sides
    return F.broadcast(edges.sparkSession.createDataFrame(
        pd.DataFrame({"file_id": ids, "cluster_id": roots}),
        "file_id long, cluster_id long",
    ))


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


def _star_contraction(edges: DataFrame) -> DataFrame:
    """The distributed loop of ``connected_components`` (module docstring).

    The graph is held as distinct (v, p) edges with p < v and no self-loops.
    The last round's edges stay persisted for the caller's reads."""
    vertices = edges.select(F.explode(F.array("src", "dst")).alias("file_id")).distinct()
    # lazy checkpoint: under AQE an eager one runs every shuffle stage of its
    # plan at the call; eager=False saves only the checkpoint's own job
    star = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("v"), F.least("src", "dst").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    by_v = Window.partitionBy("v")
    cached = None
    for _ in range(MAX_CC_ROUNDS):
        # large-star: link each vertex's larger neighbours to the minimum of
        # its closed neighbourhood
        large = (
            star.union(star.select("p", "v")).toDF("v", "p")
            .withColumn("m", F.least("v", F.min("p").over(by_v)))
            .filter(F.col("p") > F.col("v"))
            .select(F.col("p").alias("v"), F.col("m").alias("p"))
        )
        # small-star: link each vertex and its smaller neighbours to the
        # minimum of those.  Each step maps one edge to one edge
        new_star = (
            large.withColumn("m", F.min("p").over(by_v))
            .select(F.when(F.col("p") == F.col("m"), F.col("v")).otherwise(F.col("p")), "m")
            .toDF("v", "p")
            .distinct()
            .persist()
        )
        # one count per round loads the cache and checks convergence; the
        # previous round's cache has fed this round's checkpoint by then
        unsettled, _ = _star_check(new_star)
        if cached is not None:
            cached.unpersist()
        cached = new_star
        if unsettled == 0:
            labels = new_star.toDF("file_id", "cluster_id")
            return vertices.join(labels, "file_id", "left").select(
                "file_id", F.coalesce("cluster_id", "file_id").alias("cluster_id")
            )
        star = new_star.localCheckpoint(eager=False)
    cached.unpersist()
    raise RuntimeError(
        f"connected_components: labels still unsettled after {MAX_CC_ROUNDS} rounds"
    )


def _star_check(star: DataFrame) -> tuple[int, int]:
    """(unsettled vertices, edges) of a (v, p) edge list, in one action.

    A vertex is unsettled when it has two smaller neighbours, or a smaller
    and a larger one.  With none, every component is a star around its
    minimum, so each edge's ``p`` is its ``v``'s label."""
    ends = star.select("v", F.lit(1), F.lit(0)).union(star.select("p", F.lit(0), F.lit(1)))
    per_vertex = ends.toDF("x", "lo", "hi").groupBy("x").agg(
        F.sum("lo").alias("lo"), F.max("hi").alias("hi")
    )
    unsettled = (F.col("lo") >= 2) | ((F.col("lo") == 1) & (F.col("hi") == 1))
    row = per_vertex.agg(F.count(F.when(unsettled, 1)), F.sum("lo")).first()
    return row[0], row[1] or 0


def cluster_assignments(files: DataFrame, edges: DataFrame) -> DataFrame:
    """Attach cluster ids to every file (singletons = own file_id).

    ``files`` needs (file_id, repo, path); ``edges`` is the union of exact /
    near / substring accepted edges.  Output: file_id, repo, path,
    cluster_id, with cluster_id = min file_id in the component.
    """
    labels = connected_components(edges)
    return files.select("file_id", "repo", "path").join(
        labels, "file_id", "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col("file_id")))


def cluster_summary(assignments: DataFrame) -> DataFrame:
    """Per-cluster aggregates — reference group fields analog
    (size, repo span, representative; src/cloud_duplicate_analyzer.py:412-428
    builds rel_path/matches/service_details per group).

    Quarantined rows (id-collision singletons, plans/pipeline.py) are excluded
    BEFORE grouping: their labels live in the file_id2 hash space, which is
    not structurally disjoint from the min-file_id label space, so grouping
    them together could alias a quarantined file into a real cluster's row.
    Dropping them here makes that aliasing impossible — a quarantined file is
    by construction never a member of any duplicate cluster.

    ``members`` holds at most ``MAX_MEMBERS_PER_GROUP`` members (first by (repo, path));
    counts and the ``repos`` set always cover the full cluster.  Uncapped,
    a mega-cluster (millions of identical lockfiles arriving through the
    exact star edges) materialized an unbounded single-buffer array — the
    fan-in shape exact_duplicate_groups caps one stage earlier (round-4
    review).  ``repos`` is a distinct-set column (bounded by repo count, not
    file count) so rollups never need the full member list.
    """
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
                        F.col("_rn") <= MAX_MEMBERS_PER_GROUP,
                        F.struct("repo", "path"),
                    )
                )
            ).alias("members"),
            F.sort_array(F.collect_set("repo")).alias("repos"),
        )
        .filter(F.col("n_files") >= 2)
    )
