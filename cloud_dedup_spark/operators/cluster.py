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
then one pointer jump, label(v) ← label(label(v)), iterated until no label
changes.  The round count follows the diameter and the id order along it: a
pure-Python model of the rule (counting the round that finds no change)
needed 6, 8 and 10 rounds on paths of 40, 150 and 1000 nodes with sorted
ids, but 13-34, 43-74 and 303-334 over five random id orders each.
Dup clusters are near-cliques plus short substring chains, so most
components take few rounds; a long chain takes many, and past
``MAX_CC_ROUNDS`` the loop raises rather than return unconverged labels.

Scale notes per round: the edge-label join and the groupBy by id shuffle.
Each round's labels are persisted, counted and then cut from their lineage
with ``localCheckpoint``.  The cut keeps the plan one round deep: uncut, the
plan doubles each round and the job dies on plan-compile time long before
data size matters (SURVEY.md §7.4 item 2).  The count loads the cache before
the cut, so the checkpoint carries the cache's real size: a checkpoint of the
unloaded plan carries the join size estimate, a product of its inputs' that
compounds round over round until the driver heap runs out.  On a durable
cluster run, swap localCheckpoint for a checkpoint/Iceberg stage-table write
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
# round bound of the distributed loop: a 150-node path with random ids took
# 53 rounds (16 s on a 4-vCPU host); a 1000-node one needs about 300 and
# raises
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
        return _hash_to_min(edges)
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


def _hash_to_min(edges: DataFrame) -> DataFrame:
    """The distributed loop of ``connected_components`` (module docstring).

    The returned labels are the last round's cache and stay persisted for
    the caller's reads."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # lazy checkpoints: under AQE the call itself runs every shuffle and
    # broadcast stage of its plan, on this thread (a groupBy + broadcast-join
    # frame ran 2 jobs at the call and 2 more at its count; with AQE off, 1
    # at the call); eager=False saves only the checkpoint's own collect job
    labels = (
        sym.select(F.col("src").alias("file_id"))
        .distinct()
        .withColumn("cluster_id", F.col("file_id"))
        .localCheckpoint(eager=False)
    )
    sym = sym.localCheckpoint(eager=False)
    cached = None
    for _ in range(MAX_CC_ROUNDS):
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
        # pointer-jumping step: label ← label(label); it collapses a chain
        # whose ids ascend along it in O(log length) rounds, but a chain of
        # random ids still takes O(length) (module docstring)
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
            .persist()
        )
        # one count per round loads the cache and checks convergence; the
        # previous round's cache has fed this round's checkpoint by then
        changed = new_labels.filter(F.col("cluster_id") != F.col("_old")).count()
        if cached is not None:
            cached.unpersist()
        cached = new_labels
        if changed == 0:
            return new_labels.drop("_old")
        labels = new_labels.drop("_old").localCheckpoint(eager=False)
    cached.unpersist()
    raise RuntimeError(
        f"connected_components: labels still changing after {MAX_CC_ROUNDS} rounds"
    )


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
                        F.col("_rn") <= MAX_MEMBERS_PER_GROUP,
                        F.struct("repo", "path"),
                    )
                )
            ).alias("members"),
            F.sort_array(F.collect_set("repo")).alias("repos"),
        )
        .filter(F.col("n_files") >= 2)
    )
