"""IVF (inverted-file) approximate nearest neighbour: k-means coarse
quantizer + nprobe cell search.

The 100 TB ANN path past single-table hyperplane LSH (ROADMAP item 5): the
corpus is partitioned by nearest coarse centroid, a query scores exact cosine
against only the ``nprobe`` nearest cells instead of the whole table.  The
reference engine has no ANN analog (it is a filesystem dedup tool); this
operator exists for the training-data-pipeline surface the brief demands,
next to ``similarity.brute_force_topk`` (the exactness oracle) and
``similarity.lsh_bucketed_topk`` (the high-threshold hash path).

Scale design:
  * The quantizer is Spark ML KMeans (distributed fit, seeded → deterministic
    for a fixed input); at 10^9+ rows fit on a sample — the coarse cells only
    need to capture density, not every point.
  * The centroid matrix is tiny ((n_cells, dim) — e.g. 4096×1024 floats =
    16 MB) and ships inside the Arrow UDF closure: cell assignment is a
    narrow, shuffle-free map pass over the corpus, O(n_cells·dim) per row.
  * Search is one equi-join corpus(cell) ⋈ queries(probed cell) — a hash
    join on an int key; candidate volume is nprobe/n_cells of brute force.
  * Cosine on unit-normalized vectors == monotone in euclidean distance, so
    k-means cells (euclidean) are valid cosine neighbourhoods after
    normalization; all vectors are normalized before both fit and assign.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_dedup_spark.operators.similarity import (
    _capped_keys,
    _key_sharing_pairs,
    _rank_topk,
    _require_integral_ids,
    _score_blocked,
)


def fit_centroids(
    emb: DataFrame,
    n_cells: int,
    seed: int = 42,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    max_iter: int = 20,
) -> np.ndarray:
    """Fit the coarse quantizer; returns the (n_cells, dim) centroid matrix.

    Distributed Spark ML KMeans on unit-normalized vectors.  At 10^9+ rows
    pass ``sample_fraction`` — coarse cells are a density sketch, a 1% sample
    fits them as well as the full table at 100× the cost.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    src = emb if sample_fraction is None else emb.sample(sample_fraction, seed=seed)
    # L2-normalize BEFORE the fit (JVM-side): cells must partition the unit
    # sphere — the space assign-time cosine lives in — not raw euclidean
    # space, or the cosine-neighbourhood validity argument only holds for
    # corpora already near unit norm
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    unit = F.transform(
        dbl, lambda x: x / F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    )
    vecs = src.select(array_to_vector(unit).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(vecs)
    centers = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    norms = np.linalg.norm(centers, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return centers / norms


def save_centroids(spark, centroids: np.ndarray, path: str) -> None:
    """Persist the quantizer as a (cell, vec) stage table (parquet).

    The coarse quantizer is corpus state, not query state: at scale it is fit
    once (on a sample), checkpointed next to the other stage tables, and
    reused by every search/ingest batch — refitting k-means per query batch
    is the wrong plan (round-2 review).  Same write-once/read-back discipline
    as plans/pipeline.CheckpointStore.
    """
    rows = [(i, [float(x) for x in centroids[i]]) for i in range(len(centroids))]
    spark.createDataFrame(rows, "cell int, vec array<double>").write.mode(
        "overwrite"
    ).parquet(path)


def load_centroids(spark, path: str) -> np.ndarray:
    """Read a persisted quantizer back into the (n_cells, dim) matrix."""
    rows = spark.read.parquet(path).orderBy("cell").collect()
    return np.vstack([np.asarray(r["vec"], dtype=np.float64) for r in rows])


def quantizer_store_path(checkpoint_dir: str, key: str) -> str:
    """Canonical quantizer location inside a checkpoint store.

    The quantizer is corpus state like every other stage table, so it lives
    under the run's ``checkpoint_dir`` (the plans/pipeline.CheckpointStore
    root) — not under a driver-local /tmp convention, which on a cluster
    would be per-node and silently refit per executor host (round-3 verdict
    item 5).  ``key`` should carry the content fingerprint + config (cells,
    seed) so regenerated corpora never reuse stale centroids.
    """
    return f"{checkpoint_dir.rstrip('/')}/quantizer_{key}"


def fit_or_load_centroids(
    spark,
    emb: DataFrame,
    n_cells: int,
    path: str,
    seed: int = 42,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    max_iter: int = 20,
) -> np.ndarray:
    """Load the quantizer if the stage table exists, else fit + persist it.

    Deterministic either way (seeded KMeans on the same input yields the same
    centers), so warm and cold paths return identical search results — pinned
    by tests/test_similarity.py::test_ivf_fit_once_search_twice.

    Existence goes through the shared Hadoop-FS probe (fsutil — one copy of
    the _SUCCESS discipline with plans/pipeline.CheckpointStore.exists): a
    driver-local os.path check is always False for hdfs:///s3a:// paths,
    which would silently refit k-means on every call — the exact per-query
    refit this function exists to avoid.

    A loaded matrix whose cell count does not match ``n_cells`` (a stale
    cache key pointing two configs at one path) is refit and overwritten,
    never silently searched with the wrong quantizer (round-4 review).
    """
    from cloud_dedup_spark.fsutil import hadoop_success_exists

    if hadoop_success_exists(spark, path):
        loaded = load_centroids(spark, path)
        if loaded.shape[0] == n_cells:
            return loaded
    centroids = fit_centroids(
        emb, n_cells, seed=seed, vec_col=vec_col,
        sample_fraction=sample_fraction, max_iter=max_iter,
    )
    save_centroids(spark, centroids, path)
    return centroids


def cell_assign_udf(centroids: np.ndarray, n_assign: int = 1):
    """Arrow-batched UDF: embedding → array of the n_assign nearest cell ids.

    Cosine against the normalized centroid matrix (rows are unit-normalized
    inside the batch), argpartition for top-n — one GEMM per Arrow batch, no
    per-row Python.
    """
    cmat = centroids.astype(np.float64).T  # (dim, n_cells)
    n_cells = cmat.shape[1]
    n_take = min(n_assign, n_cells)

    @F.pandas_udf("array<int>")
    def assign(batch: pd.Series) -> pd.Series:
        mat = np.vstack(batch.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (mat / norms) @ cmat  # (rows, n_cells)
        if n_take == n_cells:
            top = np.argsort(-sims, axis=1)
        else:
            part = np.argpartition(-sims, n_take - 1, axis=1)[:, :n_take]
            order = np.argsort(-np.take_along_axis(sims, part, axis=1), axis=1)
            top = np.take_along_axis(part, order, axis=1)
        return pd.Series(list(top[:, :n_take].astype(np.int32)))

    return assign


def ivf_near_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    n_assign: int = 2,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    cell_cap: int | None = None,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-blocked near pairs: candidates share a coarse cell, then exact
    cosine re-scoring (ROADMAP 8 — the near-pair analog of ``ivf_topk``).

    The third scale path next to the exact ``similarity.cosine_near_pairs``
    oracle and the hash-blocked ``cosine_near_pairs_lsh``: on CLUSTERED
    corpora (real embedding spaces) k-means cells track density, so same-cell
    blocking prunes far harder than data-oblivious hyperplanes at equal
    recall; on near-isotropic data the LSH path is the honest choice
    (similarity.lsh_band_params regime note).  Precision is 1.0 by
    construction (exact re-score); recall grows with ``n_assign`` — each
    vector enters its n_assign nearest cells, so a pair is a candidate iff
    the cells overlap, and n_assign == n_cells degenerates to the exact
    all-pairs result (pinned in tests/test_similarity.py).

    ``nprobe`` (multi-probe, round-4 verdict item 6): when set, the corpus
    index stays SINGLE-cell (one row per vector; ``n_assign`` is ignored)
    and the recall lever moves to the probe side — each vector's candidate
    search expands to its cell's ``nprobe`` nearest cells by centroid
    cosine, a tiny (n_cells × nprobe) driver-computed map joined as a
    broadcast.  A pair is a candidate iff EITHER member's probe set covers
    the other's cell (both orientations are generated, so coverage is
    symmetric even though centroid-kNN is not).  Same recall lever as
    ``n_assign`` at roughly the same candidate volume, but the per-vector
    index cost stays 1 row — the shape ``ivf_topk`` already uses for
    queries, now available to pair mining; ``nprobe == n_cells``
    degenerates to the exact all-pairs result (pinned in
    tests/test_similarity.py).

    ``cell_cap``: optional skew guard — cells holding more than cap vectors
    are dropped from candidate generation (the same bounded-recall/bounded-
    fan-out contract as cosine_near_pairs_lsh's bucket_cap).
    """
    _require_integral_ids(emb, id_col)
    if nprobe is not None and nprobe < 1:
        # round-5 ADVICE: nprobe=0 built a multi-cell index (the truthiness
        # guard) while the probe branch ran with an EMPTY probe map —
        # silently zero pairs.  Fail loudly; both guards below use the same
        # `is not None` predicate.
        raise ValueError(f"nprobe must be >= 1 when set, got {nprobe}")
    if centroids is None:
        centroids = fit_centroids(emb, n_cells, seed=seed, vec_col=vec_col)
    assign = cell_assign_udf(
        centroids, n_assign=1 if nprobe is not None else n_assign
    )
    keyed = _capped_keys(emb, assign(F.col(vec_col)), "cell", cell_cap, id_col)
    if nprobe is not None:
        # centroid-adjacency probe map: rows are unit vectors, so the cosine
        # matrix is one tiny (n_cells × n_cells) GEMM on the driver
        spark = emb.sparkSession
        k = centroids.shape[0]
        n_take = min(nprobe, k)
        sims = centroids @ centroids.T
        order = np.argsort(-sims, axis=1)[:, :n_take]
        probe_rows = [
            (int(c), int(p)) for c in range(k) for p in order[c]
        ]
        probes = F.broadcast(
            spark.createDataFrame(probe_rows, "cell int, probe_cell int")
        )
        x = (
            keyed.join(probes, "cell")
            .select("vid", F.col("probe_cell").alias("jcell"))
        )
        y = keyed.select(
            F.col("vid").alias("other_vid"), F.col("cell").alias("jcell")
        )
        cand = (
            x.join(y, "jcell")
            .filter(F.col("vid") != F.col("other_vid"))
            .select(
                F.least("vid", "other_vid").alias("id_a"),
                F.greatest("vid", "other_vid").alias("id_b"),
            )
            .distinct()
        )
    else:
        cand = _key_sharing_pairs(keyed, "cell")
    return _score_blocked(emb, cand, threshold, id_col, vec_col)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k: exact cosine, but only against the query's nprobe cells.

    Same output contract as ``brute_force_topk`` (query_id, neighbor_id,
    rank, score; ties broken by neighbour id).  Recall@k < 1 by construction
    (cell pruning); tests/test_similarity.py pins it against the brute-force
    oracle.  Pass a precomputed ``centroids`` matrix to skip the fit (e.g.
    reusing a checkpointed quantizer across incremental runs).
    """
    if centroids is None:
        centroids = fit_centroids(emb, n_cells, seed=seed, vec_col=vec_col)
    corpus_cell = cell_assign_udf(centroids, n_assign=1)
    query_cells = cell_assign_udf(centroids, n_assign=nprobe)

    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.element_at(corpus_cell(F.col(vec_col)), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(query_cells(F.col(vec_col))).alias("cell"),
    )
    return _rank_topk(q.join(c, "cell"), k)
