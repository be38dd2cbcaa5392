"""Similarity search over embedding frames of one shape, ``(vec_id,
embedding array<float>)``; a caller with other column names projects first.

Brute-force cosine top-k as the exactness baseline, plus hyperplane-LSH and
IVF (operators/ivf.py) blocked variants as the scale paths — the ANN analog
of the dedup pipeline's MinHash/LSH staging (cheap blocking first, exact
scoring after; reference staging principle X3,
src/cloud_duplicate_analyzer.py:245-258).

All cosine arithmetic goes through one numpy row kernel, ``_cosine_rows``
(float64 row dot, norm product, zero-norm → -1.0), reached through
three shared pieces:
  * ``cosine_udf`` — the Arrow-vectorized per-row scorer;
  * ``_rank_topk`` — the top-k tail of every ``*_topk`` operator;
  * ``_score_blocked`` — the blocked pair scorer behind every near-pair
    operator, exact (all pairs) or over a candidate frame (LSH/IVF).
Scores are rounded to 4dp JVM-side; the DuckDB oracles of ``ann_topk`` and
``emb_near_pairs`` (__spark_entry__.py) recompute them with
``list_cosine_similarity`` and agree at that precision.

Scale notes: brute force is O(Q·N) — fine when Q (query set) is small and
broadcast; the LSH variant prunes N to a bucket. For 100 TB-scale ANN the
round-2 path is IVF: k-means coarse centroids (Spark ML), partition by
nearest centroid, search nprobe partitions.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

# hyperplane seed of every LSH operator: planes, and so buckets, are the same
# across runs and cluster sizes
PLANE_SEED = 42
# rows per hash block of the blocked pair scorer (``_score_blocked``)
BLOCK_SIZE = 256
# the band count cap of ``lsh_band_params``
MAX_BANDS = 48


def _cosine_rows(pa: np.ndarray, pb: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two (rows, dim) float64 matrices.

    Zero-norm rows score -1.0 (similar to nothing), never NaN: Spark's total
    ordering puts NaN above every number, so an unguarded 0/0 made a zero
    vector pass every ``>= threshold`` filter and outrank every real
    neighbour (round-4 review)."""
    dots = np.einsum("ij,ij->i", pa, pb)
    norms = np.linalg.norm(pa, axis=1) * np.linalg.norm(pb, axis=1)
    zero = norms == 0.0
    return np.where(zero, -1.0, dots / np.where(zero, 1.0, norms))


def cosine_udf(a, b) -> F.Column:
    """Arrow-vectorized cosine: whole batch as two (rows, dim) matrices.

    numpy's pairwise summation differs from a sequential fold only at
    ~1e-16 relative error — far inside the 4dp rounding used by callers.
    (Constructed lazily: pandas_udf registration needs an active session.)
    """

    @F.pandas_udf("double")
    def _cos(xa: pd.Series, xb: pd.Series) -> pd.Series:
        return pd.Series(
            _cosine_rows(
                np.vstack(xa.to_numpy()).astype(np.float64),
                np.vstack(xb.to_numpy()).astype(np.float64),
            )
        )

    return _cos(a, b)


def _rank_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Top-k tail of every ``*_topk`` operator.

    ``pairs`` holds (query_id, q_vec, neighbor_id, c_vec) rows; self-matches
    are dropped, every pair is scored at 4dp, and each query keeps its ``k``
    best, ties broken by neighbour id for determinism (reference X9).
    Output: query_id, neighbor_id, rank, score."""
    scored = pairs.filter(F.col("query_id") != F.col("neighbor_id")).withColumn(
        "score", F.round(cosine_udf(F.col("q_vec"), F.col("c_vec")), 4)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k neighbours for each query vector.

    ``queries`` is expected to be small → broadcast; the corpus side streams.
    Output: query_id, neighbor_id, rank, score (``_rank_topk``).
    """
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    return _rank_topk(q.crossJoin(c), k)


def _require_integral_ids(emb: DataFrame) -> None:
    """The near-pair scorer emits ``long`` ids; anything else would only
    fail inside a Python worker at action time.  Reads the schema — no job."""
    id_type = emb.schema["vec_id"].dataType
    if not isinstance(id_type, IntegralType):
        raise ValueError(
            "near-pair id column 'vec_id' must be an integer type, got "
            f"{id_type.simpleString()}"
        )


def _score_blocked(emb: DataFrame, cand: DataFrame | None, threshold: float) -> DataFrame:
    """Exact 4dp cosine near pairs (id_a < id_b, score), blocked.

    Vectors are packed into ~``BLOCK_SIZE``-row hash blocks, so each vector
    crosses the Arrow boundary once per touched block pair instead of once
    per pair (guide §4 "shuffle keys and metadata, not payloads"):
      * ``cand is None`` — every pair: blocks self-join on ``gid <= gid``
        and one Arrow row per block pair scores all its cross pairs (the
        upper triangle on the diagonal);
      * otherwise ``cand`` is an ``(id_a, id_b)`` candidate frame; its pairs
        cross as 16-byte id pairs grouped per ``(ga, gb)`` block pair, and
        a pair with an id that has no row in ``emb`` is dropped (inner-join
        semantics).
    Pairs of two equal ids (a duplicated id in ``emb``) are dropped, so
    ``id_a < id_b`` holds strictly.  Only pairs within one conservative
    rounding step of the threshold leave Python; the authoritative
    round(4dp)-then-filter stays JVM-side, so results equal the unblocked
    ``cosine_udf`` crossJoin exactly (pinned in tests/test_similarity.py).
    """
    n = emb.select("vec_id").count()
    n_blocks = max(1, math.ceil(n / BLOCK_SIZE))

    def _gid(c):
        return F.pmod(F.xxhash64(F.col(c)), F.lit(n_blocks))

    packed = (
        emb.select(
            _gid("vec_id").alias("gid"),
            F.struct(
                F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
            ).alias("item"),
        )
        .groupBy("gid")
        .agg(F.collect_list("item").alias("items"))
    )
    if cand is None:
        x, y = packed.alias("x"), packed.alias("y")
        blocks = x.join(y, F.col("x.gid") <= F.col("y.gid")).select(
            F.col("x.items").alias("items_a"),
            F.col("y.items").alias("items_b"),
            (F.col("x.gid") == F.col("y.gid")).alias("same"),
            # NULL pairs: the UDF scores every pair of the block pair
            F.lit(None).cast("array<struct<id_a:long,id_b:long>>").alias("pairs"),
        )
    else:
        blocks = (
            cand.select(
                "id_a", "id_b", _gid("id_a").alias("ga"), _gid("id_b").alias("gb")
            )
            .groupBy("ga", "gb")
            .agg(F.collect_list(F.struct("id_a", "id_b")).alias("pairs"))
            .join(
                packed.select(F.col("gid").alias("ga"), F.col("items").alias("items_a")),
                "ga",
            )
            .join(
                packed.select(F.col("gid").alias("gb"), F.col("items").alias("items_b")),
                "gb",
            )
            .select(
                "items_a", "items_b", (F.col("ga") == F.col("gb")).alias("same"), "pairs"
            )
        )
    # conservative Python-side prefilter: round-half-up at 4dp keeps a pair
    # iff raw >= threshold - 5e-5 (threshold is a 4dp value); the extra 1e-9
    # covers double representation of the boundary.  No pair the JVM filter
    # would keep can be dropped here.
    margin = threshold - 5e-5 - 1e-9

    @F.pandas_udf("array<struct<id_a:long,id_b:long,score:double>>")
    def _pair_scores(
        items_a: pd.Series, items_b: pd.Series, same: pd.Series, pairs: pd.Series
    ) -> pd.Series:
        out = []
        for ia, ib, s, prs in zip(items_a, items_b, same, pairs):
            ids_a = np.array([r["id"] for r in ia], dtype=np.int64)
            ma = np.vstack([r["vec"] for r in ia]).astype(np.float64)
            if s:
                ids_b, mb = ids_a, ma
            else:
                ids_b = np.array([r["id"] for r in ib], dtype=np.int64)
                mb = np.vstack([r["vec"] for r in ib]).astype(np.float64)
            if prs is not None:
                # a pair with an id that has no row in ``emb`` has nothing
                # to score and is skipped, as an inner join would drop it
                pos_a = {r["id"]: i for i, r in enumerate(ia)}
                pos_b = {r["id"]: i for i, r in enumerate(ib)}
                iu, ju = [], []
                for p in prs:
                    i, j = pos_a.get(p["id_a"]), pos_b.get(p["id_b"])
                    if i is not None and j is not None:
                        iu.append(i)
                        ju.append(j)
                iu = np.array(iu, dtype=np.int64)
                ju = np.array(ju, dtype=np.int64)
            elif s:
                iu, ju = np.triu_indices(len(ids_a), k=1)
            else:
                iu = np.repeat(np.arange(len(ids_a)), len(ids_b))
                ju = np.tile(np.arange(len(ids_b)), len(ids_a))
            score = _cosine_rows(ma[iu], mb[ju])
            id_lo = np.minimum(ids_a[iu], ids_b[ju])
            id_hi = np.maximum(ids_a[iu], ids_b[ju])
            keep = (score >= margin) & (id_lo != id_hi)
            out.append(
                [
                    {"id_a": int(x), "id_b": int(y), "score": float(v)}
                    for x, y, v in zip(id_lo[keep], id_hi[keep], score[keep])
                ]
            )
        return pd.Series(out)

    return (
        blocks.select(
            F.explode(
                _pair_scores(
                    F.col("items_a"), F.col("items_b"), F.col("same"), F.col("pairs")
                )
            ).alias("p")
        )
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            F.round(F.col("p.score"), 4).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def cosine_near_pairs(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — embedding near-dup channel.

    The exact twin of the LSH/IVF scale paths: ``_score_blocked`` over every
    block pair.  Each vector crosses the Python boundary ~N/BLOCK_SIZE times
    instead of N times, with results identical to the pair-row crossJoin.
    """
    _require_integral_ids(emb)
    return _score_blocked(emb, None, threshold)


def _planes(state: dict, dim: int, n: int) -> np.ndarray:
    """The (dim, n) ``PLANE_SEED`` plane matrix, built on a UDF's first
    batch: the vector width is a column type property, so no driver-side
    ``.first()`` action is needed to size it."""
    if "planes" not in state:
        state["planes"] = np.random.RandomState(PLANE_SEED).standard_normal((dim, n))
    return state["planes"]


def hyperplane_signature_udf(n_planes: int = 16):
    """Vectorized random-hyperplane SimHash over embeddings → int bucket.

    Arrow-batched (input_hint: no per-row Python); the projection matrix is
    seed-deterministic (``_planes``)."""
    state: dict = {}

    @F.pandas_udf("long")
    def signature(batch: pd.Series) -> pd.Series:
        mat = np.vstack(batch.to_numpy())  # (rows, dim)
        planes = _planes(state, mat.shape[1], n_planes)
        bits = (mat @ planes) >= 0  # (rows, n_planes)
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        return pd.Series(bits.astype(np.int64) @ weights)

    return signature


def lsh_band_params(threshold: float, target_recall: float = 0.98) -> tuple[int, int]:
    """Solve (rows_per_band r, n_bands b) for banded hyperplane LSH.

    Collision model (Charikar SimHash): a pair at cosine s agrees on one
    hyperplane bit with p = 1 − arccos(s)/π; a band of r planes collides with
    p^r; recall over b bands = 1 − (1 − p^r)^b.  We pick the LARGEST r whose
    required b stays ≤ MAX_BANDS — larger r means exponentially more
    selective bands (2^r buckets each), i.e. better pruning per unit recall.

    Honest regime note: pruning power is the gap between p^r for near pairs
    and 0.5^r for random pairs.  At s ≥ 0.8 (p ≥ 0.80) this gap is large and
    LSH prunes hard; at s ≈ 0.4 (p ≈ 0.63) no (r, b) prunes much — blocked
    candidate volume stays a large fraction of N², and the win over the
    crossJoin is bounded.  Low-threshold all-pairs similarity is inherently
    near-quadratic; use a higher threshold or top-k IVF (operators/ivf.py)
    at scale.
    """
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    best = (2, MAX_BANDS)
    for r in (2, 3, 4, 6, 8, 10, 12, 16):
        pr = p**r
        # pr == 0 (threshold -1) or pr underflowing so 1-pr rounds to 1.0
        # made log(1-pr) == 0 → ZeroDivisionError; such r values simply
        # cannot reach the target recall with finite bands — skip them
        if pr >= 1.0 or 1.0 - pr >= 1.0:
            continue
        b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr))
        if b <= MAX_BANDS:
            best = (r, b)
    return best


def hyperplane_band_keys_udf(n_bands: int, rows_per_band: int):
    """Arrow-batched UDF: embedding → array of ``n_bands`` band keys.

    Band key = (band_idx << rows_per_band) | bucket_bits, so keys are unique
    across bands and a single explode + equi-join does the multi-band
    blocking.  Plane matrix as in ``hyperplane_signature_udf``.
    """
    total = n_bands * rows_per_band
    state: dict = {}
    weights = 1 << np.arange(rows_per_band, dtype=np.int64)
    band_offsets = (np.arange(n_bands, dtype=np.int64) << rows_per_band)

    @F.pandas_udf("array<long>")
    def band_keys(batch: pd.Series) -> pd.Series:
        mat = np.vstack(batch.to_numpy())
        bits = ((mat @ _planes(state, mat.shape[1], total)) >= 0).astype(np.int64)
        # (rows, n_bands, rows_per_band) @ (rows_per_band,) → (rows, n_bands)
        keys = bits.reshape(len(mat), n_bands, rows_per_band) @ weights
        keys += band_offsets  # disjoint key spaces per band
        return pd.Series(list(keys))

    return band_keys


def _keyed(emb: DataFrame, keys: F.Column, key: str) -> DataFrame:
    """(vid, key) rows, one per blocking key of each vector, materialized.

    The cut matters: the keyed frame feeds BOTH sides of the self-join, and
    uncut each subtree re-runs the full-corpus key UDF (2-3× the projection
    work per call — round-4 review).  Narrow rows: cheap to store."""
    return emb.select(
        F.col("vec_id").alias("vid"), F.explode(keys).alias(key)
    ).localCheckpoint()


def _key_sharing_pairs(keyed: DataFrame, key: str) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs of vectors sharing a key."""
    return (
        keyed.alias("x")
        .join(keyed.alias("y"), key)
        .filter(F.col("x.vid") < F.col("y.vid"))
        .select(F.col("x.vid").alias("id_a"), F.col("y.vid").alias("id_b"))
        .distinct()
    )


def cosine_near_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.95,
    target_recall: float = 0.98,
) -> DataFrame:
    """LSH-blocked near pairs: multi-band hyperplane buckets → exact cosine.

    The scale twin of ``cosine_near_pairs`` (which stays as the small-N
    oracle): candidates come from an equi-join on band keys (shuffle join,
    NO cartesian in the plan), then every candidate is exactly re-scored and
    thresholded by ``_score_blocked``, so precision is 1.0 by construction
    and recall follows the banded-LSH model in ``lsh_band_params`` (pinned
    ≥ 0.95 vs the exact twin in tests/test_similarity.py).
    """
    _require_integral_ids(emb)
    rows_per_band, n_bands = lsh_band_params(threshold, target_recall)
    keys = hyperplane_band_keys_udf(n_bands, rows_per_band)
    keyed = _keyed(emb, keys(F.col("embedding")), "band_key")
    return _score_blocked(emb, _key_sharing_pairs(keyed, "band_key"), threshold)


def lsh_bucketed_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 12,
) -> DataFrame:
    """Approximate top-k: exact cosine but only within the query's LSH bucket.

    Recall < 1 by construction (bucket pruning); the scale win is turning the
    crossJoin into an equi-join on ``bucket``.
    """
    sig = hyperplane_signature_udf(n_planes)
    emb_b = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        sig(F.col("embedding")).alias("bucket"),
    )
    q_b = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        sig(F.col("embedding")).alias("bucket"),
    )
    return _rank_topk(q_b.join(emb_b, "bucket"), k)
