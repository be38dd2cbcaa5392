"""Embedding similarity: brute-force cosine correctness + LSH bucket sanity +
recall pins for the scale paths (banded-LSH near pairs, IVF top-k) against
their exact twins."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F2

from cloud_dedup_spark.operators.ivf import ivf_topk
from cloud_dedup_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_pairs,
    cosine_near_pairs_lsh,
    lsh_band_params,
    lsh_bucketed_topk,
)

SF_EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.7, 0.7, 0.0]),   # between 0 and 2
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_topk_ordering_and_scores(spark, emb):
    q = emb.filter("vec_id = 0")
    got = brute_force_topk(emb, q, k=4).collect()
    order = [r["neighbor_id"] for r in got]
    assert order == [1, 4, 2, 3]
    scores = {r["neighbor_id"]: r["score"] for r in got}
    assert scores[1] == round(0.9 / math.sqrt(0.81 + 0.01), 4)
    assert scores[2] == 0.0 and scores[3] == -1.0
    assert [r["rank"] for r in got] == [1, 2, 3, 4]


def test_near_pairs_threshold(spark, emb):
    got = {(r["id_a"], r["id_b"]) for r in cosine_near_pairs(emb, 0.9).collect()}
    assert (0, 1) in got
    assert (0, 3) not in got and (0, 2) not in got
    # a duplicated id lands twice in one block; its two rows must not come
    # out as an (id, id) self-pair — id_a < id_b holds strictly
    dup = emb.union(
        spark.createDataFrame([(1, [0.9, 0.1, 0.0])],
                              "vec_id long, embedding array<float>")
    )
    got_dup = {(r["id_a"], r["id_b"])
               for r in cosine_near_pairs(dup, 0.9).collect()}
    assert got_dup == got
    assert all(a < b for a, b in got_dup)


def test_near_pairs_reject_non_integer_ids(spark):
    """The scorer emits long ids: a string id column fails when the
    operator is called, not inside a Python worker at action time."""
    from cloud_dedup_spark.operators.ivf import ivf_near_pairs

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1])], "vec_id string, embedding array<float>"
    )
    for op in (cosine_near_pairs, cosine_near_pairs_lsh, ivf_near_pairs):
        with pytest.raises(ValueError, match="integer"):
            op(emb, 0.9)


def test_lsh_topk_subset_of_bruteforce(spark, emb):
    """Bucketed results are a subset of exact results for the same query, and
    identical vectors always share a bucket (recall floor for exact dups)."""
    q = emb.filter("vec_id = 0")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb, q, k=4).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in lsh_bucketed_topk(emb, q, k=4, n_planes=4).collect()}
    assert approx <= exact or len(approx) <= len(exact)
    # identical vector → same signature → guaranteed found
    emb2 = emb.union(
        spark.createDataFrame([(99, [1.0, 0.0, 0.0])],
                              "vec_id long, embedding array<float>")
    )
    found = {r["neighbor_id"]
             for r in lsh_bucketed_topk(emb2, q, k=5, n_planes=4).collect()}
    assert 99 in found


def test_band_params_solver():
    """More selective bands (higher r) at higher thresholds; recall model
    monotone in b; every returned b within the cap."""
    for s in (0.4, 0.8, 0.9, 0.95):
        r, b = lsh_band_params(s, target_recall=0.98)
        assert 2 <= r and b <= 48
    r_low, _ = lsh_band_params(0.4)
    r_high, _ = lsh_band_params(0.9)
    assert r_high >= r_low  # high threshold affords more selective bands


@pytest.fixture(scope="module")
def emb_real(spark):
    return spark.read.parquet(SF_EMB).cache()


def test_blocked_near_pairs_match_crossjoin(spark, emb_real):
    """round-6: cosine_near_pairs moved from a pair-row crossJoin to blocked
    Arrow scoring (each vector crosses the Python boundary ~G times instead
    of N times).  The blocked form must equal the old crossJoin+cosine_udf
    formulation EXACTLY — same pairs, same 4dp scores — for both the
    multi-block and the single-block (everything in one bucket) shapes."""
    from cloud_dedup_spark.operators.similarity import cosine_udf

    a = emb_real.select(
        F2.col("vec_id").alias("id_a"), F2.col("embedding").alias("vec_a")
    )
    b = emb_real.select(
        F2.col("vec_id").alias("id_b"), F2.col("embedding").alias("vec_b")
    )
    reference = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in (
            a.crossJoin(b)
            .filter(F2.col("id_a") < F2.col("id_b"))
            .withColumn(
                "score",
                F2.round(cosine_udf(F2.col("vec_a"), F2.col("vec_b")), 4),
            )
            .filter(F2.col("score") >= 0.4)
            .select("id_a", "id_b", "score")
        ).collect()
    }
    for block_size in (7, 10_000):
        got = {
            (r["id_a"], r["id_b"]): r["score"]
            for r in cosine_near_pairs(
                emb_real, 0.4, block_size=block_size
            ).collect()
        }
        assert got == reference, f"block_size={block_size}"


def test_lsh_near_pairs_recall_vs_exact(spark, emb_real):
    """The banded-LSH scale twin must recover ≥95% of the exact crossJoin's
    pairs at the same threshold, with identical scores on every pair it
    returns (precision 1.0: candidates are exactly re-scored)."""
    exact = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_near_pairs(emb_real, 0.4).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_near_pairs_lsh(emb_real, 0.4, target_recall=0.98).collect()
    }
    assert len(exact) > 0
    assert set(approx) <= set(exact)  # precision 1.0
    for pair, score in approx.items():
        assert score == exact[pair]
    recall = len(approx) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f} over {len(exact)} pairs"


def test_lsh_near_pairs_plan_has_no_cartesian(spark, emb_real):
    """Blocking must be an equi-join on band keys — the whole point is that
    no cartesian/nested-loop join appears in the plan (round-1 review: the
    exact twin's crossJoin is the textbook 100×-scale killer)."""
    plan = _plan(cosine_near_pairs_lsh(emb_real, 0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_near_pairs_bucket_cap_drops_hot_buckets(spark, emb_real):
    """With an aggressive cap the operator still runs and returns a subset."""
    full = {(r["id_a"], r["id_b"])
            for r in cosine_near_pairs_lsh(emb_real, 0.4).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in cosine_near_pairs_lsh(emb_real, 0.4, bucket_cap=50).collect()}
    assert capped <= full


def test_multi_probe_lifts_lsh_recall(spark, emb_real):
    """Multi-probe (flip each plane bit → n_planes+1 probes) must recover at
    least every pair single-probe finds, and measurably more on this
    near-isotropic corpus where bucket boundaries cut true neighbours."""
    queries = emb_real.filter("vec_id % 50 = 0")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb_real, queries, k=3).collect()}
    # n_planes=4: near-isotropic corpus, neighbours at cos≈0.4 → per-plane
    # agreement p≈0.63, single-bucket hit p⁴≈0.16, +4·p³(1−p)≈0.37 with
    # 1-flip probes — enough signal to pin the lift direction robustly
    single = {(r["query_id"], r["neighbor_id"])
              for r in lsh_bucketed_topk(
                  emb_real, queries, k=3, n_planes=4).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in lsh_bucketed_topk(
                 emb_real, queries, k=3, n_planes=4, multi_probe=True).collect()}
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single
    assert r_multi >= 0.25, f"multi-probe recall {r_multi:.2f} implausibly low"


def test_ivf_topk_recall_vs_brute(spark, emb_real):
    """IVF(nprobe) recall@3 vs the brute-force oracle, pinned ≥ 0.9; plan is
    an equi-join on cell id — no cartesian."""
    # This synthetic corpus is nearly isotropic (top neighbours sit at
    # cos ≈ 0.4-0.6, close to random directions), the hard case for any
    # space-partitioning ANN — recall 0.9 needs probing ~10/16 cells here;
    # clustered real embedding corpora prune far harder at equal recall.
    queries = emb_real.filter("vec_id % 50 = 0")
    ivf = ivf_topk(emb_real, queries, k=3, n_cells=16, nprobe=10)
    plan = _plan(ivf)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb_real, queries, k=3).collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"recall@3 {recall:.3f}"


def test_ivf_topk_contract(spark, emb_real):
    """Same output contract as brute_force_topk: k rows per query, ranks
    1..k, scores non-increasing within a query."""
    queries = emb_real.filter("vec_id % 100 = 0")
    rows = ivf_topk(emb_real, queries, k=3, n_cells=8, nprobe=8).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["score"]))
    for q, rs in by_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        scores = [x[1] for x in rs]
        assert scores == sorted(scores, reverse=True)
    # nprobe == n_cells probes everything → identical to brute force
    exact = {(r["query_id"], r["neighbor_id"], r["rank"])
             for r in brute_force_topk(emb_real, queries, k=3).collect()}
    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows}
    assert got == exact


def test_ivf_fit_once_search_twice(spark, emb_real, tmp_path):
    """Quantizer reuse (round-2 review): persisting the seeded k-means
    centroids as a stage table and searching with the warm matrix must return
    exactly the per-call-fit results — twice — so the search job never needs
    to refit at scale."""
    from cloud_dedup_spark.operators.ivf import fit_or_load_centroids

    queries = emb_real.filter("vec_id % 50 = 0")
    per_call = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in ivf_topk(emb_real, queries, k=3, n_cells=8, nprobe=4).collect()
    }
    path = str(tmp_path / "quantizer")
    cold = fit_or_load_centroids(spark, emb_real, n_cells=8, path=path)
    warm = fit_or_load_centroids(spark, emb_real, n_cells=8, path=path)
    assert (cold == warm).all()
    for cent in (cold, warm):
        got = {
            (r["query_id"], r["neighbor_id"], r["rank"], r["score"])
            for r in ivf_topk(
                emb_real, queries, k=3, n_cells=8, nprobe=4, centroids=cent
            ).collect()
        }
        assert got == per_call


def test_ivf_near_pairs_exact_when_probing_everything(spark, emb_real):
    """n_assign == n_cells puts every vector in every cell → candidate set is
    complete and the result equals the exact all-pairs twin, proving the
    re-scoring path adds no approximation of its own."""
    from cloud_dedup_spark.operators.ivf import ivf_near_pairs

    exact = {(r["id_a"], r["id_b"], r["score"])
             for r in cosine_near_pairs(emb_real, 0.4).collect()}
    got = {(r["id_a"], r["id_b"], r["score"])
           for r in ivf_near_pairs(
               emb_real, 0.4, n_cells=8, n_assign=8).collect()}
    assert got == exact


def test_ivf_near_pairs_blocked_subset_no_cartesian(spark, emb_real):
    """With real pruning (n_assign < n_cells) the result is a PRECISION-1.0
    subset of the exact twin, the plan is an equi-join on cell (no
    cartesian), and recall on this corpus stays useful."""
    from cloud_dedup_spark.operators.ivf import ivf_near_pairs

    exact = {(r["id_a"], r["id_b"])
             for r in cosine_near_pairs(emb_real, 0.4).collect()}
    df = ivf_near_pairs(emb_real, 0.4, n_cells=8, n_assign=4)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r["id_a"], r["id_b"]) for r in df.collect()}
    assert got <= exact  # exact re-score ⇒ no false positives
    recall = len(got & exact) / len(exact)
    # near-isotropic corpus = the hard case for density blocking (the module
    # docstring says so); half the cells probed must still find over half
    assert recall >= 0.5, f"recall {recall:.2f}"


def test_ivf_near_pairs_multiprobe(spark, emb_real):
    """Round-4 verdict item 6: multi-probe pair mining — corpus indexed at
    ONE row per vector, recall recovered by probing each cell's nprobe
    nearest cells.  nprobe == n_cells degenerates to the exact all-pairs
    twin (scores included); a pruned nprobe stays a precision-1.0 subset
    with useful recall and no cartesian in the plan."""
    from cloud_dedup_spark.operators.ivf import ivf_near_pairs

    exact = {(r["id_a"], r["id_b"], r["score"])
             for r in cosine_near_pairs(emb_real, 0.4).collect()}
    full = {(r["id_a"], r["id_b"], r["score"])
            for r in ivf_near_pairs(
                emb_real, 0.4, n_cells=8, nprobe=8).collect()}
    assert full == exact

    df = ivf_near_pairs(emb_real, 0.4, n_cells=8, nprobe=4)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r["id_a"], r["id_b"]) for r in df.collect()}
    exact_pairs = {(a, b) for a, b, _ in exact}
    assert got <= exact_pairs  # exact re-score ⇒ no false positives
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"recall {recall:.2f}"


def test_zero_norm_vectors_never_outrank_or_match(spark):
    """Round-4 review: an unguarded 0/0 cosine is NaN (NaN > everything in
    Spark's total ordering → rank-1 false neighbour, passes every
    threshold).  The one cosine kernel scores zero-norm vectors -1.0:
    similar to nothing, ranked behind every real neighbour, and consistent
    across brute/LSH/IVF."""
    from cloud_dedup_spark.operators.ivf import ivf_near_pairs

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),   # zero-norm (a dead/defaulted embedding)
        (3, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 0")
    # brute force: zero vector ranks LAST with score -1.0, never NaN
    got = brute_force_topk(emb, q, k=3).collect()
    assert [r["neighbor_id"] for r in got] == [1, 3, 2]
    assert got[-1]["score"] == -1.0
    # ivf_topk probing every cell (exhaustive): same ordering, no NaN
    # rank-1 zero vector
    got_ivf = ivf_topk(emb, q, k=3, n_cells=2, nprobe=2).collect()
    assert [r["neighbor_id"] for r in got_ivf] == [1, 3, 2]
    assert got_ivf[0]["neighbor_id"] == 1 and got_ivf[-1]["score"] == -1.0
    # near pairs: the zero vector matches NOTHING at any real
    # threshold — it must not appear as a false near-dup of every vector
    pairs = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_pairs_lsh(
            emb, threshold=0.4, rows_per_band=2, n_bands=8
        ).collect()
    }
    assert all(2 not in p for p in pairs)
    pairs_ivf = {
        (r["id_a"], r["id_b"])
        for r in ivf_near_pairs(emb, threshold=0.4, n_cells=2, n_assign=2).collect()
    }
    assert all(2 not in p for p in pairs_ivf)


def test_lsh_band_params_extreme_thresholds_do_not_crash():
    """pr == 0 (threshold -1) and pr-underflow (strongly negative
    thresholds) made log(1-pr) zero → ZeroDivisionError (round-4 review)."""
    for t in (-1.0, -0.99, -0.97, 0.0, 0.5, 1.0, 2.0):
        r, b = lsh_band_params(t)
        assert r >= 2 and b >= 1


def test_quantizer_cache_refits_on_cell_count_mismatch(spark, tmp_path):
    """A stale cache (same path, different n_cells config) must be refit and
    overwritten, never silently searched with the wrong quantizer."""
    from cloud_dedup_spark.operators.ivf import fit_or_load_centroids

    emb = spark.read.parquet(SF_EMB)
    path = str(tmp_path / "quant")
    c16 = fit_or_load_centroids(spark, emb, n_cells=16, path=path, seed=42)
    assert c16.shape[0] == 16
    c8 = fit_or_load_centroids(spark, emb, n_cells=8, path=path, seed=42)
    assert c8.shape[0] == 8
    # and the overwrite is durable: a third call warm-loads the 8-cell matrix
    import numpy as np

    c8b = fit_or_load_centroids(spark, emb, n_cells=8, path=path, seed=42)
    assert np.allclose(c8, c8b)
