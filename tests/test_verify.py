"""Verification decision table — the graft's analog of the reference's
``TestClassifyPair`` suite (tests/test_cloud_duplicate_analyzer.py:19-99):
one test per cell of the accept/reject table, driven through the real
candidate + verify operators on constructed content."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cloud_dedup_spark.config import DedupConfig
from cloud_dedup_spark.corpus import _Gen, _half_rewrite, _near_edit
from cloud_dedup_spark.functions.normalize import with_identity
from cloud_dedup_spark.operators.candidates import explode_bands, lsh_candidate_pairs
from cloud_dedup_spark.operators.signatures import compute_signatures
from cloud_dedup_spark.operators.verify import verify_pairs

CFG = DedupConfig()


def _verify_two(spark, content_a: str, content_b: str):
    """Run the real signature→LSH→verify path on a two-file corpus; return the
    verified row for the pair or None if LSH produced no candidate."""
    df = spark.createDataFrame(
        [
            ("repo_a", "x/a.py", "c1", "py", content_a),
            ("repo_b", "y/b.py", "c2", "py", content_b),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    sigs = compute_signatures(with_identity(df), CFG)
    pairs = lsh_candidate_pairs(sigs, CFG, explode_bands(sigs))
    rows = verify_pairs(pairs, sigs, CFG).collect()
    assert len(rows) <= 1
    return rows[0] if rows else None


@pytest.fixture(scope="module")
def gen():
    return _Gen(7)


def test_identical_content_scores_one(spark, gen):
    body = gen.body(60)
    row = _verify_two(spark, body, body)
    assert row is not None
    assert row["jaccard"] == 1.0 and row["hamming"] == 0 and row["accepted"]


def test_near_edit_accepted(spark, gen):
    body = gen.body(80)
    row = _verify_two(spark, body, _near_edit(body, gen.rng))
    assert row is not None
    assert row["jaccard"] >= CFG.jaccard_threshold
    assert row["accepted"] and row["match_kind"] == "near"


def test_half_rewrite_rejected(spark, gen):
    body = gen.body(80)
    row = _verify_two(spark, body, _half_rewrite(body, gen))
    # either LSH never pairs them, or verification rejects the pair
    if row is not None:
        assert not row["accepted"] and row["match_kind"] == "none"
        assert row["jaccard"] < CFG.jaccard_threshold


def test_unrelated_content_no_pair(spark, gen):
    row = _verify_two(spark, gen.body(60), gen.body(60))
    if row is not None:  # vanishingly unlikely to even be a candidate
        assert not row["accepted"]


def test_empty_files_never_reach_lsh(spark):
    """Reference empty-file fast path (:250-252): empties are exact-channel
    business; the near-dup stages must skip them (no shingles → no bands)."""
    row = _verify_two(spark, "", "")
    assert row is None


def test_verify_semi_join_not_pinned_to_broadcast(spark, gen):
    """The paired-ids semi-filter must not carry an explicit broadcast hint:
    candidate-pair id sets scale with the corpus, and a pinned broadcast OOMs
    at 10^9 files.  With autoBroadcastJoinThreshold disabled the plan must
    contain NO BroadcastExchange — i.e. the optimizer (AQE) chooses the
    strategy, not a hard-coded hint."""
    df = spark.createDataFrame(
        [("r", f"f{i}.py", "c", "py", gen.body(30)) for i in range(8)],
        "repo string, path string, commit string, lang string, content string",
    )
    # cut lineage so the plan under inspection is the verify stage alone
    # (candidates.py legitimately broadcast-hints its tiny hot-key list)
    sigs = compute_signatures(with_identity(df), CFG).localCheckpoint()
    pairs = lsh_candidate_pairs(sigs, CFG, explode_bands(sigs)).localCheckpoint()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        verified = verify_pairs(pairs, sigs, CFG)
        plan = verified._sc._jvm.PythonSQLUtils.explainString(
            verified._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastExchange" not in plan
        assert "LeftSemi" in plan  # the semi-filter itself survived
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_simhash_channel_catches_token_rename(spark, gen):
    """Occurrence-wide single-identifier rename: Jaccard may dip below τ but
    SimHash Hamming stays tiny — the secondary acceptance channel."""
    body = gen.body(100)
    ident = next(w for w in body.split() if "_" in w).strip(",:.()")
    renamed = body.replace(ident, ident + "_zz")
    row = _verify_two(spark, body, renamed)
    assert row is not None
    if row["jaccard"] < CFG.jaccard_threshold:
        assert row["hamming"] <= CFG.hamming_threshold
    assert row["accepted"]
