"""Physical-plan regression tests: the scale-critical plan properties
(SURVEY.md §4) must survive refactors — pushdown reaching the scan, column
pruning, broadcast joins where intended, and no accidental cartesian
products in the pair-generation paths."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cloud_dedup_spark.config import DedupConfig
from cloud_dedup_spark.corpus import corpus_df
from cloud_dedup_spark.functions.normalize import with_identity
from cloud_dedup_spark.operators.candidates import explode_bands, lsh_candidate_pairs
from cloud_dedup_spark.operators.signatures import compute_signatures
from cloud_dedup_spark.operators.substring import substring_edges
from cloud_dedup_spark.operators.verify import verify_pairs

CFG = DedupConfig()


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag")
        .count()
    )
    plan = _plan(q)
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" in read_schema and "l_shipdate" in read_schema
    assert "l_extendedprice" not in read_schema  # pruned


@pytest.fixture(scope="module")
def small_sigs(spark):
    files, _ = corpus_df(spark, 120, 42)
    ident = with_identity(files).localCheckpoint()
    sigs = compute_signatures(ident, CFG).localCheckpoint()
    return ident, sigs


def test_no_cartesian_products_in_pair_paths(spark, small_sigs):
    ident, sigs = small_sigs
    pairs = lsh_candidate_pairs(sigs, CFG, explode_bands(sigs))
    verified = verify_pairs(pairs, sigs, CFG)
    sub = substring_edges(ident, sigs, CFG)
    for df in (pairs, verified, sub):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_verify_semi_filters_signature_table(spark, small_sigs):
    _, sigs = small_sigs
    pairs = lsh_candidate_pairs(sigs, CFG, explode_bands(sigs))
    plan = _plan(verify_pairs(pairs, sigs, CFG))
    # the wide signature table must be reduced via a broadcast semi-join
    # before the scoring equi-joins (operators/verify.py scale note)
    assert "LeftSemi" in plan and "Broadcast" in plan


def test_substring_broadcasts_anchor_frames(spark, small_sigs):
    ident, sigs = small_sigs
    plan = _plan(substring_edges(ident, sigs, CFG))
    # anchor frames broadcast into the exploded index — the index itself is
    # never the build side and never exchange-partitioned by sh for them
    assert plan.count("BroadcastExchange") >= 2
