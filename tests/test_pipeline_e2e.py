"""End-to-end pipeline: recall vs plant plan, invariant, resumability.

Analog of the reference's ``TestAnalyzeIntegration`` + scenario suite
(tests/test_cloud_duplicate_analyzer.py:171-243, tests/test_unique_folder_visibility.py)
and of BASELINE.json's acceptance gates: dup-pair recall ≥ 0.99, per-row
content_sha256 invariant, checkpoint resumability.
"""

from __future__ import annotations

import shutil
import time

import pytest

from cloud_dedup_spark import run_pipeline
from cloud_dedup_spark.plans.pipeline import invariant_violations
from tests.conftest import assert_report, cluster_pairs, run_in_job_group


@pytest.fixture(scope="module")
def result(spark, corpus):
    files, truth = corpus
    res = run_pipeline(spark, files)
    res["assignments"] = res["assignments"].cache()
    res["assignments"].count()
    return res, truth


def _got_clusters(assignments):
    got = {}
    for r in assignments.collect():
        got.setdefault(r["cluster_id"], set()).add((r["repo"], r["path"]))
    return [m for m in got.values() if len(m) >= 2]


def test_recall_at_least_099(result):
    res, truth = result
    got = cluster_pairs(_got_clusters(res["assignments"]))
    expected = truth.expected_positive_pairs()
    recall = len(got & expected) / len(expected)
    assert recall >= 0.99, f"recall {recall:.4f}"


def test_no_false_positive_pairs(result):
    res, truth = result
    got = cluster_pairs(_got_clusters(res["assignments"]))
    expected = truth.expected_positive_pairs()
    assert got - expected == set()


def test_negatives_not_clustered(result):
    """Borderline rewrites and phantom analogs (same path+length, different
    content — the reference's 'most dangerous case', :223-224) stay apart."""
    res, truth = result
    got = cluster_pairs(_got_clusters(res["assignments"]))
    for a, b in truth.negative_pairs:
        assert frozenset((a, b)) not in got


def test_sha256_invariant_holds(result, corpus):
    files, _ = corpus
    res, _ = result
    assert invariant_violations(res["identity"], files).count() == 0


def test_every_file_assigned_exactly_once(result, corpus):
    files, _ = corpus
    res, _ = result
    asg = res["assignments"]
    assert asg.count() == files.count()
    assert asg.select("file_id").distinct().count() == files.count()


def test_no_quarantined_files_in_clean_corpus(result):
    """The id-collision quarantine (128-bit composite check) must be a no-op
    on a collision-free corpus: flag column present, zero rows flagged."""
    res, _ = result
    asg = res["assignments"]
    assert "quarantined" in asg.columns
    assert asg.filter("quarantined").count() == 0


def test_report_summary_fields(result, corpus):
    """build_report over a real pipeline result: totals line up, the
    drill-down detail is populated on the planted corpus, the quarantine
    counter is zero on a collision-free corpus (ROADMAP observability item),
    and every section but ``stages`` equals its own serial query."""
    from cloud_dedup_spark.report import build_report

    files, _ = corpus
    res, _ = result
    rep = build_report(res)
    assert rep["total_files"] == files.count()
    assert rep["n_quarantined_id_collisions"] == 0
    assert rep["n_clusters"] >= 1
    assert len(rep["duplicate_group_details"]) >= 1
    first = rep["duplicate_group_details"][0]
    assert first["n_files"] >= 2 and len(first["members"]) == first["n_files"]
    assert rep["folder_comparisons"] and rep["folder_files"]
    assert_report(res, rep)


def test_report_detail_keeps_order_and_caps(result, monkeypatch):
    """With every drill-down cap below its section's size, the report still
    equals the serial reference: each concurrent collect keeps its order
    and its cap."""
    from cloud_dedup_spark import report

    for cap in ("MAX_GROUP_DETAILS", "MAX_TREE_FOLDERS", "MAX_TREE_FILES"):
        monkeypatch.setattr(report, cap, 3)
    monkeypatch.setattr(report, "MAX_MEMBERS_PER_GROUP", 2)
    res, _ = result
    rep = report.build_report(res)
    groups = rep["duplicate_group_details"]
    assert len(groups) == 3 and len(rep["folder_comparisons"]) == 3
    assert sum(len(v) for v in rep["folder_files"].values()) == 3
    assert groups[0]["n_files"] > 2 and len(groups[0]["members"]) == 2
    assert_report(res, rep)


def test_report_jobs_run_under_the_caller_group(spark, result):
    """Every job of build_report, pool threads included, carries the job
    group the caller set; none runs ungrouped."""
    from cloud_dedup_spark.report import build_report

    res, _ = result
    run_in_job_group(spark, "report-group", lambda: build_report(res))


def test_pipeline_jobs_run_under_the_caller_group(spark, tmp_path):
    """Every job of a checkpointed run_pipeline, the overlapped stage threads
    included, carries the job group the caller set; none runs ungrouped."""
    from cloud_dedup_spark.corpus import corpus_df

    files, _ = corpus_df(spark, 40, 7)
    ckpt = str(tmp_path / "ckpt")
    run_in_job_group(
        spark, "pipeline-group", lambda: run_pipeline(spark, files, checkpoint_dir=ckpt)
    )


def test_metrics_lineage_recorded(spark, result):
    """Each stage records its rows and partition skew, from one action on
    its stage table, and the run's total seconds stop when run_pipeline
    returns; with track_rows=False a stage records neither rows nor skew."""
    res, _ = result
    stages = {s.name: s for s in res["metrics"].stages}
    for expected in ("identity", "exact", "signatures", "candidate_edges",
                     "substring_edges", "cluster_labels"):
        assert expected in stages
    for name, s in stages.items():
        table = res["assignments" if name == "cluster_labels" else name]
        assert s.rows == table.count(), name
        assert s.partitions["total_rows"] == s.rows, name
    # the run's wall ends when run_pipeline returns, not when it is read
    total = res["metrics"].to_dict()["total_seconds"]
    time.sleep(0.1)
    assert res["metrics"].to_dict()["total_seconds"] == total

    files = spark.createDataFrame(
        [("repo_a", "src/only.py", "c1", "py", "def f(x):\n    return x\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    bare = run_pipeline(spark, files, track_rows=False)["metrics"]
    assert bare.stages
    assert all(s.rows is None and s.partitions is None for s in bare.stages)


def test_checkpoint_resumability(spark, corpus, tmp_path_factory):
    """Kill-and-rerun: a second run over an existing checkpoint dir reuses
    every stage table and reproduces identical cluster labels (north_rule:
    'any stage is resumable')."""
    files, _ = corpus
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    res1 = run_pipeline(spark, files, checkpoint_dir=ckpt)
    labels1 = {(r["repo"], r["path"]): r["cluster_id"]
               for r in res1["assignments"].collect()}
    # simulate a failure after the signature stage: later stage tables lost
    shutil.rmtree(f"{ckpt}/candidate_edges", ignore_errors=True)
    shutil.rmtree(f"{ckpt}/cluster_labels", ignore_errors=True)
    res2 = run_pipeline(spark, files, checkpoint_dir=ckpt)
    labels2 = {(r["repo"], r["path"]): r["cluster_id"]
               for r in res2["assignments"].collect()}
    assert labels1 == labels2
    # and a fully-warm third run must also agree
    res3 = run_pipeline(spark, files, checkpoint_dir=ckpt)
    labels3 = {(r["repo"], r["path"]): r["cluster_id"]
               for r in res3["assignments"].collect()}
    assert labels1 == labels3


def test_checkpoint_refuses_config_mix(spark, corpus, tmp_path_factory):
    """Round-4 review: stage skip is keyed by name alone, so resuming with a
    DIFFERENT DedupConfig would silently apply new thresholds to old
    signatures.  The store's config marker makes that a hard error."""
    from cloud_dedup_spark.config import DedupConfig

    files, _ = corpus
    ckpt = str(tmp_path_factory.mktemp("ckpt_cfg"))
    run_pipeline(spark, files, checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="different DedupConfig"):
        run_pipeline(
            spark, files, cfg=DedupConfig(jaccard_threshold=0.9),
            checkpoint_dir=ckpt,
        )


# checkpoint directory → run_pipeline result key, for every stage table
_STAGE_TABLES = {
    "identity": "identity", "quarantine": "quarantine", "exact": "exact",
    "norm": "norm", "signatures": "signatures", "bands": "bands",
    "anchors": "anchors", "candidate_edges": "candidate_edges",
    "substring_edges": "substring_edges", "edges": "edges",
    "cluster_labels": "assignments", "clusters": "clusters",
}


def test_stage_readback_schema_matches_inferred(spark, tmp_path):
    """Every recorded stage-table schema, and every read-back frame's, is the
    schema Spark infers from the files: on a fresh run, a resumed one, and
    after a fold (which appends to the append tables and swaps edges and
    cluster_labels)."""
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from cloud_dedup_spark.corpus import corpus_df
    from cloud_dedup_spark.streaming.incremental import incremental_dedup_update

    def recorded(name):
        with open(f"{ckpt}/_schemas/{name}.json") as fh:
            return StructType.fromJson(json.load(fh))

    files, _ = corpus_df(spark, 40, 7)
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # fresh, then resumed from every stage table
        res = run_pipeline(spark, files, checkpoint_dir=ckpt, track_rows=False)
        assert {d for d in os.listdir(ckpt) if not d.startswith(("_", "."))} == set(
            _STAGE_TABLES
        )
        for name, key in _STAGE_TABLES.items():
            inferred = spark.read.parquet(f"{ckpt}/{name}").schema
            assert res[key].schema == inferred, name
            assert recorded(name) == inferred, name
    delta, _ = corpus_df(spark, 10, 8)
    delta = delta.withColumn("path", F.concat(F.lit("delta/"), "path"))
    incremental_dedup_update(spark, delta, ckpt)
    for name in _STAGE_TABLES:
        inferred = spark.read.parquet(f"{ckpt}/{name}").schema
        assert recorded(name) == inferred, name


def test_single_file_corpus(spark, tmp_path):
    """One file: empty edge tables, no cluster, one assignment — through a
    fresh run, a resumed run and the report."""
    from cloud_dedup_spark.report import build_report

    files = spark.createDataFrame(
        [("repo_a", "src/only.py", "c1", "py", "def f(x):\n    return x\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):
        res = run_pipeline(spark, files, checkpoint_dir=ckpt)
        assert res["edges"].count() == 0
        assert res["clusters"].count() == 0
        assert res["assignments"].count() == 1
    rep = build_report(res)
    assert rep["total_files"] == 1 and rep["n_clusters"] == 0
    assert rep["edge_kinds"] == {} and rep["cluster_size_histogram"] == {}
    assert rep["per_repo_files"] == {"repo_a": 1}


def test_stage_jobs_carry_stage_description(spark, corpus, monkeypatch):
    """Each stage's jobs run under the description ``stage:<name>``, on the
    main thread and in the overlapped pool threads alike, and the caller's
    own description is back in place when run_pipeline returns."""
    import cloud_dedup_spark.plans.pipeline as pl

    sc = spark.sparkContext
    seen = {}

    def recording(name, fn):
        def wrapped(*args, **kwargs):
            seen[name] = sc.getLocalProperty("spark.job.description")
            return fn(*args, **kwargs)
        return wrapped

    monkeypatch.setattr(pl, "verify_pairs", recording("verify", pl.verify_pairs))
    monkeypatch.setattr(
        pl, "cluster_summary", recording("summary", pl.cluster_summary)
    )
    files, _ = corpus
    sc.setJobDescription("caller label")
    try:
        run_pipeline(spark, files.limit(30), track_rows=False)
        assert sc.getLocalProperty("spark.job.description") == "caller label"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert seen == {"verify": "stage:candidate_edges", "summary": "stage:clusters"}
