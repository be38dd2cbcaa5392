"""Sources (schema gate + pushdown filters) and the JSON report."""

from __future__ import annotations

import json
import os

import pytest

from cloud_dedup_spark import run_pipeline
from cloud_dedup_spark.corpus import corpus_df
from cloud_dedup_spark.report import write_report
from cloud_dedup_spark.sources.files_source import (
    SchemaMismatch,
    read_files,
    validate_files_schema,
)


def write_files(df, location: str) -> None:
    """Write a files relation partitioned by lang, the layout whose lang
    filter ``read_files`` prunes to."""
    validate_files_schema(df).write.mode("overwrite").partitionBy("lang").parquet(
        location
    )


def test_schema_gate(spark):
    bad = spark.createDataFrame([("a",)], "repo string")
    with pytest.raises(SchemaMismatch):
        validate_files_schema(bad)


def test_roundtrip_with_filters(spark, corpus, tmp_path_factory):
    files, _ = corpus
    loc = str(tmp_path_factory.mktemp("files_src"))
    write_files(files.select("repo", "path", "commit", "lang", "content"), loc)
    back = read_files(spark, loc, langs=["py"])
    assert back.count() == files.filter("lang = 'py'").count()
    assert set(back.select("lang").distinct().toPandas()["lang"]) == {"py"}
    # hidden-path filter
    hidden = spark.createDataFrame(
        [("r", ".git/config", "c", "txt", "x"), ("r", "ok/f.py", "c", "py", "y")],
        "repo string, path string, commit string, lang string, content string",
    )
    loc2 = str(tmp_path_factory.mktemp("files_hidden"))
    write_files(hidden, loc2)
    assert read_files(spark, loc2).count() == 1


def test_report_shape(spark, tmp_path_factory):
    files, truth = corpus_df(spark, 200, 42)
    res = run_pipeline(spark, files)
    out = os.path.join(str(tmp_path_factory.mktemp("rep")), "report.json")
    report = write_report(res, out)
    with open(out) as f:
        loaded = json.load(f)
    assert loaded["total_files"] == 200
    assert loaded["n_clusters"] >= len(truth.exact_groups)
    assert set(loaded["edge_kinds"]) <= {"exact", "near", "substring"}
    assert "stages" in loaded and loaded["stages"]["stages"]
    assert loaded["per_repo_files"].keys() == {"repo_a", "repo_b", "repo_c"}
