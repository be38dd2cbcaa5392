"""Optimization-round measurement harness (bench.py is FROZEN for the driver;
this file owns every extra probe the optimization work needs).

Modes (argv[1]):
  queries [name ...]   per-query noop-sink timing (untimed warm pass, then
                       best-of-N) + `.explain("formatted")` dumped to
                       plans/<tag>/<query>_<suffix>.txt
  pipeline             per-stage decomposition of run_pipeline on the bench
                       corpus (RunMetrics seconds; fresh checkpoint dir)
  fold                 one bootstrap + one timed fold on a fresh pipeline
                       checkpoint, with the post-hoc Spark-job timeline

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_FILES as in bench.py;
PLAN_TAG (default r06) and PLAN_SUFFIX (default none → no dump) control the
explain dumps; EXTRA_REPEATS (default 2) the per-query repeats.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from cloud_dedup_spark.session import build_session  # noqa: E402


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dump_plan(df, name: str) -> None:
    suffix = os.environ.get("PLAN_SUFFIX")
    if not suffix:
        return
    tag = os.environ.get("PLAN_TAG", "r06")
    d = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    os.makedirs(d, exist_ok=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(d, f"{name}_{suffix}.txt"), "w") as fh:
        fh.write(buf.getvalue())


def _session():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return build_session(
        app_name="cloud-dedup-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus * 2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def run_queries(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("EXTRA_REPEATS", "2"))
    spark = _session()
    try:
        qs = entrymod.queries()
        names = names or [n for n in qs]
        # warm pass (JIT + heap growth), untimed — bench.py discipline
        for name in names:
            spark.sparkContext.setJobDescription(f"warm:{name}")
            _force(qs[name](spark, sf_dir))
        out = {}
        for name in names:
            best = float("inf")
            for i in range(repeats):
                spark.sparkContext.setJobDescription(f"timed:{name}:{i}")
                # eager localCheckpoints run while the query is built, so
                # construction is inside the timed window
                t0 = time.time()
                _force(qs[name](spark, sf_dir))
                best = min(best, round(time.time() - t0, 3))
            out[name] = best
            _dump_plan(qs[name](spark, sf_dir), name)
        print(json.dumps(out))
    finally:
        spark.stop()


def run_pipeline_stages() -> None:
    import shutil

    from cloud_dedup_spark import run_pipeline
    from cloud_dedup_spark.corpus import bench_corpus_df

    bench_files = int(os.environ.get("BENCH_FILES", "240000"))
    spark = _session()
    try:
        corpus_path = f"/tmp/cloud_dedup_bench_corpus_v4_{bench_files}_42"
        if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
            bench_corpus_df(spark, bench_files, seed=42).write.mode(
                "overwrite"
            ).parquet(corpus_path)
        files = spark.read.parquet(corpus_path)
        warm = bench_corpus_df(spark, 24_000, seed=7)
        _force(run_pipeline(spark, warm, track_rows=False)["assignments"])
        ckpt = "/dev/shm/cloud_dedup_extra_ckpt"
        repeats = int(os.environ.get("EXTRA_REPEATS", "2"))
        best, best_metrics = float("inf"), None
        for _ in range(repeats):
            shutil.rmtree(ckpt, ignore_errors=True)
            t0 = time.time()
            res = run_pipeline(spark, files, track_rows=False, checkpoint_dir=ckpt)
            _force(res["assignments"])
            wall = round(time.time() - t0, 3)
            if wall < best:
                best, best_metrics = wall, res["metrics"].to_dict()["stages"]
        print(json.dumps({"pipeline_wall": best, "stages": best_metrics}))
        shutil.rmtree(ckpt, ignore_errors=True)
    finally:
        spark.stop()


def run_fold() -> None:
    import shutil

    from pyspark.sql import functions as F

    from cloud_dedup_spark import run_pipeline
    from cloud_dedup_spark.corpus import bench_corpus_df
    from cloud_dedup_spark.streaming.incremental import incremental_dedup_update

    bench_files = int(os.environ.get("BENCH_FILES", "240000"))
    spark = _session()
    try:
        corpus_path = f"/tmp/cloud_dedup_bench_corpus_v4_{bench_files}_42"
        if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
            bench_corpus_df(spark, bench_files, seed=42).write.mode(
                "overwrite"
            ).parquet(corpus_path)
        files = spark.read.parquet(corpus_path)
        ckpt = "/dev/shm/cloud_dedup_extra_ckpt_fold"
        shutil.rmtree(ckpt, ignore_errors=True)
        res = run_pipeline(spark, files, track_rows=False, checkpoint_dir=ckpt)
        _force(res["assignments"])
        delta_n = max(1_000, bench_files // 100)
        delta = bench_corpus_df(spark, delta_n, seed=4242).withColumn(
            "path", F.concat(F.lit("inc/"), F.col("path"))
        ).localCheckpoint()
        boot = bench_corpus_df(spark, 1, seed=555).withColumn(
            "path", F.concat(F.lit("boot/"), F.col("path"))
        )
        incremental_dedup_update(spark, boot, ckpt)
        t0 = time.time()
        inc = incremental_dedup_update(spark, delta, ckpt)
        fold_sec = round(time.time() - t0, 3)
        print(json.dumps({"fold_sec": fold_sec, "n_delta": inc["n_delta"]}))
        shutil.rmtree(ckpt, ignore_errors=True)
    finally:
        spark.stop()


def dump_plans(names: list[str]) -> None:
    """Write `.explain("formatted")` for each query to plans/<tag>/ without
    timing anything (PLAN_SUFFIX must be set)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    try:
        qs = entrymod.queries()
        for name in names or list(qs):
            _dump_plan(qs[name](spark, sf_dir), name)
            print(f"dumped plan {name}")
    finally:
        spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        run_queries(sys.argv[2:])
    elif mode == "pipeline":
        run_pipeline_stages()
    elif mode == "fold":
        run_fold()
    elif mode == "plans":
        dump_plans(sys.argv[2:])
    else:
        raise SystemExit(f"unknown mode {mode}")
