"""Per-stage lineage + skew/throughput metrics, and the driver-thread pool.

Reference analog: the stdout summary sink (src/cloud_duplicate_analyzer.py:1464-1496)
prints totals and warnings; the graft's operational contract additionally
wants per-partition skew evidence.  ``partition_stats`` is the stage's one
row-count action (groupBy spark_partition_id, collected): call it on
checkpointed stage outputs, not on unmaterialized plans, so nothing is
recomputed.

``driver_threads`` is the one way the library runs Spark work on more than
one driver thread.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def driver_threads(spark: SparkSession, n: int) -> Iterator[Callable[..., Future]]:
    """``submit(fn, *args, **kwargs) -> Future`` over ``n`` pool threads;
    the pool is joined on exit.

    Each task runs under the local properties (job group, description) that
    the submitting thread holds at submit, so a caller's ``cancelJobGroup``
    reaches it: pool threads inherit none of their own.  Each submit takes
    its own copy, because one copy shared by concurrent tasks would also be
    one shared ``spark.sql.execution.id`` slot."""
    with ThreadPoolExecutor(max_workers=n) as pool:
        def submit(fn: Callable, *args, **kwargs) -> Future:
            return pool.submit(inheritable_thread_target(spark)(fn), *args, **kwargs)

        yield submit


def partition_stats(df: DataFrame) -> dict:
    """Partition-size distribution: count, min/max/mean rows, skew ratio."""
    sizes = [
        r["count"]
        for r in df.groupBy(F.spark_partition_id()).count().collect()
    ]
    total = sum(sizes)
    mean = total / len(sizes) if sizes else 0.0
    return {
        "n_partitions": len(sizes),
        "min_rows": min(sizes, default=0),
        "max_rows": max(sizes, default=0),
        "mean_rows": mean,
        "total_rows": total,
        "skew_ratio": max(sizes) / mean if total else 0.0,
    }


@dataclass
class StageMetrics:
    name: str
    seconds: float
    rows: int | None = None
    partitions: dict | None = None


@dataclass
class RunMetrics:
    """Collects per-stage lineage: name → timing, row count, partition skew."""

    stages: list[StageMetrics] = field(default_factory=list)
    started_at: float = field(default_factory=time.time)
    finished_at: float | None = None

    def record(self, name: str, seconds: float, df: DataFrame | None) -> None:
        parts = partition_stats(df) if df is not None else None
        rows = parts["total_rows"] if parts is not None else None
        self.stages.append(StageMetrics(name, round(seconds, 3), rows, parts))

    def to_dict(self) -> dict:
        return {
            "total_seconds": round(self.finished_at - self.started_at, 3),
            "stages": [
                {
                    "stage": s.name,
                    "seconds": s.seconds,
                    "rows": s.rows,
                    "partitions": s.partitions,
                }
                for s in self.stages
            ],
        }
