"""Spans around layer calls, job attribution and Spark's monitoring REST API.

A span records name, start, end, parent and the op it belongs to.  Spans
stay in memory until ``write`` at the end of the run.  Each layer call runs
on its own thread under a job group, so its jobs come from the public
``StatusTracker.getJobIdsForGroup``.  Jobs that the library starts from its
own pool threads carry no group; since traced calls run one at a time, the
ungrouped jobs that appear during a span are that span's too.
"""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def parse_size_total(value: str) -> float:
    """Bytes of a SQL size metric's total (its first size in the text)."""
    m = _SIZE.search(value)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class Tracer:
    """In-memory spans plus per-span Spark job ids."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self._seq = 0
        # wall time the tracer itself adds to traced calls
        self.overhead_s = 0.0
        self.rest = RestApi(self.sc) if enabled else None

    def _all_jobs(self, group: str | None) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def _settled_ungrouped(self) -> set[int]:
        # the status store is fed by an asynchronous listener: read until
        # two reads agree, so jobs that just ended are not missed
        prev = self._all_jobs(None)
        for _ in range(40):
            time.sleep(0.05)
            cur = self._all_jobs(None)
            if cur == prev:
                return cur
            prev = cur
        return prev

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block; spans nest through the stack of open spans."""
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name, "op": self.op_id, "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` in a span, on its own thread, under its own job group.

        Untraced, it is a plain call.  Traced, the span gets ``jobs``: the
        group's jobs plus the ungrouped jobs that appeared meanwhile."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t_in = time.perf_counter()
        self._seq += 1
        group = f"{name}#{self._seq}"
        before = self._settled_ungrouped()
        box: dict = {}

        def body() -> None:
            self.sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                box["out"] = fn(*args, **kwargs)
            except BaseException as e:  # re-raised on the caller's thread
                box["err"] = e
            box["fn_s"] = time.perf_counter() - t0

        with self.span(name) as rec:
            t = threading.Thread(target=body, name=group, daemon=True)
            t.start()
            t.join()
        after = self._settled_ungrouped()
        rec["jobs"] = sorted(self._all_jobs(group) | (after - before))
        self.overhead_s += time.perf_counter() - t_in - box["fn_s"]
        if "err" in box:
            raise box["err"]
        return box["out"]

    def find(self, name: str, op: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        ]

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [
            {**s, "start": s["start"] - t0, "end": s.get("end", s["start"]) - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


class RestApi:
    """Read-only client for Spark's monitoring REST API on localhost."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1].strip("/")
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def _jobs(self, job_ids: set[int]) -> list[dict]:
        # wait until the store has every job in a final state
        for _ in range(100):
            jobs = [j for j in self.get("jobs") if j["jobId"] in job_ids]
            if len(jobs) == len(job_ids) and all(
                j["status"] != "RUNNING" for j in jobs
            ):
                return jobs
            time.sleep(0.1)
        return jobs

    def shuffle_write_bytes(self, job_ids: set[int]) -> int:
        stage_ids = {s for j in self._jobs(job_ids) for s in j["stageIds"]}
        return sum(
            s.get("shuffleWriteBytes", 0) for s in self.get("stages")
            if s["stageId"] in stage_ids
        )

    def python_bytes(self, job_ids: set[int]) -> float:
        """Bytes sent to plus returned from Python workers by these jobs."""
        self._jobs(job_ids)
        total = 0.0
        execs = self.get("sql?details=true&planDescription=false&length=100000")
        for ex in execs:
            ids = set(ex.get("successJobIds", [])) | set(
                ex.get("failedJobIds", [])
            )
            if not ids & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") in PY_METRICS:
                        total += parse_size_total(m.get("value", ""))
        return total
