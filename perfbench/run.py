"""Benchmark of cloud_dedup_spark: one workload, one fresh process, one JSON.

    python3 perfbench/run.py --workload batch-dedup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs come from ``--seed``.  Set-up runs
``setup_reps`` times (median reported as ``setup_s``); then ops run closed
loop with one client, until ``--seconds`` of op time have passed and at
least one (fewer only when another would not end before the run's
deadline).  A run's ops do not wait for a warm-up op: a batch run times the
first op in a fresh process, as a batch job runs, and the fold's set-up has
already run the stage operators it reuses (see ``workloads.py``).  The
timed figures are medians over ops, and every op's output is checked.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces the first
op, replays its layers and prints the per-layer metrics, writing the spans
to ``.perfbench_out/``.  The last stdout line is the result object; the
line before it echoes the host-fitted config and the window probe.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import hostfit
from hostfit import log, tree_pids
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 170  # the run must end within 180 s
MIN_OPS = 1  # timed ops per untraced run, whatever --seconds is
STOP_S = 8  # time left at the last op's end for stopping Spark and printing

END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "cpu_s_per_kwork": "s",
    "peak_rss_mb": "MB",
    "success_ratio": "ratio",
}
PER_LAYER = {
    **{f"{m}.busy_s": "s" for m in (
        "normalize", "exact", "signatures", "candidates", "verify",
        "substring", "cluster", "report", "pipeline", "incremental", "ivf",
    )},
    "exact.rep_ratio": "ratio",
    "signatures.jobs": "count",
    "signatures.py_bytes": "B",
    "signatures.delta_busy_s": "s",
    "candidates.pairs": "count",
    "verify.accept_ratio": "ratio",
    "substring.edges": "count",
    "cluster.jobs": "count",
    "pipeline.jobs": "count",
    "pipeline.unattributed_s": "s",
    "incremental.jobs": "count",
    "incremental.shuffle_bytes": "B",
    "incremental.ingest_ratio": "ratio",
    "similarity.exact_busy_s": "s",
    "similarity.lsh_busy_s": "s",
    "similarity.topk_busy_s": "s",
    "similarity.exact_jobs": "count",
    "similarity.lsh_jobs": "count",
    "similarity.lsh_recall": "ratio",
    "similarity.py_bytes": "B",
    "ivf.jobs": "count",
    "ivf.recall": "ratio",
    "trace.overhead_s": "s",
}


_deadline_hit = False


def _timeout(signum, frame):
    global _deadline_hit
    _deadline_hit = True
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # runs the clean-up in main's finally


def stop_tree(spark) -> None:
    """Stop Spark, then end every process this run started and wait for it.

    The JVM outlives ``spark.stop()`` while this process holds its gateway,
    so it is sent SIGTERM (its shutdown hooks run) and SIGKILL if it lingers.
    """
    me = os.getpid()
    try:
        spark.stop()
    except Exception:  # e.g. the gateway call was interrupted; end it below
        traceback.print_exc()
    kids = [p for p in tree_pids(me) if p != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 15
        while kids and time.time() < deadline:
            kids = [p for p in kids if _alive(p)]
            time.sleep(0.05)
        if not kids:
            return


def _alive(pid: int) -> bool:
    try:  # reaps it if it is our child
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def measure(w, seconds: float, trace: bool, tracer, deadline: float) -> dict:
    """Set up, then run the timed or the traced ops; returns the raw figures.
    ``deadline`` is the ``perf_counter`` time by which the run must end."""

    setup_s = []
    # the traced run reports no setup_s, so it sets up once
    for rep in range(1 if trace else w.setup_reps):
        t0 = time.perf_counter()
        w.setup(rep)
        setup_s.append(time.perf_counter() - t0)
        log(f"setup {rep}: {setup_s[-1]:.2f} s")
    w.after_setup()

    i = 0

    def one_op(traced: bool = False) -> tuple[float, float, bool, object, float]:
        nonlocal i
        i += 1
        w.prepare(i)
        tracer.enabled = traced
        tracer.op_id = f"op{i}" if traced else None
        tracer.overhead_s = 0.0
        c0, t0 = hostfit.tree_cpu_s(), time.perf_counter()
        try:
            with tracer.span("op", workload=w.name):
                out = w.op(i)
            wall, cpu = time.perf_counter() - t0, hostfit.tree_cpu_s() - c0
            ok, detail = w.check(out)
        except Exception:
            # past the run's deadline, end the run, not just this op (a
            # library call may have wrapped the TimeoutError in its own error)
            if _deadline_hit:
                raise
            traceback.print_exc()
            wall, cpu = time.perf_counter() - t0, hostfit.tree_cpu_s() - c0
            ok, detail, out = False, "raised", None
        finally:
            tracer.enabled = False
        log(f"op {i}{' traced' if traced else ''}: {wall:.2f} s "
            f"cpu {cpu:.1f} s ok={ok} {detail}")
        return wall, cpu, ok, out, tracer.overhead_s

    ops = []
    if trace:
        # the traced op is the run's first, as the untraced run's timed op
        traced = one_op(traced=True)
        layers, layers_ok = {}, False
        if traced[2]:
            tracer.enabled = True
            tracer.op_id = f"op{i}-replay"
            layers, layers_ok = w.layers(traced[3], f"op{i}")
            tracer.enabled = False
        w.cleanup(i)
        layers["trace.overhead_s"] = traced[4]
        ops.append(traced[:3])
    else:
        layers, layers_ok = None, True
        timed = longest = 0.0  # longest: of whole op cycles, checks included
        while len(ops) < MIN_OPS or timed < seconds:
            # an op may take half as long again as the longest so far
            if ops and time.perf_counter() + 1.5 * longest + STOP_S > deadline:
                log(f"stopping after {len(ops)} timed ops: another would not "
                    "end before the run's deadline")
                break
            c0 = time.perf_counter()
            wall, cpu, ok, _, _ = one_op()
            w.cleanup(i)
            ops.append((wall, cpu, ok))
            timed += wall
            longest = max(longest, time.perf_counter() - c0)
    return {"setup_s": setup_s, "ops": ops, "layers": layers,
            "layers_ok": layers_ok}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (smoke tests use a small one)")
    args = ap.parse_args(argv)
    if args.seconds <= 0 or args.scale <= 0:
        ap.error("--seconds and --scale must be positive")

    sys.path.insert(0, ROOT)
    try:
        from workloads import WORKLOADS
    except ImportError as e:
        log(f"cannot import the library from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; know {sorted(WORKLOADS)}")
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    deadline = time.perf_counter() + DEADLINE_S
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}"
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    cfg = hostfit.host_config(run_dir)
    probe_pre = hostfit.busy_probe()
    ticks_pre = hostfit.cpu_ticks()
    spark = None
    try:
        with hostfit.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = hostfit.start_session(cfg, ui=bool(args.trace))
            session_s = time.perf_counter() - t0
            tracer = Tracer(spark, enabled=bool(args.trace))
            w = WORKLOADS[args.workload](
                spark, tracer, run_dir, args.seed, args.scale
            )
            raw = measure(w, args.seconds, bool(args.trace), tracer, deadline)
        span_file = None
        if args.trace:
            span_file = os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.json"
            )
            tracer.write(span_file)
    except Exception:
        traceback.print_exc()
        return 3
    finally:
        try:
            if spark is not None:
                stop_tree(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            signal.alarm(0)
    probe_post = hostfit.busy_probe()
    steal, total = (b - a for a, b in zip(ticks_pre, hostfit.cpu_ticks()))

    ops = raw["ops"]
    passed = sum(ok for _, _, ok in ops)
    if args.trace:
        metrics = {
            k: {"value": float(raw["layers"].get(k, 0.0)), "unit": u}
            for k, u in PER_LAYER.items()
        }
    else:
        units = w.work()
        values = {
            "setup_s": statistics.median(raw["setup_s"]),
            "work_per_s": statistics.median(units / wall for wall, _, _ in ops),
            "cpu_s_per_kwork": statistics.median(
                cpu * 1000 / units for _, cpu, _ in ops
            ),
            "peak_rss_mb": rss.peak_mb,
            "success_ratio": passed / len(ops),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "config": {**cfg, "workload": args.workload, "seed": args.seed,
                   "scale": args.scale, "work_units_per_op": w.work(),
                   "session_start_s": session_s, "setup_runs_s": raw["setup_s"],
                   "op_walls_s": [wall for wall, _, _ in ops],
                   "span_file": span_file},
        "window": {"busy_probe_pre_s": probe_pre, "busy_probe_post_s": probe_post,
                   "cpu_steal_share": steal / total if total else 0.0},
    }))
    print(json.dumps({
        "correct": passed == len(ops) and raw["layers_ok"],
        "attempted": len(ops),
        "failed": len(ops) - passed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
