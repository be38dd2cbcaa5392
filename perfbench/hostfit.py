"""Host-fitted Spark session, process-tree accounting and the window probe.

Everything the benchmark writes goes under one per-run directory inside the
checkout, so a run leaves no state behind for the next one.
"""

from __future__ import annotations

import os
import sys
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_config(run_dir: str) -> dict:
    """Cores, driver heap and scratch paths derived from this host."""
    # half the CPUs: an op keeps about two cores busy (CPU seconds over wall
    # seconds), so local[nproc] ran no faster, and its extra task threads
    # contended with GC, JIT and Python-worker threads and with CPU steal
    # (batch ops of 28.9-36.5 s at local[4], 30.5-33.2 s at local[2],
    # interleaved, on a 4-vCPU host)
    cores = max(1, (len(os.sched_getaffinity(0)) or os.cpu_count() or 1) // 2)
    ram_mb = os.sysconf("SC_PHYS_PAGES") * PAGE // 2**20
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            ram_mb = min(ram_mb, int(limit) // 2**20)
    except OSError:
        pass
    # an eighth of RAM, 1-4 GB: the inputs are a few hundred files and the
    # machine may be shared.  Every run touches the whole heap, so the
    # tree's peak RSS stays steady from run to run
    heap_mb = max(1024, min(4096, ram_mb // 8))
    return {
        "cores": cores,
        "ram_mb": ram_mb,
        "driver_heap_mb": heap_mb,
        "run_dir": run_dir,
    }


def start_session(cfg: dict, ui: bool):
    """A local[cores] session whose scratch and temp files stay in run_dir."""
    from cloud_dedup_spark.session import build_session

    local = os.path.join(cfg["run_dir"], "spark-local")
    tmp = os.path.join(cfg["run_dir"], "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    heap = f"{cfg['driver_heap_mb']}m"
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CKPT_DIR"] = os.path.join(cfg["run_dir"], "ckpt")
    os.environ["TMPDIR"] = tmp
    # for every JVM, the spark-submit launcher's too: no files outside
    # run_dir.  A run is a short-lived process on a few cores: the C2
    # compiler's threads took cores from the work for several ops (2,000-file
    # ops of 46, 23.5, 20.0, 17.8 s), while with C1 alone the ops were steady
    # from the second op on (26.7, 18.7, 17.9, 17.8 s, on a 4-vCPU host).
    # C1 alone gets a 48 MB code cache, which one run filled: compilation
    # then stops, and the JVM can exit when a method adapter no longer fits
    # (Spark treats that VirtualMachineError as fatal), so it gets C2's size
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        "-XX:ReservedCodeCacheSize=256m"
    )
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        extra.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    # shuffle partitions are left to the library's own sizing
    spark = build_session(
        app_name="cloud-dedup-perfbench",
        master=f"local[{cfg['cores']}]",
        extra_conf=extra,
    )
    cfg["shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the process tree: live processes plus reaped children."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def _rss_kb(pid: int) -> int:
    """The JVM's pages are its own, so its RSS is cheap and exact.  Forked
    Python workers share pages with their parent, so they count by
    proportional set size; reading that walks page tables, which is fine
    for a small process and slow for a JVM heap."""
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() == "java":
            with open(f"/proc/{pid}/statm") as g:
                return int(g.read().split()[1]) * PAGE // 1024
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the process tree."""
    total_kb = 0
    for pid in tree_pids(root or os.getpid()):
        try:
            total_kb += _rss_kb(pid)
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """Samples the tree's resident memory on a daemon thread; keeps the peak."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: on a virtual machine, steal is
    time the host gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def busy_probe(n: int = 2_000_000) -> float:
    """Seconds for a fixed single-thread loop: compare only on one host."""
    t0 = time.perf_counter()
    x = 0
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t0
