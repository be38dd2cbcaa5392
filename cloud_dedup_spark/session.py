"""SparkSession construction tuned for the dedup pipeline.

Single place where scale-sensitive settings live so tests, bench.py, and the
driver contract all run the same physical configuration.  On a real cluster
this is the ``spark-submit --conf`` surface; locally we pin the same values.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# scan splits and parquet row groups, in bytes (see build_session); a caller
# sets either key through extra_conf
_SPLIT_BYTES = 32 * 1024 * 1024

_MEM_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _mem_bytes(spec: str) -> int | None:
    """Bytes of a JVM memory size such as ``2011m`` or ``48g``; None if the
    string is not one."""
    s = spec.strip().lower()
    if s[-1:] in _MEM_UNITS and s[:-1].isdigit():
        return int(s[:-1]) * _MEM_UNITS[s[-1]]
    return int(s) if s.isdigit() else None


def _phys_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def _default_heap(phys_bytes: int) -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: 16g, or half the
    RAM on a smaller host, so the default never asks for more memory than
    the machine has."""
    return f"{min(16 * 2**10, phys_bytes // 2**21)}m"


def build_session(
    app_name: str = "cloud-dedup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session with AQE + Arrow on and shuffle partitions sized to cores.

    Scale notes (100 TB / 1000-executor design):
      * AQE is on: runtime coalescing of small post-shuffle partitions and
        skew-join splitting are the first line of defence against LSH band
        skew; salting in operators/candidates.py is the second (AQE cannot
        split a skewed groupBy key, SURVEY.md §4 X1).
      * Arrow batch size is capped so MinHash signature matrices stay bounded
        per batch (SURVEY.md §7.4 item 4).
      * ``spark.sql.shuffle.partitions`` defaults to 2× cores locally; on a
        cluster set it to ~2-3× total executor cores via spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count; local[N,R] / local-cluster[...]
        # carry extra comma fields (task retries, executor specs) — cores are
        # the first field, and anything non-numeric falls back to cpu count
        # instead of a ValueError (round-4 review)
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        n = n.split(",")[0].strip()
        cores = int(n) if n.isdigit() else cpus
        shuffle_partitions = max(cores * 2, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # content rows are wide and every scan feeds CPU-heavy stages (regex
        # normalize, signature UDF): smaller scan splits keep all cores busy
        # on modest inputs; at PB scale the input has thousands of splits
        # regardless and this only bounds per-task memory
        .config("spark.sql.files.maxPartitionBytes", str(_SPLIT_BYTES))
        # parquet row groups must start inside a scan split or the split
        # reads nothing: a table written as N big single-row-group files
        # caps every downstream scan at N tasks regardless of core count.
        # Round-3 measurement: the 672 MB bench corpus as 8 one-row-group
        # files pinned norm/signature scans to 8 tasks (signatures scaled
        # 104.6 s@4 → 59.5 s@16 — the exact 2× an 8-task ceiling predicts);
        # 32 MB row groups + 32 MB splits measured best across 240k@32 /
        # 500k@16 / 500k@4 (16 MB everywhere over-fragmented the 32-core
        # case, BENCH/ANALYSIS.md).  Files smaller than this are unaffected
        # (one row group), so the setting only protects the big-file case.
        .config("spark.hadoop.parquet.block.size", str(_SPLIT_BYTES))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: driver heap IS the cluster's memory; 8g chokes (spill-
        # bound, parallelism-insensitive) beyond ~50k wide content rows
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_heap(_phys_bytes())),
        )
        # shuffle/spill scratch: tmpfs only behind its OWN explicit opt-in
        # flag (SPARK_GRAFT_TMPFS=1, exported by bench/profile entry points;
        # the sandbox's /tmp sits on a shared virtual disk whose latency
        # jitter dominated stage times, ±2× run-to-run on identical plans).
        # The GENERAL default stays /tmp: on hosts with a small /dev/shm
        # (64 MB Docker default) RAM-backed spill would fail jobs that disk
        # spill saves — and gating on SPARK_DRIVER_MEMORY (a round-3 interim)
        # silently opted in anyone who merely tuned their heap.  Cluster
        # nodes point spark.local.dir at local NVMe via submit conf.
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-local"
                if os.environ.get("SPARK_GRAFT_TMPFS") == "1"
                and os.path.isdir("/dev/shm")
                else "/tmp",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # lower() on the JVM's case tables (UTF8String.toLowerCase), not
        # ICU's.  With ICU on, the first lower() of a process loads
        # CollationAwareUTF8String, whose static initializer calls ICU
        # toTitleCase on all 1,114,112 code points: 2-3 s, paid by the
        # first normalize_content of every batch run (on a 4-vCPU host, a
        # four-row lower() after one warm-up job took 2.05 s with ICU and
        # 0.34 s without).
        # Both settings agree on Greek final sigma, İ, ß/ẞ, ǅ, the Kelvin
        # sign and invalid UTF-8, and both follow the JVM default locale.
        # They differ on case pairs newer than the JDK's Unicode version
        # (JDK 17: Unicode 13): U+2C2F, U+A7C0, U+A7CB, U+A7D0, U+10570,
        # U+1C89 and U+A7DC stay uppercase here, while ICU 77 lowercases
        # them (pinned by tests/test_session.py).
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    extra_conf = dict(extra_conf or {})
    if "SPARK_DRIVER_MEMORY" in os.environ:
        # bench sessions: pre-commit the heap (-Xms = -Xmx) so the timed runs
        # don't pay incremental heap growth + the GC churn it drags along
        # (measured on the first 16-core repeat); test sessions keep the lazy
        # default so pytest doesn't reserve tens of GB per session.
        # MERGED with any caller-supplied extraJavaOptions — same config key,
        # last write wins, so a caller passing -XX flags silently discarded
        # the heap pre-commit (round-4 review).
        heap = os.environ["SPARK_DRIVER_MEMORY"]
        opts = f"-Xms{heap}"
        # -Xms only reserves; G1 touches regions as its adaptive young gen
        # grows, which depends on pause times, so a 2 GB heap's resident
        # size varied by up to 290 MB from run to run on a shared host.
        # Touching the whole heap at start-up makes it one fixed size.  Only
        # for heaps that fit easily: a 48g bench heap on a small host would
        # otherwise be resident (and OOM-killed) before the first job.
        heap_b = _mem_bytes(heap)
        if heap_b is not None and heap_b * 4 <= _phys_bytes():
            opts += " -XX:+AlwaysPreTouch"
        caller_opts = extra_conf.pop("spark.driver.extraJavaOptions", "")
        builder = builder.config(
            "spark.driver.extraJavaOptions", f"{opts} {caller_opts}".strip()
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
