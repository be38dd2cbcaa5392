"""Stage-table maintenance: compaction of append-grown checkpoint tables.

Incremental ingest (streaming/incremental.py) appends one parquet slice per
micro-batch to identity / signatures / norm / bands / anchors.  At
streaming cadence that is the classic small-file problem: a year of hourly
deltas is ~10^4 files per table, every scan pays open/footer costs per file,
and scan task counts stop tracking data size.  On Iceberg this is `rewrite
data files`; for the plain-parquet store this module provides the same
operation: coalesce each table back to ~target-sized files, atomically.

Atomicity on a filesystem without transactions: write the compacted copy to
`<table>.compact.tmp`, then swap via two renames (table → .old, tmp → table)
and drop the old directory.  Writer races are closed observationally: the
compaction pins its read to an explicit snapshot listing, persists that
listing as a manifest inside the new copy, and anything found in `.old`
that the manifest does not cover — an append that landed while the rewrite
ran — is moved into the new table instead of deleted (crash-resumable via
the same manifest in repair_swap).
A READER racing the swap can still observe a transient missing-file error
between the two renames — acceptable for a maintenance operation,
documented; Iceberg's snapshot-based rewrite is the fully concurrent-safe
variant on clusters (same writer surface, table_format='iceberg').
"""

from __future__ import annotations

import json
import math

from pyspark.sql import SparkSession

from cloud_dedup_spark.fsutil import (
    hadoop_path, hadoop_path_exists, read_text, write_text,
)

# driver-side snapshot manifest written into the compacted copy: the exact
# top-level data files the compaction read.  Anything found in `.old` after
# the swap that is NOT in the manifest was written concurrently during the
# compaction and is restored instead of deleted — see _restore_unlisted.
_MANIFEST = "_compact_manifest.json"


def _list_children(spark: SparkSession, path: str) -> list[str]:
    """Top-level data children of a table dir, skipping markers (_SUCCESS,
    the manifest) and hidden entries."""
    fs, hpath = hadoop_path(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append(name)
    return out


def _restore_unlisted(spark: SparkSession, path: str, old: str) -> None:
    """Move every `.old` child that is neither in the new table's manifest
    nor already present in the table back into the table, then drop `.old`.

    The manifest pins exactly what the compaction read, so a child missing
    from it is a concurrent write (a fold's append) that raced the swap —
    restoring errs toward keeping data and can never duplicate rows,
    because the compacted output was built from the manifest listing
    only."""
    fs, _ = hadoop_path(spark, path)
    P = spark._jvm.org.apache.hadoop.fs.Path
    text = read_text(spark, f"{path}/{_MANIFEST}")
    manifest = set() if text is None else set(json.loads(text))
    for name in _list_children(spark, old):
        if name in manifest:
            continue
        dst = P(f"{path}/{name}")
        if fs.exists(dst):
            continue
        if not fs.rename(P(f"{old}/{name}"), dst):
            raise IOError(
                f"restore of concurrently-written {name} from {old} failed"
            )
    fs.delete(P(old), True)

# tables the incremental path appends to (cluster_labels/edges are rewritten
# whole each update, so they never fragment)
APPEND_TABLES = (
    "identity", "signatures", "norm", "bands", "anchors", "quarantine",
)


# advisory writer lock for the .compact swap: while a compaction holds a
# FRESH lock on a table, a concurrently-entering fold must not run entry
# repair on it — racing repair against a live swap can rename `.old` back
# mid-protocol or delete the manifest mid-restore (both corruption paths;
# found in the round-4 review).  A lock older than the TTL is a crash
# leftover: the next repair/compaction clears it and proceeds.  Advisory by
# design — single-compactor scheduling is still the operational contract,
# this closes the fold-vs-compactor window without a lock service.
_LOCK_TTL_MS = 6 * 3600 * 1000


def _lock_path(path: str, suffix: str) -> str:
    return f"{path}{suffix}.lock"


def _lock_is_fresh(spark: SparkSession, path: str, suffix: str) -> bool:
    fs, lp = hadoop_path(spark, _lock_path(path, suffix))
    if not fs.exists(lp):
        return False
    age = spark._jvm.java.lang.System.currentTimeMillis() - fs.getFileStatus(
        lp
    ).getModificationTime()
    if age > _LOCK_TTL_MS:
        fs.delete(lp, False)  # crash leftover
        return False
    return True


def repair_swap(spark: SparkSession, path: str, suffix: str = ".swap") -> None:
    """Entry repair for the two-rename swap protocol (run BEFORE reading).

    If a FRESH writer lock exists for this (path, suffix), another process
    is mid-swap — there is no crash state to repair, and racing the live
    protocol is the only way this function can do harm, so it returns
    without touching anything.

    A crash between the two renames leaves the data parked at
    ``<path><suffix>.old`` with the main path missing — rename it back
    (concurrent writes that raced the crashed swap are inside ``.old`` too,
    so nothing is lost).  A crash after the second rename but before cleanup
    leaves a stale full copy at ``.old``: if the new table carries a
    compaction manifest, finish the concurrent-write restore
    (:func:`_restore_unlisted`, idempotent); otherwise drop ``.old``.  A
    stale ``.tmp`` is always safe to drop (the swap re-writes it from
    scratch).
    """
    if _lock_is_fresh(spark, path, suffix):
        return
    fs, hpath = hadoop_path(spark, path)
    P = spark._jvm.org.apache.hadoop.fs.Path
    old, tmp = f"{path}{suffix}.old", f"{path}{suffix}.tmp"
    old_p, tmp_p = P(old), P(tmp)
    if not fs.exists(hpath) and fs.exists(old_p):
        if not fs.rename(old_p, hpath):
            raise IOError(f"swap crash repair failed for {path}")
    elif fs.exists(hpath) and fs.exists(old_p):
        if hadoop_path_exists(spark, f"{path}/{_MANIFEST}"):
            _restore_unlisted(spark, path, old)
        else:
            fs.delete(old_p, True)
    if fs.exists(hpath):
        # a manifest with no `.old` left is a completed (or just-finished)
        # restore whose final cleanup was interrupted — always safe to drop
        fs.delete(P(f"{path}/{_MANIFEST}"), False)
    fs.delete(tmp_p, True)


def swap_overwrite(
    spark: SparkSession,
    df,
    path: str,
    table_format: str = "parquet",
    suffix: str = ".swap",
    snapshot: list[str] | None = None,
) -> None:
    """Atomically replace a table with ``df`` — safe when ``df`` READS the
    table it replaces.

    Spark's ``mode("overwrite")`` deletes the target before writing, so a
    self-referential rewrite loses data, and materializing the frame first
    (localCheckpoint) holds the whole table in executor memory — O(corpus)
    per call, the exact cost the incremental fold exists to avoid.  Instead:
    stream df → ``<path><suffix>.tmp`` (main still readable), then swap via
    two renames with :func:`repair_swap` covering every crash window (the
    same discipline as compaction below; Iceberg's snapshot commit is the
    cluster-native equivalent behind the same table_format switch).

    ``snapshot``: the top-level data files that ``df`` was pinned to read.
    When given, it is persisted as a manifest inside the new copy and every
    ``.old`` child NOT in it — i.e. written concurrently while the rewrite
    ran — is moved into the new table instead of deleted, making the swap
    lose nothing under concurrent appends.  Callers that are the table's only
    writer (the fold's edges/cluster_labels rewrites) omit it.
    """
    if table_format not in ("parquet", "orc"):
        # snapshot-isolated table formats (Iceberg): the read pinned a
        # snapshot at plan time and the overwrite commits a new one, so a
        # self-referential rewrite is already safe — and the rename protocol
        # would break them (their metadata records absolute file paths, so a
        # directory rename orphans the table).  Plain overwrite IS the
        # atomic swap there.
        df.write.mode("overwrite").format(table_format).save(path)
        return
    tmp, old = f"{path}{suffix}.tmp", f"{path}{suffix}.old"
    fs, hpath = hadoop_path(spark, path)
    P = spark._jvm.org.apache.hadoop.fs.Path
    fs.delete(P(tmp), True)
    df.write.mode("overwrite").format(table_format).save(tmp)
    if snapshot is not None:
        # manifest travels inside the new copy so a crash after the second
        # rename still knows what the rewrite read (repair_swap finishes the
        # restore from it)
        write_text(spark, f"{tmp}/{_MANIFEST}", json.dumps(sorted(snapshot)))
    fs.delete(P(old), True)
    if fs.exists(hpath) and not fs.rename(hpath, P(old)):
        raise IOError(f"swap failed for {path} (main → .old)")
    if not fs.rename(P(tmp), hpath):
        # roll back so the table never disappears; if even the rollback
        # rename fails, fail LOUD with the recovery path — repair_swap also
        # restores from .old on the next run
        if fs.exists(P(old)) and not fs.rename(P(old), hpath):
            raise IOError(
                f"swap rollback ALSO failed for {path}; data is intact at "
                f"{old} — rename it back manually or rerun (entry repair "
                f"restores it)"
            )
        raise IOError(f"swap failed for {path} (.tmp → main)")
    if snapshot is not None and fs.exists(P(old)):
        _restore_unlisted(spark, path, old)
        fs.delete(P(f"{path}/{_MANIFEST}"), False)
    else:
        fs.delete(P(old), True)


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of a table directory; (0, 0) if absent."""
    fs, hpath = hadoop_path(spark, path)
    if not fs.exists(hpath):
        return 0, 0
    n, size = 0, 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        n += 1
        size += st.getLen()
    return n, size


def compact_stage_tables(
    spark: SparkSession,
    checkpoint_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 8,
) -> dict:
    """Rewrite fragmented stage tables to ~target-sized parquet files.

    Only tables whose data-file count exceeds both ``min_files`` and the
    size-implied file count are rewritten (an already-compact table is left
    untouched — compaction must be idempotent and cheap to schedule).
    Returns {table: {"files_before": n, "files_after": m, "bytes": b}} for
    the tables that were rewritten.
    """
    loc = checkpoint_dir.rstrip("/")
    report: dict = {}
    for name in APPEND_TABLES:
        path = f"{loc}/{name}"
        # crash repair BEFORE the skip checks: a kill between the two swap
        # renames leaves the data parked in <table>.compact.old with the
        # main path missing — without this, the next run would see
        # n_files == 0, skip, and the table would be silently lost forever
        repair_swap(spark, path, suffix=".compact")
        n_files, total = _dir_stats(spark, path)
        if n_files == 0:
            continue
        want = max(1, math.ceil(total / target_file_bytes))
        if n_files <= max(min_files, want):
            continue
        # writer lock held for the whole read+swap: a fold entering NOW must
        # not run its .compact entry repair against the live protocol (see
        # repair_swap); a fresh foreign lock means another compactor owns
        # this table — leave it alone this run
        if _lock_is_fresh(spark, path, ".compact"):
            continue
        lock = _lock_path(path, ".compact")
        write_text(spark, lock, "compact")
        try:
            report[name] = _compact_one(spark, path, n_files, total, want)
        finally:
            fs, lp = hadoop_path(spark, lock)
            fs.delete(lp, False)
    return report


def _compact_one(spark, path: str, n_files: int, total: int, want: int) -> dict:
    """Snapshot-pinned rewrite + manifest swap of one table (lock held by
    the caller)."""
    # pin the read to an explicit snapshot listing: Spark lists the
    # directory lazily at write time, so an unpinned self-read would
    # absorb files appended DURING the compaction into the rewrite while
    # the swap deletes their originals with `.old` — with the pin, a
    # concurrent append is provably not in the output and the manifest
    # restore (swap_overwrite) moves it into the new table afterwards
    snapshot = _list_children(spark, path)
    df = spark.read.parquet(*[f"{path}/{c}" for c in snapshot])
    # coalesce, not repartition: compaction must not shuffle the data it
    # rewrites — each output task concatenates whole input files
    swap_overwrite(
        spark, df.coalesce(want), path, suffix=".compact", snapshot=snapshot
    )
    after, _ = _dir_stats(spark, path)
    return {
        "files_before": n_files,
        "files_after": after,
        "bytes": total,
    }
