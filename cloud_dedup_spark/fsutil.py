"""Shared Hadoop-FileSystem helpers (driver-side).

One definition of the parquet ``_SUCCESS`` existence probe: it must go
through the Hadoop FileSystem API — a driver-local os.path check is always
False for hdfs:///s3a:// paths, which silently re-runs whatever the marker
was supposed to skip.  Used by plans/pipeline.CheckpointStore, the IVF
quantizer cache and plans/maintenance's swap protocol; one copy so an
Iceberg-catalog branch lands in all of them.
"""

from __future__ import annotations


def hadoop_path(spark, path: str):
    """(FileSystem, Path) of ``path`` on its own filesystem."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf), p


def hadoop_path_exists(spark, path: str) -> bool:
    """True iff ``path`` exists on its filesystem (any file or directory)."""
    fs, p = hadoop_path(spark, path)
    return fs.exists(p)


def hadoop_success_exists(spark, table_path: str) -> bool:
    """True iff ``<table_path>/_SUCCESS`` exists on the table's filesystem."""
    return hadoop_path_exists(spark, f"{table_path.rstrip('/')}/_SUCCESS")


def read_text(spark, path: str) -> str | None:
    """Small driver-side text read via Hadoop FS; None if absent.

    Uses a byte[]-RETURNING Java API: py4j does not copy Java-side writes
    back into a Python bytearray passed as a read buffer (a stream.read(buf)
    loop silently yields NULs)."""
    fs, p = hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def write_text(spark, path: str, text: str) -> None:
    """Small driver-side text write via Hadoop FS (overwrite)."""
    fs, p = hadoop_path(spark, path)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
