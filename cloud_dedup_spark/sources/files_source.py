"""Input sources for the files(repo, path, commit, lang, content) relation.

Reference analog: the directory scan S1 (src/cloud_duplicate_analyzer.py:125-191)
is the reference's only source; the graft's base relation is an **Iceberg
table** of source-code files (BASELINE.json input_hint), with parquet as the
local stand-in (the two share the code path — only the format string and the
catalog identifier differ; Iceberg jars arrive via spark-submit --packages,
not code).

Scan-level pushdown notes (SURVEY.md §4 X2): filters passed to
``read_files`` land in the DataSource scan — hidden-path and lang prefilters
prune parquet row groups / Iceberg files before any Python runs, the scaled
equivalent of the reference pruning ``dirnames`` in place (:144-146).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FILES_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)


class SchemaMismatch(ValueError):
    pass


def validate_files_schema(df: DataFrame) -> DataFrame:
    """Explicit-schema gate (SURVEY.md §1.3): the reference fixes its record
    keys by construction; we fail fast when a source drifts."""
    missing = [f.name for f in FILES_SCHEMA.fields if f.name not in df.columns]
    if missing:
        raise SchemaMismatch(f"files source missing columns: {missing}")
    return df.select(*[f.name for f in FILES_SCHEMA.fields],
                     *[c for c in df.columns
                       if c not in {f.name for f in FILES_SCHEMA.fields}])


def read_files(
    spark: SparkSession,
    location: str,
    table_format: str = "parquet",
    skip_hidden: bool = True,
    langs: list[str] | None = None,
) -> DataFrame:
    """Load the base relation with filters pushed into the scan.

    ``table_format='iceberg'`` + a catalog identifier reads the Iceberg table
    (partition pruning + file skipping apply); parquet gets row-group pruning
    for the same predicates.
    """
    # one load path for every format — iceberg/parquet/orc differ only in
    # the format string (the old if/else had byte-identical branches)
    df = spark.read.format(table_format).load(location)
    df = validate_files_schema(df)
    if skip_hidden:
        # P1/P2 analog: no path segment starts with '.'
        df = df.filter(~F.col("path").rlike(r"(^|/)\."))
    if langs:
        df = df.filter(F.col("lang").isin(langs))
    return df


def scan_warnings(
    df: DataFrame, expected_repos: list[str] | None = None
) -> list[str]:
    """Ingest-anomaly warnings — the reference's scan-warning side channel
    (src/cloud_duplicate_analyzer.py:131-143, :188-191: permission errors and
    empty scans) mapped to table ingest: an empty source, an expected repo
    with zero rows, and NULL content blobs (unreadable upstream).

    One aggregate job over (repo, content IS NULL) — never collects rows.
    Returned strings ride the report dict; html_report renders the banner
    (reference :859-872) and the list lands in the JSON sink.
    """
    agg = df.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("content").isNull(), 1).otherwise(0)).alias("n_null"),
    ).collect()
    warnings: list[str] = []
    total = sum(r["n"] for r in agg)
    if total == 0:
        warnings.append("0 files found — source may be empty or inaccessible")
    present = {r["repo"]: r for r in agg}
    for repo in expected_repos or []:
        if repo not in present or present[repo]["n"] == 0:
            warnings.append(
                f"{repo}: 0 files found — repo missing from source"
            )
    n_null = sum(r["n_null"] for r in agg)
    if n_null:
        warnings.append(
            f"{n_null} row(s) with NULL content — unreadable blobs upstream; "
            "excluded from content channels"
        )
    return warnings
