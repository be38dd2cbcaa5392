"""End-to-end dedup pipeline with resumable stage checkpoints.

Reference analog: ``analyze()`` (src/cloud_duplicate_analyzer.py:273-713),
the reference's single-pass engine core, restructured into the target
lifecycle (SURVEY.md §3):

    files → identity/normalize → exact channel → signatures → LSH candidates
          → verification → substring channel → connected components
          → cluster summary

Checkpointing (north_rule "resumable from checkpoint"): each starred stage
writes a stage table; a re-run with the same checkpoint location skips every
stage whose output already exists (detected via the parquet ``_SUCCESS``
marker).  Locally the stage tables are parquet directories; on a cluster
point ``table_format='iceberg'`` at a catalog-qualified namespace and the
same logic writes Iceberg tables (Iceberg jars are a spark-submit --packages
concern, not a code change).

The reference holds everything in RAM in one process
(docs/how-it-works.md:104); here every arrow is a DataFrame and every stage
boundary is spill-safe and restartable.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from cloud_dedup_spark.config import DedupConfig
from cloud_dedup_spark.fsutil import (
    hadoop_path_exists, hadoop_success_exists, read_text, write_text,
)
from cloud_dedup_spark.functions.normalize import normalize_content, with_identity
from cloud_dedup_spark.metrics import RunMetrics, driver_threads
from cloud_dedup_spark.operators.candidates import explode_bands, lsh_candidate_pairs
from cloud_dedup_spark.operators.cluster import cluster_assignments, cluster_summary
from cloud_dedup_spark.operators.exact import (
    exact_duplicate_clusters,
    exact_pair_edges,
)
from cloud_dedup_spark.operators.signatures import (
    SIG_TABLE_COLUMNS,
    compute_signatures,
)
from cloud_dedup_spark.operators.substring import substring_edge_list, substring_edges
from cloud_dedup_spark.operators.verify import accepted_edges, verify_pairs

_JOB_DESCRIPTION = "spark.job.description"
# written into a checkpoint dir by incremental_dedup_update before its first
# table write; run_pipeline refuses to resume a dir that carries it
FOLD_MARKER = "_folded"


def config_fingerprint(cfg: DedupConfig) -> str:
    """Canonical JSON of the config — the checkpoint-store resume guard key
    (human-readable on purpose: the marker file doubles as a record of what
    the stage tables were built with)."""
    import dataclasses

    return json.dumps(dataclasses.asdict(cfg), sort_keys=True, default=str)


def _as_read(dt: DataType) -> DataType:
    """``dt`` as a file source reads it back: Spark makes every field,
    array element and map value nullable (checked against inference by
    tests/test_pipeline_e2e.py::test_stage_readback_schema_matches_inferred)."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_read(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_read(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_read(dt.keyType), _as_read(dt.valueType), True)
    return dt


class CheckpointStore:
    """Stage-table store: write-once, read-back, skip-if-present.

    A parquet table's schema is recorded in ``<location>/_schemas/<name>.json``
    before the table's first write, so ``read`` starts no schema-inference
    job (a one-task job each, and a fold opens nine tables).  Writing the
    record before the data means that whenever ``exists(name)`` holds, so
    does the record, on a fresh run and a resume alike.  One file per table:
    concurrent stage threads never write the same file.  Only a table with
    no record is read with inference: Iceberg tables, which carry their own
    schema and reject a given one, and checkpoints written before schemas
    were recorded.
    """

    def __init__(
        self,
        spark: SparkSession,
        location: str | None,
        table_format: str = "parquet",
    ) -> None:
        self.spark = spark
        self.location = location.rstrip("/") if location else None
        self.table_format = table_format

    def _path(self, name: str) -> str:
        assert self.location is not None
        return f"{self.location}/{name}"

    def _schema_path(self, name: str) -> str:
        return f"{self._path('_schemas')}/{name}.json"

    def record_schema(self, name: str, schema: StructType) -> None:
        """Record the schema of table ``name``; call before its first write."""
        if self.table_format == "parquet":
            write_text(self.spark, self._schema_path(name), _as_read(schema).json())

    def read(self, name: str) -> DataFrame:
        """The stored table ``name``, with its recorded schema if any."""
        reader = self.spark.read.format(self.table_format)
        if self.table_format == "parquet":
            recorded = read_text(self.spark, self._schema_path(name))
            if recorded is not None:
                reader = reader.schema(StructType.fromJson(json.loads(recorded)))
        return reader.load(self._path(name))

    def exists(self, name: str) -> bool:
        if self.location is None:
            return False
        if self.table_format == "iceberg":
            # path-based Iceberg tables (HadoopTables) commit via the
            # metadata directory and write no _SUCCESS — probing the marker
            # made iceberg-mode resume silently never fire (round-4 review)
            return hadoop_path_exists(self.spark, f"{self._path(name)}/metadata")
        return hadoop_success_exists(self.spark, self._path(name))

    def folded(self) -> bool:
        """True iff an incremental fold has written to this checkpoint: it
        carries the fold's marker, or the ``shingle_index`` table that folds
        of an older layout wrote (nothing else reads or compacts that
        directory).  Starts no Spark job."""
        if self.location is None:
            return False
        return any(
            hadoop_path_exists(self.spark, self._path(name))
            for name in (FOLD_MARKER, "shingle_index")
        )

    def guard_config(self, fingerprint: str) -> None:
        """Refuse to resume stage tables written under a DIFFERENT config.

        Stage skip is keyed by name alone, so without this a crash → config
        edit → re-run silently mixed stages built under different shingle/
        band/threshold settings (e.g. NEW thresholds applied to OLD
        signatures — wrong pairs, no error; round-4 review).  The
        fingerprint marker is written once per store location; a mismatch
        is a hard error telling the user to pick a fresh checkpoint dir (or
        delete the stale one).  A torn marker write also mismatches —
        fail-safe."""
        if self.location is None:
            return
        marker = f"{self.location}/_dedup_config.json"
        existing = read_text(self.spark, marker)
        if existing is None:
            write_text(self.spark, marker, fingerprint)
        elif existing != fingerprint:
            raise ValueError(
                f"checkpoint dir {self.location} holds stage tables built "
                f"under a different DedupConfig; resuming would mix stages "
                f"across configs. Use a fresh checkpoint_dir or delete the "
                f"old one.\n  stored: {existing}\n  current: {fingerprint}"
            )

    def materialize(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Build → write → read back (or just read if already checkpointed).

        Reading back makes every downstream plan start from a scan instead of
        the full upstream lineage — the same lineage-cutting role as the
        reference re-deriving later stages from its in-memory lists.
        """
        if self.location is None:
            # no checkpointing requested: cut lineage in-memory instead
            return build().localCheckpoint()
        if not self.exists(name):
            df = build()
            self.record_schema(name, df.schema)
            df.write.mode("overwrite").format(self.table_format).save(
                self._path(name)
            )
        return self.read(name)


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig | None = None,
    checkpoint_dir: str | None = None,
    table_format: str = "parquet",
    track_rows: bool = True,
) -> dict:
    """Run the full dedup pipeline; returns stage DataFrames + metrics.

    Returns dict with keys: identity, exact, norm, signatures, bands,
    candidate_edges, substring_edges, edges, assignments, clusters,
    metrics (RunMetrics; with ``track_rows`` each stage also records its
    rows and partition skew, one action per stage).  A checkpoint that an
    incremental fold has updated raises ``ValueError``: resuming it would
    skip every stage.
    """
    cfg = cfg or DedupConfig()
    store = CheckpointStore(spark, checkpoint_dir, table_format)
    # a fold leaves exact, candidate_edges, substring_edges and clusters at
    # their pre-fold rows
    if store.folded():
        raise ValueError(
            f"checkpoint dir {checkpoint_dir} was updated by "
            f"incremental_dedup_update; its exact, candidate_edges, "
            f"substring_edges and clusters tables hold only the rows from "
            f"before the fold, so resuming it would return them next to the "
            f"folded identity, edges and assignments. Use the frames that "
            f"incremental_dedup_update returns, or a fresh checkpoint_dir."
        )
    store.guard_config(config_fingerprint(cfg))
    metrics = RunMetrics()

    files = widen_narrow_input(spark, files)

    sc = spark.sparkContext

    def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        # every job of the stage carries "stage:<name>" in the UI and the
        # REST API, and puts back the thread's own value when the stage ends
        prev = sc.getLocalProperty(_JOB_DESCRIPTION)
        sc.setLocalProperty(_JOB_DESCRIPTION, f"stage:{name}")
        try:
            t0 = time.time()
            df = store.materialize(name, build)
            metrics.record(name, time.time() - t0, df if track_rows else None)
            return df
        finally:
            sc.setLocalProperty(_JOB_DESCRIPTION, prev)

    # Stage tables are deliberately NARROW.  Materialized stage outputs
    # (localCheckpoint RDDs / parquet row groups) are re-deserialized in full
    # by every downstream scan — column pruning cannot reach inside a
    # checkpointed row — so fat rows tax every one of the many scans below.
    # Round-1 profile: the wide identity (content + content_norm for all
    # files) and signature (shingles + minhash + path metadata) tables made
    # identity/candidates/substring parallelism-flat at 240k files; splitting
    # them cut the fixed floor ~3×.

    # identity: metadata + the sha invariant only — content NEVER enters a
    # checkpoint (at 10^12 files the content column is the corpus itself;
    # stage tables must stay index-sized).
    identity_full = with_identity(files)
    meta_cols = [
        c for c in identity_full.columns if c not in ("content", "content_norm")
    ]
    identity = stage("identity", lambda: identity_full.select(*meta_cols))

    # 64-bit surrogate-id collision guard (normalize.file_id_col): files whose
    # file_id is shared by a DIFFERENT natural key (detected via the second
    # independent hash — a 128-bit composite check) are quarantined out of the
    # graph stages, so a birthday collision (E ≈ 27k pairs at 10^12 files)
    # can never silently merge two unrelated files into one cluster node.
    # Quarantined files re-enter the output as flagged singletons.
    # quarantine is PERSISTED state (round-4): the incremental fold's
    # collision check is delta-anchored — it inspects only identity rows
    # sharing a delta file_id — which is sound only if every collision among
    # prior rows is already on record.  This table is that record (tiny by
    # construction: E ≈ 27k colliding pairs at 10^12 files, so it broadcasts
    # everywhere it is used).
    quarantined = stage("quarantine", lambda: quarantine_id_collisions(identity))
    # clean identity derives from the MATERIALIZED quarantine table, not the
    # detection lineage: embedding quarantine_id_collisions' full-table
    # groupBy in clean_identity's plan re-ran the collision shuffle inside
    # every consuming stage (exact, cluster_labels); one broadcast anti-join
    # against the tiny persisted table replaces it (round-4 review)
    clean_identity = identity.join(
        F.broadcast(quarantined.select("file_id").distinct()),
        "file_id",
        "left_anti",
    )

    exact = stage("exact", lambda: exact_duplicate_clusters(clean_identity))

    # only exact representatives proceed to the similarity stages — the
    # pre-collapse that defuses boilerplate skew (operators/exact.py)
    rep_ids = exact.filter("is_exact_rep").select("file_id")

    # norm: normalized content of representatives only.  The semi join prunes
    # exact duplicates BEFORE the regex normalization pays for them.  No
    # explicit repartition: rep-id sets are narrow (8 B/row), so AQE picks a
    # broadcast semi join and the content column — the corpus' widest — is
    # never shuffled at all; 32 MB scan splits (session.py) balance the regex
    # by bytes, which is what its cost is proportional to.  When the id set
    # outgrows the broadcast threshold the same plan degrades gracefully to a
    # shuffled semi join whose hash partitioning balances the UDF instead.
    norm = stage(
        "norm",
        lambda: identity_full.select("file_id", "content")
        .join(rep_ids, "file_id", "left_semi")
        .select(
            "file_id", normalize_content("content").alias("content_norm")
        ),
    )

    sigs = stage(
        "signatures",
        lambda: compute_signatures(norm, cfg).select(*SIG_TABLE_COLUMNS),
    )

    # bands: the exploded (file_id, band_key) list, checkpointed once — the
    # LSH stage reads it twice (bucket sizes, bucket build); 16 B/row beats
    # re-exploding the shingle-bearing signature rows on each pass.
    bands = stage("bands", lambda: explode_bands(sigs))

    # anchors / candidate_edges / substring_edges are mutually independent —
    # each reads only the MATERIALIZED sigs/bands/norm stage tables — so
    # they run as three concurrent driver threads (guide §2.6: Spark's
    # scheduler happily interleaves jobs; the next stage's tasks back-fill
    # executors freed by the current stage's straggler tail).  Round-6
    # measurement: the two heavy stages were ~20 s + ~17 s sequential at
    # 240k files with neither keeping all 32 cores busy through its tail;
    # overlapped, the pipeline pays ~max of the three, not the sum.  Stage
    # names stay distinct so CheckpointStore paths never collide; metrics
    # appends are GIL-atomic; each stage's recorded seconds now measure its
    # own wall INCLUDING contention (noted in OPTIMIZATION_r06.md).
    from cloud_dedup_spark.operators.substring import candidate_anchors

    # anchors: each needle's K candidate substring anchors, persisted so the
    # incremental fold's reverse channel (old needle in NEW haystack) scans
    # this narrow table instead of re-exploding the union's signature rows
    # per delta (round-4; operators/substring.candidate_anchors).  Written
    # unfiltered — the cfg-dependent cuts apply at read time.
    with driver_threads(spark, 3) as submit:
        f_anchors = submit(stage, "anchors", lambda: candidate_anchors(sigs))
        f_verified = submit(
            stage,
            "candidate_edges",
            lambda: verify_pairs(
                lsh_candidate_pairs(sigs, cfg, bands=bands), sigs, cfg
            ),
        )
        f_sub = submit(
            stage, "substring_edges", lambda: substring_edges(norm, sigs, cfg)
        )
        anchors = f_anchors.result()
        verified = f_verified.result()
        sub_edges = f_sub.result()

    edges = stage(
        "edges",
        lambda: exact_pair_edges(exact)
        .unionByName(
            accepted_edges(verified).select("src", "dst", "edge_kind", "score")
        )
        .unionByName(substring_edge_list(sub_edges))
        .select("src", "dst", "edge_kind", "score"),
    )

    assignments = stage(
        "cluster_labels",
        lambda: with_quarantine_labels(
            cluster_assignments(clean_identity, edges), quarantined
        ),
    )

    # a stage like any other: build_report reads clusters in two sections
    # of its scalar union (size histogram, pairwise repo counts) —
    # unmaterialized, each section re-ran the window + groupBy over all
    # assignments (round-4 review)
    clusters = stage("clusters", lambda: cluster_summary(assignments))
    metrics.finished_at = time.time()

    return {
        "identity": identity,
        "quarantine": quarantined,
        "exact": exact,
        "norm": norm,
        "signatures": sigs,
        "bands": bands,
        "anchors": anchors,
        "candidate_edges": verified,
        "substring_edges": sub_edges,
        "edges": edges,
        "assignments": assignments,
        "clusters": clusters,
        "metrics": metrics,
    }


def widen_narrow_input(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df``, round-robin widened to 2 × defaultParallelism when narrow."""
    # a narrow input (few parquet splits, small createDataFrame) would
    # serialize the normalize + signature stages — measured as a hard scaling
    # ceiling (the whole pipeline inherited 2 partitions from a 250 MB corpus
    # file).  One up-front round-robin shuffle is cheap next to the per-file
    # CPU work it unlocks — but it moves the CONTENT column, so it must fire
    # only for genuinely narrow inputs: the threshold is capped at 64 splits,
    # not defaultParallelism (a multi-TB source in 4000 splits on an
    # 8000-core cluster must NOT round-robin every content byte; 32 MB scan
    # splits in session.py widen real reads long before this guard — round-4
    # review)
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(par, 64):
        return df.repartition(par * 2)
    return df


def with_quarantine_labels(clean: DataFrame, quarantined: DataFrame) -> DataFrame:
    """cluster_labels rows: ``clean`` (file_id, repo, path, cluster_id) with
    ``quarantined`` False, plus the quarantined identity rows with True."""
    # a quarantined row is labeled by its second hash: unique per quarantined
    # file even though file_id itself is the collided value.  This label is
    # advisory only — it lives in a hash space that is NOT structurally
    # disjoint from graph cluster ids, so every downstream cluster_id
    # grouping (cluster_summary, report drill-down, unique_file_counts)
    # partitions on the ``quarantined`` flag first and never groups these
    # rows with graph-labeled ones.
    return clean.withColumn("quarantined", F.lit(False)).unionByName(
        quarantined.select(
            "file_id", "repo", "path",
            F.col("file_id2").alias("cluster_id"),
            F.lit(True).alias("quarantined"),
        )
    )


def quarantine_id_collisions(identity: DataFrame) -> DataFrame:
    """The identity rows to quarantine: those whose file_id collides.

    A collision = one ``file_id`` carried by more than one distinct natural
    key, detected via the second independent hash column ``file_id2``
    (normalize.file_id2_col) — the composite is 128 bits, so an UNdetected
    collision needs both hashes to collide (P ≈ 2^-128 per pair; expected
    ~10^-14 events at 10^12 files).  The check is one narrow groupBy over two
    long columns.  Quarantining (not failing) keeps the run deterministic and
    incremental-safe: the colliding files simply never enter the edge graph
    (callers anti-join the persisted result to get the clean rows).
    """
    collided = (
        identity.groupBy("file_id")
        .agg(F.countDistinct("file_id2").alias("_n2"))
        .filter(F.col("_n2") > 1)
        .select("file_id")
    )
    return identity.join(collided, "file_id", "left_semi")


def invariant_violations(identity: DataFrame, files: DataFrame) -> DataFrame:
    """Rows where the identity table's content_sha256 ≠ sha2 recomputed from
    the source content.

    The per-row invariant from BASELINE.json ``input_hint`` — reference
    analog: MD5 re-verification of candidate content (:257-258).  The
    identity stage table carries no content (index-sized by design), so the
    check joins it back to the source on the natural key and re-hashes.
    Empty result = invariant holds.
    """
    recomputed = files.select(
        "repo", "path", "commit", F.sha2(F.col("content"), 256).alias("_sha_now")
    )
    return (
        identity.join(recomputed, ["repo", "path", "commit"])
        .filter(F.col("content_sha256") != F.col("_sha_now"))
        .select("repo", "path", "content_sha256")
    )
