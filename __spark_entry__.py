"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship dedup run on sf0.001 documents.
``queries()`` — one entry per implemented operator family (SURVEY.md §2 +
the training-data operators).  ``oracle_sql()`` — DuckDB twins; omitted for
the genuinely non-SQL ops (MinHash/LSH/connected-components), which the
driver checks rows-only.

Column names are aliased identically on both sides (the driver sorts columns
by name before value-hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_dedup_spark.functions.text import STOPWORDS, text_profile
from cloud_dedup_spark.operators.documents import (
    documents_as_files,
    exact_text_duplicates,
    ngram_jaccard_pairs,
    prefix_fingerprint_groups,
    source_overlap_counts,
    unique_docs_per_source,
)
from cloud_dedup_spark.operators.ivf import ivf_topk
from cloud_dedup_spark.operators.multimodal import (
    PnmWavDecoder,
    documents_as_media,
    extract_features,
    feature_dup_groups,
)
from cloud_dedup_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_pairs,
    cosine_near_pairs_lsh,
    lsh_bucketed_topk,
)
from cloud_dedup_spark.plans.pipeline import run_pipeline


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---- planted fixtures (the reference's make_file discipline,
# /root/reference/tests/test_cloud_duplicate_analyzer.py:9-16, applied to the
# driver gate): the synthetic tables contain no exact-duplicate text and no
# order-less customers, so the dedup/overlap/anti-join oracles would be
# value-checked against 0 rows — proving nothing about the operators a dedup
# engine exists for.  Both engines run the IDENTICAL planting expression
# (UNION ALL of a doc_id/custkey-offset slice), so the hash check gets real
# support while staying exact.


def _docs_with_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text",
        "lang",
        F.lit("planted").alias("source"),
        "n_chars",
    )
    return docs.unionByName(planted)


_DOCS_PLANTED_CTE = """
        SELECT * FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text, lang,
               'planted' AS source, n_chars
        FROM documents WHERE doc_id % 97 = 0
"""


def _customers_with_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    planted = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    return cust.unionByName(planted)


_CUST_PLANTED_CTE = """
        SELECT * FROM customer
        UNION ALL
        SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey,
               c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 97 = 0
"""


# ---------------------------------------------------------------- flagship


def entry(spark: SparkSession) -> DataFrame:
    """Full dedup pipeline (exact + MinHash/LSH + substring + clustering) on
    the sf0.001 documents table, returning multi-member cluster summaries."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    res = run_pipeline(spark, documents_as_files(docs))
    return res["clusters"].select(
        "cluster_id", "n_files", "n_repos",
        F.col("representative.path").alias("rep_path"),
    )


# ---------------------------------------------------------------- queries


def q_exact_text_dupes(spark, sf_dir):
    return exact_text_duplicates(_docs_with_planted(spark, sf_dir))


def q_prefix_fp_groups(spark, sf_dir):
    return prefix_fingerprint_groups(_t(spark, sf_dir, "documents"), k=10)


def q_substring_doc_pairs(spark, sf_dir):
    """PRODUCTION substring channel (rarest-anchor candidates over the
    shingle inverted index + exact verbatim verification,
    operators/substring.py — reference analog: the containment pass the
    suffix-array stage covers) on the documents table, hash-checked against
    DuckDB's naive all-pairs contains() on identically normalized text.
    Haystacks are planted by concatenating adjacent docs with the IDENTICAL
    expression on both engines; the natural corpus contributes additional
    true containments.  The oracle mirrors the operator's exact needle
    gates — token-strict size inequality and the min-token floor, counted
    with the same tokenizer regex on the identically normalized text
    (char-strict length alone admits pairs the operator rejects, e.g. equal
    token counts where the haystack merely extends the needle's last
    token).  Equality holds because every needle here is distinctive
    (rarest-anchor df ≪ cap), so the candidate-generation heuristics are
    recall-lossless on this input — the pytest suite covers the
    capped/dropped-needle cases DuckDB cannot express."""
    from cloud_dedup_spark.config import DedupConfig
    from cloud_dedup_spark.operators.substring import (
        lean_shingle_frames,
        substring_edges,
    )

    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("a_id"),
        F.col("text").alias("a_text"),
        F.col("lang").alias("a_lang"),
    )
    b = docs.select(F.col("doc_id").alias("b_id"), F.col("text").alias("b_text"))
    hay = a.join(b, F.col("a_id") + 1 == F.col("b_id")).select(
        (F.col("a_id") + 2000000).alias("doc_id"),
        F.concat("a_text", F.lit("\n\n"), "b_text").alias("text"),
        F.col("a_lang").alias("lang"),
        F.lit("planted_hay").alias("source"),
        F.length(F.concat("a_text", F.lit("\n\n"), "b_text")).alias("n_chars"),
    )
    all_docs = docs.unionByName(hay)
    cfg = DedupConfig()
    ident, sigs = lean_shingle_frames(documents_as_files(all_docs), cfg)
    edges = substring_edges(ident, sigs, cfg)
    ids = ident.select(
        "file_id", F.expr("cast(substring(path, 5) as bigint)").alias("doc")
    )
    return (
        edges.join(
            ids.select(F.col("file_id").alias("src"), F.col("doc").alias("sdoc")),
            "src",
        )
        .join(
            ids.select(F.col("file_id").alias("dst"), F.col("doc").alias("ddoc")),
            "dst",
        )
        .select(
            F.least("sdoc", "ddoc").alias("doc_a"),
            F.greatest("sdoc", "ddoc").alias("doc_b"),
        )
        .distinct()
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    # df_cap bounds per-gram join fan-out to cap² (boilerplate guard); the
    # DuckDB oracle applies the identical cap, so the hash stays exact.
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5, df_cap=50
    )


def q_text_profile(spark, sf_dir):
    return text_profile(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_subwords", "punct_ratio", "stopword_ratio",
        "mean_word_len", "lang_guess", "quality", "fingerprint",
    )


def q_source_overlap(spark, sf_dir):
    return source_overlap_counts(_docs_with_planted(spark, sf_dir))


def q_source_set_relationships(spark, sf_dir):
    """E2 set-relationship classify over source fingerprint sets (reference
    :597-622 CASE ladder); planted docs give the classifier nonzero support
    (the planted source overlaps every original source through its copied
    slice).  All four relationship classes are pinned with constructed sets
    in tests/test_documents_ops.py."""
    from cloud_dedup_spark.operators.documents import source_set_relationships

    return source_set_relationships(_docs_with_planted(spark, sf_dir))


def q_unique_docs(spark, sf_dir):
    return unique_docs_per_source(_t(spark, sf_dir, "documents"))


def q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return brute_force_topk(emb, queries, k=3)


def q_emb_near_pairs(spark, sf_dir):
    return cosine_near_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def q_lineitem_pricing(spark, sf_dir):
    """TPC-H Q1-style aggregate: scan → filter → groupBy (A9/A10 analogs)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_latest_order_per_customer(spark, sf_dir):
    """Window row_number — the P6 first-hit / O1 deterministic-index analog."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


def q_customers_without_orders(spark, sf_dir):
    """Anti-join (E6/A5 analog): customers with zero orders, per nation.
    Planted order-less customers give the anti-join nonzero support."""
    cust = _customers_with_planted(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(
            orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_supplier_part_span(spark, sf_dir):
    """Distinct-agg + broadcast-dimension join (J2 label-dimension analog)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    # revenue summed as decimal(18,4) (TPC-H semantics): decimal addition is
    # order-independent, so Spark's partial-aggregation order and DuckDB's
    # sequential order produce the identical cent — a double sum differed by
    # $0.01 for one supplier at sf0.01 (round-1 hash mismatch).
    rev_term = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.round(F.sum(rev_term), 2).cast("double").alias("revenue"),
    )
    return per_supp.join(
        F.broadcast(supp.select(F.col("s_suppkey").alias("l_suppkey"), "s_name")),
        "l_suppkey",
    ).select(F.col("l_suppkey").alias("suppkey"), "s_name", "n_parts", "revenue")


def q_events_rollup(spark, sf_dir):
    """Events per (user, type): count + value stats (A4/A11 pivot analog)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_dedup_keepers(spark, sf_dir):
    """Survivor selection after exact dedup: one keeper per fingerprint group
    (longest text, tie → min doc_id) — the post-detection curation step of a
    training-data pipeline.  Planted duplicates give multi-member groups."""
    from cloud_dedup_spark.operators.documents import select_keepers

    return select_keepers(_docs_with_planted(spark, sf_dir))


def q_dedup_keepers_quality(spark, sf_dir):
    """Quality-AWARE survivor selection (round-4 verdict item 5): within each
    prefix-fingerprint near-dup block keep the highest-quality member
    (max quality_score, tie → longest, tie → min doc_id) — the curation
    policy a real training-data pipeline runs after duplicate detection.
    Pure Column arithmetic → full DuckDB hash twin; the longest-vs-quality
    divergence case is pinned in tests/test_documents_ops.py."""
    from cloud_dedup_spark.operators.documents import select_keepers_quality

    return select_keepers_quality(_docs_with_planted(spark, sf_dir), k=10)


def q_media_near_pairs(spark, sf_dir):
    """Media NEAR-dup channel end-to-end (round-4 verdict item 4): documents
    → real 4x4 binary PGMs (pure-Column synthesis) → REAL distributed decode
    (PnmWavDecoder via mapInPandas) → banded hyperplane-LSH near pairs over
    the decoded feature column (cosine ≥ 0.999 — re-encoded/brightness-
    scaled copies land at cosine ≈ 1, byte-exact copies at exactly 1).
    Non-SQL (seeded hyperplane projections) → rows-only driver check;
    brightness/volume-invariant retrieval is recall-pinned in
    tests/test_multimodal.py."""
    media = documents_as_media(_docs_with_planted(spark, sf_dir))
    feats = extract_features(media, PnmWavDecoder()).filter(
        F.col("feature").isNotNull()
    ).select(F.col("media_id").alias("vec_id"), F.col("feature").alias("embedding"))
    return cosine_near_pairs_lsh(feats, threshold=0.999, target_recall=0.99)


def q_user_sessions(spark, sf_dir):
    """Gap-based sessionization (window lag → boundary flag → running sum →
    group) — the log-pipeline operator for event data; 30-min gap.  Exact
    integer microsecond arithmetic on both engines (unix_micros/epoch_us)."""
    from cloud_dedup_spark.operators.events import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_seconds=1800)


def q_event_prop_buckets(spark, sf_dir):
    """Schema-on-read JSON extraction (get_json_object, JVM-side) bucketed
    into an aggregate — the pull-a-field-from-the-props-blob log query."""
    from cloud_dedup_spark.operators.events import json_prop_buckets

    return json_prop_buckets(_t(spark, sf_dir, "events"))


def q_contaminated_docs(spark, sf_dir):
    """Benchmark decontamination (operators/contamination.py): which corpus
    documents verbatim-contain an eval snippet?  The probe set is a
    deterministic pure-Column token slice of every 29th doc, built with the
    IDENTICAL expression on both engines, so the hash checks the full
    detection channel (signature build → rarest-anchor candidates → subset
    prefilter → exact contains), not the fixture.  The DuckDB twin is the
    naive snippets × docs contains() under the operator's exact gates —
    equality holds because every snippet is distinctive at this sf (rarest
    anchor df ≪ cap); the capped/dropped-needle semantics are pinned in
    tests/test_contamination.py where SQL cannot express them."""
    from cloud_dedup_spark.operators.contamination import (
        benchmark_snippets,
        contaminated_docs,
    )

    docs = _t(spark, sf_dir, "documents")
    return contaminated_docs(docs, benchmark_snippets(docs))


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary profile: top-100 tokens by document frequency
    (local array_distinct → one map-side-combined groupBy →
    TakeOrderedAndProject; deterministic tie-break on token)."""
    from cloud_dedup_spark.operators.documents import token_df_topk

    return token_df_topk(_t(spark, sf_dir, "documents"), k=100)


def q_lang_quality_rollup(spark, sf_dir):
    """Per-language corpus curation report over the text_profile columns:
    doc count, exact decimal quality mass, token mass, low-quality count —
    the summary a data-curation pass reads before choosing filter
    thresholds.  Sums are decimal/bigint so partial-aggregation order can
    never move a cent (the supplier_part_span discipline)."""
    prof = text_profile(_t(spark, sf_dir, "documents"))
    return prof.groupBy("lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum(F.col("quality").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_quality"),
        F.sum(F.col("n_tokens").cast("bigint")).alias("sum_tokens"),
        F.count(F.when(F.col("quality") < 0.5, F.lit(1))).alias("n_low_quality"),
    )


def q_minhash_doc_clusters(spark, sf_dir):
    """Full MinHash/LSH/substring/CC pipeline on documents (non-SQL: rows-only
    driver check).  Deterministic: seeded hashes, min-id cluster labels."""
    docs = _t(spark, sf_dir, "documents")
    res = run_pipeline(spark, documents_as_files(docs))
    return (
        res["assignments"]
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.countDistinct("repo").alias("n_sources"))
        .filter(F.col("n_docs") >= 2)
    )


def q_emb_near_pairs_lsh(spark, sf_dir):
    """Banded hyperplane-LSH blocked near pairs — the scale twin of
    emb_near_pairs (equi-join on band keys, no cartesian; candidates exactly
    re-scored, recall pinned ≥0.95 vs the exact twin in test_similarity.py).
    Non-SQL (seeded hyperplane projections) → rows-only driver check."""
    return cosine_near_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, target_recall=0.98
    )


def _ivf_setup(spark, emb, sf_dir):
    """Load-or-fit the coarse quantizer; returns (centroids, n_cells).

    n_cells is DERIVED, not fixed (round-4 verdict item 6): the standard IVF
    bucket-occupancy rule n_cells ≈ √N puts expected cell occupancy at ≈ √N,
    so per-vector candidate volume (occupancy × probes) and quantizer cost
    (n_cells × dim per row) both stay sublinear as the corpus grows —
    a fixed 16 degenerates to near-brute-force occupancy at 10^9 rows.
    Clamped to [8, 4096]: below 8 cells pruning is meaningless, above 4096
    the centroid matrix stops being broadcast-trivial (4096 × 1024 doubles =
    32 MB) and a cluster deployment should move to a two-level quantizer.

    The cache path is keyed by a CONTENT fingerprint of the embeddings table
    (count + xxhash fold), not just its location: regenerated test data must
    never silently reuse centroids fit on the old corpus — and n_cells is in
    the key, so the derived size change can never alias a stale matrix.
    The path lives under the checkpoint-store root (SPARK_GRAFT_CKPT_DIR, or
    a process-stable tmp default) via ivf.quantizer_store_path — the same
    surface every other stage table uses, so on a cluster the quantizer is a
    shared-filesystem stage table, not a per-node /tmp artifact."""
    import os
    import tempfile

    from cloud_dedup_spark.operators.ivf import (
        fit_or_load_centroids,
        quantizer_store_path,
    )

    fp = emb.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent, no ANSI long-sum overflow; NULL (and
        # guarded to 0) over an empty table
        F.expr(
            "bit_xor(xxhash64(vec_id, element_at(embedding, 1)))"
        ).alias("h"),
    ).first()
    n = fp["n"] or 0
    n_cells = max(8, min(4096, int(max(n, 1) ** 0.5)))
    tag = sf_dir.rstrip("/").replace("/", "_")
    h = (fp["h"] or 0) & 0xFFFFFFFF
    base = os.environ.get(
        "SPARK_GRAFT_CKPT_DIR",
        os.path.join(tempfile.gettempdir(), "cloud_dedup_ckpt"),
    )
    path = quantizer_store_path(base, f"{tag}_{n_cells}_42_{n}_{h:x}")
    cent = fit_or_load_centroids(spark, emb, n_cells=n_cells, path=path, seed=42)
    return cent, n_cells


def q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN: k-means coarse cells + nprobe search — the 100 TB top-k path
    (recall@k pinned vs brute force in test_similarity.py).  Non-SQL
    (iterative k-means) → rows-only driver check.

    The coarse quantizer is corpus state: fit once, persisted as a stage
    table keyed by (corpus fingerprint, n_cells, seed), and reused by every
    later call — the search job never refits k-means (seeded fit ⇒ warm and
    cold paths return identical results, pinned in test_similarity.py).
    n_cells derives from the corpus (√N occupancy rule, _ivf_setup); nprobe
    keeps the proven ~60% cell coverage of the fixed-16 era, which is where
    the recall pin held."""
    emb = _t(spark, sf_dir, "embeddings")
    cent, n_cells = _ivf_setup(spark, emb, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    nprobe = max(4, round(n_cells * 0.6))
    return ivf_topk(
        emb, queries, k=3, n_cells=n_cells, nprobe=nprobe, centroids=cent
    )


def q_emb_near_pairs_ivf(spark, sf_dir):
    """IVF-blocked near pairs — the density-blocking scale twin of
    emb_near_pairs for clustered corpora (exact re-score ⇒ precision 1.0;
    subset+recall pinned vs the exact twin in test_similarity.py).  Reuses
    the persisted coarse quantizer; n_cells derives from the corpus (√N
    rule), n_assign scales with it so the probed fraction of the space stays
    ~constant.  Measured (round-5, sf0.01, threshold 0.4): n_assign=4/22
    recovers 55/59 exact pairs, where a single-assignment multi-probe
    variant (since removed) found 28-47/59 even at nprobe=12/22: at this LOW
    threshold (cos 0.4 ≈ 66°) pairs straddle cell boundaries and only
    double-sided assignment covers them.  Probing stays the top-k lever
    (``ivf_topk``'s nprobe, used by ann_topk_ivf).  Non-SQL (seeded
    k-means) → rows-only driver check."""
    from cloud_dedup_spark.operators.ivf import ivf_near_pairs

    emb = _t(spark, sf_dir, "embeddings")
    cent, n_cells = _ivf_setup(spark, emb, sf_dir)
    n_assign = max(3, round(n_cells * 0.18))
    return ivf_near_pairs(
        emb, threshold=0.4, n_cells=n_cells, n_assign=n_assign, centroids=cent
    )


def q_media_dup_groups(spark, sf_dir):
    """Multimodal dedup over DECODED features, end-to-end on genuine media
    bytes: documents are rendered to real 4x4 binary PGMs (pure-Column
    synthesis — sha2→unhex→substring→concat, operators/multimodal.py),
    decoded by the REAL ``PnmWavDecoder`` through the distributed
    ``mapInPandas`` path, and grouped by decoded feature vector.  Identical
    text ⇔ byte-identical image ⇔ identical feature, so the DuckDB twin
    groups by raw text equality — the decode round-trip is what's under
    test.  Reference analog: the MD5-based media channel
    (/root/reference/src/cloud_duplicate_analyzer.py:100-111), upgraded to
    content-decoded features."""
    media = documents_as_media(_docs_with_planted(spark, sf_dir))
    return feature_dup_groups(extract_features(media, PnmWavDecoder()))


def q_lsh_ann_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN (non-SQL: rows-only driver check)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # 6 planes → 64 buckets over ~500 vectors: meaningful bucket occupancy at
    # this sf; a cluster run scales n_planes with log2(N / target_bucket_size)
    return lsh_bucketed_topk(emb, queries, k=3, n_planes=6)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_text_dupes": q_exact_text_dupes,
        "prefix_fp_groups": q_prefix_fp_groups,
        "substring_doc_pairs": q_substring_doc_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "text_profile": q_text_profile,
        "source_overlap": q_source_overlap,
        "source_set_relationships": q_source_set_relationships,
        "unique_docs": q_unique_docs,
        "ann_topk": q_ann_topk,
        "emb_near_pairs": q_emb_near_pairs,
        "lineitem_pricing": q_lineitem_pricing,
        "latest_order_per_customer": q_latest_order_per_customer,
        "customers_without_orders": q_customers_without_orders,
        "supplier_part_span": q_supplier_part_span,
        "events_rollup": q_events_rollup,
        "dedup_keepers": q_dedup_keepers,
        "dedup_keepers_quality": q_dedup_keepers_quality,
        "user_sessions": q_user_sessions,
        "event_prop_buckets": q_event_prop_buckets,
        "contaminated_docs": q_contaminated_docs,
        "vocab_topk": q_vocab_topk,
        "lang_quality_rollup": q_lang_quality_rollup,
        "media_dup_groups": q_media_dup_groups,
        "media_near_pairs": q_media_near_pairs,
        "minhash_doc_clusters": q_minhash_doc_clusters,
        "lsh_ann_topk": q_lsh_ann_topk,
        "emb_near_pairs_lsh": q_emb_near_pairs_lsh,
        "emb_near_pairs_ivf": q_emb_near_pairs_ivf,
        "ann_topk_ivf": q_ann_topk_ivf,
    }


# ---------------------------------------------------------------- oracles

_FP = r"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"
_STOPS = ", ".join(f"'{s}'" for s in STOPWORDS)

# the operator's normalization chain (functions/normalize.py) in DuckDB
# regex dialect: lower → strip block+line comments → collapse ws → trim;
# RE2 inline flags mirror the Java (?s)/(?m) semantics.  Shared by the
# substring and contamination twins.
_NORM = (
    r"trim(regexp_replace(regexp_replace(regexp_replace(lower({col}),"
    r" '(?s)/\*.*?\*/', ' ', 'g'),"
    r" '(?m)(#|//).*$', ' ', 'g'),"
    r" '\s+', ' ', 'g'))"
)
# signature-stage tokenizer (token-strict gates count with this regex)
_SIG_TOK = r"[a-z_][a-z0-9_]*|[0-9]+|[^\sa-z0-9_]"

_ORACLES: dict[str, str] = {
    "exact_text_dupes": f"""
        WITH docs AS ({_DOCS_PLANTED_CTE})
        SELECT {_FP} AS fingerprint,
               count(*) AS n_docs,
               count(DISTINCT source) AS n_sources,
               min(doc_id) AS min_doc_id
        FROM docs
        WHERE text IS NOT NULL  -- NULL texts are not byte-identical dupes
        GROUP BY 1
        HAVING count(*) >= 2
    """,
    # media decode round-trip: identical raw text ⇔ byte-identical PGM ⇔
    # identical decoded feature (4x4 grid = identity on the pixels), so raw
    # text-equality groups are the exact truth for the feature-level groups
    "media_dup_groups": f"""
        WITH docs AS ({_DOCS_PLANTED_CTE})
        SELECT min(doc_id) AS min_media_id,
               count(*) AS n_media
        FROM docs
        WHERE text IS NOT NULL  -- documents_as_media drops NULL texts
        GROUP BY text
        HAVING count(*) >= 2
    """,
    "prefix_fp_groups": """
        SELECT md5(array_to_string(
                 regexp_split_to_array(lower(trim(text)), '\\s+')[1:10], ' '))
               AS prefix_fp,
               count(*) AS n_docs,
               count(DISTINCT source) AS n_sources,
               min(doc_id) AS min_doc_id
        FROM documents
        WHERE text IS NOT NULL
        GROUP BY 1
        HAVING count(*) >= 2
    """,
    # naive all-pairs containment twin of the anchor-indexed production
    # operator: identical normalization chain (lower → strip /* */ and
    # #/// line comments → collapse ws → trim; RE2 inline flags mirror the
    # Java (?s)/(?m) semantics), identical haystack planting, and the
    # operator's own token-strict gates (min 12 tokens, needle tokens <
    # haystack tokens) via the signature tokenizer regex
    "substring_doc_pairs": r"""
        WITH all_docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT a.doc_id + 2000000 AS doc_id,
                 a.text || chr(10) || chr(10) || b.text AS text
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 101 = 0
        ), norm AS (
          SELECT doc_id,
                 trim(regexp_replace(regexp_replace(regexp_replace(
                      lower(text),
                      '(?s)/\*.*?\*/', ' ', 'g'),
                      '(?m)(#|//).*$', ' ', 'g'),
                      '\s+', ' ', 'g')) AS t
          FROM all_docs
        ), tok AS (
          -- the operator's token-strict semantics, not char-strict: needle
          -- token count >= substring_min_tokens (12) and strictly fewer
          -- tokens than the haystack, counted with the signature stage's
          -- exact tokenizer regex over the identically normalized text
          SELECT doc_id, t,
                 len(regexp_extract_all(
                       t, '[a-z_][a-z0-9_]*|[0-9]+|[^\sa-z0-9_]')) AS n_tok
          FROM norm
        )
        SELECT LEAST(n.doc_id, h.doc_id) AS doc_a,
               GREATEST(n.doc_id, h.doc_id) AS doc_b
        FROM tok n JOIN tok h
          ON n.doc_id <> h.doc_id
         AND length(n.t) >= 64
         AND n.n_tok >= 12
         AND n.n_tok < h.n_tok
         AND position(n.t IN h.t) > 0
        GROUP BY 1, 2
    """,
    # naive snippets × docs containment twin of the anchor-indexed
    # decontamination channel: the probe set is the IDENTICAL pure-Column
    # slice expression (every 29th doc, whitespace tokens 5..28 of the
    # lowercased text, ≥33-token docs only — DuckDB list slices are
    # 1-based inclusive, so [5:28] = Spark slice(toks, 5, 24)), and the
    # containment predicate mirrors the operator's gates exactly
    # (normalized text, needle ≥64 chars, ≥12 sig tokens, token-strict
    # needle < haystack)
    "contaminated_docs": f"""
        WITH snips AS (
          SELECT doc_id AS bench_id,
                 array_to_string(
                   regexp_split_to_array(lower(trim(text)), '\\s+')[5:28],
                   ' ') AS snippet
          FROM documents
          WHERE text IS NOT NULL AND doc_id % 29 = 0
            AND len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 33
        ), ntok AS (
          SELECT bench_id, t,
                 len(regexp_extract_all(t, '{_SIG_TOK}')) AS n_tok
          FROM (SELECT bench_id, {_NORM.format(col="snippet")} AS t FROM snips)
        ), htok AS (
          SELECT doc_id, t,
                 len(regexp_extract_all(t, '{_SIG_TOK}')) AS n_tok
          FROM (SELECT doc_id, {_NORM.format(col="text")} AS t
                FROM documents WHERE text IS NOT NULL)
        )
        SELECT n.bench_id, h.doc_id
        FROM ntok n JOIN htok h
          ON length(n.t) >= 64
         AND n.n_tok >= 12
         AND n.n_tok < h.n_tok
         AND position(n.t IN h.t) > 0
        GROUP BY 1, 2
    """,
    "vocab_topk": """
        WITH toks AS (
          SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                     AS token
            FROM documents WHERE text IS NOT NULL
          )
        )
        SELECT token, count(*) AS df
        FROM toks
        WHERE token <> ''
        GROUP BY token
        ORDER BY df DESC, token ASC
        LIMIT 100
    """,
    "ngram_jaccard_pairs": """
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
          FROM documents
        ), idx AS (
          SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 2)) AS i
          FROM toks WHERE len(arr) >= 3
        ), grams0 AS (
          SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS ng
          FROM idx
        ), kept AS (
          SELECT ng FROM grams0 GROUP BY ng HAVING count(*) <= 50
        ), grams AS (
          SELECT doc_id, ng FROM grams0 JOIN kept USING (ng)
        ), sizes AS (
          SELECT doc_id, count(*) AS n_ng FROM grams GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM grams a JOIN grams b USING (ng)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_inter / (sa.n_ng + sb.n_ng - n_inter), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        -- RAW-ratio threshold, 4dp rounding for presentation only (mirrors
        -- ngram_jaccard_pairs: rounding-then-filtering admitted sub-threshold
        -- pairs within 5e-5 of the boundary)
        WHERE n_inter / (sa.n_ng + sb.n_ng - n_inter) >= 0.5
    """,
    "text_profile": f"""
        WITH base AS (
          SELECT doc_id, text, lower(text) AS low, trim(text) AS t,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
                 CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
          FROM documents
        )
        SELECT doc_id,
               n_tokens,
               len(regexp_extract_all(low, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_subwords,
               round(CASE WHEN len(regexp_replace(low, '\\s', '', 'g')) = 0 THEN 0.0
                    ELSE len(regexp_replace(low, '[\\p{{L}}\\p{{N}}\\s]', '', 'g'))
                         / len(regexp_replace(low, '\\s', '', 'g')) END, 4) AS punct_ratio,
               round(CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE len(list_filter(toks, x -> x IN ({_STOPS}))) / n_tokens
                    END, 4) AS stopword_ratio,
               round(CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE len(regexp_replace(t, '\\s+', '', 'g')) / n_tokens END, 4)
                    AS mean_word_len,
               CASE
                 WHEN regexp_matches(low, '[一-鿿]') THEN 'zh'
                 WHEN regexp_matches(low, '[Ѐ-ӿ]') THEN 'ru'
                 WHEN regexp_matches(low, '(^| )(der|die|das|und|ist|nicht)( |$)') THEN 'de'
                 WHEN regexp_matches(low, '(^| )(le|la|les|est|une|dans)( |$)') THEN 'fr'
                 WHEN regexp_matches(low, '(^| )(el|los|las|es|una|que)( |$)') THEN 'es'
                 WHEN regexp_matches(low, '(^| )(the|and|is|of|to|in)( |$)') THEN 'en'
                 ELSE 'und'
               END AS lang_guess,
               round(
                 0.4 * (CASE WHEN n_tokens >= 50 THEN 1.0 WHEN n_tokens >= 10 THEN 0.7
                             WHEN n_tokens >= 3 THEN 0.3 ELSE 0.0 END)
                 + 0.3 * (1.0 - round(CASE WHEN len(regexp_replace(low, '\\s', '', 'g')) = 0 THEN 0.0
                         ELSE len(regexp_replace(low, '[\\p{{L}}\\p{{N}}\\s]', '', 'g'))
                              / len(regexp_replace(low, '\\s', '', 'g')) END, 4))
                 + 0.3 * (CASE
                     WHEN round(CASE WHEN n_tokens = 0 THEN 0.0
                          ELSE len(list_filter(toks, x -> x IN ({_STOPS}))) / n_tokens END, 4)
                          BETWEEN 0.05 AND 0.6 THEN 1.0
                     WHEN round(CASE WHEN n_tokens = 0 THEN 0.0
                          ELSE len(list_filter(toks, x -> x IN ({_STOPS}))) / n_tokens END, 4)
                          > 0.6 THEN 0.3
                     ELSE 0.5 END), 4) AS quality,
               {_FP} AS fingerprint
        FROM base
    """,
    "source_overlap": f"""
        WITH docs AS ({_DOCS_PLANTED_CTE}),
        fp AS (
          SELECT DISTINCT {_FP} AS fingerprint, source FROM docs
          WHERE text IS NOT NULL
        )
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint
        WHERE a.source < b.source
        GROUP BY 1, 2
    """,
    "source_set_relationships": f"""
        WITH docs AS ({_DOCS_PLANTED_CTE}),
        fp AS (
          SELECT DISTINCT {_FP} AS fingerprint, source FROM docs
          WHERE text IS NOT NULL
        ), sizes AS (
          SELECT source, count(*) AS n FROM fp GROUP BY 1
        ), shared AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS n_shared
          FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint
          WHERE a.source < b.source
          GROUP BY 1, 2
        )
        SELECT s.source_a, s.source_b, sa.n AS n_a, sb.n AS n_b, s.n_shared,
               CASE WHEN s.n_shared = sa.n AND s.n_shared = sb.n
                      THEN 'identical'
                    WHEN s.n_shared = sa.n THEN 'subset'
                    WHEN s.n_shared = sb.n THEN 'superset'
                    ELSE 'overlap' END AS relationship
        FROM shared s
        JOIN sizes sa ON sa.source = s.source_a
        JOIN sizes sb ON sb.source = s.source_b
    """,
    # conditional count, not anti-join-then-group: a fully-duplicated source
    # must report 0, not vanish (mirrors unique_docs_per_source)
    "unique_docs": f"""
        WITH fp AS (
          SELECT doc_id, source, {_FP} AS fingerprint FROM documents
          WHERE text IS NOT NULL
        ), counted AS (
          SELECT source,
                 count(*) OVER (PARTITION BY fingerprint) AS cnt
          FROM fp
        )
        SELECT source,
               count(*) FILTER (WHERE cnt = 1) AS n_unique_docs
        FROM counted
        GROUP BY 1
    """,
    "ann_topk": """
        WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
                   FROM embeddings WHERE vec_id % 50 = 0),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.q_vec::DOUBLE[], e.embedding::DOUBLE[]), 4) AS score
          FROM q CROSS JOIN embeddings e
          WHERE q.query_id <> e.vec_id
        ), ranked AS (
          SELECT query_id, neighbor_id, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= 3
    """,
    "emb_near_pairs": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS score
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.4
    """,
    "lineitem_pricing": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "latest_order_per_customer": """
        WITH ranked AS (
          SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                 strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
          FROM orders
        )
        SELECT custkey, orderkey, order_date FROM ranked WHERE rn = 1
    """,
    "customers_without_orders": f"""
        WITH cust AS ({_CUST_PLANTED_CTE})
        SELECT c_nationkey, count(*) AS n_customers
        FROM cust
        WHERE c_custkey NOT IN (SELECT DISTINCT o_custkey FROM orders)
        GROUP BY c_nationkey
    """,
    "supplier_part_span": """
        SELECT l_suppkey AS suppkey, s_name,
               count(DISTINCT l_partkey) AS n_parts,
               round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE
                 AS revenue
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        GROUP BY 1, 2
    """,
    "events_rollup": """
        SELECT user_id, event_type, count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY user_id, event_type
    """,
    "dedup_keepers": f"""
        WITH docs AS ({_DOCS_PLANTED_CTE}),
        fp AS (
          SELECT doc_id, length(text) AS n, {_FP} AS fingerprint FROM docs
        ), ranked AS (
          -- surrogate key for NULL fingerprints (PARTITION BY welds NULLs):
          -- each NULL-text doc is its own singleton group, mirroring
          -- select_keepers; chr(1)-prefix cannot collide with md5 hex
          SELECT fingerprint, doc_id,
                 row_number() OVER (
                   PARTITION BY coalesce(fingerprint,
                                         chr(1) || 'null:' || doc_id)
                   ORDER BY n DESC, doc_id ASC) AS rn,
                 count(*) OVER (
                   PARTITION BY coalesce(fingerprint,
                                         chr(1) || 'null:' || doc_id)
                 ) AS n_docs
          FROM fp
        )
        SELECT fingerprint, doc_id AS keeper_doc_id, n_docs,
               n_docs - 1 AS n_dropped
        FROM ranked WHERE rn = 1
    """,
    # quality-aware survivor selection: the identical quality_score arithmetic
    # as text_profile's (hash-green) twin, ranked inside prefix-fingerprint
    # blocks; NULL-text docs get the same surrogate singleton key as
    # dedup_keepers
    "dedup_keepers_quality": f"""
        WITH docs AS ({_DOCS_PLANTED_CTE}),
        base AS (
          SELECT doc_id, length(text) AS n_raw, lower(text) AS low,
                 md5(array_to_string(
                   regexp_split_to_array(lower(trim(text)), '\\s+')[1:10], ' '))
                   AS prefix_fp,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
                 CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                 END AS n_tokens
          FROM docs
        ), scored AS (
          SELECT doc_id, prefix_fp, n_raw,
                 round(
                   0.4 * (CASE WHEN n_tokens >= 50 THEN 1.0
                               WHEN n_tokens >= 10 THEN 0.7
                               WHEN n_tokens >= 3 THEN 0.3 ELSE 0.0 END)
                   + 0.3 * (1.0 - round(
                       CASE WHEN len(regexp_replace(low, '\\s', '', 'g')) = 0
                            THEN 0.0
                            ELSE len(regexp_replace(low, '[\\p{{L}}\\p{{N}}\\s]', '', 'g'))
                                 / len(regexp_replace(low, '\\s', '', 'g'))
                       END, 4))
                   + 0.3 * (CASE
                       WHEN round(CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE len(list_filter(toks, x -> x IN ({_STOPS})))
                                 / n_tokens END, 4)
                            BETWEEN 0.05 AND 0.6 THEN 1.0
                       WHEN round(CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE len(list_filter(toks, x -> x IN ({_STOPS})))
                                 / n_tokens END, 4)
                            > 0.6 THEN 0.3
                       ELSE 0.5 END), 4) AS quality
          FROM base
        ), ranked AS (
          SELECT prefix_fp, doc_id, quality,
                 row_number() OVER (
                   PARTITION BY coalesce(prefix_fp, chr(1) || 'null:' || doc_id)
                   ORDER BY quality DESC, n_raw DESC, doc_id ASC) AS rn,
                 count(*) OVER (
                   PARTITION BY coalesce(prefix_fp, chr(1) || 'null:' || doc_id)
                 ) AS n_docs
          FROM scored
        )
        SELECT prefix_fp, doc_id AS keeper_doc_id, quality, n_docs,
               n_docs - 1 AS n_dropped
        FROM ranked WHERE rn = 1
    """,
    "user_sessions": """
        WITH ordered AS (
          -- NULLS LAST explicit on both engines: Spark windows default to
          -- NULLS FIRST, DuckDB to NULLS LAST — sessionize pins NULLS LAST
          SELECT user_id, event_id, value, epoch_us(ts) AS us,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                         ORDER BY ts NULLS LAST, event_id)
                   AS prev_us
          FROM events
        ), flagged AS (
          SELECT user_id, event_id, value, us,
                 CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM ordered
        ), seq AS (
          SELECT user_id, value, us,
                 CAST(sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY us NULLS LAST, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS session_seq
          FROM flagged
        )
        SELECT user_id, session_seq,
               min(us) AS start_us, max(us) AS end_us,
               count(*) AS n_events,
               round(sum(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS sum_value
        FROM seq GROUP BY 1, 2
    """,
    # semantic twin of json_prop_buckets under ALL inputs, not just the clean
    # generated data: json_valid guards DuckDB's hard error on malformed
    # blobs (Spark's get_json_object returns NULL), the integer regex pins
    # one cast semantic (DuckDB TRY_CAST rounds '7.5' to 8; Spark try_cast
    # NULLs it), and ((k % n) + n) % n is Spark's pmod for negative k
    "event_prop_buckets": """
        WITH extracted AS (
          SELECT event_type, value,
                 CASE WHEN json_valid(props)
                      THEN json_extract_string(props, '$.k')
                 END AS s
          FROM events
        )
        SELECT event_type,
               CASE WHEN regexp_matches(s, '^-?[0-9]+$')
                    THEN ((TRY_CAST(s AS BIGINT) % 10) + 10) % 10
               END AS k_bucket,
               count(*) AS n_events,
               round(sum(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS sum_value
        FROM extracted
        GROUP BY 1, 2
    """,
    # minhash_doc_clusters, lsh_ann_topk, emb_near_pairs_lsh/_ivf,
    # ann_topk_ivf, media_near_pairs: non-SQL-expressible (seeded MinHash
    # permutations / hyperplane projections / iterative k-means + CC) →
    # rows-only check; each is recall/equality-pinned in pytest.
}

# per-language rollup over the (hash-green) text_profile twin: exact decimal
# quality mass + bigint token mass so neither engine's aggregation order can
# move a cent; DuckDB sum(INTEGER) is HUGEINT, so the cast pins the schema
_ORACLES["lang_quality_rollup"] = f"""
    SELECT lang_guess,
           count(*) AS n_docs,
           round(sum(CAST(quality AS DECIMAL(18,4))), 2)::DOUBLE AS sum_quality,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           count(*) FILTER (WHERE quality < 0.5) AS n_low_quality
    FROM ({_ORACLES["text_profile"]}) p
    GROUP BY 1
"""


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
