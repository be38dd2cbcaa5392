"""Substring-containment pass: catches verbatim embeddings that shingle-LSH misses.

Reference analog: the mixed-type second channel
(src/cloud_duplicate_analyzer.py:435-482) — a second candidate-generation pass
over what the primary index missed (SURVEY.md §2.3 J4).  The LSH channel
misses short-inside-long containments because Jaccard(A, B) ≈ |A|/|B| falls
under the band threshold when B ≫ A.

Design — **anchor-shingle inverted-index join**, fully distributed, no
content grouping (a per-lang ``applyInPandas`` variant was rejected: it can't
see cross-lang containments and serializes each lang into one task):

  1. If normalized A appears verbatim in normalized B then every w-shingle of
     A is also a w-shingle of B (the tokenizer is context-free), so
     shingles(A) ⊆ shingles(B) — any single shingle of A can serve as a join
     anchor that B must contain.
  2. Anchor choice is the scale lever: the needle's **rarest** shingle by
     corpus document frequency.  (A min-hash anchor was tried first and is
     quadratic in disguise: with a skewed shingle distribution — boilerplate,
     small vocabularies — one common shingle value is simultaneously the min
     of many needles AND present in thousands of haystacks, so the anchor
     join fans out to needles × haystacks.  Rarest-shingle anchoring bounds
     each needle's fan-out by the DF of its most selective shingle: ~1 for
     unique docs, = the true copy count for genuinely embedded snippets.
     Measured on the 24k-file corpus: 107 s → seconds.)
  3. Candidates: anchors ⋈ exploded shingle inverted index (strictly longer
     docs only).
  4. Prefilter: shingle-subset test ``array_except(needle, haystack) = ∅`` —
     pure JVM, kills almost all false candidates.
  5. Verify: exact ``contains(haystack_norm, needle_norm)`` on the normalized
     content of surviving pairs — the pass claims *verbatim* substring
     duplicates (north_rule), so the final test is the string itself.

Scale notes: the exploded shingle index (|corpus tokens| rows) is only ever
scanned — the anchor frames stay K·|docs| rows and broadcast into it, so no
index-sized shuffle exists (measured: the shuffle variant was disk-bound and
parallelism-flat at 2·10^8 index rows).  The explicit broadcast() hints fit
comfortably to ~10^7 needles; beyond that drop the hints and the same plan
becomes plain shuffle hash joins, still linear (AQE picks broadcast back up
per-partition where sizes allow).  Exact-dup representatives only:
byte-identical copies were collapsed upstream, so one found needle covers its
whole exact family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_dedup_spark.config import DedupConfig
from cloud_dedup_spark.functions.normalize import with_identity
from cloud_dedup_spark.operators.signatures import compute_signatures


# Candidate anchors per needle: the K min-valued shingles.  Shingle hashes
# are uniform, so these are K random samples of the doc's shingle set — the
# rarest of them is corpus-rare for any doc with ANY distinctive content
# (P[all K common] = common_fraction^K).  K is a structural constant of the
# persisted anchors table (changing it means rebuilding the table), NOT a
# DedupConfig knob — the cfg-dependent filters (min_tokens, max_anchor_df)
# apply at read time so one table serves any config.
CAND_ANCHOR_K = 8


def candidate_anchors(sigs: DataFrame) -> DataFrame:
    """(src, needle_tokens, sh): the K min shingles per signature row.

    Factored out because the batch run and the fold keep it as the
    ``anchors`` stage table: the reverse substring channel (old needle in
    NEW haystack) needs every corpus needle's candidate anchors each fold,
    and scanning this narrow table against the delta's (broadcast) doc
    frequencies is scan-only."""
    return sigs.select("file_id", "shingles", "n_shingles", "n_tokens").filter(
        F.col("n_shingles") > 0
    ).select(
        F.col("file_id").alias("src"),
        F.col("n_tokens").alias("needle_tokens"),
        F.explode(F.slice(F.array_sort("shingles"), 1, CAND_ANCHOR_K)).alias("sh"),
    )


def shingle_inverted_index(sigs: DataFrame) -> DataFrame:
    """The exploded (dst, hay_tokens, sh) haystack index — the frame
    ``substring_edges`` scans for doc frequencies and candidates.  The fold
    builds it over its delta (the reverse call's haystacks) and counts
    corpus doc frequencies over it (:func:`shingle_doc_freq`)."""
    return sigs.select("file_id", "shingles", "n_shingles", "n_tokens").filter(
        F.col("n_shingles") > 0
    ).select(
        F.col("file_id").alias("dst"),
        F.col("n_tokens").alias("hay_tokens"),
        F.explode("shingles").alias("sh"),
    )


def shingle_doc_freq(inverted: DataFrame, values: DataFrame) -> DataFrame:
    """(sh, df): how many haystacks in ``inverted`` carry each ``sh`` of
    ``values``.  The value set is small, so it broadcasts into the index
    scan and the count is map-side combinable: no index-sized shuffle."""
    return (
        inverted.join(F.broadcast(values.select("sh").distinct()), "sh", "left_semi")
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def lean_shingle_frames(
    files: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame]:
    """(ident, sigs): the two materialized inputs of a standalone
    :func:`substring_edges` call over a files frame.

    The channel reads file_id, content_norm and the shingle columns, and
    callers map ids back through (repo, path), so the identity frame is
    projected lean — content/sha never materialize — and the signatures
    come from the kernel's shingle-only mode (identical values, no
    MinHash/band/SimHash work).  Both frames are localCheckpointed: ``substring_edges``
    scans its signature input up to four times (needle base, inverted
    index ×2, hay_sh) and ``reps`` twice, and each unmaterialized scan
    re-ran the normalize regex + signature UDF over the whole input — the
    rebuild was ~all of the query cost (VERDICT r05 "What's wrong #3").
    """
    ident = (
        with_identity(files)
        .select("file_id", "repo", "path", "content_norm")
        .localCheckpoint()
    )
    sigs = compute_signatures(ident, cfg, shingles_only=True).select(
        "file_id", "n_tokens", "n_shingles", "shingles"
    ).localCheckpoint()
    return ident, sigs


def substring_edges(
    reps: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig,
    needle_ids: DataFrame | None = None,
    inverted: DataFrame | None = None,
    cand_anchors: DataFrame | None = None,
    doc_freq: DataFrame | None = None,
) -> DataFrame:
    """Containment edges, canonically ordered (src < dst); the ``needle``
    column carries the contained side's id (src is NOT always the needle
    after canonicalization) and ``needle_len`` its token length.

    ``reps``: identity frame of exact representatives (file_id, content_norm).
    ``sigs``: signature table (file_id, shingles, n_shingles, n_tokens).
    ``needle_ids``: optional (file_id) frame restricting the needle side.
    The incremental path runs two delta-anchored calls instead of
    recomputing the full cross of an unchanged corpus: delta needles ⋈ all
    haystacks, and all needles ⋈ the delta's haystacks (``inverted`` = the
    delta's index, with ``cand_anchors``).
    ``inverted``: optional prebuilt ``shingle_inverted_index`` frame; its
    rows are the haystacks.
    ``cand_anchors``: optional prebuilt :func:`candidate_anchors` frame (the
    persisted ``anchors`` stage table) replacing the needle-side explode.
    CONTRACT: only pass it together with a SMALL (delta-sized) haystack side.
    ``doc_freq``: optional (sh, df) frame of CORPUS doc frequencies
    (:func:`shingle_doc_freq`) covering every anchor value; when given, the
    operator skips its own df pass over ``inverted``.  Required with
    ``cand_anchors``: there ``inverted`` is the delta's index, and
    delta-local df would defeat the template cap — a boilerplate shingle
    looks rare in a 6-doc delta, every prior anchor carrying it survives,
    and the rarest-anchor argmin becomes an O(corpus) groupBy.  Corpus df
    (batch semantics) prunes template anchors BEFORE the argmin, bounding
    it to |delta shingles| × cap rows.
    Output: src, dst, needle_len (tokens), where needle content appears
    verbatim inside haystack content.
    """
    assert cand_anchors is None or (needle_ids is None and doc_freq is not None), (
        "cand_anchors replaces the needle side (restrict needles by "
        "pre-filtering the anchors frame instead) and needs the corpus "
        "doc_freq"
    )
    # delta mode: at least one side is delta-anchored, so every candidate
    # id-set below is small — semi-filter the corpus-sized frames through
    # explicit broadcasts so the plan is scan-only regardless of optimizer
    # size estimates (a mis-estimated sort-merge join here would shuffle the
    # corpus per micro-batch; pinned by the fold's shuffle-growth test)
    delta_mode = needle_ids is not None or cand_anchors is not None
    base = sigs.select("file_id", "shingles", "n_shingles", "n_tokens").filter(
        F.col("n_shingles") > 0
    )
    needle_base = base
    if needle_ids is not None:
        needle_base = base.join(
            F.broadcast(needle_ids.select("file_id")), "file_id", "left_semi"
        )

    if inverted is None:
        inverted = shingle_inverted_index(base)

    # Candidate anchors: each needle's K min-valued shingles (see
    # candidate_anchors; keeping K small makes every frame below
    # broadcastable, so the 10^8-row exploded index is only ever SCANNED,
    # never shuffled).
    if cand_anchors is None:
        cand_anchors = candidate_anchors(needle_base)
    cand_anchors = cand_anchors.filter(
        F.col("needle_tokens") >= cfg.substring_min_tokens
    )
    if doc_freq is None:
        # materialized once: consumed by both the anchor-value distinct and
        # the rarest-anchor argmin below — without the cut, each consumer
        # re-runs the array_sort+slice+explode over the wide signature rows
        cand_anchors = cand_anchors.localCheckpoint()
        # DF only for candidate-anchor values
        doc_freq = shingle_doc_freq(inverted, cand_anchors)

    # rarest candidate anchor per needle; needles whose rarest shingle is
    # still corpus-common are template-dominated — the near-dup channel owns
    # their duplicates, and keeping them would re-create quadratic fan-out.
    # The df cap is applied BEFORE the argmin: min(df) > cap ⟺ all df > cap,
    # so pre-filtering selects exactly the same needles and the same rarest
    # surviving anchor, while bounding the groupBy input to (distinct probe
    # shingles × cap) rows — without it, one boilerplate shingle carried by
    # every prior doc's anchor set turns the argmin into an O(corpus)
    # shuffle in the reverse incremental call (measured 3.5 MB/fold at a
    # 1.2k corpus, scaling linearly).
    # row_number, not min(struct(df, sh)): same (df, sh)-lexicographic pick,
    # but the exchange moves the compact joined rows — the SortAggregate
    # form's partial-agg records measured ~850 KB EACH on the shuffle wire
    # inside the incremental fold (buffer-bloated struct buffers), turning a
    # 4-row exchange into the fold's largest shuffle.
    from pyspark.sql import Window

    w_rarest = Window.partitionBy("src").orderBy("df", "sh")
    anchors = (
        cand_anchors.join(
            F.broadcast(
                doc_freq.filter(F.col("df") <= cfg.substring_max_anchor_df)
            ),
            "sh",
        )
        .withColumn("_rn", F.row_number().over(w_rarest))
        .filter(F.col("_rn") == 1)
        .select("src", "needle_tokens", "sh")
    )

    # candidates: broadcast the per-needle anchors into the index scan
    cand = (
        inverted.join(F.broadcast(anchors), "sh")
        .filter(F.col("hay_tokens") > F.col("needle_tokens"))
        .select("src", "dst", "needle_tokens")
    )
    needle_arrays = base.select(
        F.col("file_id").alias("src"), F.col("shingles").alias("needle_sh")
    )
    hay_sh = sigs.select(
        F.col("file_id").alias("dst"), F.col("shingles").alias("hay_sh")
    )
    a = reps.select(F.col("file_id").alias("src"), F.col("content_norm").alias("a_norm"))
    b = reps.select(F.col("file_id").alias("dst"), F.col("content_norm").alias("b_norm"))
    if delta_mode:
        # candidate pairs are delta-anchored (≤ |delta needles| × anchor-DF
        # cap, or delta haystacks × anchors hitting them) — materialize once
        # and force scan-only broadcast-semi lookups into the corpus frames,
        # so the only corpus-sized work below is column-pruned scans
        cand = cand.localCheckpoint()
        cand_src = cand.select(F.col("src").alias("file_id")).distinct()
        cand_dst = cand.select(F.col("dst").alias("file_id")).distinct()
        needle_arrays = needle_arrays.join(
            F.broadcast(cand_src.withColumnRenamed("file_id", "src")),
            "src", "left_semi",
        )
        hay_sh = hay_sh.join(
            F.broadcast(cand_dst.withColumnRenamed("file_id", "dst")),
            "dst", "left_semi",
        )
    cand = cand.join(needle_arrays, "src")

    # shingle-subset prefilter (JVM): all needle shingles present in haystack
    subset = (
        cand.join(hay_sh, "dst")
        .filter(F.size(F.array_except("needle_sh", "hay_sh")) == 0)
        .select("src", "dst", "needle_tokens")
    )

    if delta_mode:
        # content rows are the FAT rows — restrict them to pairs that
        # SURVIVED the shingle-subset prefilter, not to all candidates: one
        # template-dominated needle under the df cap can fan out to
        # cap-many haystacks (measured 851 content rows / 1.6 MiB on the
        # wire for a 6-file delta), almost all of which the subset filter
        # kills before verification ever needs their content
        subset = subset.localCheckpoint()
        a = a.join(
            F.broadcast(subset.select("src").distinct()), "src", "left_semi"
        )
        b = b.join(
            F.broadcast(subset.select("dst").distinct()), "dst", "left_semi"
        )

    # exact verbatim verification on normalized content
    verified = (
        subset.join(a, "src")
        .join(b, "dst")
        .filter(F.length("a_norm") >= cfg.substring_min_len)
        .filter(F.expr("contains(b_norm, a_norm)"))
        .select("src", "dst", F.col("needle_tokens").alias("needle_len"))
    )

    # canonical (src < dst) ordering for the edge graph; the containment
    # DIRECTION survives in the explicit `needle` column — after the swap,
    # src is no longer guaranteed to be the needle, and needle_len without
    # its owner id was wrong for half of all pairs (round-4 review).  Both
    # directions can never coexist for one pair (token-strict needle <
    # haystack inequality), so distinct() keeps one row per pair.
    return verified.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        F.col("src").alias("needle"),
        "needle_len",
    ).distinct()


def substring_edge_list(edges: DataFrame) -> DataFrame:
    """Edges in the common (src, dst, edge_kind, score) shape for clustering."""
    return edges.select(
        "src", "dst", F.lit("substring").alias("edge_kind"), F.lit(1.0).alias("score")
    )
