"""Benchmark decontamination — eval-set leakage detection over the corpus.

A training-data pipeline must answer "which corpus documents contain a
benchmark/eval snippet verbatim?" before training (test-set contamination
silently inflates downstream evals).  Structurally this is the substring
channel (operators/substring.py, reference second-pass analog
src/cloud_duplicate_analyzer.py:435-482) with an EXTERNAL needle set: the
benchmark snippets are the needles, the whole corpus is the haystack side.

Scale shape: the benchmark set is small (10^4-10^6 snippets) while the corpus
is the 100 TB side, which is exactly ``substring_edges``'s delta-mode
contract — needle frames broadcast, the corpus shingle index is only ever
SCANNED (rarest-anchor candidate generation bounds per-snippet fan-out by the
anchor's document frequency), and content rows move only for pairs that
survive the shingle-subset prefilter.  No corpus-sized shuffle exists.

Semantics are the substring operator's, deliberately: verbatim containment of
NORMALIZED text (lower → strip comments → collapse whitespace), token-strict
needle < haystack, min-token and min-length floors on the needle.  A snippet
byte-identical to a whole document is the exact channel's finding, not a
containment.  Snippets whose rarest shingle is still corpus-common (df over
``substring_max_anchor_df``) are template-dominated — their matches are
near-dup-channel territory, and the cap is what keeps the operator linear
(documented drop, pinned in tests/test_contamination.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_dedup_spark.config import DedupConfig
from cloud_dedup_spark.operators.documents import documents_as_files
from cloud_dedup_spark.operators.substring import (
    lean_shingle_frames,
    substring_edges,
)

_BENCH_REPO = "\x00benchmark"  # NUL prefix: no real source name can collide
# the probe set of ``benchmark_snippets``: every 29th doc, tokens 5..28
SNIPPET_EVERY, SNIPPET_START, SNIPPET_TOKENS = 29, 5, 24


def benchmark_snippets(docs: DataFrame) -> DataFrame:
    """Deterministic probe set: a contiguous ``SNIPPET_TOKENS``-token slice
    (whitespace tokens of the lowercased text, from position
    ``SNIPPET_START``) of every ``SNIPPET_EVERY``-th document.  Output:
    (bench_id, snippet).

    Pure Column arithmetic so the DuckDB oracle builds the IDENTICAL snippet
    set — the driver gate then checks the full detection pipeline, not the
    fixture.  Docs too short for a complete slice (plus a 4-token margin so
    the snippet is strictly shorter than its source) are skipped.
    """
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    return (
        docs.filter(F.col("text").isNotNull())
        .filter(F.col("doc_id") % SNIPPET_EVERY == 0)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= SNIPPET_START + SNIPPET_TOKENS + 4)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.array_join(
                F.slice("toks", SNIPPET_START, SNIPPET_TOKENS), " "
            ).alias("snippet"),
        )
    )


def contaminated_docs(
    docs: DataFrame, benchmarks: DataFrame, cfg: DedupConfig | None = None
) -> DataFrame:
    """(bench_id, doc_id) pairs where the benchmark snippet appears verbatim
    (after normalization) inside the document text.

    ``docs``: documents(doc_id, text, lang, source, n_chars) — the corpus.
    ``benchmarks``: (bench_id, snippet) — the small eval probe set.

    Runs the production substring channel with the benchmark side as needles
    and the corpus as haystacks; both sides share one signature build so the
    tokenizer/normalization is identical by construction.  The decontamination
    step itself is then a left_anti of the corpus against ``doc_id`` here.
    """
    cfg = cfg or DedupConfig()
    bench_files = benchmarks.filter(F.col("snippet").isNotNull()).select(
        F.lit(_BENCH_REPO).alias("repo"),
        F.concat(F.lit("bench/"), F.col("bench_id").cast("string")).alias("path"),
        F.lit("0").alias("commit"),
        F.lit("txt").alias("lang"),
        F.col("snippet").alias("content"),
    )
    ident, sigs = lean_shingle_frames(
        documents_as_files(docs).unionByName(bench_files), cfg
    )
    is_bench = F.col("repo") == _BENCH_REPO
    # needle side only: the haystack side stays the FULL signature table
    # (restricting it to the corpus documents would take a corpus-sized id
    # set, the wrong side to broadcast).  The bench snippets also land in
    # the haystack index, which is harmless: a snippet cannot contain itself
    # (token-strict inequality) and bench-in-bench pairs are dropped by the
    # corpus-only mapping join below.
    edges = substring_edges(
        ident, sigs, cfg, needle_ids=ident.filter(is_bench).select("file_id")
    )
    # map surrogate ids back to natural keys; the needle column carries the
    # benchmark side (needles are restricted to it), the other endpoint is
    # the contaminated document.  The edge set is needle-bounded (≤ snippets
    # × anchor-df cap) — broadcast it into the corpus-sized id frame, never
    # the reverse.
    doc_end = F.when(F.col("needle") == F.col("src"), F.col("dst")).otherwise(
        F.col("src")
    )
    bench_ids = ident.filter(is_bench).select(
        F.col("file_id").alias("needle"),
        F.expr("cast(substring(path, 7) as bigint)").alias("bench_id"),
    )
    doc_ids = ident.filter(~is_bench).select(
        F.col("file_id").alias("doc_end"),
        F.expr("cast(substring(path, 5) as bigint)").alias("doc_id"),
    )
    mapped = (
        edges.select(F.col("needle"), doc_end.alias("doc_end"))
        .join(F.broadcast(bench_ids), "needle")
    )
    return (
        doc_ids.join(F.broadcast(mapped), "doc_end")
        .select("bench_id", "doc_id")
        .distinct()
    )
