"""LSH candidate generation: recall of planted pairs + hot-bucket skew capping
(the graft of the reference's first-hit-per-key cap, src/cloud_duplicate_analyzer.py:323-325)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cloud_dedup_spark.config import DedupConfig
from cloud_dedup_spark.functions.normalize import with_identity
from cloud_dedup_spark.operators.candidates import (
    _STAR_AND_CHAIN,
    _pairs_from_buckets,
    explode_bands,
    lsh_candidate_pairs,
)
from cloud_dedup_spark.operators.cluster import connected_components
from cloud_dedup_spark.operators.signatures import compute_signatures

CFG = DedupConfig()
# consecutive-neighbour chain: size-1 edges keeping the group connected, the
# chain-only shape that ``_STAR_AND_CHAIN`` replaced
_CHAIN = (
    "transform(slice(ids, 1, size(ids) - 1), (x, i) -> "
    "struct(x AS src, ids[i + 1] AS dst))"
)


@pytest.fixture(scope="module")
def sigs_and_ids(spark, corpus):
    files, truth = corpus
    ident = with_identity(files).cache()
    sigs = compute_signatures(ident, CFG).cache()
    idmap = {
        (r["repo"], r["path"]): r["file_id"]
        for r in ident.select("repo", "path", "file_id").collect()
    }
    return sigs, idmap, truth


def test_near_pairs_become_candidates(sigs_and_ids):
    sigs, idmap, truth = sigs_and_ids
    pairs = {
        (r["src"], r["dst"])
        for r in lsh_candidate_pairs(sigs, CFG, explode_bands(sigs)).collect()
    }
    for group in truth.near_groups:
        a, b = sorted(idmap[k] for k in group[:2])
        assert (a, b) in pairs, f"near pair {group} missed by LSH"


def test_pairs_are_canonical_and_distinct(sigs_and_ids):
    sigs, _, _ = sigs_and_ids
    pairs = lsh_candidate_pairs(sigs, CFG, explode_bands(sigs))
    assert pairs.filter(F.col("src") >= F.col("dst")).count() == 0
    assert pairs.count() == pairs.distinct().count()


def test_hot_bucket_edges_stay_linear(spark):
    """A bucket of n identical-signature files must produce O(n) edges (salted
    chains), not O(n²) — while staying fully connected for clustering."""
    n = 400  # >> band_bucket_cap (64)
    body = "def hot(): return " + " + ".join(f"tok_{i}" for i in range(200))
    rows = [("r", f"p/{i}.py", f"c{i}", "py", body + f"\n# tail_{i} " + f"x_{i} = {i}")
            for i in range(n)]
    # NB: contents differ slightly so the exact channel can't collapse them,
    # but all 32 bands collide for most pairs → maximal LSH pressure
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    cfg = DedupConfig(band_bucket_cap=16)
    sigs = compute_signatures(with_identity(df), cfg).cache()
    bands = explode_bands(sigs)
    max_bucket = (
        bands.groupBy("band_key").count().agg(F.max("count")).first()[0]
    )
    assert max_bucket > cfg.band_bucket_cap  # the plant really is hot
    pairs = lsh_candidate_pairs(sigs, cfg, bands).cache()
    n_pairs = pairs.count()
    # all-pairs would be ~ n²/2 ≈ 80k; star+chain with per-band independent
    # salting stays ≤ bands × 2(size−1) ≈ linear in n × n_bands
    assert n_pairs < 2 * 32 * 2 * n
    # connectivity preserved: every file reachable from the first
    labels = connected_components(pairs.select("src", "dst"))
    assert labels.select("cluster_id").distinct().count() == 1


def _edges(spark, ids, expr):
    buckets = spark.createDataFrame(
        [("k", ids)], "band_key string, ids array<long>"
    )
    return {
        frozenset((r["src"], r["dst"]))
        for r in _pairs_from_buckets(buckets, expr).collect()
    }


def test_star_survives_interloper_between_family_members(spark):
    """Adversarial ordering #1 (ROADMAP 12 / round-1 review): family {10, 30}
    separated by interloper 20 in group order.  A pure chain emits only
    10–20, 20–30 — both rejected by verification → family split.  The
    star+chain union adds rep-star edge 10–30, which verifies."""
    chain = _edges(spark, [10, 20, 30], _CHAIN)
    star_chain = _edges(spark, [10, 20, 30], _STAR_AND_CHAIN)
    family_edge = frozenset((10, 30))
    assert family_edge not in chain  # the chain-only failure mode, pinned
    assert family_edge in star_chain


def test_chain_survives_interloper_as_rep(spark):
    """Adversarial ordering #2: the group leader 5 is the interloper, family
    {10, 11} sits consecutively.  A pure star emits only 5–10, 5–11 — both
    rejected → family split.  The union keeps the chain edge 10–11."""
    star_chain = _edges(spark, [5, 10, 11], _STAR_AND_CHAIN)
    assert frozenset((10, 11)) in star_chain
    # and the star edges are present too (leader reaches every member)
    assert frozenset((5, 10)) in star_chain and frozenset((5, 11)) in star_chain


def test_star_chain_edge_count_is_linear(spark):
    ids = list(range(1, 42))
    star_chain = _edges(spark, ids, _STAR_AND_CHAIN)
    assert len(star_chain) == 2 * (len(ids) - 1) - 1  # star + chain minus overlap


def test_hot_bucket_groupings_differ_across_bands(spark, corpus):
    """The per-(band, file) salt key must give each band an independent
    grouping of the same hot bucket — identical groupings across bands would
    make the 32-band redundancy worthless for hot-bucket recall."""
    n = 120
    body = "def hot(): return " + " + ".join(f"tok_{i}" for i in range(200))
    rows = [("r", f"p/{i}.py", f"c{i}", "py", body + f"\n# tail_{i} x_{i} = {i}")
            for i in range(n)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    cfg = DedupConfig(band_bucket_cap=16)
    sigs = compute_signatures(with_identity(df), cfg)
    bands = explode_bands(sigs)
    salted = bands.withColumn("h", F.xxhash64("band_key", "file_id"))
    # two distinct hot band_keys must partition files differently
    two = [r["band_key"] for r in
           bands.groupBy("band_key").count().filter("count >= 32")
           .limit(2).collect()]
    if len(two) == 2:
        g = {
            bk: tuple(
                r["h"] % 4
                for r in salted.filter(F.col("band_key") == bk)
                .orderBy("file_id").collect()
            )
            for bk in two
        }
        assert g[two[0]] != g[two[1]]


def test_hot_bucket_ordering_puts_simhash_neighbours_adjacent(spark):
    """Round-4 review: with a random within-group order, a true pair whose
    EVERY shared band is hot got a direct candidate edge with probability
    only ~4/cap per band (interloper edges die at verification, so
    transitive paths don't save it).  The within-group order is now the
    band-rotated SimHash, so a near-dup pair (few differing simhash bits)
    sorts adjacent in most of the salt groups that contain both.

    Hand-built signature frame to pin the hot path in isolation: every file
    shares all 32 band keys (every bucket hot, no private normal-bucket
    escape hatch), the planted pair's simhashes differ in ONE low bit, the
    crowd's are uniform-random."""
    import random

    rng = random.Random(7)
    pair_a, pair_b = 900001, 900002
    rows = []
    for fid in range(38):
        rows.append((fid, 10, list(range(32)), rng.getrandbits(63)))
    rows.append((pair_a, 10, list(range(32)), 0x1000))
    rows.append((pair_b, 10, list(range(32)), 0x1001))
    sigs = spark.createDataFrame(
        rows,
        "file_id long, n_shingles int, band_hashes array<long>, simhash long",
    )
    cfg = DedupConfig(band_bucket_cap=16)
    pairs = {
        (r["src"], r["dst"])
        for r in lsh_candidate_pairs(sigs, cfg, explode_bands(sigs)).collect()
    }
    assert (pair_a, pair_b) in pairs, (
        "simhash-adjacent pair missed in the all-hot-bucket corpus"
    )
    # and the linear-edge guarantee still holds under the new ordering
    n, n_bands = 40, 32
    assert len(pairs) < n_bands * 2 * n
