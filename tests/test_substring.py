"""Substring pass: anchor-join containment channel (reference second-channel
analog, src/cloud_duplicate_analyzer.py:435-482)."""

from __future__ import annotations

import pytest

from cloud_dedup_spark.config import DedupConfig
from cloud_dedup_spark.functions.normalize import with_identity
from cloud_dedup_spark.operators.signatures import compute_signatures
from cloud_dedup_spark.operators.substring import substring_edges

CFG = DedupConfig()


def _edges(spark, rows):
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    ident = with_identity(df)
    sigs = compute_signatures(ident, CFG)
    out = substring_edges(ident, sigs, CFG).collect()
    ids = {(r["repo"], r["path"]): r["file_id"]
           for r in ident.select("repo", "path", "file_id").collect()}
    return out, ids


def _body(tag: str, n: int) -> str:
    return "\n".join(f"{tag}_var_{i} = {tag}_fn_{i}({tag}_arg_{i}, {i})"
                     for i in range(n))


def test_needle_found_inside_haystack(spark):
    needle = _body("inner", 20)
    hay = _body("pre", 60) + "\n" + needle + "\n" + _body("post", 60)
    edges, ids = _edges(spark, [
        ("a", "n.py", "c1", "py", needle),
        ("b", "h.js", "c2", "js", hay),  # cross-lang on purpose
    ])
    assert len(edges) == 1
    pair = {edges[0]["src"], edges[0]["dst"]}
    assert pair == {ids[("a", "n.py")], ids[("b", "h.js")]}


def test_needle_in_multiple_haystacks_yields_all_edges(spark):
    needle = _body("inner", 20)
    edges, _ = _edges(spark, [
        ("a", "n.py", "c1", "py", needle),
        ("b", "h1.py", "c2", "py", _body("one", 50) + "\n" + needle),
        ("c", "h2.py", "c3", "py", needle + "\n" + _body("two", 50)),
    ])
    # a→h1, a→h2 required for the component to merge; h1 vs h2 share only
    # the needle region (not a containment), must NOT edge directly
    assert len(edges) == 2


def test_short_needles_skipped(spark):
    needle = "x = 1"
    hay = _body("h", 50) + "\nx = 1"
    edges, _ = _edges(spark, [
        ("a", "n.py", "c1", "py", needle),
        ("b", "h.py", "c2", "py", hay),
    ])
    assert edges == []


def test_non_contained_similar_content_rejected(spark):
    """Shingle-subset prefilter may pass shuffled lines; the exact contains()
    verification must reject them."""
    lines = [f"alpha_{i} = beta_{i}(gamma_{i})" for i in range(30)]
    a = "\n".join(lines)
    b = "\n".join(list(reversed(lines)) + [f"tail_{i} = {i}" for i in range(40)])
    edges, _ = _edges(spark, [
        ("a", "a.py", "c1", "py", a),
        ("b", "b.py", "c2", "py", b),
    ])
    assert edges == []


def test_corpus_planted_containments_found(spark, corpus):
    files, truth = corpus
    ident = with_identity(files)
    sigs = compute_signatures(ident, CFG)
    found = substring_edges(ident, sigs, CFG).collect()
    idmap = {(r["repo"], r["path"]): r["file_id"]
             for r in ident.select("repo", "path", "file_id").collect()}
    got = {frozenset((r["src"], r["dst"])) for r in found}
    for a, b in truth.substring_pairs:
        assert frozenset((idmap[a], idmap[b])) in got, f"missed {a} ⊂ {b}"


def test_prebuilt_inverted_index_equals_inline_explode(spark):
    """substring_edges fed a prebuilt shingle_inverted_index frame must
    return exactly the edges of the default inline-explode path (the fold's
    reverse call probes the delta's prebuilt index)."""
    from cloud_dedup_spark.config import DedupConfig
    from cloud_dedup_spark.functions.normalize import with_identity
    from cloud_dedup_spark.operators.signatures import compute_signatures
    from cloud_dedup_spark.operators.substring import (
        shingle_inverted_index,
        substring_edges,
    )

    cfg = DedupConfig()
    body = " ".join(f"token{i} alpha beta" for i in range(40))
    hay = "prefix filler " * 30 + body + " suffix filler " * 30
    files = spark.createDataFrame(
        [
            ("ra", "needle.py", "c", "py", body),
            ("rb", "hay.py", "c", "py", hay),
            ("rc", "other.py", "c", "py", "unrelated words " * 60),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    ident = with_identity(files)
    sigs = compute_signatures(ident, cfg)
    reps = ident.select("file_id", "content_norm")
    inline = {(r["src"], r["dst"]) for r in substring_edges(reps, sigs, cfg).collect()}
    prebuilt = {
        (r["src"], r["dst"])
        for r in substring_edges(
            reps, sigs, cfg, inverted=shingle_inverted_index(sigs)
        ).collect()
    }
    assert inline == prebuilt and len(inline) >= 1


def test_prebuilt_anchors_require_the_corpus_doc_freq(spark):
    """Prebuilt anchors probe a delta-sized index; without the corpus
    ``doc_freq`` their doc frequencies would be delta-local, which defeats
    the template cap, so the call fails at plan time instead."""
    frame = spark.createDataFrame([(1,)], "file_id long")
    with pytest.raises(AssertionError, match="doc_freq"):
        substring_edges(frame, frame, CFG, inverted=frame, cand_anchors=frame)


def test_precomputed_doc_freq_equals_own_df_pass(spark):
    """A ``needle_ids`` call given the corpus ``doc_freq`` (counted as the
    fold counts it: the corpus index, semi-joined to the needles' shingle
    values) returns the edges of the same call that counts its own.  The
    template needle's every shingle sits in more docs than
    ``substring_max_anchor_df``, so the cap drops it on both sides."""
    from cloud_dedup_spark.operators.substring import (
        shingle_doc_freq,
        shingle_inverted_index,
    )

    template = _body("tmpl", 20)
    needle = _body("inner", 20)
    rows = [
        ("a", "template.py", "c1", "py", template),
        ("a", "needle.py", "c2", "py", needle),
        ("b", "hay.py", "c3", "py",
         _body("x", 50) + "\n" + needle + "\n" + _body("y", 50)),
    ] + [
        ("c", f"t{i}.py", f"t{i}", "py",
         _body(f"pre{i}", 40) + "\n" + template + "\n" + _body(f"post{i}", 40))
        for i in range(3)
    ]
    ident = with_identity(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"))
    ids = {r["path"]: r["file_id"] for r in ident.select("path", "file_id").collect()}
    needle_ids = ident.filter("path in ('template.py', 'needle.py')").select("file_id")

    def edges(cfg, **kw):
        sigs = compute_signatures(ident, cfg)
        out = substring_edges(ident, sigs, cfg, needle_ids=needle_ids, **kw)
        return {(r["src"], r["dst"], r["needle"]) for r in out.collect()}

    capped = DedupConfig(substring_max_anchor_df=2)
    sigs = compute_signatures(ident, capped)
    doc_freq = shingle_doc_freq(
        shingle_inverted_index(sigs),
        shingle_inverted_index(sigs.join(needle_ids, "file_id", "left_semi")),
    )
    own = edges(capped)
    assert edges(capped, doc_freq=doc_freq) == own
    assert {n for _, _, n in own} == {ids["needle.py"]}
    # without the cap the template needle finds its three haystacks
    assert ids["template.py"] in {n for _, _, n in edges(CFG)}
