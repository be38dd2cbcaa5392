"""The workloads: seeded inputs, one op, its output check, its layers.

``WORKLOADS`` are the timed ones; the near-pair query mix (``NearPairMix``)
runs inside the traced batch-dedup run.  Each is driven only through
the library's public functions.  A workload object holds the state of one
run; the runner in ``run.py`` times ``setup``, ``op`` and nothing else.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from cloud_dedup_spark import run_pipeline
from cloud_dedup_spark.config import DedupConfig
from cloud_dedup_spark.corpus import bench_corpus_df, generate_corpus
from cloud_dedup_spark.functions.normalize import normalize_content, with_identity
from cloud_dedup_spark.operators.candidates import lsh_candidate_pairs
from cloud_dedup_spark.operators.cluster import cluster_assignments
from cloud_dedup_spark.operators.exact import exact_duplicate_clusters
from cloud_dedup_spark.operators.ivf import fit_or_load_centroids, ivf_near_pairs
from cloud_dedup_spark.operators.signatures import (
    SIG_TABLE_COLUMNS,
    compute_signatures,
)
from cloud_dedup_spark.operators.similarity import (
    cosine_near_pairs,
    cosine_near_pairs_lsh,
    lsh_bucketed_topk,
)
from cloud_dedup_spark.operators.substring import substring_edges
from cloud_dedup_spark.operators.verify import verify_pairs
from cloud_dedup_spark.report import build_report
from cloud_dedup_spark.streaming.incremental import incremental_dedup_update
from hostfit import log

FILES_PER_BLOCK = 4000  # bench_corpus_df's default block size


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- truth


class Truth:
    """Planted duplicate pairs of seeded corpora, keyed by (repo, path).

    Empty files are identical across corpora, so they form one exact group
    globally; every other plant stays inside its corpus."""

    def __init__(self) -> None:
        self.pairs: set[frozenset] = set()
        self.empty: set[tuple[str, str]] = set()

    def add_corpus(self, n_files: int, seed: int, prefix: str = "") -> set:
        """Add the truth of ``bench_corpus_df(n_files, seed)`` with paths
        under ``prefix``; returns the corpus' keys.  Only one-block corpora
        are used, so this is block 0 of ``bench_corpus_df``."""
        assert n_files <= FILES_PER_BLOCK, n_files
        rows, truth = generate_corpus(n_files, seed * 100_003)

        def key(k):
            return (k[0], f"{prefix}b00000/{k[1]}")

        empty = {key(k) for k in truth.empty_group}
        self.empty |= empty
        for p in truth.expected_positive_pairs():
            a, b = (key(k) for k in p)
            if not (a in empty and b in empty):
                self.pairs.add(frozenset((a, b)))
        return {key((r["repo"], r["path"])) for r in rows}

    def expected_for(self, keys: set) -> set[frozenset]:
        """Expected pairs with at least one member in ``keys``."""
        out = {p for p in self.pairs if p & keys}
        for a in self.empty & keys:
            out |= {frozenset((a, b)) for b in self.empty if b != a}
        return out


def predicted_pairs(assignments, keys: set) -> set[frozenset]:
    """Pairs sharing a cluster, with at least one member in ``keys``."""
    clusters: dict[int, list] = {}
    for r in assignments.select(
        "repo", "path", "cluster_id", "quarantined"
    ).collect():
        if not r["quarantined"]:
            clusters.setdefault(r["cluster_id"], []).append(
                (r["repo"], r["path"])
            )
    out = set()
    for members in clusters.values():
        if len(members) < 2 or not keys.intersection(members):
            continue
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                if a in keys or b in keys:
                    out.add(frozenset((a, b)))
    return out


def recall_fp(pred: set, exp: set) -> tuple[float, int]:
    return (len(pred & exp) / len(exp) if exp else 1.0), len(pred - exp)


# ---------------------------------------------------------------- workloads


class Workload:
    name = ""
    setup_reps = 3

    def __init__(self, spark, tracer, run_dir: str, seed: int, scale: float):
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.seed = seed
        self.scale = scale
        self.cfg = DedupConfig()

    def size(self, n: int) -> int:
        return max(64, int(n * self.scale))

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def after_setup(self) -> None:
        """Untimed: the benchmark's own reference outputs."""

    def prepare(self, i: int) -> None:
        """Untimed: inputs of op ``i``."""

    def op(self, i: int):
        raise NotImplementedError

    def work(self) -> int:
        raise NotImplementedError

    def check(self, out) -> tuple[bool, str]:
        raise NotImplementedError

    def layers(self, out, op_id: str) -> tuple[dict, bool]:
        """Per-layer metrics of the traced op ``out`` (trace runs only), and
        whether the outputs of any calls made for them passed their checks."""
        raise NotImplementedError

    def cleanup(self, i: int) -> None:
        """Untimed: drop op ``i``'s outputs."""


class BatchDedup(Workload):
    """run_pipeline + build_report over a seeded corpus, checkpointed fresh.

    The timed op is the first pipeline run of a fresh process, as a batch
    job runs: it pays the JVM's and the Python workers' warm-up, which the
    job's user pays too.  A warm op would need a warm-up op first, and the
    two do not fit a run's time budget."""

    name = "batch-dedup"
    N_FILES = 500

    def setup(self, rep: int) -> None:
        self.n_files = self.size(self.N_FILES)
        out = self.path(f"corpus-{rep}")
        bench_corpus_df(self.spark, self.n_files, seed=self.seed).write.mode(
            "overwrite"
        ).parquet(out)
        self.files = self.spark.read.parquet(out)

    def after_setup(self) -> None:
        self.truth = Truth()
        self.keys = self.truth.add_corpus(self.n_files, self.seed)
        self.expected = self.truth.expected_for(self.keys)

    def work(self) -> int:
        return self.n_files

    def _ckpt(self, i: int) -> str:
        return self.path(f"ckpt/batch-{i}")

    def op(self, i: int):
        res = self.tracer.call(
            "pipeline", run_pipeline, self.spark, self.files,
            track_rows=False, checkpoint_dir=self._ckpt(i),
        )
        report = self.tracer.call("report", build_report, res)
        return res, report

    def check(self, out) -> tuple[bool, str]:
        res, report = out
        recall, fp = recall_fp(
            predicted_pairs(res["assignments"], self.keys), self.expected
        )
        ok = (
            recall == 1.0 and fp == 0
            and report["total_files"] == self.n_files
            and report["n_quarantined_id_collisions"] == 0
        )
        return ok, f"recall={recall:.4f} fp={fp} files={report['total_files']}"

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._ckpt(i), ignore_errors=True)

    def layers(self, out, op_id: str) -> tuple[dict, bool]:
        """Replay each stage's public function on the traced op's checkpointed
        input tables, one at a time, each with a noop sink; then the
        near-pair query layers, which run in no timed workload (see
        ``NearPairMix``), on one query mix.  That mix has no warm-up of its
        own, to keep the traced run within its deadline: its first calls
        carry the similarity code's one-off costs."""
        res, _ = out
        t = self.tracer
        cfg = self.cfg
        identity, exact = res["identity"], res["exact"]
        norm, sigs, bands = res["norm"], res["signatures"], res["bands"]
        verified, sub = res["candidate_edges"], res["substring_edges"]
        rep_ids = exact.filter("is_exact_rep").select("file_id")

        def normalize():
            ident = with_identity(self.files)
            noop(ident.drop("content", "content_norm"))
            noop(
                ident.select("file_id", "content")
                .join(rep_ids, "file_id", "left_semi")
                .select(
                    "file_id", normalize_content("content").alias("content_norm")
                )
            )

        busy = {}
        for name, fn in (
            ("normalize", normalize),
            ("exact", lambda: noop(exact_duplicate_clusters(identity))),
            ("signatures", lambda: noop(
                compute_signatures(norm, cfg).select(*SIG_TABLE_COLUMNS))),
            ("candidates", lambda: noop(
                lsh_candidate_pairs(sigs, cfg, bands=bands))),
            ("verify", lambda: noop(
                verify_pairs(verified.select("src", "dst"), sigs, cfg))),
            ("substring", lambda: noop(substring_edges(norm, sigs, cfg))),
            ("cluster", lambda: noop(
                cluster_assignments(identity, res["edges"]))),
        ):
            t.call(name, fn)
            busy[name] = t.spans[-1]
        pipe = t.find("pipeline", op_id)[-1]
        report = t.find("report", op_id)[-1]
        dur = {k: s["end"] - s["start"] for k, s in busy.items()}
        n_ident = identity.count()
        n_pairs = verified.count()
        pipe_s = pipe["end"] - pipe["start"]
        near = NearPairMix(self.spark, t, self.path("near"), self.seed,
                           self.scale)
        t.op_id = f"{op_id}-near"
        near_out = near.run()
        near_ok, detail = near.check(near_out)
        log(f"near-pair query mix: ok={near_ok} {detail}")
        return {
            **near.layers(near_out, t.op_id),
            **{f"{k}.busy_s": v for k, v in dur.items()},
            "exact.rep_ratio": rep_ids.count() / n_ident,
            "signatures.jobs": len(busy["signatures"]["jobs"]),
            "signatures.py_bytes": t.rest.python_bytes(
                set(busy["signatures"]["jobs"])),
            "candidates.pairs": n_pairs,
            "verify.accept_ratio": (
                verified.filter("accepted").count() / n_pairs if n_pairs else 0.0
            ),
            "substring.edges": sub.count(),
            "cluster.jobs": len(busy["cluster"]["jobs"]),
            "report.busy_s": report["end"] - report["start"],
            "pipeline.busy_s": pipe_s,
            "pipeline.jobs": len(pipe["jobs"]),
            "pipeline.unattributed_s": pipe_s - sum(dur.values()),
        }, near_ok


class IncrementalFold(Workload):
    """incremental_dedup_update of seeded deltas into a checkpointed base."""

    name = "incremental-fold"
    # set-up is the base corpus plus its batch pipeline run: it takes half
    # of the run's time budget, so it runs once.  That pipeline run executes
    # the stage operators the fold reuses, so it is the warm-up too.  The
    # timed fold is the first on the checkpoint, so it also builds the
    # shingle index over the base, as the first fold after a batch run does
    setup_reps = 1
    BASE_FILES = 200
    DELTA_FILES = 100

    def setup(self, rep: int) -> None:
        self.base_n = self.size(self.BASE_FILES)
        self.delta_n = self.size(self.DELTA_FILES)
        self.ckpt = self.path(f"ckpt/fold-{rep}")
        base = self.path(f"fold-base-{rep}")
        bench_corpus_df(self.spark, self.base_n, seed=self.seed).write.mode(
            "overwrite"
        ).parquet(base)
        run_pipeline(
            self.spark, self.spark.read.parquet(base), track_rows=False,
            checkpoint_dir=self.ckpt,
        )

    def _corpus(self, n: int, seed: int, prefix: str):
        return bench_corpus_df(self.spark, n, seed=seed).withColumn(
            "path", F.concat(F.lit(prefix), F.col("path"))
        )

    def after_setup(self) -> None:
        self.truth = Truth()
        self.truth.add_corpus(self.base_n, self.seed)

    def _delta_seed(self, i: int) -> int:
        return self.seed * 1000 + 7 + i

    def prepare(self, i: int) -> None:
        prefix = f"inc{i:04d}/"
        out = self.path(f"delta-{i}")
        self._corpus(self.delta_n, self._delta_seed(i), prefix).write.mode(
            "overwrite"
        ).parquet(out)
        self.delta = self.spark.read.parquet(out)
        self.delta_keys = self.truth.add_corpus(
            self.delta_n, self._delta_seed(i), prefix
        )

    def work(self) -> int:
        return self.delta_n

    def op(self, i: int):
        return self.tracer.call(
            "incremental", incremental_dedup_update,
            self.spark, self.delta, self.ckpt,
        )

    def check(self, out) -> tuple[bool, str]:
        recall, fp = recall_fp(
            predicted_pairs(out["assignments"], self.delta_keys),
            self.truth.expected_for(self.delta_keys),
        )
        ok = recall == 1.0 and fp == 0 and out["n_delta"] == self.delta_n
        return ok, f"recall={recall:.4f} fp={fp} n_delta={out['n_delta']}"

    def layers(self, out, op_id: str) -> tuple[dict, bool]:
        t = self.tracer
        fold = t.find("incremental", op_id)[-1]
        t.call("signatures.delta", lambda: noop(compute_signatures(
            with_identity(self.delta).select("file_id", "content_norm"),
            self.cfg,
        ).select(*SIG_TABLE_COLUMNS)))
        sig = t.spans[-1]
        return {
            "incremental.busy_s": fold["end"] - fold["start"],
            "incremental.jobs": len(fold["jobs"]),
            "incremental.shuffle_bytes": t.rest.shuffle_write_bytes(
                set(fold["jobs"])),
            "incremental.ingest_ratio": out["n_delta"] / self.delta_n,
            "signatures.delta_busy_s": sig["end"] - sig["start"],
        }, True


class NearPairMix:
    """Exact, LSH and IVF near pairs at two thresholds, plus LSH top-k, on
    seeded embeddings; its inputs, reference outputs and fitted quantizer
    are made on construction, under ``run_dir``.

    Not a timed workload: with it, the benchmark's runs did not fit their
    time budget.  ``BatchDedup.layers`` runs it in the traced run."""

    N_VECTORS = 1000
    DIM = 64
    N_TOPICS = 16
    N_CELLS = 16
    HIGH, LOW = 0.95, 0.7
    TOPK = 5

    def __init__(self, spark, tracer, run_dir: str, seed: int, scale: float):
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.seed = seed
        self.n = max(64, int(self.N_VECTORS * scale))
        self._load()
        self._reference()

    def _vectors(self) -> np.ndarray:
        """Topic clusters (many pairs above LOW) with planted families of
        near copies (the pairs above HIGH)."""
        rng = np.random.default_rng(self.seed)
        n = self.n
        # equal-norm centers and equal-size topics keep the pair counts, and
        # so the work, about the same for every seed
        centers = rng.normal(size=(self.N_TOPICS, self.DIM))
        centers *= np.sqrt(self.DIM) / np.linalg.norm(
            centers, axis=1, keepdims=True)
        topic = rng.permutation(np.arange(n) % self.N_TOPICS)
        vecs = centers[topic] + rng.normal(scale=0.8, size=(n, self.DIM))
        n_fam = n // 10
        src = rng.choice(n, n_fam, replace=False)
        dst = rng.choice(np.setdiff1d(np.arange(n), src), n_fam, replace=False)
        vecs[dst] = vecs[src] + rng.normal(scale=0.05, size=(n_fam, self.DIM))
        return vecs.astype(np.float32)

    def _load(self) -> None:
        import pandas as pd

        self.vecs = self._vectors()
        pdf = pd.DataFrame({
            "vec_id": np.arange(len(self.vecs), dtype=np.int64),
            "embedding": list(self.vecs),
        })
        out = os.path.join(self.run_dir, "emb")
        self.spark.createDataFrame(
            pdf, "vec_id long, embedding array<float>"
        ).write.mode("overwrite").parquet(out)
        self.emb = self.spark.read.parquet(out)
        self.queries = self.emb.filter(F.col("vec_id") % 50 == 0)
        self.centroids = fit_or_load_centroids(
            self.spark, self.emb, self.N_CELLS,
            path=os.path.join(self.run_dir, "quantizer"), seed=self.seed,
        )

    def _reference(self) -> None:
        v = self.vecs.astype(np.float64)
        norms = np.linalg.norm(v, axis=1)
        self.cos = (v @ v.T) / np.outer(norms, norms)
        iu = np.triu_indices(len(v), k=1)
        self.ref = {}
        for th in (self.HIGH, self.LOW):
            keep = np.round(self.cos[iu] + 1e-12, 4) >= th
            self.ref[th] = set(zip(iu[0][keep].tolist(), iu[1][keep].tolist()))

    @staticmethod
    def _pairs(df) -> set:
        return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}

    def run(self) -> dict:
        t = self.tracer
        out = {}
        for th in (self.HIGH, self.LOW):
            out["exact", th] = t.call(
                "similarity.exact", lambda: self._pairs(cosine_near_pairs(
                    self.emb, threshold=th)))
            out["lsh", th] = t.call(
                "similarity.lsh", lambda: self._pairs(cosine_near_pairs_lsh(
                    self.emb, threshold=th, target_recall=0.98)))
            out["ivf", th] = t.call(
                "ivf", lambda: self._pairs(ivf_near_pairs(
                    self.emb, threshold=th, n_cells=self.N_CELLS, n_assign=2,
                    centroids=self.centroids)))
        out["topk"] = t.call(
            "similarity.topk", lambda: lsh_bucketed_topk(
                self.emb, self.queries, k=self.TOPK, n_planes=6).collect())
        return out

    def _recall(self, out, kind: str) -> float:
        hit = sum(len(out[kind, th] & out["exact", th]) for th in self.ref)
        return hit / sum(len(out["exact", th]) for th in self.ref)

    def _exact_ok(self, got: set, th: float) -> bool:
        # a pair may differ only if its score sits on the 4-dp rounding edge
        for a, b in got ^ self.ref[th]:
            if abs(self.cos[a, b] - (th - 5e-5)) > 1e-9:
                return False
        return True

    def _topk_ok(self, rows) -> bool:
        per_q: dict[int, list] = {}
        for r in rows:
            q, nb = r["query_id"], r["neighbor_id"]
            if q % 50 or q == nb or abs(r["score"] - self.cos[q, nb]) > 1e-4:
                return False
            per_q.setdefault(q, []).append((r["rank"], r["score"]))
        for ranks in per_q.values():
            ranks.sort()
            if [rk for rk, _ in ranks] != list(range(1, len(ranks) + 1)):
                return False
            if len(ranks) > self.TOPK or any(
                s1 < s2 for (_, s1), (_, s2) in zip(ranks, ranks[1:])
            ):
                return False
        return bool(per_q)

    def check(self, out) -> tuple[bool, str]:
        exact_ok = all(self._exact_ok(out["exact", th], th) for th in self.ref)
        subset = all(
            out[k, th] <= out["exact", th]
            for k in ("lsh", "ivf") for th in self.ref
        )
        lsh_r, ivf_r = self._recall(out, "lsh"), self._recall(out, "ivf")
        topk_ok = self._topk_ok(out["topk"])
        ok = exact_ok and subset and lsh_r >= 0.95 and ivf_r >= 0.5 and topk_ok
        return ok, (
            f"exact={exact_ok} subset={subset} lsh_recall={lsh_r:.4f} "
            f"ivf_recall={ivf_r:.4f} topk={topk_ok} exact_pairs="
            f"{len(out['exact', self.HIGH])}/{len(out['exact', self.LOW])}"
        )

    def layers(self, out, op_id: str) -> dict:
        t = self.tracer

        def spans(name):
            return t.find(name, op_id)

        def busy(name):
            return sum(s["end"] - s["start"] for s in spans(name))

        def jobs(*names):
            return {j for n in names for s in spans(n) for j in s["jobs"]}

        return {
            "similarity.exact_busy_s": busy("similarity.exact"),
            "similarity.lsh_busy_s": busy("similarity.lsh"),
            "similarity.topk_busy_s": busy("similarity.topk"),
            "similarity.exact_jobs": len(jobs("similarity.exact")),
            "similarity.lsh_jobs": len(jobs("similarity.lsh")),
            "similarity.lsh_recall": self._recall(out, "lsh"),
            "similarity.py_bytes": t.rest.python_bytes(jobs(
                "similarity.exact", "similarity.lsh", "similarity.topk")),
            "ivf.busy_s": busy("ivf"),
            "ivf.jobs": len(jobs("ivf")),
            "ivf.recall": self._recall(out, "ivf"),
        }


WORKLOADS = {w.name: w for w in (BatchDedup, IncrementalFold)}
