"""Deterministic synthetic source-code corpus with planted duplicate relations.

Produces the BASELINE.json ``input_hint`` shape —
``files(repo, path, commit, lang, content)`` plus the per-row invariant column
``content_sha256`` — together with a closed-form truth plan, so every expected
cluster / candidate edge is recomputable from the seed (FIXTURES.md §1, §4).

This is the analog of the reference's constructed-fixture technique: tests
build tiny trees with exact ``(rel_path, content, mtime)`` triples and assert
exact outputs (reference tests/test_cloud_duplicate_analyzer.py:9-16 — the
``make_file`` helper).  Here the "tree" is a seeded generator and the expected
values derive from the plant plan, never from golden files.

Planted scenario classes (FIXTURES.md §1 table):
  exact duplicate (same + different path), near-duplicate (ε-edit),
  borderline non-duplicate (~50% rewrite), phantom-analog (same path+length,
  different content), substring containment, empty file, unique file,
  hot-band boilerplate header, unique subtree, identical subtree.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

# (repo, path) uniquely identifies a file in the generated corpus; commit is
# deterministic decoration.  Keys, not surrogate ids, are the stable identity
# tests join on.
Key = tuple[str, str]

REPOS = ("repo_a", "repo_b", "repo_c")
LANGS = ("py", "js", "go", "md")

_IDENT_STEMS = (
    "load", "parse", "merge", "split", "flush", "index", "score", "batch",
    "shard", "probe", "emit", "fold", "scan", "hash", "rank", "join",
    "buffer", "cursor", "offset", "window", "bucket", "stride", "chunk",
    "token", "record", "column", "schema", "vector", "matrix", "graph",
)

LICENSE_HEADER = "\n".join(
    [
        "# Licensed under the Apache License, Version 2.0 (the License);",
        "# you may not use this file except in compliance with the License.",
        "# You may obtain a copy of the License at",
        "#     http://www.apache.org/licenses/LICENSE-2.0",
        "# Unless required by applicable law or agreed to in writing, software",
        "# distributed under the License is distributed on an AS IS BASIS,",
        "# WITHOUT WARRANTIES OR CONDITIONS OF ANY KIND, either express or implied.",
        "# See the License for the specific language governing permissions and",
        "# limitations under the License.",
    ]
)


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


@dataclass
class CorpusTruth:
    """Closed-form expected outputs, keyed by (repo, path)."""

    exact_groups: list[list[Key]] = field(default_factory=list)
    near_groups: list[list[Key]] = field(default_factory=list)
    substring_pairs: list[tuple[Key, Key]] = field(default_factory=list)  # (short, long)
    negative_pairs: list[tuple[Key, Key]] = field(default_factory=list)
    empty_group: list[Key] = field(default_factory=list)
    boilerplate_keys: list[Key] = field(default_factory=list)
    unique_keys: list[Key] = field(default_factory=list)
    identical_subtree_prefix: str = ""
    unique_subtree_prefix: str = ""

    def expected_clusters(self) -> list[set[Key]]:
        """Union-find over all planted positive relations (clusters of size ≥ 2)."""
        parent: dict[Key, Key] = {}

        def find(k: Key) -> Key:
            parent.setdefault(k, k)
            while parent[k] != k:
                parent[k] = parent[parent[k]]
                k = parent[k]
            return k

        def union(a: Key, b: Key) -> None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra

        groups: list[list[Key]] = list(self.exact_groups) + list(self.near_groups)
        if self.empty_group:
            groups.append(self.empty_group)
        for g in groups:
            for k in g[1:]:
                union(g[0], k)
        for a, b in self.substring_pairs:
            union(a, b)
        out: dict[Key, set[Key]] = {}
        for k in list(parent):
            out.setdefault(find(k), set()).add(k)
        return [members for members in out.values() if len(members) >= 2]

    def expected_positive_pairs(self) -> set[frozenset[Key]]:
        """Every unordered dup pair implied by the planted clusters."""
        pairs: set[frozenset[Key]] = set()
        for cluster in self.expected_clusters():
            members = sorted(cluster)
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    pairs.add(frozenset((members[i], members[j])))
        return pairs


class _Gen:
    """Seeded pseudo-code emitter: token-rich, code-shaped, deterministic."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)

    def ident(self) -> str:
        # wide numeric suffix keeps shingle document-frequency realistic at
        # 10^5+ files — a narrow namespace saturates the shingle vocabulary
        # and makes every document template-like (artifact, not workload)
        r = self.rng
        return f"{r.choice(_IDENT_STEMS)}_{r.choice(_IDENT_STEMS)}{r.randrange(10000)}"

    def line(self, idents: list[str]) -> str:
        r = self.rng
        form = r.randrange(5)
        a, b, c = (r.choice(idents) for _ in range(3))
        if form == 0:
            return f"    {a} = {b}({c}, {r.randrange(1000)})"
        if form == 1:
            return f"    if {a} > {r.randrange(100)}: {b} += {c}"
        if form == 2:
            return f"    for {a} in range({r.randrange(2, 64)}): {b}.append({c})"
        if form == 3:
            return f"    {a} = [{b}[i] * {r.randrange(2, 9)} for i in {c}]"
        return f"    {a} = {b} // {max(1, r.randrange(16))} + len({c})"

    def body(self, n_lines: int) -> str:
        idents = [self.ident() for _ in range(8)]
        fn = self.ident()
        lines = [f"def {fn}({', '.join(idents[:3])}):"]
        lines += [self.line(idents) for _ in range(n_lines)]
        lines.append(f"    return {idents[0]}")
        return "\n".join(lines)

    def path(self, prefix: str = "src") -> str:
        r = self.rng
        depth = r.randrange(1, 4)
        parts = [prefix] + [r.choice(_IDENT_STEMS) for _ in range(depth)]
        return "/".join(parts) + f"/{self.ident()}.{r.choice(LANGS)}"

    def commit(self) -> str:
        return f"{self.rng.getrandbits(64):016x}"


def _near_edit(content: str, rng: random.Random) -> str:
    """ε-edit: rename ONE identifier occurrence + rewrite one body line.

    A true ε-edit per FIXTURES.md ("rename one identifier / change one line of
    an ~80-line file"): ~10 of ~500 tokens change, Jaccard ≈ 0.95 ≫ τ=0.8.
    An occurrence-wide rename would drag Jaccard to ~0.6-0.7 — that's the
    *borderline* scenario's territory, not the near-dup plant's.
    """
    lines = content.split("\n")
    words = sorted({w for w in content.replace("(", " ").replace(")", " ").split() if "_" in w})
    if words:
        victim = rng.choice(words).strip(",:.")
        content = content.replace(victim, f"{victim}_v2", 1)
        lines = content.split("\n")
    if len(lines) > 3:
        i = rng.randrange(1, len(lines) - 1)
        lines[i] = f"    renamed_tmp = renamed_tmp_src[{rng.randrange(100)}]  # edited"
    return "\n".join(lines)


def _half_rewrite(content: str, gen: _Gen) -> str:
    """Rewrite ~50% of body lines → Jaccard ≈ 0.33, well under threshold."""
    lines = content.split("\n")
    idents = [gen.ident() for _ in range(8)]
    for i in range(1, len(lines) - 1, 2):
        lines[i] = gen.line(idents)
    return "\n".join(lines)


def generate_corpus(
    n_files: int = 600, seed: int = 42
) -> tuple[list[dict], CorpusTruth]:
    """Generate ``n_files`` rows of files(repo,path,commit,lang,content,content_sha256).

    Scenario budget (fractions of n): 8% exact groups, 8% near groups,
    4% borderline negatives, 2% phantom negatives, 4% substring pairs,
    3 empty files, one identical subtree (5 files × 2 repos), one unique
    subtree (4 files), remainder unique.  15% of bodies get the shared
    boilerplate license header (the hot-band skew plant).
    """
    gen = _Gen(seed)
    rng = gen.rng
    rows: list[dict] = []
    truth = CorpusTruth(
        identical_subtree_prefix="vendor/libcommon",
        unique_subtree_prefix="internal/only_a",
    )
    seen_paths: set[Key] = set()

    def add(repo: str, path: str, content: str, lang: str | None = None) -> Key:
        # path namespace collisions are possible at large n — disambiguate
        # deterministically (suffix before the extension) so (repo, path)
        # stays a unique key at any corpus size
        if (repo, path) in seen_paths:
            stem, dot, ext = path.rpartition(".")
            i = 2
            while (repo, f"{stem}_d{i}{dot}{ext}") in seen_paths:
                i += 1
            path = f"{stem}_d{i}{dot}{ext}"
        key = (repo, path)
        seen_paths.add(key)
        rows.append(
            {
                "repo": repo,
                "path": path,
                "commit": gen.commit(),
                "lang": lang or path.rsplit(".", 1)[-1],
                "content": content,
                "content_sha256": sha256_hex(content),
            }
        )
        return key

    def maybe_boilerplate(content: str) -> tuple[str, bool]:
        if rng.random() < 0.15:
            return LICENSE_HEADER + "\n" + content, True
        return content, False

    n_exact = max(2, int(n_files * 0.08))
    n_near = max(2, int(n_files * 0.08))
    n_border = max(1, int(n_files * 0.04))
    n_phantom = max(1, int(n_files * 0.02))
    n_substr = max(1, int(n_files * 0.04))

    # --- exact duplicate groups (half same path across repos, half renamed) ---
    made = 0
    while made < n_exact:
        size = rng.choice((2, 2, 3))
        content, boiler = maybe_boilerplate(gen.body(rng.randrange(40, 100)))
        repos = rng.sample(REPOS, size)
        same_path = rng.random() < 0.5
        base_path = gen.path()
        group: list[Key] = []
        for r in repos:
            p = base_path if same_path else gen.path()
            k = add(r, p, content)
            group.append(k)
            if boiler:
                truth.boilerplate_keys.append(k)
        truth.exact_groups.append(group)
        made += size

    # --- near-duplicate pairs (ε-edit copies) ---
    made = 0
    while made < n_near:
        content, boiler = maybe_boilerplate(gen.body(rng.randrange(60, 120)))
        edited = _near_edit(content, rng)
        ra, rb = rng.sample(REPOS, 2)
        ka = add(ra, gen.path(), content)
        kb = add(rb, gen.path(), edited)
        truth.near_groups.append([ka, kb])
        if boiler:
            truth.boilerplate_keys += [ka, kb]
        made += 2

    # --- borderline non-duplicates (~50% rewrite; must NOT cluster) ---
    for _ in range(n_border // 2 + 1):
        content = gen.body(rng.randrange(60, 120))
        other = _half_rewrite(content, gen)
        ra, rb = rng.sample(REPOS, 2)
        ka = add(ra, gen.path(), content)
        kb = add(rb, gen.path(), other)
        truth.negative_pairs.append((ka, kb))

    # --- phantom analogs: same path + same length, different content ---
    for _ in range(n_phantom // 2 + 1):
        content = gen.body(rng.randrange(40, 80))
        # different content, exactly the same length: shift letters in body
        rot = content.translate(str.maketrans(
            "abcdefghijklmnopqrstuvwxyz", "nopqrstuvwxyzabcdefghijklm"))
        p = gen.path()
        ra, rb = rng.sample(REPOS, 2)
        ka = add(ra, p, content)
        kb = add(rb, p, rot)
        truth.negative_pairs.append((ka, kb))

    # --- substring containments: short A verbatim inside much larger B ---
    made = 0
    while made < n_substr:
        short = gen.body(rng.randrange(20, 35))
        pre = gen.body(rng.randrange(60, 90))
        post = gen.body(rng.randrange(60, 90))
        long_content = pre + "\n\n" + short + "\n\n" + post
        ra, rb = rng.sample(REPOS, 2)
        ka = add(ra, gen.path(), short)
        kb = add(rb, gen.path(), long_content)
        truth.substring_pairs.append((ka, kb))
        made += 2

    # --- empty files (one group of 3 across all repos) ---
    for r in REPOS:
        truth.empty_group.append(add(r, f"empty/{r}_placeholder.py", ""))

    # --- identical subtree: vendor/libcommon present byte-identical in 2 repos ---
    sub_files = [(f"{truth.identical_subtree_prefix}/{gen.ident()}.py",
                  gen.body(rng.randrange(30, 60))) for _ in range(5)]
    for p, c in sub_files:
        g = [add("repo_a", p, c), add("repo_b", p, c)]
        truth.exact_groups.append(g)

    # --- unique subtree: internal/only_a exists in repo_a only ---
    for _ in range(4):
        truth.unique_keys.append(
            add("repo_a", f"{truth.unique_subtree_prefix}/{gen.ident()}.py",
                gen.body(rng.randrange(30, 60))))

    # --- unique filler up to n_files ---
    while len(rows) < n_files:
        content, boiler = maybe_boilerplate(gen.body(rng.randrange(30, 110)))
        k = add(rng.choice(REPOS), gen.path(), content)
        truth.unique_keys.append(k)
        if boiler:
            truth.boilerplate_keys.append(k)

    return rows, truth


def bench_corpus_df(
    spark, n_files: int, seed: int = 42, files_per_block: int = 4000
):
    """Distributed corpus generation: mapInPandas over a seed-block range.

    The truth-plan generator above is driver-side (it tracks global plant
    state); for throughput benchmarking only the workload SHAPE matters, so
    each executor block runs ``generate_corpus`` with its own derived seed
    and a block-namespaced path prefix (no cross-block key collisions).
    Plants (exact/near/substring/boilerplate) land within blocks — the same
    per-file work profile as the driver-side corpus at any size.  Generation
    parallelizes across all cores: ~10^6 files in ~20 s at local[32] vs
    ~10 min driver-side (ROADMAP round-1 item 1d).

    Deterministic: block b of seed s always yields the same rows, regardless
    of partitioning or cluster size.
    """
    import math

    import pandas as pd

    n_blocks = math.ceil(n_files / files_per_block)
    last_block_n = n_files - files_per_block * (n_blocks - 1)
    # generate_corpus has a ~27-row planted-scenario floor, so a tiny tail
    # block would OVERSHOOT the exact row-count contract (8001 requested →
    # 8027 delivered; round-4 review).  Fold small tails into the previous
    # block — generate_corpus is exact for n ≥ 64.
    if n_blocks > 1 and last_block_n < 64:
        n_blocks -= 1
        last_block_n += files_per_block

    def gen_blocks(batches):
        for pdf in batches:
            for bid in pdf["id"].tolist():
                n = last_block_n if bid == n_blocks - 1 else files_per_block
                rows, _ = generate_corpus(n, seed * 100_003 + bid)
                out = pd.DataFrame(rows)
                out["path"] = f"b{bid:05d}/" + out["path"]
                yield out[
                    ["repo", "path", "commit", "lang", "content",
                     "content_sha256"]
                ]

    schema = (
        "repo string, path string, commit string, lang string, "
        "content string, content_sha256 string"
    )
    blocks = spark.range(n_blocks).repartition(
        min(n_blocks, spark.sparkContext.defaultParallelism * 2)
    )
    return blocks.mapInPandas(gen_blocks, schema)


def corpus_df(spark, n_files: int = 600, seed: int = 42):
    """Materialize the corpus as a DataFrame (explicit schema, SURVEY.md §1.3)."""
    from pyspark.sql.types import StringType, StructField, StructType

    rows, truth = generate_corpus(n_files, seed)
    schema = StructType(
        [
            StructField("repo", StringType(), False),
            StructField("path", StringType(), False),
            StructField("commit", StringType(), False),
            StructField("lang", StringType(), False),
            StructField("content", StringType(), False),
            StructField("content_sha256", StringType(), False),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    return df, truth
