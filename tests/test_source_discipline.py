"""Source-level discipline pins (round-3 verdict item 4).

The engine's rule (BASELINE.json input_hint): vectorized pandas/Arrow UDFs
only — no per-row Python anywhere in a dataflow path.  Plan-level tests pin
the hot paths; this grep-style pass pins the whole package so a row-at-a-time
construct cannot slip into a cold path unnoticed (the round-3 finding was a
pandas ``.apply(tuple, axis=1)`` inside the stateful operator — small, but
against the rule).
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "cloud_dedup_spark"


def _sources() -> dict[str, str]:
    return {str(p): p.read_text() for p in sorted(PKG.rglob("*.py"))}


def test_no_row_at_a_time_pandas_apply():
    """pandas .apply(..., axis=1) / .iterrows() / .itertuples() iterate rows in
    Python — every per-key computation must use vectorized column ops."""
    bad = re.compile(r"\.apply\s*\([^)]*axis\s*=\s*1|\.iterrows\s*\(|\.itertuples\s*\(")
    hits = [
        f"{path}: {m.group(0)}"
        for path, src in _sources().items()
        for m in bad.finditer(src)
    ]
    assert not hits, f"row-at-a-time pandas constructs found: {hits}"


def test_no_row_at_a_time_spark_udf():
    """Row-at-a-time Spark UDFs (F.udf / @udf) are banned — only built-in
    Column expressions and Arrow-batched pandas UDFs are allowed."""
    bad = re.compile(r"\bF\.udf\s*\(|^\s*@udf\b|functions\.udf\s*\(", re.M)
    hits = [
        f"{path}: {m.group(0).strip()}"
        for path, src in _sources().items()
        for m in bad.finditer(src)
    ]
    assert not hits, f"row-at-a-time Spark UDFs found: {hits}"


def test_no_rdd_map_in_dataflow():
    """RDD row maps (rdd.map/flatMap/collect) would leave the DataFrame/Arrow
    path; the only sanctioned .rdd use is getNumPartitions (a metadata probe)."""
    bad = re.compile(r"\.rdd\.(?!getNumPartitions)")
    hits = [
        f"{path}: {m.group(0)}"
        for path, src in _sources().items()
        for m in bad.finditer(src)
    ]
    assert not hits, f"RDD row-level operations found: {hits}"


# an environment read with a literal key: os.environ.get("K"), os.environ["K"],
# "K" in os.environ, os.getenv("K")
_ENV_READ = re.compile(
    r'os\.environ\.get\(\s*"(\w+)"'
    r'|os\.environ\[\s*"(\w+)"\s*\]'
    r'|"(\w+)"\s+in\s+os\.environ'
    r'|os\.getenv\(\s*"(\w+)"'
)


def test_library_env_reads_are_deployment_settings():
    """The library reads only the deployment settings that the bench and
    perfbench entry points export (cores, driver heap, scratch dirs); every
    tuning value is a constant or a config field, never an environment
    knob hidden inside library code."""
    allowed = {
        "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS",
        "SPARK_GRAFT_TMPFS",
    }
    bad = []
    for path, src in _sources().items():
        keyed = list(_ENV_READ.finditer(src))
        bad += [
            f"{path}: {m.group(0)}"
            for m in keyed
            if next(g for g in m.groups() if g) not in allowed
        ]
        if len(re.findall(r"os\.environ\b|\bgetenv\(", src)) != len(keyed):
            bad.append(f"{path}: an environment read without a literal key")
    assert not bad, f"library environment reads outside the allowed set: {bad}"


def test_driver_threads_come_from_one_helper():
    """Only metrics.driver_threads starts driver threads: its tasks carry the
    caller's job group and description, so a caller's cancelJobGroup reaches
    every job.  A bare pool thread inherits none of them."""
    bad = re.compile(
        r"\bconcurrent\.futures\b|\bThreadPoolExecutor\b|\bthreading\.Thread\b"
    )
    hits = [
        f"{path}: {m.group(0)}"
        for path, src in _sources().items()
        if pathlib.Path(path) != PKG / "metrics.py"
        for m in bad.finditer(src)
    ]
    assert not hits, f"driver threads outside metrics.driver_threads: {hits}"


def _option_audit():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "option_audit", PKG.parent / "scripts" / "option_audit.py"
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    return audit


def test_public_functions_have_a_non_test_caller():
    """Every public function or class of the library is reached by a query,
    stage, fold phase, script or benchmark, except the named few that
    reproduce the reference or check correctness, and the stream front end
    that is the only path to test stream replay.  A test double belongs in
    tests/, and a function that only its tests call is surface to delete
    (``python scripts/option_audit.py --functions`` lists them)."""
    audit = _option_audit()
    allowed = {
        "html_report.py": {"render_html", "human_size"},  # reference S4, F2
        "operators/exact.py": {"exact_duplicate_groups"},
        "operators/metadata.py": {"pair_stats_pivot", "mixed_type_second_pass"},
        "operators/rollup.py": {"folder_detail_rows"},
        "plans/pipeline.py": {"invariant_violations"},
        "streaming/incremental.py": {"incremental_dedup_stream"},
    }
    unreached = [
        f"{mod}: {name}"
        for mod, name in audit.unreached_functions()
        if name not in allowed.get(mod.removeprefix("cloud_dedup_spark/"), ())
    ]
    assert not unreached, f"public functions only tests reach: {unreached}"


def test_defaulted_parameters_have_a_non_test_setter():
    """Every defaulted parameter is set by some query, stage, fold phase,
    script or benchmark, except the named few: the config objects and the
    table format, the source filters and stream admission control, the
    test-sized knobs and the reference-parity badge class.  A parameter that
    only tests set is a knob nobody uses; make it a module constant
    (``python scripts/option_audit.py`` lists them)."""
    audit = _option_audit()
    unset = {
        f"{fn}({param})"
        for _, fn, param, _, sites in audit.parameter_setters()
        if all(audit._is_test(s) for s in sites)
    }
    assert unset == {
        "badge(cls)",  # reference S4 markup
        "bench_corpus_df(files_per_block)",
        "compact_stage_tables(min_files)",
        "contaminated_docs(cfg)",
        "incremental_dedup_stream(cfg)",
        "incremental_dedup_stream(table_format)",
        "incremental_dedup_stream(max_files_per_trigger)",
        "mixed_type_second_pass(cfg)",
        "pair_stats_pivot(cfg)",
        "read_files(skip_hidden)",
        "read_files(langs)",
        "run_pipeline(cfg)",
        "run_pipeline(table_format)",
        "scan_warnings(expected_repos)",
    }
