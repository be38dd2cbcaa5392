"""List every defaulted parameter under ``cloud_dedup_spark/`` with the
callers that set it, or every public function that no non-test code uses.

For each function parameter with a default value (column-name parameters
included), the script finds every call to a function of that name in the
repository's Python files and records which calls pass the parameter, by
keyword or by position.  A parameter that only tests set is a knob nobody
uses: make it a module constant instead of adding another.  Likewise a
public function or class that only tests use is surface nobody reaches:
delete it, or move it into the tests that use it.

Run from the repository root:

    python scripts/option_audit.py              # parameters no non-test caller sets
    python scripts/option_audit.py --all        # every parameter, with its callers
    python scripts/option_audit.py --functions  # public names no non-test code uses

Calls and uses are matched by name, so two functions of one name share their
callers; ``**kwargs`` forwarding is not followed.
"""

from __future__ import annotations

import argparse
import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cloud_dedup_spark"


def _sources(root: Path):
    for p in sorted(root.rglob("*.py")):
        if not any(part.startswith(".") for part in p.relative_to(root).parts):
            yield p


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None, str]]:
    """(name, positional index or None, default source) per defaulted param."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = []
    for i, (arg, d) in enumerate(zip(pos[len(pos) - len(a.defaults):], a.defaults)):
        out.append((arg.arg, len(pos) - len(a.defaults) + i, ast.unparse(d)))
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            out.append((arg.arg, None, ast.unparse(d)))
    return out


def definitions() -> dict[str, list[tuple[str, str, int | None, str, bool]]]:
    """function name → [(module, param, position, default, is_method)]."""
    defs: dict[str, list] = defaultdict(list)
    for path in _sources(PACKAGE):
        tree = ast.parse(path.read_text())
        mod = str(path.relative_to(ROOT))
        for node in tree.body:
            fns = [(node, False)] if isinstance(node, ast.FunctionDef) else []
            if isinstance(node, ast.ClassDef):
                fns = [(n, True) for n in node.body if isinstance(n, ast.FunctionDef)]
            for fn, is_method in fns:
                for name, idx, default in _defaulted(fn):
                    defs[fn.name].append((mod, name, idx, default, is_method))
    return defs


def setters(defs) -> dict[tuple[str, str], set[str]]:
    """(function, param) → {"file:line"} of every call that sets it."""
    found: dict[tuple[str, str], set[str]] = defaultdict(set)
    for path in _sources(ROOT):
        try:
            tree = ast.parse(path.read_text())
        except SyntaxError:
            continue
        rel = str(path.relative_to(ROOT))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            for mod, param, idx, _, is_method in defs.get(name, ()):
                # a bound-method call does not pass ``self`` positionally
                shift = 1 if is_method and isinstance(f, ast.Attribute) else 0
                by_pos = (
                    idx is not None
                    and not any(isinstance(a, ast.Starred) for a in node.args)
                    and len(node.args) > idx - shift
                )
                if by_pos or any(k.arg == param for k in node.keywords):
                    found[(name, param)].add(f"{rel}:{node.lineno}")
    return found


def _is_test(site: str) -> bool:
    path = site.rsplit(":", 1)[0]
    return path.startswith("tests/") or Path(path).name.startswith("test_")


def unreached_functions() -> list[tuple[str, str]]:
    """(module, name) of every public top-level function or class under
    ``cloud_dedup_spark/`` that no file outside tests names (its own
    definition is not a use)."""
    used: set[str] = set()
    for path in _sources(ROOT):
        if _is_test(str(path.relative_to(ROOT))):
            continue
        try:
            tree = ast.parse(path.read_text())
        except SyntaxError:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
    out = []
    for path in _sources(PACKAGE):
        mod = str(path.relative_to(ROOT))
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and not node.name.startswith("_")
                    and node.name not in used):
                out.append((mod, node.name))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--all", action="store_true",
                    help="list every defaulted parameter, not only unset ones")
    ap.add_argument("--functions", action="store_true",
                    help="list public functions and classes no non-test code uses")
    args = ap.parse_args()
    if args.functions:
        unreached = unreached_functions()
        for mod, name in unreached:
            print(f"{mod}\t{name}")
        print(f"{len(unreached)} public functions have no non-test caller")
        return
    defs = definitions()
    found = setters(defs)
    rows = []
    for fn, params in sorted(defs.items()):
        for mod, param, _, default, _ in params:
            sites = sorted(found.get((fn, param), ()))
            prod = [s for s in sites if not _is_test(s)]
            if args.all or not prod:
                tests = len(sites) - len(prod)
                rows.append((mod, f"{fn}({param}={default})",
                             ", ".join(prod) or f"none ({tests} test calls)"))
    for mod, sig, callers in rows:
        print(f"{mod}\t{sig}\t{callers}")
    if not args.all:
        print(f"{len(rows)} defaulted parameters have no non-test caller")


if __name__ == "__main__":
    main()
