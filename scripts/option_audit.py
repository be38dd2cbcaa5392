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
callers; ``**kwargs`` forwarding is not followed.  Besides direct calls, a
call counts when it is deferred: ``pool.submit(fn, ...)``, or a tuple literal
led by a function name, ``(fn, ...)``, as task lists unpacked into
``submit(*t)`` are built.  A class call ``Cls(...)`` sets the parameters of
``Cls.__init__``, listed under the class name.
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


def definitions() -> dict[str, list[tuple[str, str, int | None, str, str]]]:
    """callable name → [(module, param, position, default, self_arg)].

    ``self_arg`` says when a call skips the first positional parameter:
    "bound" for a method (when called as ``obj.name(...)``), "always" for a
    class's ``__init__`` (registered under the class name), "" otherwise."""
    defs: dict[str, list] = defaultdict(list)
    for path in _sources(PACKAGE):
        tree = ast.parse(path.read_text())
        mod = str(path.relative_to(ROOT))
        for node in tree.body:
            fns = [(node, node.name, "")] if isinstance(node, ast.FunctionDef) else []
            if isinstance(node, ast.ClassDef):
                fns = [
                    (n, node.name, "always") if n.name == "__init__"
                    else (n, n.name, "bound")
                    for n in node.body if isinstance(n, ast.FunctionDef)
                ]
            for fn, key, self_arg in fns:
                for name, idx, default in _defaulted(fn):
                    defs[key].append((mod, name, idx, default, self_arg))
    return defs


def _name(node: ast.expr) -> str | None:
    return node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)


def _calls(tree: ast.AST, defs):
    """(lineno, callee expr, positional args, keyword names) per call,
    direct or deferred (a tuple counts only when led by a defined name)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            yield node.lineno, node.func, node.args, [k.arg for k in node.keywords]
            if _name(node.func) == "submit" and node.args:
                yield (node.lineno, node.args[0], node.args[1:],
                       [k.arg for k in node.keywords])
        elif (isinstance(node, ast.Tuple) and node.elts
              and isinstance(node.elts[0], ast.Name)
              and node.elts[0].id in defs):
            yield node.lineno, node.elts[0], node.elts[1:], []


def setters(defs) -> dict[tuple[str, str], set[str]]:
    """(function, param) → {"file:line"} of every call that sets it."""
    found: dict[tuple[str, str], set[str]] = defaultdict(set)
    for path in _sources(ROOT):
        try:
            tree = ast.parse(path.read_text())
        except SyntaxError:
            continue
        rel = str(path.relative_to(ROOT))
        for lineno, f, args, keywords in _calls(tree, defs):
            name = _name(f)
            for mod, param, idx, _, self_arg in defs.get(name, ()):
                # neither a bound-method call nor a class call passes
                # ``self`` positionally
                skip = self_arg == "always" or (
                    self_arg == "bound" and isinstance(f, ast.Attribute)
                )
                by_pos = (
                    idx is not None
                    and not any(isinstance(a, ast.Starred) for a in args)
                    and len(args) > idx - skip
                )
                if by_pos or param in keywords:
                    found[(name, param)].add(f"{rel}:{lineno}")
    return found


def parameter_setters() -> list[tuple[str, str, str, str, list[str]]]:
    """(module, callable, param, default, sorted call sites that set it) per
    defaulted parameter."""
    defs = definitions()
    found = setters(defs)
    return [
        (mod, fn, param, default, sorted(found.get((fn, param), ())))
        for fn, params in sorted(defs.items())
        for mod, param, _, default, _ in params
    ]


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
    rows = []
    for mod, fn, param, default, sites in parameter_setters():
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
