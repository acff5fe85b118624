#!/usr/bin/env python
"""List the registry queries whose call graph reaches given functions.

Builds a static AST call graph over `mine_database_spark/` (a call
`f(...)` or `x.f(...)` is an edge to every package function or method
named `f`; nested defs count as their enclosing function) and walks it
from every query in `registry._DECLARED`. Targets are the function names
given, or with `--diff REV` every package function whose lines
`git diff REV` touches. Prints the matching query names, in declaration
order, as the `GATE_TOUCHED` tuple body.

Usage:
  python scripts/gate_touched.py k_core orphan_gc
  python scripts/gate_touched.py --diff HEAD~1
"""

from __future__ import annotations

import argparse
import ast
import re
import subprocess
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "mine_database_spark"
REGISTRY = PKG / "queries" / "registry.py"


def _top_defs(tree: ast.Module):
    """Module-level functions and class methods (not nested defs)."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node
        elif isinstance(node, ast.ClassDef):
            yield from (n for n in node.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)))


def _called_names(fn: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Call):
            f = node.func
            names.add(f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None)
        elif isinstance(node, ast.Name):
            # functions passed by reference (callbacks, dict values)
            names.add(node.id)
    names.discard(None)
    return names


def call_graph() -> tuple[dict[str, set[str]], dict[Path, list[tuple[int, int, str]]]]:
    """(name -> names it calls, file -> [(first line, last line, name)])."""
    graph: dict[str, set[str]] = defaultdict(set)
    spans: dict[Path, list[tuple[int, int, str]]] = defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        for fn in _top_defs(ast.parse(path.read_text())):
            graph[fn.name] |= _called_names(fn)
            spans[path].append((fn.lineno, fn.end_lineno, fn.name))
    return graph, spans


def declared_queries() -> dict[str, str]:
    """Registry query name -> the function registered under it."""
    for node in ast.parse(REGISTRY.read_text()).body:
        if isinstance(node, ast.AnnAssign) and getattr(node.target, "id", None) == "_DECLARED":
            return {k.value: v.id for k, v in zip(node.value.keys, node.value.values)}
    raise SystemExit("registry._DECLARED not found")


def changed_functions(rev: str, spans: dict[Path, list[tuple[int, int, str]]]) -> set[str]:
    """Package functions with a line touched by `git diff rev` (new side;
    a pure deletion marks the function it was cut from)."""
    diff = subprocess.run(
        ["git", "diff", "-U0", rev, "--", str(PKG)], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout
    touched, path = set(), None
    for line in diff.splitlines():
        if line.startswith("+++ "):
            path = None if line.endswith("/dev/null") else ROOT / line[6:]
        m = re.match(r"@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", line)
        if m and path is not None:
            lo = int(m.group(1))
            hi = lo + max(int(m.group(2) or 1), 1) - 1
            touched |= {name for a, b, name in spans.get(path, []) if a <= hi and lo <= b}
    return touched


def reaching(targets: set[str], graph: dict[str, set[str]], queries: dict[str, str]) -> list[str]:
    hits = []
    for qname, fname in queries.items():
        seen, stack = set(), [fname]
        while stack:
            f = stack.pop()
            if f in seen:
                continue
            seen.add(f)
            stack.extend(n for n in graph.get(f, ()) if n in graph)
        if seen & targets:
            hits.append(qname)
    return hits


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("functions", nargs="*", help="target function names")
    ap.add_argument("--diff", metavar="REV", help="also target every function `git diff REV` touches")
    args = ap.parse_args()
    graph, spans = call_graph()
    targets = set(args.functions)
    if args.diff:
        changed = changed_functions(args.diff, spans)
        print(f"# changed functions: {', '.join(sorted(changed))}")
        targets |= changed
    if not targets:
        raise SystemExit("give function names or --diff REV")
    for name in reaching(targets, graph, declared_queries()):
        print(f'    "{name}",')


if __name__ == "__main__":
    main()
