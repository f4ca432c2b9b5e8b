"""Code census: every top-level function and class in `reader_spark/`
must be reached from the program's own entry points or from the
reference surface that COVERAGE.md §2.1–§2.7 maps.

Pure `ast`, no Spark session. The graph's nodes are the top-level
definitions of `reader_spark/` (functions, classes and assigned module
constants); a node's edges are the Name, Attribute and import names
in its body, matched by name (so a collision keeps code, never drops
it). Docstrings and comments are not code and name nothing.

Roots are:
  * the entry points: `__spark_entry__.py`, `bench.py`,
    `reader_spark/__main__.py`, `scripts/` and `perfbench/` (whose
    tracer names the functions it wraps as strings, so identifier
    strings there count as names);
  * every identifier in a backticked span of COVERAGE.md §2.1–§2.7,
    the reference's surface.

A definition that no root reaches is only reachable from tests, or
from nothing at all; it is deleted with the tests that exercise only
it, or the COVERAGE row that needs it names it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "reader_spark"
ENTRY_FILES = ["__spark_entry__.py", "bench.py", "reader_spark/__main__.py"]
ENTRY_DIRS = ["scripts", "perfbench"]
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _strip_docstrings(tree: ast.AST) -> None:
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (isinstance(body, list) and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            body[0] = ast.Pass()


def _names(node: ast.AST, strings: bool = False) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.split(".")[-1] for a in n.names)
        elif (strings and isinstance(n, ast.Constant)
              and isinstance(n.value, str) and _IDENT.fullmatch(n.value)):
            out.add(n.value)
    return out


def _parse(path: Path) -> ast.Module:
    tree = ast.parse(path.read_text(), str(path))
    _strip_docstrings(tree)
    return tree


def definitions() -> dict[tuple[str, str], tuple[str, set[str]]]:
    """(module, name) -> (kind, names its body references) for every
    top-level function, class and assigned constant of the package.
    Module-level imports are bindings, not uses, and are skipped."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(ROOT).with_suffix("").as_posix()
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                kind = "class" if isinstance(stmt, ast.ClassDef) else "def"
                out[(mod, stmt.name)] = (kind, _names(stmt))
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = (stmt.targets if isinstance(stmt, ast.Assign)
                           else [stmt.target])
                refs = _names(stmt.value) if stmt.value is not None else set()
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            out.setdefault((mod, n.id), ("const", set()))
                            out[(mod, n.id)][1].update(refs)
    return out


def entry_names() -> set[str]:
    """Names used by the entry points, plus module-level statements of
    the package that run on import (neither a definition nor an
    import)."""
    files = [ROOT / f for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        files += sorted((ROOT / d).rglob("*.py"))
    out: set[str] = set()
    for f in files:
        if "tests" not in f.relative_to(ROOT).parts:
            out |= _names(_parse(f), strings=True)
    for path in sorted(PKG.rglob("*.py")):
        for stmt in _parse(path).body:
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef, ast.Assign, ast.AnnAssign,
                                     ast.Import, ast.ImportFrom, ast.Pass)):
                out |= _names(stmt)
    return out


def coverage_names() -> set[str]:
    """Identifiers in backticked spans of COVERAGE.md §2.1–§2.7."""
    text = (ROOT / "COVERAGE.md").read_text()
    start = text.index("## §2.1")
    end = text.index("\n## ", text.index("## §2.7"))
    out: set[str] = set()
    for span in re.findall(r"`([^`]+)`", text[start:end]):
        out.update(_IDENT.findall(span))
    return out


def unreached(roots: set[str]) -> list[str]:
    defs = definitions()
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    seen: set[tuple[str, str]] = set()
    frontier = [k for n in roots for k in by_name.get(n, [])]
    while frontier:
        key = frontier.pop()
        if key in seen:
            continue
        seen.add(key)
        frontier += [k for n in defs[key][1] for k in by_name.get(n, [])]
    return sorted(f"{mod}.{name}" for (mod, name), (kind, _) in defs.items()
                  if kind != "const" and (mod, name) not in seen)


def test_every_definition_is_reached_or_on_the_reference_surface():
    left = unreached(entry_names() | coverage_names())
    assert not left, (
        f"{len(left)} top-level definitions in reader_spark/ are reached "
        "only from tests (or from nothing) and no COVERAGE §2.1-§2.7 row "
        "names them or a definition that reaches them:\n  "
        + "\n  ".join(left))
