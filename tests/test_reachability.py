"""Every top-level def of the package is reached from a run path, or is
named in KEPT with the reason it stays.

A pure-AST pass, no Spark. The roots are the module-level code of every
package module (imports, constants and the `@q` query registrations)
and every file a run starts from: bench.py, bench_extra.py,
__spark_entry__.py, scripts/*.py and perfbench/*.py. A top-level def or
class is live when a live unit names it through a Name, an Attribute,
an import alias or an identifier-shaped string, iterated to a fixpoint.
Matching is by bare name, so the pass can only over-approximate what is
live: it never reports a used def as unreached.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "kbase_cdm_ontologies_spark"
ENTRY_FILES = (
    [ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
    + sorted((ROOT / "scripts").glob("*.py"))
    + sorted((ROOT / "perfbench").glob("*.py"))
)
# decorators that register the function they wrap (queries.q)
REGISTRIES = {"q"}

# Defs no run path reaches that stay on purpose. The set of unreached
# defs must equal these keys exactly: a new unused def fails the test,
# and so does an entry here that a run path has started to use.
KEPT = {
    "brute_force_topk": "the tests' exact reference for similarity.lsh_topk",
    "tfidf_vectors": "north-rule TF-IDF primitive, no run path uses it yet",
    "cosine_join": "north-rule TF-IDF cosine primitive, no run path uses it yet",
    "fuzzy_candidates": "north-rule MinHash-LSH blocking primitive, no run path uses it yet",
    "fuzzy_link_best": "north-rule fuzzy-linking primitive, no run path uses it yet",
    "_char_ngrams": "shingles of fuzzy_candidates",
    "salted_join": "north-rule salted skew-join primitive, no run path uses it yet",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _names(nodes) -> set[str]:
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.update(n.name.split("."))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if _IDENT.match(n.value):
                    out.add(n.value)
    return out


def _registers(decorator: ast.expr) -> bool:
    f = decorator.func if isinstance(decorator, ast.Call) else decorator
    return isinstance(f, ast.Name) and f.id in REGISTRIES


def unreached_defs() -> dict[str, list[str]]:
    """name -> ["module.py:line", ...] of every top-level def of the
    package that no root reaches."""
    defs: list[tuple[str, str, set[str]]] = []  # (name, where, names it uses)
    live: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        where = path.relative_to(ROOT).as_posix()
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(stmt, _DEFS):
                live |= _names([stmt])
                continue
            live |= _names(stmt.decorator_list)
            if any(_registers(d) for d in stmt.decorator_list):
                live.add(stmt.name)
            body = [n for n in ast.iter_child_nodes(stmt) if n not in stmt.decorator_list]
            defs.append((stmt.name, f"{where}:{stmt.lineno}", _names(body)))
    for path in ENTRY_FILES:
        live |= _names([ast.parse(path.read_text(), str(path))])

    changed = True
    while changed:
        changed = False
        for name, _, uses in defs:
            if name in live and not uses <= live:
                live |= uses
                changed = True
    out: dict[str, list[str]] = {}
    for name, where, _ in defs:
        if name not in live:
            out.setdefault(name, []).append(where)
    return out


def test_every_package_def_is_reached_or_kept():
    assert all(p.is_file() for p in ENTRY_FILES)
    unreached = unreached_defs()
    new = {n: unreached[n] for n in sorted(set(unreached) - set(KEPT))}
    stale = sorted(set(KEPT) - set(unreached))
    assert not new, f"defs no run path reaches (delete them, or wire them in): {new}"
    assert not stale, f"KEPT entries that are now reached or gone (drop them from KEPT): {stale}"
