"""Every top-level def of the package is reached from a run path, or is
named in KEPT with the reason it stays; every defaulted parameter of
the graph layer is set by some run-path call, or is named in
KEPT_PARAMS; and the package reads exactly the Spark-conf keys
plans/route.py documents.

A pure-AST pass, no Spark. The roots are the module-level code of every
package module (imports, constants and the `@q` query registrations)
and every file a run starts from: bench.py, bench_extra.py,
__spark_entry__.py, scripts/*.py and perfbench/*.py. A top-level def or
class is live when a live unit references it, iterated to a fixpoint.

A reference resolves to one (module, name) where the import graph says
which def it is: a `from .x import y` (absolute or relative, following
re-exports), a `module.attr` whose base is an imported package module,
and a bare Name that the unit's own module defines. Everything else is
matched by bare name against every def of the package: a Name that no
import or own def binds, any other attribute, and an identifier-shaped
string. So the pass can only over-approximate what is live: it never
reports a used def as unreached.
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
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


MODULES = {_module_name(p): p for p in PACKAGE.rglob("*.py")}

# a binding: local name -> (module, def name), or (module, None) for a
# name bound to a package module
Binding = tuple[str, "str | None"]


def _from_target(node: ast.ImportFrom, module: str | None, is_pkg: bool) -> str | None:
    """Absolute package module a from-import names; None outside it."""
    if not node.level:
        target = node.module
    elif module is None:
        return None
    else:
        base = module.split(".")
        if not is_pkg:
            base = base[:-1]
        base = base[: len(base) - (node.level - 1)]
        target = ".".join(base + ([node.module] if node.module else []))
    return target if target in MODULES else None


def _bindings(nodes, module: str | None, is_pkg: bool) -> dict[str, Binding]:
    """Names the import statements among nodes bind to package code."""
    out: dict[str, Binding] = {}
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname and a.name in MODULES:
                        out[a.asname] = (a.name, None)
                    elif not a.asname and a.name.split(".")[0] in MODULES:
                        out[a.name.split(".")[0]] = (a.name.split(".")[0], None)
            elif isinstance(n, ast.ImportFrom):
                target = _from_target(n, module, is_pkg)
                if target is None:
                    continue
                for a in n.names:
                    sub = f"{target}.{a.name}"
                    out[a.asname or a.name] = (
                        (sub, None) if sub in MODULES else (target, a.name)
                    )
    return out


class _Unit:
    """The references of one unit of code: qualified (module, name)
    pairs and bare names."""

    def __init__(self, nodes, module, is_pkg, file_bindings, own_defs):
        self.qualified: set[tuple[str, str]] = set()
        self.bare: set[str] = set()
        local = _bindings(nodes, module, is_pkg)
        bound = {**file_bindings, **local}
        self.qualified |= {b for b in local.values() if b[1] is not None}

        def module_of(expr) -> str | None:
            if isinstance(expr, ast.Name):
                b = bound.get(expr.id)
                return b[0] if b and b[1] is None else None
            if isinstance(expr, ast.Attribute):
                base = module_of(expr.value)
                sub = f"{base}.{expr.attr}" if base else None
                return sub if sub in MODULES else None
            return None

        for node in nodes:
            for n in ast.walk(node):
                if isinstance(n, ast.Name):
                    b = bound.get(n.id)
                    if b is not None:
                        if b[1] is not None:
                            self.qualified.add(b)
                    elif n.id in own_defs:
                        self.qualified.add((module, n.id))
                    else:
                        self.bare.add(n.id)
                elif isinstance(n, ast.Attribute):
                    base = module_of(n.value)
                    if base is None:
                        self.bare.add(n.attr)
                    elif f"{base}.{n.attr}" not in MODULES:
                        self.qualified.add((base, n.attr))
                elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                    if _IDENT.match(n.value):
                        self.bare.add(n.value)


def _registers(decorator: ast.expr) -> bool:
    f = decorator.func if isinstance(decorator, ast.Call) else decorator
    return isinstance(f, ast.Name) and f.id in REGISTRIES


def unreached_defs() -> dict[str, list[str]]:
    """name -> ["module.py:line", ...] of every top-level def of the
    package that no root reaches."""
    units: dict[tuple[str, str], _Unit] = {}  # def -> what its body uses
    where: dict[tuple[str, str], str] = {}
    module_bindings: dict[str, dict[str, Binding]] = {}
    roots: list[_Unit] = []
    live: set[tuple[str, str]] = set()

    files = sorted(MODULES.items()) + [(None, p) for p in ENTRY_FILES]
    for module, path in files:
        tree = ast.parse(path.read_text(), str(path))
        is_pkg = path.name == "__init__.py"
        top = [s for s in tree.body if not isinstance(s, _DEFS)]
        file_bindings = _bindings(top, module, is_pkg)
        own = {s.name for s in tree.body if isinstance(s, _DEFS)}
        if module is None:  # an entry file runs whole
            roots.append(_Unit(tree.body, module, is_pkg, file_bindings, own))
            continue
        module_bindings[module] = file_bindings
        roots.append(_Unit(top, module, is_pkg, file_bindings, own))
        for stmt in tree.body:
            if not isinstance(stmt, _DEFS):
                continue
            key = (module, stmt.name)
            decorators = []
            for d in stmt.decorator_list:
                if not _registers(d):
                    decorators.append(d)
                    continue
                # a registered def is live; the name it is registered
                # under is a label, not a reference
                live.add(key)
                if isinstance(d, ast.Call):
                    decorators += [d.func, *d.args[1:], *d.keywords]
                else:
                    decorators.append(d)
            roots.append(_Unit(decorators, module, is_pkg, file_bindings, own))
            body = [n for n in ast.iter_child_nodes(stmt) if n not in stmt.decorator_list]
            units[key] = _Unit(body, module, is_pkg, file_bindings, own)
            where[key] = f"{path.relative_to(ROOT).as_posix()}:{stmt.lineno}"

    def resolve(ref: tuple[str, str]) -> tuple[str, str] | None:
        """The def a qualified reference names, through re-exports."""
        seen = set()
        while ref not in units and ref not in seen:
            seen.add(ref)
            b = module_bindings.get(ref[0], {}).get(ref[1])
            if b is None or b[1] is None:
                return None
            ref = b
        return ref if ref in units else None

    by_name: dict[str, set[tuple[str, str]]] = {}
    for key in units:
        by_name.setdefault(key[1], set()).add(key)

    def reached(unit: _Unit) -> set[tuple[str, str]]:
        out = {d for d in map(resolve, unit.qualified) if d is not None}
        for name in unit.bare:
            out |= by_name.get(name, set())
        return out

    for unit in roots:
        live |= reached(unit)
    frontier = list(live)
    while frontier:
        for d in reached(units[frontier.pop()]) - live:
            live.add(d)
            frontier.append(d)

    out: dict[str, list[str]] = {}
    for key in sorted(set(units) - live):
        out.setdefault(key[1], []).append(where[key])
    return out


def test_every_package_def_is_reached_or_kept():
    assert all(p.is_file() for p in ENTRY_FILES)
    unreached = unreached_defs()
    new = {n: unreached[n] for n in sorted(set(unreached) - set(KEPT))}
    stale = sorted(set(KEPT) - set(unreached))
    assert not new, f"defs no run path reaches (delete them, or wire them in): {new}"
    assert not stale, f"KEPT entries that are now reached or gone (drop them from KEPT): {stale}"


# Modules whose every defaulted parameter (nested defs included) some
# run-path call must set: a default no run path overrides is a knob
# nobody turns, and belongs in the body as a constant.
PARAM_MODULES = (
    "kbase_cdm_ontologies_spark/operators/closure.py",
    "kbase_cdm_ontologies_spark/operators/delta_entail.py",
    "kbase_cdm_ontologies_spark/operators/canonicalize.py",
    "kbase_cdm_ontologies_spark/plans/stratify.py",
    "kbase_cdm_ontologies_spark/plans/route.py",
)
# (def, parameter) -> why a default that only tests override stays.
# The set of unset parameters must equal these keys exactly.
KEPT_PARAMS = {
    ("union_eliminated_subclass", "local_threshold"):
        "tests force the distributed loop to check it against the driver fixpoint",
    ("apply_canonical", "broadcast_max_rows"):
        "tests force the shuffled join a canonical map over the cap takes",
    ("_linear_fixpoint", "cap"):
        "tests force the doubling fallback a diameter over the cap takes",
}


def _is_default(expr: ast.expr, default: ast.expr) -> bool:
    """expr is the default itself: the same expression, or a literal of
    the same type and value."""
    if ast.dump(expr) == ast.dump(default):
        return True
    try:
        a, b = ast.literal_eval(expr), ast.literal_eval(default)
    except (ValueError, TypeError):
        return False
    return type(a) is type(b) and a == b


def unset_params(modules=PARAM_MODULES) -> dict[tuple[str, str], str]:
    """(def name, parameter) -> "file:line" for every defaulted
    parameter of every def in `modules` that no call in run code sets.
    Run code is every package module and entry file, minus the bodies
    of the top-level defs no run path reaches. A call sets a parameter
    by keyword or by position with an expression that is not its
    default; a **kwargs call sets them all. Calls resolve by bare name
    (through a from-import's alias), so a call to a same-named def
    elsewhere counts too: the pass can miss an unset parameter, never
    report a set one."""
    # def name -> [(positional parameter names, {name: default}, where)]
    defs: dict[str, list] = {}
    for rel in modules:
        tree = ast.parse((ROOT / rel).read_text(), rel)
        methods = {
            id(f)
            for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
            for f in c.body
        }
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            pos = [x.arg for x in a.posonlyargs + a.args]
            defaults = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            defaults |= {
                x.arg: d for x, d in zip(a.kwonlyargs, a.kw_defaults) if d
            }
            if id(node) in methods:
                pos = pos[1:]  # self / cls: a call binds it by attribute
            if defaults:
                defs.setdefault(node.name, []).append(
                    (pos, defaults, f"{rel}:{node.lineno}")
                )
    unset = {
        (name, p): where
        for name, sigs in defs.items()
        for _pos, defaults, where in sigs
        for p in defaults
    }
    unreached = {
        loc for locs in unreached_defs().values() for loc in locs
    }
    for path in list(MODULES.values()) + ENTRY_FILES:
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text(), rel)
        skip = {
            id(s) for s in tree.body
            if isinstance(s, _DEFS) and f"{rel}:{s.lineno}" in unreached
        }
        alias = {
            a.asname: a.name
            for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
            for a in n.names if a.asname
        }
        stack = [n for n in tree.body if id(n) not in skip]
        while stack:
            node = stack.pop()
            stack.extend(ast.iter_child_nodes(node))
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            name = alias.get(name, name)
            for pos, defaults, _where in defs.get(name, ()):
                given: list[tuple[str, ast.expr | None]] = []
                for i, arg in enumerate(node.args):
                    if isinstance(arg, ast.Starred):
                        given += [(p, None) for p in pos[i:]]
                        break
                    if i < len(pos):
                        given.append((pos[i], arg))
                for kw in node.keywords:
                    if kw.arg is None:  # **kwargs
                        given += [(p, None) for p in defaults]
                    else:
                        given.append((kw.arg, kw.value))
                for p, expr in given:
                    if p in defaults and (
                        expr is None or not _is_default(expr, defaults[p])
                    ):
                        unset.pop((name, p), None)
    return unset


def test_every_defaulted_parameter_is_set_or_kept():
    unset = unset_params()
    new = {k: unset[k] for k in sorted(set(unset) - set(KEPT_PARAMS))}
    stale = sorted(set(KEPT_PARAMS) - set(unset))
    assert not new, (
        f"defaulted parameters no run path sets (make them constants): {new}"
    )
    assert not stale, f"KEPT_PARAMS entries that are now set or gone: {stale}"


_CONF_KEY = re.compile(r"spark\.graft\.[A-Za-z]+\.[A-Za-z]+")


def test_conf_keys_read_equal_config_docstring():
    """The spark.graft.* keys the package reads, each spelled as one
    whole string literal, are exactly the keys plans/route.py's docstring
    lists; no key is built by an f-string the scan could not see."""
    read: set[str] = set()
    for path in MODULES.values():
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(n, ast.JoinedStr):
                parts = [v.value for v in n.values if isinstance(v, ast.Constant)]
                assert not any("spark.graft." in str(p) for p in parts), (
                    f"{path.name}:{n.lineno} builds a spark.graft key at run time"
                )
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if _CONF_KEY.fullmatch(n.value):
                    read.add(n.value)
    doc = ast.get_docstring(ast.parse((PACKAGE / "plans" / "route.py").read_text()))
    documented = set(_CONF_KEY.findall(doc))
    assert read == documented
    assert len(read) == 6
