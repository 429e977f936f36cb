"""Guard, no Spark: every top-level def in the package is reached from
an entry point, or is listed with its reason in
``tests/reachability_allow.txt``.

Roots:
  * ``@query``-decorated defs (the registry the correctness driver reads);
  * ``bench.py`` heads: ``HEADLINE`` names and every ``EXTRA_HEADS``
    ``(module, attr)`` pair, which reaches ``attr`` and ``attr + "_setup"``;
  * the whole of ``__spark_entry__.py``, ``bench.py``, ``perfbench/*.py``
    (not its tests) and ``scripts/*.py``;
  * ``cli.main``;
  * the module-level code of every module those reach.

Names resolve by module, through each module's imports (module level
and inside functions, with aliases), never by bare name. A reached
class reaches its methods. A dotted package-module string in reached
code reaches that module's top level (``session.py`` hands the preload
daemon's module name to Spark). A call that passes a module and a
string literal (``getattr(mod, "f")``, ``tracer.wrap(mod, "f", ...)``)
reaches ``mod.f``. Local variables that shadow a global are not
tracked, so the pass can only over-reach, never under-reach.

The guard fails on an unreached def that is not listed, and on a listed
def that is now reached or gone, so the list can only shrink. Run this
file as a script to print the unreached set.
"""

from __future__ import annotations

import ast
import pathlib
import sys
import time
from collections.abc import Iterator

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = "sensorstream_scalable_sensor_data_pipeline_spark"
ALLOW = pathlib.Path(__file__).with_name("reachability_allow.txt")

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class Module:
    def __init__(self, name: str, path: pathlib.Path, is_pkg: bool):
        self.name, self.path, self.is_pkg = name, path, is_pkg
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {n.name: n for n in self.tree.body if isinstance(n, _DEFS)}
        self.imports = _import_bindings(self, _top_level_nodes(self.tree))

    @property
    def package(self) -> str:
        return self.name if self.is_pkg else self.name.rpartition(".")[0]


def _top_level_nodes(tree: ast.Module) -> Iterator[ast.AST]:
    """Nodes that run on import: everything but def and class bodies
    (their decorators, defaults and class bases do run)."""
    stack: list[ast.AST] = list(tree.body)
    while stack:
        node = stack.pop()
        yield node
        if isinstance(node, _DEFS):
            stack.extend(node.decorator_list)
            if isinstance(node, ast.ClassDef):
                stack.extend(node.bases + [k.value for k in node.keywords])
            else:
                stack.extend(d for d in node.args.defaults + node.args.kw_defaults if d)
        elif not isinstance(node, ast.Lambda):
            stack.extend(ast.iter_child_nodes(node))


def _import_bindings(mod: Module, nodes) -> dict[str, tuple[str, str | None]]:
    """``local name -> (module, attr)``; ``attr`` None binds a module."""
    out: dict[str, tuple[str, str | None]] = {}
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
                else:
                    head = a.name.split(".")[0]
                    out[head] = (head, None)
        elif isinstance(node, ast.ImportFrom):
            src = node.module or ""
            if node.level:
                base = mod.package.split(".")
                base = base[: len(base) - node.level + 1]
                src = ".".join(base + ([src] if src else []))
            for a in node.names:
                out[a.asname or a.name] = (src, a.name)
    return out


def _imported_modules(nodes) -> Iterator[str]:
    """Module names whose import statements appear in ``nodes``."""
    for node in nodes:
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            yield node.module
            yield from (f"{node.module}.{a.name}" for a in node.names)


def load_modules() -> dict[str, Module]:
    mods: dict[str, Module] = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        is_pkg = parts[-1] == "__init__"
        if is_pkg:
            parts.pop()
        mods[".".join(parts)] = Module(".".join(parts), path, is_pkg)
    return mods


def root_files() -> list[pathlib.Path]:
    return [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *sorted((REPO / "perfbench").glob("*.py")),
        *sorted((REPO / "scripts").glob("*.py")),
    ]


class Reach:
    """Worklist over units: ``(module, None)`` is a module's top level,
    ``(module, name)`` one of its top-level defs."""

    def __init__(self, mods: dict[str, Module]):
        self.mods = mods
        self.done: set[tuple[str, str | None]] = set()
        self.todo: list[tuple[str, str | None]] = []

    # -- resolution ------------------------------------------------------
    def _target(self, modname: str, attr: str | None, seen=()):
        """What ``modname.attr`` names: ``(module, def)``, ``(module,
        None)`` for a module or a module-level value, or None when
        outside the package."""
        if modname not in self.mods:
            return None
        if attr is None:
            return (modname, None)
        mod = self.mods[modname]
        if attr in mod.defs:
            return (modname, attr)
        if f"{modname}.{attr}" in self.mods:
            return (f"{modname}.{attr}", None)
        if attr in mod.imports and (modname, attr) not in seen:
            return self._target(*mod.imports[attr], seen=(*seen, (modname, attr)))
        return (modname, None)

    def reach(self, unit) -> None:
        if unit is not None and unit[0] in self.mods and unit not in self.done:
            self.done.add(unit)
            self.todo.append(unit)

    def reach_module(self, name: str) -> None:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            if ".".join(parts[:i]) in self.mods:
                self.reach((".".join(parts[:i]), None))

    # -- scanning --------------------------------------------------------
    def scan(self, mod: Module, nodes, scopes) -> None:
        """Reach what ``nodes`` name; ``scopes`` are import bindings,
        innermost first."""
        nodes = list(nodes)
        for name in _imported_modules(nodes):
            self.reach_module(name)
        for node in nodes:
            self._ref(mod, node, scopes)

    def _lookup(self, mod: Module, name: str, scopes):
        for binding in scopes:
            if name in binding:
                return self._target(*binding[name])
        return (mod.name, name) if name in mod.defs else None

    def _ref(self, mod: Module, node: ast.AST, scopes) -> None:
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            self.reach(self._lookup(mod, node.id, scopes))
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            chain = []
            base = node
            while isinstance(base, ast.Attribute):
                chain.append(base.attr)
                base = base.value
            if not isinstance(base, ast.Name):
                return
            target = self._lookup(mod, base.id, scopes)
            for attr in reversed(chain):
                if target is None or target[1] is not None:
                    break
                self.reach(target)
                target = self._target(target[0], attr)
            self.reach(target)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value in self.mods and node.value.startswith(PKG):
                self.reach_module(node.value)
        elif isinstance(node, ast.Call):
            names = [a.value for a in node.args if isinstance(a, ast.Constant)]
            for a in node.args:
                owner = self._lookup(mod, a.id, scopes) if isinstance(a, ast.Name) else None
                if owner is not None and owner[1] is None:
                    for name in names:
                        if isinstance(name, str) and name in self.mods[owner[0]].defs:
                            self.reach((owner[0], name))

    def scan_def(self, mod: Module, node: ast.AST) -> None:
        """A def with everything nested in it; imports anywhere inside
        bind for the whole def."""
        nodes = list(ast.walk(node))
        self.scan(mod, nodes, (_import_bindings(mod, nodes), mod.imports))

    # -- driving ---------------------------------------------------------
    def run(self) -> set[tuple[str, str | None]]:
        while self.todo:
            modname, name = self.todo.pop()
            mod = self.mods[modname]
            self.reach_module(modname)
            if name is not None:
                self.scan_def(mod, mod.defs[name])
                continue
            self.scan(mod, _top_level_nodes(mod.tree), (mod.imports,))
        return self.done


def _bench_heads(bench: ast.Module) -> tuple[list[str], dict[str, tuple[str, str]]]:
    values = {
        t.id: node.value
        for node in bench.body
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    return ast.literal_eval(values["HEADLINE"]), ast.literal_eval(values["EXTRA_HEADS"])


def unreached() -> set[str]:
    """``path::def`` (path relative to the package) of every top-level
    def no root reaches."""
    mods = load_modules()
    reach = Reach(mods)
    queries = set()
    for mod in mods.values():
        for name, fn in _registrations(reach, mod):
            queries.add(name)
            reach.reach((mod.name, fn))
    reach.reach((f"{PKG}.cli", "main"))
    for path in root_files():
        root = Module(path.stem, path, is_pkg=False)
        nodes = list(ast.walk(root.tree))
        reach.scan(root, nodes, (_import_bindings(root, nodes),))
    headline, extra = _bench_heads(ast.parse((REPO / "bench.py").read_text()))
    missing = [h for h in headline if h not in extra and h not in queries]
    assert not missing, f"bench heads that resolve to nothing: {missing}"
    for modname, attr in extra.values():
        assert attr in mods[modname].defs, (modname, attr)
        reach.reach((modname, attr))
        if f"{attr}_setup" in mods[modname].defs:
            reach.reach((modname, f"{attr}_setup"))
    done = reach.run()
    return {
        f"{mod.path.relative_to(REPO / PKG)}::{name}"
        for mod in mods.values()
        for name in mod.defs
        if (mod.name, name) not in done
    }


def _registrations(reach: Reach, mod: Module) -> Iterator[tuple[str, str]]:
    """``(query name, def name)`` for each ``@query("name", ...)`` def
    and each module-level ``query("name", ...)(fn)``."""
    def is_query(call: ast.AST) -> bool:
        return (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Name)
            and reach._lookup(mod, call.func.id, (mod.imports,))
            == (f"{PKG}.plans.registry", "query")
        )

    for node in mod.tree.body:
        for dec in getattr(node, "decorator_list", []):
            if is_query(dec):
                yield ast.literal_eval(dec.args[0]), node.name
        call = node.value if isinstance(node, ast.Expr) else None
        if isinstance(call, ast.Call) and is_query(call.func):
            yield ast.literal_eval(call.func.args[0]), call.args[0].id


def load_allow_list() -> dict[str, str]:
    """``path::def -> reason``; every entry must carry a reason."""
    out = {}
    for line in ALLOW.read_text().splitlines():
        entry, _, reason = line.partition("#")
        if entry.strip():
            assert reason.strip(), f"allow-list entry without a reason: {line!r}"
            out[entry.strip()] = reason.strip()
    return out


def test_every_unreached_def_is_allow_listed():
    t0 = time.monotonic()
    dead = unreached()
    allowed = load_allow_list()
    missing, stale = sorted(dead - allowed.keys()), sorted(allowed.keys() - dead)
    assert missing == [], f"unreached defs not in the allow-list: {missing}"
    assert stale == [], f"allow-list entries now reached or gone: {stale}"
    assert time.monotonic() - t0 < 10


if __name__ == "__main__":
    sys.exit(print("\n".join(sorted(unreached()))))
