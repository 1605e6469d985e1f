"""Every public operator is reached, or it is on a written keep list.

A static, Spark-free parse of the repository with ``ast``. The roots are
all code outside ``tests/``, ``phoebe_spark/operators/`` and
``phoebe_spark/streaming/``: the queries, models, API, plans, sources,
``bench.py``, ``perfbench/``, ``scripts/`` and ``__spark_entry__.py``.
From there the parse follows ``Name``, ``Attribute`` and import
references transitively through the definitions of every module. A
package ``__init__`` that re-exports a name only forwards references to
it; the re-export alone is no use. Docstring mentions are strings, so
they reach nothing.

A public top-level definition in the two operator packages that no root
reaches fails the test unless :data:`KEPT` names it with a reason, and a
:data:`KEPT` name that something does reach fails it too, so the list
cannot go stale.
"""

from __future__ import annotations

import ast
import functools
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKED = ("phoebe_spark/operators/", "phoebe_spark/streaming/")
SKIP_DIRS = {"tests", "spark-warehouse", "__pycache__"}

# public definitions that stay although only tests reach them
_SHAPES = "the reference's workload generator and job shapes (SURVEY §2.10)"
_METRICS = "the streaming metrics contract the QoS loop is to read (ROADMAP item 9)"
KEPT = {
    "phoebe_spark.streaming.jobs.sine_rate_source": _SHAPES,
    "phoebe_spark.streaming.jobs.dataset_replay_source": _SHAPES,
    "phoebe_spark.streaming.jobs.windowed_keyed_agg": _SHAPES,
    "phoebe_spark.streaming.jobs.stream_static_join": _SHAPES,
    "phoebe_spark.streaming.metrics.ProgressMetricsListener": _METRICS,
    "phoebe_spark.streaming.metrics.detect_backpressure": _METRICS,
}


def _modules() -> dict[str, tuple[str, ast.Module]]:
    """Dotted module name -> (repo-relative path, parsed tree)."""
    mods = {}
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = sorted(d for d in dirnames if d not in SKIP_DIRS and not d.startswith("."))
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, fn), ROOT)
            parts = rel[:-3].split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
                mods[".".join(parts)] = (rel.replace(os.sep, "/"), ast.parse(f.read(), rel))
    return mods


def _bound_names(stmt: ast.stmt) -> list[str]:
    """The module-level names a def, class or assignment statement binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


class _Graph:
    """Nodes are ``(module, name)``; a node whose name is ``None`` is a
    module object, reached only through attribute access."""

    def __init__(self, mods: dict[str, tuple[str, ast.Module]]):
        self.mods = mods
        self.edges: dict[tuple[str, str], set] = {}
        self.roots: set = set()
        self.public: list[tuple[str, str]] = []
        for mod, (path, tree) in mods.items():
            self._add_module(mod, path, tree)

    def _target(self, mod: str, name: str | None):
        """A reference to ``name`` in module ``mod``: a submodule if one of
        that name exists, else the name itself."""
        sub = f"{mod}.{name}" if name else mod
        if name is None or sub in self.mods:
            return (sub, None)
        return (mod, name)

    def _imports(self, mod: str, path: str, stmt) -> dict[str, tuple]:
        """Local name -> node for one import statement."""
        out = {}
        if isinstance(stmt, ast.Import):
            for a in stmt.names:
                if a.asname:
                    out[a.asname] = self._target(a.name, None)
                else:  # ``import a.b`` binds ``a``
                    out[a.name.split(".")[0]] = self._target(a.name.split(".")[0], None)
            return out
        base = stmt.module or ""
        if stmt.level:
            pkg = mod.split(".") if path.endswith("__init__.py") else mod.split(".")[:-1]
            pkg = pkg[: len(pkg) - (stmt.level - 1)]
            base = ".".join(pkg + ([stmt.module] if stmt.module else []))
        for a in stmt.names:
            out[a.asname or a.name] = self._target(base, a.name)
        return out

    def _add_module(self, mod: str, path: str, tree: ast.Module) -> None:
        scope: dict[str, tuple] = {}
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                scope.update(self._imports(mod, path, node))
        for stmt in tree.body:
            for name in _bound_names(stmt):
                scope[name] = (mod, name)
        checked = path.startswith(CHECKED)
        for local, tgt in scope.items():
            if tgt != (mod, local):  # imported: the local alias forwards
                self.edges.setdefault((mod, local), set()).add(tgt)
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            refs = self._refs(stmt, scope)
            names = _bound_names(stmt)
            if not checked or not names:
                # code outside the two packages is a root; so is any
                # statement that binds nothing (a guard, a registration)
                self.roots |= refs
                continue
            for name in names:
                self.edges.setdefault((mod, name), set()).update(refs)
                if not name.startswith("_") and not path.endswith("__init__.py"):
                    self.public.append((mod, name))

    def _refs(self, stmt: ast.stmt, scope: dict[str, tuple]) -> set:
        """Every node the statement names: bare names through the module
        scope, and ``a.b.c`` chains through module objects."""
        refs = set()
        for node in ast.walk(stmt):
            if isinstance(node, ast.Attribute):
                chain, base = [], node
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if isinstance(base, ast.Name) and base.id in scope:
                    tgt = scope[base.id]
                    for attr in reversed(chain):
                        if tgt[1] is not None:  # not a module: stop
                            break
                        tgt = self._target(tgt[0], attr)
                        refs.add(tgt)
            elif isinstance(node, ast.Name) and node.id in scope:
                refs.add(scope[node.id])
        return refs

    def reached(self) -> set:
        seen, todo = set(), list(self.roots)
        while todo:
            node = todo.pop()
            if node in seen:
                continue
            seen.add(node)
            todo.extend(self.edges.get(node, ()))
        return seen


@functools.cache
def _parse() -> tuple[_Graph, set]:
    g = _Graph(_modules())
    return g, g.reached()


def test_every_public_operator_is_reached_or_kept():
    g, reached = _parse()
    unreached = sorted(f"{m}.{n}" for m, n in g.public if (m, n) not in reached)
    missing = [q for q in unreached if q not in KEPT]
    assert not missing, f"reached by no query, model, route, script or benchmark: {missing}"
    stale = sorted(set(KEPT) - set(unreached))
    assert not stale, f"KEPT names something that is reached or gone: {stale}"


def test_parse_sees_a_known_chain():
    """The parse follows a query -> operator -> helper chain: q210 calls
    ``keyed_heavy_hitters``, which folds with ``mg_update``; ``lsh_bucketed_pairs``
    buckets through ``random_hyperplane_buckets``."""
    _, reached = _parse()
    for q in (
        ("phoebe_spark.streaming.stateful", "keyed_heavy_hitters"),
        ("phoebe_spark.streaming.stateful", "mg_update"),
        ("phoebe_spark.operators.similarity", "random_hyperplane_buckets"),
    ):
        assert q in reached, q
