"""Every module of the package is reachable from a product entry point.

The product roots are the CLI (``runner.py``), the suite API
(``plans/suite.py``), the driver contract (``__spark_entry__.py``), the
benchmark (``perfbench/*.py``) and the parity gate
(``scripts/check_parity.py``). The walk follows ``import`` and
``from … import`` statements anywhere in a file, lazy imports inside
functions included, using ``ast`` only (nothing is imported). It does
not follow the imports of a package ``__init__.py``: a re-export does
not make a module part of a product path. A package counts as reached
when any of its submodules is. A module that only its own tests import
fails this test; delete it or wire it into a product path.

The same holds one level down: every top-level public function or
class of the package is used somewhere outside its own definition."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "data_check_spark"


def _product_roots():
    return [
        ROOT / PKG / "runner.py",
        ROOT / PKG / "plans" / "suite.py",
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
        ROOT / "scripts" / "check_parity.py",
    ]


def _dotted(path):
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_names(path):
    """Every dotted name an import in ``path`` may refer to: the module
    of each import, plus ``module.name`` for each ``from`` import (the
    name may be a submodule)."""
    name = _dotted(path)
    package = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)


def test_every_package_module_is_reached_from_a_product_root():
    modules = {_dotted(p): p for p in (ROOT / PKG).rglob("*.py")}
    roots = _product_roots()
    reached = {_dotted(p) for p in roots if _dotted(p) in modules}
    todo = list(roots)
    while todo:
        for name in _imported_names(todo.pop()):
            if name in modules and name not in reached:
                reached.add(name)
                if modules[name].name != "__init__.py":
                    todo.append(modules[name])
    # a package is reached through any of its submodules
    reached |= {
        ".".join(m.split(".")[:i]) for m in reached for i in range(1, m.count(".") + 1)
    }
    unreached = sorted(set(modules) - reached)
    assert not unreached, f"no product root imports: {unreached}"


def _used_names(tree):
    """(identifier, line) of every name a file reads, every attribute
    it accesses and every name it imports; f-string expressions
    included."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1], node.lineno


def test_every_public_definition_is_used():
    """A top-level public ``def``/``class`` of the package whose name
    no product root, benchmark, script, test or other package code
    uses is dead: delete it."""
    files = [
        *(ROOT / PKG).rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
        ROOT / "__spark_entry__.py",
    ]
    trees = {p: ast.parse(p.read_text(), str(p)) for p in files}
    uses: dict[str, list] = {}
    for path, tree in trees.items():
        for name, line in _used_names(tree):
            uses.setdefault(name, []).append((path, line))
    dead = []
    for path in sorted((ROOT / PKG).rglob("*.py")):
        for node in trees[path].body:
            kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            if not isinstance(node, kinds) or node.name.startswith("_"):
                continue
            # a recursive call or a class's reference to itself is
            # not a use
            outside = [
                (p, line) for p, line in uses.get(node.name, [])
                if not (p == path and node.lineno <= line <= node.end_lineno)
            ]
            if not outside:
                dead.append(f"{_dotted(path)}.{node.name}")
    assert not dead, f"public definitions nothing uses: {dead}"


def test_driver_rows_become_local_relations():
    """Rows the driver holds become a frame through
    ``session.local_frame`` only: an Arrow ``LocalRelation`` that
    Catalyst can size and that collects and joins without a Spark job.
    A ``createDataFrame`` over a Python list or a pandas frame plans a
    ``LogicalRDD`` instead, whose first action runs a job and forks
    Python workers. A site whose schema Arrow cannot carry would be
    named here with its reason; there is none."""
    sites = []
    for path in sorted((ROOT / PKG).rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        if path == ROOT / PKG / "session.py":
            # the one sanctioned call, on the pyarrow.Table it builds
            tree.body = [n for n in tree.body if getattr(n, "name", None) != "local_frame"]
        sites += [
            f"{path.relative_to(ROOT)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ]
    assert not sites, f"createDataFrame outside session.local_frame: {sites}"
