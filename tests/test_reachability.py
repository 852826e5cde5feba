"""Every module and every public top-level name under ``linkgraph/`` is
reached from a driver query, a job, the benchmarks or a tool. Code that
none of them reaches is deleted, not maintained, so a module that drops
out of the import graph, or a name nothing outside ``tests/`` uses,
fails here.

Both walks read the code with ``ast``; tests are not roots, and
docstrings and comments never count as a use.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ROOTS = ("__spark_entry__.py", "bench.py", "jobs/*.py", "perfbench/**/*.py", "tools/*.py")

# public names no root reaches that stay, each with the item it serves
KEPT = {
    "linkgraph.algos.triangles.triangle_count": "north rule: triangle count",
    "linkgraph.algos.triangles.per_vertex_triangles": "north rule: triangle count",
    "linkgraph.datagen.pages_spark": "FIXTURES.md §1 page generator behind tiny_pages",
    # per-row entries the tests use to check the WKT kernels SCALARS runs
    "linkgraph.geo.geo_distance": "checks the WKT kernel of SCALARS",
    "linkgraph.geo.geo_within": "checks the WKT kernel of SCALARS",
    "linkgraph.geo.geo_is_intersects": "checks the WKT kernel of SCALARS",
    "linkgraph.geo.geo_intersects_shape": "checks the WKT kernel of SCALARS",
    "linkgraph.geo.geo_intersects_area": "checks the WKT kernel of SCALARS",
    # inverses the tests use to check the S2 encoder
    "linkgraph.geo.token_to_cellid": "inverse that checks the S2 encoder",
    "linkgraph.geo.cellid_to_latlng": "inverse that checks the S2 encoder",
}


def _source(module: str) -> Path | None:
    base = REPO.joinpath(*module.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported(path: Path):
    """Every dotted name an import in ``path`` may load, with its parent
    packages (importing ``a.b.c`` runs ``a`` and ``a.b`` first)."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            yield from (".".join(parts[:i]) for i in range(1, len(parts) + 1))


def test_every_linkgraph_module_is_reached():
    todo = [p for pattern in ROOTS for p in REPO.glob(pattern)]
    seen = set(todo)
    while todo:
        for name in _imported(todo.pop()):
            path = _source(name)
            if path is not None and path not in seen:
                seen.add(path)
                todo.append(path)
    modules = set((REPO / "linkgraph").rglob("*.py"))
    unreached = sorted(str(p.relative_to(REPO)) for p in modules - seen)
    assert not unreached, f"no query, job, benchmark or tool imports {unreached}"


def _module(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _bound(node: ast.stmt) -> list[str]:
    """The names a top-level statement binds (defs, classes, assignments)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _public_names(trees: dict[str, ast.Module]) -> set[str]:
    """``module.name`` of every public top-level name of a ``linkgraph``
    module (package ``__init__`` files only re-export)."""
    return {
        f"{mod}.{name}"
        for mod, tree in trees.items()
        if _source(mod).name != "__init__.py"
        for node in tree.body
        for name in _bound(node)
        if not name.startswith("_")
    }


def _reexports(trees: dict[str, ast.Module]) -> dict[str, str]:
    """``package.name`` -> the ``module.name`` a package ``__init__``
    re-exports it from."""
    return {
        f"{mod}.{a.asname or a.name}": f"{node.module}.{a.name}"
        for mod, tree in trees.items()
        if _source(mod).name == "__init__.py"
        for node in tree.body
        if isinstance(node, ast.ImportFrom)
        for a in node.names
    }


def _uses(path: Path, here: str | None, reexports: dict[str, str]):
    """Every dotted ``module.name`` the code in ``path`` refers to: the
    targets of ``from M import N`` and ``alias_of_M.N``, re-exports
    followed to their defining module, plus, in a ``linkgraph`` module
    (``here``), its bare names outside their own definition's body."""

    def resolve(dotted: str) -> str:
        while dotted in reexports:
            dotted = reexports[dotted]
        return dotted

    tree = ast.parse(path.read_text(), str(path))
    modules = {}  # local name -> the module it is bound to
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                local = a.asname or a.name.split(".")[0]
                modules[local] = a.name if a.asname else local
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            for a in node.names:
                target = resolve(f"{node.module}.{a.name}")
                yield target
                if target == f"{node.module}.{a.name}" and _source(target):
                    modules[a.asname or a.name] = target

    def dotted(node: ast.expr) -> str | None:
        if isinstance(node, ast.Name):
            return modules.get(node.id)
        if isinstance(node, ast.Attribute):
            base = dotted(node.value)
            return None if base is None else resolve(f"{base}.{node.attr}")
        return None

    own_body = {}  # id(node) -> the top-level definition it sits in
    for top in tree.body:
        for name in _bound(top):
            for sub in ast.walk(top):
                own_body[id(sub)] = name
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            target = dotted(node)
            if target is not None:
                yield target
        elif here and isinstance(node, ast.Name) and own_body.get(id(node)) != node.id:
            yield f"{here}.{node.id}"


def test_every_public_linkgraph_name_is_reached():
    package = {_module(p): p for p in (REPO / "linkgraph").rglob("*.py")}
    trees = {mod: ast.parse(p.read_text(), str(p)) for mod, p in package.items()}
    names = _public_names(trees)
    reexports = _reexports(trees)
    sources = [(p, None) for pattern in ROOTS for p in REPO.glob(pattern)]
    # a package __init__ only re-exports, and a re-export is not a use
    sources += [(p, mod) for mod, p in package.items() if p.name != "__init__.py"]
    used = {name for path, here in sources for name in _uses(path, here, reexports)}
    unreached = sorted(names - used - set(KEPT))
    assert not unreached, f"only tests reach {unreached}"
    stale = sorted((set(KEPT) & used) | (set(KEPT) - names))
    assert not stale, f"KEPT names that a root reaches or that are gone: {stale}"
