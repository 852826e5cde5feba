"""Every module under ``linkgraph/`` is reached from a driver query, a
job, the benchmarks or a tool. Code that none of them reaches is deleted,
not maintained, so a module that drops out of the import graph fails here.

The walk reads imports with ``ast`` (module-level and inside functions)
from the roots below; tests are not roots.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ROOTS = ("__spark_entry__.py", "bench.py", "jobs/*.py", "perfbench/**/*.py", "tools/*.py")


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
