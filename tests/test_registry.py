"""Driver-registry hygiene (no Spark session): every DuckDB oracle belongs
to a registered query, the registry fits its recorded slots, and
every package module is imported from some user surface."""

from __future__ import annotations

import ast
import pathlib

import __spark_entry__ as entrymod

# the driver records only the first 50 queries() entries
DRIVER_SLOTS = 50


def test_every_oracle_has_a_registered_query():
    orphans = set(entrymod.oracle_sql()) - set(entrymod.queries())
    assert not orphans, sorted(orphans)


def test_registry_fits_driver_slots():
    assert len(entrymod.queries()) <= DRIVER_SLOTS


# Every user-facing entry point: the CLI, the `__spark_entry__` registry,
# the bench harnesses and the maintenance scripts.
REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "docling_api_spark"
SURFACE_ROOTS = (
    [REPO / PKG / "cli.py", REPO / "__spark_entry__.py", REPO / "bench.py"]
    + sorted((REPO / "scripts").glob("*.py"))
    + sorted((REPO / "perfbench").glob("*.py"))
)


def _module_file(name: str, script_dir: pathlib.Path) -> pathlib.Path | None:
    """The repo file ``import name`` loads: from the repo root, else from
    the importing script's own directory (``sys.path[0]`` for a script)."""
    for root in (REPO, script_dir):
        base = root.joinpath(*name.split("."))
        for cand in (base.with_suffix(".py"), base / "__init__.py"):
            if cand.is_file():
                return cand
    return None


def _imported_names(path: pathlib.Path):
    """Every dotted module name an import statement anywhere in ``path``
    can load (``from pkg import name`` may name a submodule)."""
    rel = path.relative_to(REPO).with_suffix("").parts
    package = rel[:-1]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = list(package[: len(package) - node.level + 1])
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def _reachable_files() -> set[pathlib.Path]:
    seen: set[pathlib.Path] = set()
    todo = list(SURFACE_ROOTS)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            parts = name.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(parts) + 1):
                found = _module_file(".".join(parts[:i]), path.parent)
                if found is not None and found not in seen:
                    todo.append(found)
    return seen


def test_every_package_module_is_reachable_from_a_user_surface():
    reached = _reachable_files()
    unreached = sorted(
        str(p.relative_to(REPO))
        for p in (REPO / PKG).rglob("*.py")
        if p.name != "__init__.py" and p not in reached
    )
    assert not unreached, unreached
