"""Driver-registry hygiene (no Spark session): every DuckDB oracle belongs
to a registered query, the registry fits its recorded slots, every
package module is imported from some user surface, every package-level
definition is referenced outside the tests, every defaulted package
parameter is passed outside the tests, and every tracked module compiles
without warnings."""

from __future__ import annotations

import ast
import pathlib
import subprocess
import warnings

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


def _tracked_py() -> list[pathlib.Path]:
    """Every tracked ``.py`` file (every ``.py`` outside hidden dirs when
    the tree is not a git checkout)."""
    try:
        out = subprocess.run(["git", "ls-files", "-z", "*.py"], cwd=REPO,
                             capture_output=True, check=True).stdout
        return [REPO / p for p in out.decode().split("\0") if p]
    except (OSError, subprocess.CalledProcessError):
        return [p for p in REPO.rglob("*.py")
                if not any(part.startswith(".") or part == "__pycache__"
                           for part in p.relative_to(REPO).parts)]


def _top_level_names(tree: ast.Module):
    """Names a module's top-level def, class or assignment binds."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                yield from (n.id for n in ast.walk(t) if isinstance(n, ast.Name))


def _referenced_names(tree: ast.Module):
    """Load-context names, attribute names and import aliases."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rpartition(".")[2]


def test_every_package_definition_is_referenced_outside_tests():
    files = [p for p in _tracked_py()
             if p.relative_to(REPO).parts[0] != "tests"]
    trees = {p: ast.parse(p.read_text(), str(p)) for p in files}
    referenced = set()
    for tree in trees.values():
        referenced.update(_referenced_names(tree))
    unreferenced = [
        f"{p.relative_to(REPO)}:{name}"
        for p, tree in sorted(trees.items())
        if p.relative_to(REPO).parts[0] == PKG
        for name in _top_level_names(tree)
        if not (name.startswith("__") and name.endswith("__"))
        and name not in referenced
    ]
    assert not unreferenced, "\n".join(unreferenced)


def test_every_tracked_module_compiles_without_warnings():
    for path in _tracked_py():
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            compile(path.read_text(), str(path), "exec")


# Defaulted package parameters that no non-test caller passes, kept
# because the named test passes a non-default value to check an
# invariant. Keys are ``<def qualname>.<param>``.
TEST_SET_PARAMETERS = {
    # the json / both output formats of the one-row extractor
    "extract_one.options": "tests/test_kernel.py",
    # resume under a different partition count gives the same output
    "run_extraction.num_partitions": "tests/test_pipeline_resume.py",
    # a zero grace period never overrides a live run's lease
    "vacuum.grace_seconds": "tests/test_pipeline_resume.py",
    # packing is exact and partition-invariant at any shard count
    "pack_sequences.n_shards": "tests/test_packing.py",
    # ranks stay exact at scales beyond 2^53 (integral division)
    "pagerank.scale": "tests/test_pagerank.py",
    # the p100 percentile equals the exact max
    "corpus_report.percentiles": "tests/test_profile.py",
    # n_probe == n_centroids degenerates IVF to exact search
    "ivf_cosine_topk.n_centroids": "tests/test_skew_and_ann.py",
    "ivf_cosine_topk.n_probe": "tests/test_skew_and_ann.py",
}


def _defaulted_params(tree: ast.Module):
    """(qualname, call key, positional names, defaulted names) for every
    def in ``tree``, nested ones included. A method's positional names
    skip ``self``/``cls``; an ``__init__`` is called by its class name."""
    def walk(node, prefix, in_class):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = ch.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                             for d in ch.decorator_list)
                if in_class and not static and pos:
                    pos = pos[1:]
                defaulted = (pos[len(pos) - len(a.defaults):] if a.defaults
                             else [])
                defaulted += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults)
                              if d is not None]
                key = (prefix.rstrip(".").rpartition(".")[2]
                       if ch.name == "__init__" else ch.name)
                yield (prefix + ch.name, key,
                       pos + [k.arg for k in a.kwonlyargs], defaulted)
                yield from walk(ch, prefix + ch.name + ".", False)
            elif isinstance(ch, ast.ClassDef):
                yield from walk(ch, prefix + ch.name + ".", True)
            else:
                yield from walk(ch, prefix, in_class)
    return walk(tree, "", False)


def _calls(tree: ast.Module):
    """(callee name, Call) per call: a ``Name`` through its import alias,
    or an ``Attribute``'s attribute name."""
    alias = {a.asname: a.name.rpartition(".")[2]
             for node in ast.walk(tree)
             if isinstance(node, (ast.Import, ast.ImportFrom))
             for a in node.names if a.asname}
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Name):
                yield alias.get(node.func.id, node.func.id), node
            elif isinstance(node.func, ast.Attribute):
                yield node.func.attr, node


def _passed(calls, params: list[str]) -> set[str]:
    """The parameters of a def with positional-then-keyword ``params``
    that some call in ``calls`` passes: by keyword, by position, or
    through ``*``/``**`` forwarding."""
    out: set[str] = set()
    for call in calls:
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                out.update(params[i:])
                break
            if i < len(params):
                out.add(params[i])
        for kw in call.keywords:
            out.update(params if kw.arg is None else [kw.arg])
    return out


def test_every_package_parameter_default_is_set_outside_tests():
    assert len(TEST_SET_PARAMETERS) <= 10
    trees = {p.relative_to(REPO).as_posix(): ast.parse(p.read_text(), str(p))
             for p in _tracked_py()}
    by_key: dict[str, list] = {}
    test_calls: dict[str, dict[str, list]] = {}
    for rel, tree in trees.items():
        for key, call in _calls(tree):
            if rel.startswith("tests/"):
                test_calls.setdefault(rel, {}).setdefault(key, []).append(call)
            else:
                by_key.setdefault(key, []).append(call)
    unset, defaulted = [], {}
    for rel, tree in sorted(trees.items()):
        if not rel.startswith(PKG + "/"):
            continue
        for qual, key, params, dflt in _defaulted_params(tree):
            passed = _passed(by_key.get(key, []), params)
            for name in dflt:
                defaulted[f"{qual}.{name}"] = (key, params)
                if name not in passed and f"{qual}.{name}" not in \
                        TEST_SET_PARAMETERS:
                    unset.append(f"{rel}:{qual}.{name}")
    assert not unset, "\n".join(unset)
    for entry, test in TEST_SET_PARAMETERS.items():
        assert entry in defaulted, f"{entry} is no longer a defaulted parameter"
        key, params = defaulted[entry]
        calls = test_calls.get(test, {}).get(key, [])
        assert entry.rpartition(".")[2] in _passed(calls, params), \
            f"{test} no longer passes {entry}"
