"""The pipeline's import closure: the bulk and streaming entry points load only
the modules the paper's pipeline needs, so modules outside it can be deleted
without touching the pipeline. Every package module is reached from non-test
code, and so is every top-level function, class and upper-case constant in
the package (bar a listed few), so none survives only for its own tests."""

import ast
import glob
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PIPELINE_MODULES = {
    "plans.pipeline", "plans.parse",
    "operators.pip_knn", "operators.tile_assign", "operators.geometry",
    "functions.spark_udfs", "functions.hexgrid", "functions.s2quad",
    "functions.tiles", "functions.geodesy", "functions.textmeta",
    "sources.snapshot", "streaming.stream",
    "synth", "schemas", "session",
}
PACKAGES = {"", "plans", "operators", "functions", "sources", "streaming"}


def test_pipeline_imports_stay_inside_the_pipeline_modules():
    code = (
        "import sys\n"
        "import extractors_metadata_spark.plans.pipeline\n"
        "import extractors_metadata_spark.streaming.stream\n"
        "print('\\n'.join(m for m in sys.modules "
        "if m.split('.')[0] == 'extractors_metadata_spark'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    loaded = {m.partition(".")[2] for m in out.split()}
    assert "plans.pipeline" in loaded and "streaming.stream" in loaded
    assert loaded <= PIPELINE_MODULES | PACKAGES, sorted(loaded - PIPELINE_MODULES - PACKAGES)


def _module_name(path):
    rel = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _imported_modules(path, modules):
    """Package modules a file imports anywhere in it (function-local imports
    too), with the parent packages each import loads."""
    name = _module_name(path)
    here = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    with open(path) as f:
        tree = ast.parse(f.read())
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = here.rsplit(".", node.level - 1)[0]
                base = f"{pkg}.{base}" if base else pkg
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            found.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return found & modules


def test_every_package_module_has_a_non_test_caller():
    pkg = "extractors_metadata_spark"
    files = {
        _module_name(p): p
        for p in glob.glob(os.path.join(ROOT, pkg, "**", "*.py"), recursive=True)
    }
    roots = [os.path.join(ROOT, "__spark_entry__.py")] + [
        p
        for d in ("oracles", "perfbench", "tools")
        for p in glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)
    ]
    modules = set(files)
    reached = set()
    todo = [m for p in roots for m in _imported_modules(p, modules)]
    while todo:
        m = todo.pop()
        if m not in reached:
            reached.add(m)
            todo.extend(_imported_modules(files[m], modules))
    unreached = sorted(m.partition(".")[2] for m in modules - reached)
    assert unreached == [], f"package modules reached only from tests: {unreached}"


# Package functions, classes and constants that non-test code does not
# reference, each with the reason it stays.
NO_CALLER_EXEMPT = {
    "functions.geodesy.equirect_m": "test reference: planar-distance check",
    "functions.geodesy.haversine_m": "test reference: great-circle check of the UTM kernel",
    "functions.geodesy.latitude_to_zone_letter": "test reference: UTM band letters",
    "functions.geodesy.ZONE_LETTERS": "read only by latitude_to_zone_letter",
    "functions.hexgrid.grid_distance": "test reference: k-ring ring distance",
    "functions.hexgrid.h3_kring": "test reference: NumPy twin of the JVM k-ring",
    "functions.s2quad.s2_parent": "test reference: S2 hierarchy",
    "functions.s2quad._hilbert_d_to_xy": "test reference: Hilbert curve inverse",
    "functions.s2quad._st_to_uv": "test reference: S2 projection inverse",
    "functions.tiles.tile_bounds": "test reference: tile envelope",
    "functions.textmeta.text_sha256": "test reference: frozen text digest",
    "operators.cellset.s2_uncompact": "test reference: inverse of s2_compact",
    "sources.snapshot.compact_snapshots": "snapshot maintenance backlog (ROADMAP item 5)",
    "sources.snapshot.expire_snapshots": "snapshot maintenance backlog (ROADMAP item 5)",
    "sources.snapshot.gc_orphans": "snapshot maintenance backlog (ROADMAP item 5)",
    "sources.snapshot._files_count": "snapshot maintenance backlog (ROADMAP item 5)",
    "sources.snapshot.read_lineage": "snapshot maintenance backlog (ROADMAP item 5)",
    "sources.snapshot.run_incremental": "snapshot maintenance backlog (ROADMAP item 5)",
    "sources.snapshot.upsert_snapshot": "snapshot maintenance backlog (ROADMAP item 5)",
}


def _identifiers(node):
    """Names a subtree refers to: Name ids, attribute names and import
    aliases (not strings or comments)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.rpartition(".")[2] for a in n.names)
    return out


def _defined_name(node):
    """The name a top-level statement defines for the no-caller check: a
    function or class, or a single-name assignment to an upper-case
    constant. None for any other statement."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return node.name
    if isinstance(node, ast.Assign) and len(node.targets) == 1:
        target = node.targets[0]
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        target = node.target
    else:
        return None
    if isinstance(target, ast.Name) and target.id.isupper():
        return target.id
    return None


def test_pipeline_functions_have_a_non_test_caller():
    """Every top-level function, class and upper-case constant of every
    package module, not only the pipeline's, has a reference in non-test
    code. A def that only its own or other uncalled defs refer to counts as
    uncalled (a fixed point), so deleting a caller cannot leave its helpers
    or constants behind."""
    pkg = "extractors_metadata_spark"
    paths = glob.glob(os.path.join(ROOT, pkg, "**", "*.py"), recursive=True)
    paths += [os.path.join(ROOT, "__spark_entry__.py")] + [
        p
        for d in ("oracles", "perfbench", "tools")
        for p in glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)
    ]
    defs = {}  # "module.name" -> identifiers of its body
    other = set()  # identifiers outside every package def
    for p in paths:
        with open(p) as f:
            tree = ast.parse(f.read())
        pkg_name, _, module = _module_name(p).partition(".")
        for node in tree.body:
            name = _defined_name(node) if pkg_name == pkg else None
            if name:
                defs[f"{module}.{name}"] = _identifiers(node) - {name}
            else:
                other |= _identifiers(node)
    uncalled = set()
    while True:
        live = other.union(*(ids for k, ids in defs.items() if k not in uncalled))
        found = {k for k in defs if k.rpartition(".")[2] not in live}
        if found == uncalled:
            break
        uncalled = found
    extra = sorted(uncalled - set(NO_CALLER_EXEMPT))
    assert extra == [], f"package code without a non-test caller: {extra}"
    stale = sorted(set(NO_CALLER_EXEMPT) - uncalled)
    assert stale == [], f"exempt names that now have a caller: {stale}"


def _unused_imports(path):
    """Names a file imports but never reads. An import whose name line
    carries ``# noqa: F401`` is kept on purpose (a side-effect import or a
    re-export), and ``__future__`` imports are compiler directives."""
    with open(path) as f:
        src = f.read()
    tree = ast.parse(src)
    lines = src.splitlines()
    imported = []  # (bound name, line number)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                if "noqa: F401" not in lines[a.lineno - 1]:
                    imported.append((a.asname or a.name.partition(".")[0], a.lineno))
    read = {
        n.id for n in ast.walk(tree)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }
    return sorted(f"{n}:{line}" for n, line in imported if n not in read)


def test_no_unused_imports():
    paths = [os.path.join(ROOT, "__spark_entry__.py")] + [
        p
        for d in ("extractors_metadata_spark", "oracles", "tools", "tests")
        for p in glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)
    ]
    unused = {
        os.path.relpath(p, ROOT): names
        for p in sorted(paths)
        if (names := _unused_imports(p))
    }
    assert unused == {}, f"imported names never read: {unused}"


def _scope_nodes(fn):
    """Nodes of a function's own scope: its body without nested function,
    lambda or class bodies (those are scopes of their own)."""
    todo = list(fn.body)
    while todo:
        node = todo.pop()
        if not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)
        ):
            yield node
            todo.extend(ast.iter_child_nodes(node))


def _unused_locals(path):
    """Single-name assignments in a function that nothing in that function,
    nested functions included, ever reads. Tuple-unpacking targets,
    ``_``-prefixed names and ``global``/``nonlocal`` names are exempt."""
    with open(path) as f:
        tree = ast.parse(f.read())
    dead = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        read = set()
        for n in ast.walk(fn):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                read.add(n.id)
            elif isinstance(n, ast.AugAssign) and isinstance(n.target, ast.Name):
                read.add(n.target.id)
        own = list(_scope_nodes(fn))
        for n in own:
            if isinstance(n, (ast.Global, ast.Nonlocal)):
                read.update(n.names)
        for n in own:
            if isinstance(n, ast.Assign):
                targets = n.targets
            elif isinstance(n, ast.AnnAssign) and n.value is not None:
                targets = [n.target]
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and not t.id.startswith("_")
                    and t.id not in read
                ):
                    dead.append(f"{fn.name}.{t.id}:{t.lineno}")
    return sorted(dead)


def test_no_unused_locals():
    paths = [os.path.join(ROOT, "__spark_entry__.py")] + [
        p
        for d in ("extractors_metadata_spark", "oracles", "tools")
        for p in glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)
    ]
    unused = {
        os.path.relpath(p, ROOT): names
        for p in sorted(paths)
        if (names := _unused_locals(p))
    }
    assert unused == {}, f"locals assigned but never read: {unused}"
