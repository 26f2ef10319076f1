"""The pipeline's import closure: the bulk and streaming entry points load only
the modules the paper's pipeline needs, so modules outside it can be deleted
without touching the pipeline. And every package module is reached from
non-test code, so none survives only for its own tests."""

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
