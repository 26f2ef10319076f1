"""Registry-metadata invariants (no Spark session needed).

Pins the contract between ``queries()`` and ``oracle_sql()`` in
``__spark_entry__.py`` so it cannot silently rot as the registry grows:

1. every entry in the driver's 50-query correctness window (the FIRST 50
   entries of ``queries()``) has a full oracle;
2. the rows-only entries (kernels with no exact SQL replay: the UTM
   footprint, the html-derived renderings) are exactly the FINAL entries,
   each naming an existing full-oracle twin in its docstring via an
   ``Oracle twin: <name>`` line;
3. every oracle key corresponds to a registered query (no orphan SQL);
4. every top-level function and constant of the registry and oracle files
   has a non-test reference, and every ``q_*`` function is registered, so
   deleting a query family cannot leave its helpers behind.
"""

import ast
import glob
import os
import re

import __spark_entry__ as entry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EXPECTED_ROWS_ONLY = {
    "pipeline_datapoints": "pipeline_envelope_verify",
    "multi_render": "multi_render_verify",
}


def test_window_is_fully_oracle_backed():
    qs = list(entry.queries())
    oracles = entry.oracle_sql()
    window = qs[:50]
    missing = [q for q in window if q not in oracles]
    assert missing == [], f"driver window entries without oracle: {missing}"


def test_rows_only_set_is_the_final_twinned_entries():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    rows_only = [k for k in qs if k not in oracles]
    assert set(rows_only) == set(EXPECTED_ROWS_ONLY), (
        "rows-only set changed — every new rows-only entry needs a "
        f"full-oracle twin registered here: {sorted(set(rows_only) ^ set(EXPECTED_ROWS_ONLY))}"
    )
    assert list(qs)[-len(EXPECTED_ROWS_ONLY):] == rows_only, (
        "rows-only entries must stay in the final registry positions "
        "(the driver's 50-slot window must only see full-oracle queries)"
    )


def test_each_rows_only_docstring_names_a_live_full_oracle_twin():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    for name, twin in EXPECTED_ROWS_ONLY.items():
        doc = qs[name].__doc__ or ""
        m = re.search(r"Oracle twin:\s*([a-z0-9_]+)", doc)
        assert m, f"{name}: docstring lacks an 'Oracle twin: <name>' line"
        assert m.group(1) == twin, f"{name}: docstring twin {m.group(1)!r} != {twin!r}"
        assert twin in qs, f"{name}: twin {twin} not registered in queries()"
        assert twin in oracles, f"{name}: twin {twin} has no oracle_sql entry"


def test_no_orphan_oracle_sql():
    qs = entry.queries()
    orphans = [k for k in entry.oracle_sql() if k not in qs]
    assert orphans == [], f"oracle_sql keys without a registered query: {orphans}"


REGISTRY_FILES = ("__spark_entry__.py", "oracles/__init__.py", "oracles/shared.py")

# Registry names that no non-test code references, each with the reason it
# stays (re-exports that only tests import go here too).
NO_CALLER_EXEMPT = {
    "__spark_entry__.entry": "driver contract: the driver calls entry(spark)",
}


def _references(node):
    """Names a subtree reads: loaded Name ids and attribute names. Import
    aliases do not count, so a re-export alone keeps nothing alive."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined_names(node):
    if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [
            n.id for t in node.targets for n in ast.walk(t)
            if isinstance(n, ast.Name)
        ]
    return []


def _parse(rel):
    with open(os.path.join(ROOT, rel)) as f:
        return ast.parse(f.read())


def test_registry_and_oracle_names_have_a_non_test_caller():
    paths = [
        os.path.relpath(p, ROOT)
        for p in glob.glob(os.path.join(ROOT, "**", "*.py"), recursive=True)
    ]
    defs = {}  # "module.name" -> names its definition reads
    other = set()  # names read outside every registry definition
    for rel in paths:
        if rel.split(os.sep)[0] == "tests":
            continue
        module = rel[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")
        for node in _parse(rel).body:
            names = _defined_names(node) if rel in REGISTRY_FILES else []
            for name in names:
                defs[f"{module}.{name}"] = _references(node) - {name}
            if not names:
                other |= _references(node)
    # a name only its own or other orphaned definitions read is orphaned
    orphans = set()
    while True:
        live = other.union(*(ids for k, ids in defs.items() if k not in orphans))
        found = {k for k in defs if k.rpartition(".")[2] not in live}
        if found == orphans:
            break
        orphans = found
    extra = sorted(orphans - set(NO_CALLER_EXEMPT))
    assert extra == [], f"registry code without a non-test caller: {extra}"
    stale = sorted(set(NO_CALLER_EXEMPT) - orphans)
    assert stale == [], f"exempt names that now have a caller: {stale}"


def test_every_query_function_is_registered():
    tree = _parse("__spark_entry__.py")
    q_defs = {
        n.name for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")
    }
    (queries_fn,) = [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "queries"
    ]
    unregistered = sorted(q_defs - _references(queries_fn))
    assert unregistered == [], f"q_* functions not in queries(): {unregistered}"
