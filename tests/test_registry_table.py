"""The query registry is one declarative table (``driver_queries.QUERIES``).

Pins what the byte-identity hashes in ``test_registry_hash.py`` cannot:
a query defined but never registered, an oracle that renders to nothing,
and a return of the ``__all__`` / star-import scaffolding the table
replaced. No Spark session needed: pure registry introspection.
"""

import ast
import collections
import glob
import importlib
import os
import subprocess
import sys

from otd_semantic_framework_spark.plans import driver_queries as DQ
from otd_semantic_framework_spark.plans import spark_only_queries as SOQ

PLANS = os.path.dirname(DQ.__file__)
QMODS = sorted(glob.glob(os.path.join(PLANS, "queries", "*.py")))


def _tree(path):
    with open(path) as f:
        return ast.parse(f.read())


def test_every_query_function_is_registered_exactly_once():
    rows = collections.Counter(id(fn) for _, fn, _ in DQ.QUERIES)
    spark_only = {id(fn) for fn in SOQ.build_queries().values()}
    bad = []
    for path in QMODS:
        name = os.path.basename(path)[:-3]
        mod = importlib.import_module(
            f"otd_semantic_framework_spark.plans.queries.{name}")
        for node in _tree(path).body:
            if (isinstance(node, ast.FunctionDef)
                    and node.name.startswith("q_")):
                fn = getattr(mod, node.name)
                n = rows[id(fn)] + (id(fn) in spark_only)
                if n != 1:
                    bad.append(f"{name}.{node.name}: {n} registrations")
    assert not bad, bad


def test_table_names_unique_and_oracles_render_to_sql():
    names = [name for name, _, _ in DQ.QUERIES]
    assert len(names) == len(set(names))
    oracles = DQ.build_oracle_sql()
    assert list(oracles) == names
    empty = [k for k, v in oracles.items()
             if not isinstance(v, str) or not v.strip()]
    assert not empty, empty


def test_no_all_lists_or_star_imports_outside_shared():
    for path in QMODS:
        if os.path.basename(path) in ("_shared.py", "__init__.py"):
            continue
        assigned = {t.id for node in _tree(path).body
                    if isinstance(node, ast.Assign)
                    for t in node.targets if isinstance(t, ast.Name)}
        assert "__all__" not in assigned, path
    stars = [node.module for node in ast.walk(_tree(DQ.__file__))
             if isinstance(node, ast.ImportFrom)
             and any(a.name == "*" for a in node.names)]
    assert not stars, stars


def test_import_and_build_queries_render_no_oracle():
    """Oracle builders stay uncalled until ``build_oracle_sql()``, so the
    driver's ``queries()`` and the benchmark never pay for them."""
    code = (
        "import sys\n"
        "seen = set()\n"
        "def prof(frame, event, arg):\n"
        "    if event == 'call':\n"
        "        seen.add(frame.f_code)\n"
        "sys.setprofile(prof)\n"
        "from otd_semantic_framework_spark.plans import driver_queries as DQ\n"
        "DQ.build_queries()\n"
        "sys.setprofile(None)\n"
        "print(sorted(o.__name__ for _, _, o in DQ.QUERIES\n"
        "             if callable(o) and o.__code__ in seen))\n")
    root = os.path.dirname(os.path.dirname(PLANS))
    r = subprocess.run([sys.executable, "-c", code], cwd=root,
                       capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-500:]
    assert r.stdout.strip() == "[]"
