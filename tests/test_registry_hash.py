"""Registry pin for the plans/queries/ module split (round 5, VERDICT r4
item 3): the 21.5k-line driver_queries monolith was split into per-domain
modules re-exported through an unchanged ``build_queries()`` /
``build_oracle_sql()``. These hashes were computed against the PRE-split
monolith — any drift in key order, key set, or oracle SQL text fails
here. No Spark session needed: pure registry introspection.

If a NEW query is added intentionally, update N_PAIRED/QKEYS_MD5 (and
OSQL_MD5 if oracles changed) in the same commit that adds it.
"""

import hashlib

from otd_semantic_framework_spark.plans import driver_queries as DQ
from otd_semantic_framework_spark.plans import spark_only_queries as SOQ

# pinned against commit 0e2b7dd (pre-split monolith); re-pinned in the
# same commits that added stream_cds (paired) and multimodal_decode_pil
# (rows-only) — the only two r5 registry additions. OSQL_MD5 hashes the
# oracle text with the checkout's fixtures directory (inlined by the
# kg_ontology_ingest and kg_dcat_ingest oracles) replaced by
# FIXTURES_PLACEHOLDER, so the pin holds wherever the repo is checked
# out; it was re-pinned once for that substitution alone.
N_PAIRED = 344
QKEYS_MD5 = "4a9de1997b06bf58e89cfafebca62416"
OSQL_MD5 = "4e5df070a02d3a0adfb0f5a3aceaa8fd"
FIXTURES_PLACEHOLDER = "<fixtures_data>"
ROWS_ONLY = {"dedup_minhash_fast", "stats_approx_distinct",
             "multimodal_decode_pil"}


def test_query_registry_unchanged():
    q = DQ.build_queries()
    assert len(q) == N_PAIRED
    assert hashlib.md5("\n".join(q.keys()).encode()).hexdigest() \
        == QKEYS_MD5
    assert all(callable(f) for f in q.values())


def test_oracle_registry_unchanged():
    import os

    from otd_semantic_framework_spark.sources.rdf import FIXTURE_TTL
    o = DQ.build_oracle_sql()
    assert list(o.keys()) == list(DQ.build_queries().keys())
    blob = "\x00".join(k + "\x01" + v for k, v in o.items())
    blob = blob.replace(os.path.dirname(FIXTURE_TTL), FIXTURES_PLACEHOLDER)
    assert hashlib.md5(blob.encode()).hexdigest() == OSQL_MD5


def test_spark_only_disjoint_and_rows_only():
    soq = SOQ.build_queries()
    assert set(soq) == ROWS_ONLY
    assert not set(soq) & set(DQ.build_queries())


def test_driver_sample_head_is_exactly_the_intended_50():
    """__spark_entry__._rotate silently skips unknown keys ('if k in
    d'), so a typo in the hand-rewritten DRIVER_SAMPLE_FIRST_50 would
    silently shrink the head and let an arbitrary dict-order query
    slide into the driver's 50-query correctness sample (r5 review).
    Pin: every listed key resolves, no dupes, and the merged registry's
    first 50 keys are exactly the list."""
    import importlib
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    E = importlib.import_module("__spark_entry__")
    want = E.DRIVER_SAMPLE_FIRST_50
    assert len(want) == 50 and len(set(want)) == 50
    merged = dict(DQ.build_queries())
    merged.update(SOQ.build_queries())
    missing = [k for k in want if k not in merged]
    assert not missing, f"sample keys not in registry: {missing}"
    assert list(E.queries().keys())[:50] == want


def test_each_query_module_imports_standalone():
    """Import-order independence: every plans/queries/* module must
    import in a FRESH interpreter with nothing else loaded. Guards the
    _shared invariant (never import from chunk modules): a chunk
    imported first executes `from ._shared import *` at its top, so any
    _shared→chunk import would hit a partially initialized chunk —
    exactly the failure r5 hit when a test imported queries.kg1 before
    driver_queries."""
    import glob
    import os
    import subprocess
    import sys
    root = os.path.dirname(os.path.dirname(DQ.__file__))
    pkgroot = os.path.dirname(root)
    mods = sorted(
        os.path.basename(f)[:-3]
        for f in glob.glob(os.path.join(root, "plans", "queries", "*.py"))
        if not f.endswith("__init__.py"))
    assert len(mods) >= 12
    for m in mods:
        r = subprocess.run(
            [sys.executable, "-c",
             f"import otd_semantic_framework_spark.plans.queries.{m}"],
            cwd=pkgroot, capture_output=True, text=True)
        assert r.returncode == 0, f"{m}: {r.stderr[-500:]}"


def test_no_module_exceeds_4k_lines():
    """The split's whole point (VERDICT r4: 'no file >4k lines')."""
    import glob
    import os
    root = os.path.join(os.path.dirname(DQ.__file__))
    for f in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        n = sum(1 for _ in open(f))
        assert n <= 4000, f"{f}: {n} lines"
