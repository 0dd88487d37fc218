"""P3/P4/P5 — normalization parity, mention detection, explode."""

import pytest

from otd_semantic_framework_spark import semantics as S
from otd_semantic_framework_spark.operators.mentions import (
    detect_canonical_concepts_exploded, detect_mentions_exploded)
from otd_semantic_framework_spark.operators.normalize import normalize_turns


def test_normalize_builtin_matches_python(spark, tiny_df, tiny_pdf):
    out = {(r.conv_id, r.turn_idx): r.norm_text
           for r in normalize_turns(tiny_df).collect()}
    for row in tiny_pdf.itertuples():
        assert out[(row.conv_id, row.turn_idx)] == S.normalize_text(row.text)


def test_normalize_nfkc_udf_matches(spark):
    df = spark.createDataFrame(
        [("ﬁne Ligature!",), ("ＨＥＬＬＯ ４２",), (None,)], "text string")
    rows = normalize_turns(df, nfkc=True).select("norm_text").collect()
    assert [r.norm_text for r in rows] == ["fine ligature", "hello 42", ""]


def test_mentions_match_oracle(spark, tiny_df, tiny_pdf, ontology_pdf):
    """detect_mentions_exploded (mega-string mapInPandas) emits exactly
    the pure find_mentions walk per turn, also under repartitioning
    (batch boundaries move)."""
    gaz = S.build_gazetteer(S.build_ontology())
    k = lambda df: sorted((r.conv_id, r.turn_idx, r.surface, r.tok_start,
                           r.tok_end) for r in df.collect())
    want = sorted(
        (row.conv_id, row.turn_idx, surf, s, e)
        for row in tiny_pdf.itertuples()
        for surf, s, e in S.find_mentions(S.normalize_text(row.text), gaz))
    assert k(detect_mentions_exploded(normalize_turns(tiny_df), gaz)) == want
    assert k(detect_mentions_exploded(
        normalize_turns(tiny_df.repartition(13)), gaz)) == want
    assert len(want) > 50  # fixture guarantees plenty of hits


def test_mention_id_deterministic(spark, tiny_df):
    gaz = S.build_gazetteer(S.build_ontology())
    m1 = detect_mentions_exploded(normalize_turns(tiny_df), gaz)
    m2 = detect_mentions_exploded(
        normalize_turns(tiny_df.repartition(11)), gaz)
    ids1 = sorted(r.mention_id for r in m1.select("mention_id").collect())
    ids2 = sorted(r.mention_id for r in m2.select("mention_id").collect())
    assert ids1 == ids2
    assert len(ids1) == len(set(ids1))  # unique per mention


def test_detectors_reject_unnormalized_text(spark, ontology_pdf):
    """Both detectors name themselves and the offending row when the
    text column skipped normalize_turns."""
    from otd_semantic_framework_spark.operators.linking import OntologySetup
    onto = OntologySetup(ontology_pdf)
    df = spark.createDataFrame(
        [("c1", 0, "bus stop"), ("c1", 1, "Café bus")],
        "conv_id string, turn_idx int, norm_text string")
    with pytest.raises(Exception, match="detect_mentions_exploded requires"):
        detect_mentions_exploded(df, onto.gazetteer).collect()
    with pytest.raises(Exception,
                       match="detect_canonical_concepts_exploded requires"):
        detect_canonical_concepts_exploded(
            df, onto.gazetteer, onto.canonical).collect()


def test_regex_twin_pure_function_equivalence():
    """Property-ish: the regex twin matches find_mentions on adversarial
    strings (overlaps, prefixes, max_ngram exclusion)."""
    gaz = {"bus": "c1", "bus stop": "c2", "stop": "c3", "night bus": "c4",
           "open transport data": "c5"}
    pat = S.gazetteer_pattern(gaz, max_ngram=2)
    cases = [
        "the bus stop is near the night bus stop",
        "stop bus stop bus",
        "open transport data bus",   # 3-gram excluded at max_ngram=2
        "busy stopper bus",          # no partial-token matches
        "", "bus", "stop stop stop",
    ]
    for text in cases:
        assert S.find_mentions_regex(text, pat) == \
            S.find_mentions(text, gaz, max_ngram=2), text


def test_fused_canonical_detector_equivalence(spark, tiny_df, ontology_pdf):
    """detect_canonical_concepts_exploded (the fully-fused P4+P5+P7-P9
    hot path) emits exactly canonicalize_broadcast(
    detect_mentions_exploded(...)) max-reduced per (turn, concept), with
    matching dedup_triples score rounding — and is invariant under
    repartitioning (batch boundaries move)."""
    from otd_semantic_framework_spark.operators.linking import (
        OntologySetup, canonicalize_broadcast)
    onto = OntologySetup(ontology_pdf)
    gaz, canon_table = onto.gazetteer, onto.canonical
    ref = canonicalize_broadcast(
        detect_mentions_exploded(normalize_turns(tiny_df), gaz), canon_table)
    want = {}
    for r in ref.collect():
        key = (r.conv_id, r.turn_idx, r.concept_id)
        want[key] = max(want.get(key, 0.0), round(r.link_score, 6))
    k = lambda df: {(r.conv_id, r.turn_idx, r.concept_id):
                    round(r.link_score, 6) for r in df.collect()}
    got = k(detect_canonical_concepts_exploded(
        normalize_turns(tiny_df), gaz, canon_table))
    assert got == want
    got13 = k(detect_canonical_concepts_exploded(
        normalize_turns(tiny_df.repartition(13)), gaz, canon_table))
    assert got13 == want


def test_worker_set_up_once_per_worker(spark, tiny_df, ontology_pdf,
                                       tmp_path):
    """The detector's batch prologue sets each reused Python worker up
    once: afterwards the zip importers the worker already held keep
    their directory across ``importlib.invalidate_caches()``, a zip
    added later with ``addPyFile`` still imports, and the detector's
    rows do not change."""
    import zipfile

    import pandas as pd

    from otd_semantic_framework_spark.operators.linking import OntologySetup

    def worker_state(zips_probe: bool):
        """Runs inside a Python worker: (whether the mention prologue
        has set this worker up, whether ``importlib.invalidate_caches()``
        left every zip importer the worker holds with the same
        ``_files``)."""
        import importlib
        import sys
        import zipimport
        mod = sys.modules.get(
            "otd_semantic_framework_spark.operators.mentions")
        set_up = bool(getattr(mod, "_worker_set_up", False))
        same = True
        if zips_probe:
            zips = [f for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)]
            before = [f._files for f in zips]
            importlib.invalidate_caches()
            same = all(f._files is b for f, b in zip(zips, before))
        return set_up, same

    onto = OntologySetup(ontology_pdf)
    sc = spark.sparkContext
    n = sc.defaultParallelism
    norm = normalize_turns(tiny_df).repartition(n)

    def detect():
        return sorted(map(tuple, detect_canonical_concepts_exploded(
            norm, onto.gazetteer, onto.canonical).collect()))

    first = detect()
    assert first

    # Idle workers are reused first-in first-out, so 3n one-row tasks
    # visit every idle worker, including the n the detector just used.
    def probe(batches):
        for pdf in batches:
            set_up, same = worker_state(True)
            yield pd.DataFrame({"set_up": [set_up] * len(pdf),
                                "same": [same] * len(pdf)})

    seen = spark.range(0, 3 * n, 1, 3 * n).mapInPandas(
        probe, "set_up boolean, same boolean").collect()
    set_up_rows = [r for r in seen if r.set_up]
    assert set_up_rows, seen
    assert all(r.same for r in set_up_rows), seen

    pkg = tmp_path / "otd_late_zip.zip"
    with zipfile.ZipFile(pkg, "w") as z:
        z.writestr("otd_late_zip_mod.py", "VALUE = 42\n")
    sc.addPyFile(str(pkg))

    def late_import(batches):
        import otd_late_zip_mod
        for pdf in batches:
            set_up, _ = worker_state(False)
            yield pd.DataFrame({"value": [otd_late_zip_mod.VALUE] * len(pdf),
                                "set_up": [set_up] * len(pdf)})

    late = spark.range(0, 3 * n, 1, 3 * n).mapInPandas(
        late_import, "value long, set_up boolean").collect()
    assert {r.value for r in late} == {42}
    assert any(r.set_up for r in late), late

    assert detect() == first
