"""Wave-38 operators: dedup threshold calibration sweep and KG
hub-anomaly QA (robust degree outliers). Both oracle-paired; these
tests replay the sweep monotonicity and the median/MAD fence in plain
Python.
"""
from __future__ import annotations

from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


def _median_doubled(values: list[int]) -> int:
    """Linear-interpolated median in doubled units — integral because
    the inputs are even (the rel_outliers idiom)."""
    s = sorted(values)
    n = len(s)
    if n % 2:
        return s[n // 2]
    return (s[n // 2 - 1] + s[n // 2]) // 2


class TestThresholdSweep:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            JACCARD_DF_CAP, JACCARD_MAX_DOC, SWEEP_THRESHOLDS, _docs)
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_threshold_sweep)
        docs = {r.doc_id: set(t for t in (r.text or "").split(" ") if t)
                for r in _docs(spark, SF)
                .filter(f"doc_id < {JACCARD_MAX_DOC}").collect()}
        df = Counter(t for toks in docs.values() for t in toks)
        rare = {t for t, c in df.items() if c <= JACCARD_DF_CAP}
        posting = defaultdict(set)
        for d, toks in docs.items():
            for t in toks & rare:
                posting[t].add(d)
        cand = set()
        for ds in posting.values():
            ds = sorted(ds)
            for i, a in enumerate(ds):
                for b in ds[i + 1:]:
                    cand.add((a, b))
        scored = {}
        for a, b in cand:
            inter = len(docs[a] & docs[b])
            scored[(a, b)] = round(
                inter / (len(docs[a]) + len(docs[b]) - inter), 6)
        expected = {}
        for th in SWEEP_THRESHOLDS:
            surv = [(a, b) for (a, b), j in scored.items() if j >= th]
            touched = {d for p in surv for d in p}
            expected[th] = (len(surv), len(touched))
        got = {r.threshold: (r.n_pairs, r.n_docs_in_pairs)
               for r in q_dedup_threshold_sweep(spark, SF).collect()}
        assert got == expected

    def test_sweep_is_monotone(self, spark):
        """Raising the threshold can only shrink the surviving set —
        and the fixture grid actually exercises the slope."""
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_threshold_sweep)
        rows = sorted(q_dedup_threshold_sweep(spark, SF).collect(),
                      key=lambda r: r.threshold)
        assert len(rows) == 5
        for lo, hi in zip(rows, rows[1:]):
            assert hi.n_pairs <= lo.n_pairs
            assert hi.n_docs_in_pairs <= lo.n_docs_in_pairs
        assert rows[0].n_pairs > rows[-1].n_pairs


class TestDegreeAnomaly:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_degree_anomaly)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        deg = Counter((r.pred, r.subj)
                      for r in q_kg_triples(spark, SF).collect())
        per_pred = defaultdict(list)
        for (pred, subj), d in deg.items():
            per_pred[pred].append((subj, d))
        expected = set()
        for pred, items in per_pred.items():
            v2 = [2 * d for _, d in items]
            med2 = _median_doubled(v2)
            mad4 = _median_doubled([2 * abs(2 * d - med2)
                                    for _, d in items])
            for subj, d in items:
                dev2 = abs(2 * d - med2)
                if dev2 * 10000 > 22239 * mad4:
                    expected.add((pred, subj, d, med2, mad4, len(items)))
        got = {(r.pred, r.subj, r.deg, r.med_deg2, r.mad4, r.n_subj)
               for r in q_kg_degree_anomaly(spark, SF).collect()}
        assert got == expected
        assert got, "fixture KG must produce at least one flagged hub"

    def test_flagged_are_extreme(self, spark):
        """Every flagged subject's degree clears the 3*1.4826*MAD fence
        around the per-pred median (in original units)."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_degree_anomaly)
        for r in q_kg_degree_anomaly(spark, SF).collect():
            med = r.med_deg2 / 2
            mad = r.mad4 / 4
            assert abs(r.deg - med) > 3 * 1.4826 * mad - 1e-9
            assert r.n_subj >= 1
