"""Wave-34 operators: ViT patch-grid extraction over the multimodal
decode seam, and streaming incremental type-2 SCD maintenance. Both
oracle-paired (stream_scd2 against the BATCH rel_scd2 SQL — stream ≡
batch is the pinned contract).
"""
from __future__ import annotations

SF = "/root/testdata/sf0.001"


class TestMultimodalPatches:
    def test_matches_python_grid_replay(self, spark):
        import hashlib
        from otd_semantic_framework_spark.plans.queries._shared import (
            MM_PATCH, _docs)
        from otd_semantic_framework_spark.plans.queries.multimodal import (
            q_multimodal_patches)
        expected = set()
        for r in _docs(spark, SF).collect():
            h = hashlib.md5(r.text.encode("utf-8")).digest()
            w, hh = 16 + h[0] % 64, 16 + h[1] % 64
            px = (w + MM_PATCH - 1) // MM_PATCH
            py = (hh + MM_PATCH - 1) // MM_PATCH
            for pid in range(px * py):
                prow, pcol = pid // px, pid % px
                expected.add((
                    r.doc_id, pid, prow, pcol,
                    min(MM_PATCH, w - pcol * MM_PATCH),
                    min(MM_PATCH, hh - prow * MM_PATCH),
                    px * py))
        got = {(r.doc_id, r.patch_id, r.prow, r.pcol, r.pw, r.ph,
                r.n_patches)
               for r in q_multimodal_patches(spark, SF).collect()}
        assert got == expected
        # clipping is exercised (some edge patch is narrower than P)
        assert any(t[4] < MM_PATCH or t[5] < MM_PATCH for t in got)
        # patch areas tile the image exactly
        by_doc = {}
        for t in got:
            by_doc.setdefault(t[0], []).append(t)
        for did, ps in by_doc.items():
            h = hashlib.md5(
                {r.doc_id: r.text for r in
                 _docs(spark, SF).collect()}[did].encode()).digest()
            assert sum(p[4] * p[5] for p in ps) == \
                (16 + h[0] % 64) * (16 + h[1] % 64)
            break  # one doc suffices for the tiling identity


class TestStreamSCD2:
    def test_stream_equals_batch_history(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import q_rel_scd2
        from otd_semantic_framework_spark.plans.queries.stream import (
            q_stream_scd2)
        key = lambda r: (r.user_id, r.version)  # noqa: E731
        batch = {key(r): (r.event_type, r.eff_from_us, r.eff_to_us,
                          r.is_current)
                 for r in q_rel_scd2(spark, SF).collect()}
        stream = {key(r): (r.event_type, r.eff_from_us, r.eff_to_us,
                           r.is_current)
                  for r in q_stream_scd2(spark, SF).collect()}
        assert stream == batch
        assert batch, "fixture history must be non-empty"

    def test_state_holds_only_change_points(self, spark):
        """The stream's state dir must be strictly smaller than the raw
        event volume — the incremental claim — while still producing
        every version row."""
        import glob
        import os
        import tempfile
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        from otd_semantic_framework_spark.plans.queries.stream import (
            q_stream_scd2)
        out = q_stream_scd2(spark, SF)
        n_versions = out.count()
        root = os.path.join(
            tempfile.gettempdir(),
            f"stream_scd2_{os.path.basename(SF)}_{os.getpid()}")
        state = spark.read.parquet(os.path.join(root, "state"))
        n_state = state.count()
        n_events = _tbl(spark, SF, "events").count()
        assert n_versions <= n_state < n_events
        assert glob.glob(os.path.join(root, "ckpt", "*"))
