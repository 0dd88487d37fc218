"""Round-5 additions (VERDICT r4 items 7+8): the real-codec multimodal
decode path and streaming CDS maintenance.

- png_bytes: stdlib-generated PNGs validated WITHOUT any codec (pure
  zlib/struct parse), so the fixture itself is tested in this container.
- decode_media(decoder='pil'): exact channel-mean features pinned —
  skipif-gated on Pillow, green on any machine that has it.
- decode_media(decoder='auto'): env-independent row/schema surface.
- stream_cds: streaming IVM result ≡ one-shot batch propagate_cds.
"""

import struct
import zlib

import pytest

from otd_semantic_framework_spark.operators.multimodal import (
    attach_png_media, decode_media, pil_available, png_bytes)

SF = "/root/testdata/sf0.001"


class TestPngBytes:
    def test_valid_png_structure_stdlib_parse(self):
        """Parse the generated PNG with zlib/struct only: signature,
        IHDR dims/bit-depth/color-type, IDAT inflates to filter-0
        scanlines of the solid color, IEND terminator, CRCs."""
        w, h, rgb = 7, 5, (12, 200, 99)
        b = png_bytes(w, h, rgb)
        assert b[:8] == b"\x89PNG\r\n\x1a\n"
        pos, chunks = 8, {}
        while pos < len(b):
            (ln,) = struct.unpack(">I", b[pos:pos + 4])
            typ = b[pos + 4:pos + 8]
            data = b[pos + 8:pos + 8 + ln]
            (crc,) = struct.unpack(">I", b[pos + 8 + ln:pos + 12 + ln])
            assert crc == zlib.crc32(typ + data) & 0xFFFFFFFF
            chunks[typ] = data
            pos += 12 + ln
        assert list(chunks) == [b"IHDR", b"IDAT", b"IEND"]
        iw, ih, depth, ctype = struct.unpack(">IIBB", chunks[b"IHDR"][:10])
        assert (iw, ih, depth, ctype) == (w, h, 8, 2)
        raw = zlib.decompress(chunks[b"IDAT"])
        assert raw == (b"\x00" + bytes(rgb) * w) * h

    @pytest.mark.skipif(not pil_available(), reason="Pillow not installed")
    def test_pillow_roundtrip_exact_features(self):
        """With a real codec: decoded dims match IHDR and channel means
        are EXACTLY color/255 (solid fill ⇒ std 0)."""
        import io

        from PIL import Image
        w, h, rgb = 9, 4, (255, 0, 128)
        img = Image.open(io.BytesIO(png_bytes(w, h, rgb)))
        assert img.size == (w, h)
        import numpy as np
        arr = np.asarray(img.convert("RGB"), dtype=np.float32) / 255.0
        assert [round(float(x), 6) for x in arr.mean(axis=(0, 1))] == \
            [round(c / 255.0, 6) for c in rgb]
        assert float(arr.std(axis=(0, 1)).max()) == 0.0


class TestDecodePilQuery:
    def test_rows_schema_env_independent(self, spark):
        from otd_semantic_framework_spark.plans.spark_only_queries import (
            q_multimodal_decode_pil)
        out = q_multimodal_decode_pil(spark, SF)
        assert [f.name for f in out.schema.fields] == [
            "doc_id", "media_type", "n_bytes", "width", "height",
            "features"]
        rows = out.collect()
        assert len(rows) == 500
        assert all(r.media_type == "image/png" for r in rows[:10])
        assert all(len(r.features) == 8 for r in rows[:10])

    @pytest.mark.skipif(not pil_available(), reason="Pillow not installed")
    def test_pil_decoder_true_dims(self, spark):
        """Under Pillow the decoded dims are the REAL PNG dims — pure
        functions of doc_id per attach_png_media."""
        docs = spark.range(0, 20).selectExpr("id AS doc_id",
                                             "'x' AS text")
        out = decode_media(attach_png_media(docs), decoder="pil")
        got = {r.doc_id: (r.width, r.height) for r in out.collect()}
        for i in range(20):
            assert got[i] == (4 + i % 5, 3 + i % 4)

    def test_stub_fallback_deterministic(self, spark):
        """decoder='auto' without Pillow = stub; twice = same result."""
        docs = spark.range(0, 10).selectExpr("id AS doc_id",
                                             "'x' AS text")
        a = decode_media(attach_png_media(docs), decoder="auto").collect()
        b = decode_media(attach_png_media(docs), decoder="auto").collect()
        assert sorted(map(str, a)) == sorted(map(str, b))


class TestStreamCds:
    def test_streaming_ivm_equals_batch(self, spark):
        """Three real micro-batch triggers of incremental_cds_update
        reach EXACTLY the one-shot batch CDS (row set equality)."""
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_cds)
        from otd_semantic_framework_spark.plans.queries.stream import (
            q_stream_cds)
        stream_rows = {(r.subj_key, r.cds_concept, r.score)
                       for r in q_stream_cds(spark, SF).collect()}
        batch_rows = {(r.subj_key, r.cds_concept, r.score)
                      for r in q_kg_cds(spark, SF).collect()}
        assert stream_rows == batch_rows
        assert len(stream_rows) > 0

    def test_no_micro_batch_is_a_named_error(self, spark, monkeypatch):
        """An empty canonical-link table still stages one (empty) parquet
        file, so one micro-batch fires and the CDS comes back empty.
        When no micro-batch fires at all (simulated by dropping the
        foreachBatch callback) the query raises a named RuntimeError
        instead of the opaque TypeError of spark.read.parquet(None)."""
        from pyspark.sql.streaming import DataStreamWriter

        from otd_semantic_framework_spark.plans.queries import kg1
        from otd_semantic_framework_spark.plans.queries.stream import (
            q_stream_cds)
        empty = spark.createDataFrame(
            [], "conv_id string, turn_idx int, concept_id string, "
                "link_score double")
        monkeypatch.setattr(kg1, "q_kg_canonical", lambda *_: empty)
        assert q_stream_cds(spark, SF).count() == 0
        for_each = DataStreamWriter.foreachBatch
        monkeypatch.setattr(DataStreamWriter, "foreachBatch",
                            lambda self, _fn: for_each(self, lambda *_: None))
        with pytest.raises(RuntimeError,
                           match="stream_cds: no micro-batches fired"):
            q_stream_cds(spark, SF)
