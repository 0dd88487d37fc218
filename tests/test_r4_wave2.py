"""Late-r4 wave-2 operators: CCNet-style boilerplate-segment removal,
bounded-round k-core peeling, vocabulary build with cumulative
coverage, and the cross-source shingle-overlap matrix.

All four are oracle-paired in the driver registry; these tests pin the
semantic invariants the hash comparison alone can't state (both
branches exercised, fixpoint reached, monotonicity, bounds).
"""
from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


class TestBoilerplate:
    def test_both_branches_and_reassembly(self, spark):
        from otd_semantic_framework_spark.operators.dedup import (
            boilerplate_segments)
        from otd_semantic_framework_spark.plans.queries._shared import (
            BOILER_DF_CAP, BOILER_SEG_WORDS)
        docs = _docs(spark)
        out = boilerplate_segments(docs, seg_words=BOILER_SEG_WORDS,
                                   df_cap=BOILER_DF_CAP).cache()
        # id spine preserved
        assert out.count() == docs.count()
        dropped = out.where(F.col("n_dropped") > 0).count()
        intact = out.where(F.col("n_dropped") == 0).count()
        assert dropped > 0, "drop branch never fired"
        assert intact > 0, "keep branch never fired"
        # an untouched doc's cleaned text is exactly its normalized
        # token stream (lowercase, single-space re-join)
        joined = out.join(docs, "doc_id").where(F.col("n_dropped") == 0)
        mismatch = joined.where(
            F.col("clean_text") != F.concat_ws(
                " ", F.filter(F.split(F.lower(F.coalesce("text", F.lit(""))),
                                      r"\s+"),
                              lambda t: t != ""))).count()
        assert mismatch == 0
        # a doc that lost segments got strictly shorter
        bad = out.join(docs, "doc_id").where(
            (F.col("n_dropped") > 0)
            & (F.col("clean_chars") >= F.col("n_chars"))).count()
        assert bad == 0
        out.unpersist()

    def test_hot_set_is_broadcast(self, spark):
        """The boilerplate (df > cap) set must join as the broadcast
        side — the corpus-sized segment stream never shuffles for the
        anti join."""
        from otd_semantic_framework_spark.operators.dedup import (
            boilerplate_segments)
        plan = boilerplate_segments(_docs(spark))._jdf \
            .queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


class TestKCore:
    def test_fixpoint_and_degree_floor(self, spark):
        from otd_semantic_framework_spark.operators.graph import kcore_peel
        from otd_semantic_framework_spark.plans.queries._shared import (
            KCORE_K, KCORE_ROUNDS)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        tr = q_kg_triples(spark, SF).cache()
        at_r = kcore_peel(tr, k=KCORE_K, rounds=KCORE_ROUNDS).cache()
        one_more = kcore_peel(tr, k=KCORE_K, rounds=KCORE_ROUNDS + 1)
        # peeling reached fixpoint within the unrolled budget, so the
        # bounded answer IS the k-core, not an approximation
        assert at_r.exceptAll(one_more).count() == 0
        assert one_more.exceptAll(at_r).count() == 0
        # every survivor keeps >= k neighbors inside the core
        assert at_r.where(F.col("core_deg") < KCORE_K).count() == 0
        # peeling actually removed something, over more than one round
        first = kcore_peel(tr, k=KCORE_K, rounds=1)
        n_nodes = (tr.select(F.col("subj").alias("n"))
                   .union(tr.select("obj")).distinct().count())
        assert first.count() < n_nodes, "round 1 peeled nothing"
        assert at_r.count() < first.count(), "no multi-round cascade"
        at_r.unpersist()
        tr.unpersist()


class TestVocab:
    def test_rank_and_cumulative_share(self, spark):
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_vocab)
        rows = q_text_vocab(spark, SF).orderBy("rank").collect()
        assert rows, "empty vocabulary"
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        counts = [r.n for r in rows]
        assert counts == sorted(counts, reverse=True)
        shares = [r.cum_share_ppm for r in rows]
        assert shares == sorted(shares), "cumulative share not monotone"
        assert shares[-1] <= 1_000_000
        # this corpus's whole vocabulary fits in the top-200, so the
        # final cumulative share must be exactly 100% (floor division
        # reaches 1e6 only when cum == total)
        assert shares[-1] == 1_000_000


class TestSourceOverlap:
    def test_pair_bounds(self, spark):
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_source_overlap)
        out = q_text_source_overlap(spark, SF).cache()
        assert out.where(F.col("source_a") >= F.col("source_b")).count() == 0
        assert out.where(
            (F.col("jaccard_ppm") < 0)
            | (F.col("jaccard_ppm") > 1_000_000)).count() == 0
        assert out.where(
            F.col("n_common") > F.least("n_a", "n_b")).count() == 0
        # sf corpus sources share the same tiny vocabulary: overlap must
        # be non-trivial somewhere (the audit has signal, not all-zero)
        assert out.where(F.col("jaccard_ppm") > 0).count() > 0
        out.unpersist()


class TestAttrition:
    def test_funnel_conservation_and_all_rules_fire(self, spark):
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_attrition)
        rows = {r.stage: r for r in
                q_curation_attrition(spark, SF).collect()}
        assert set(rows) == {1, 2, 3, 4, 5}
        docs = _docs(spark).count()
        assert rows[1].n_in == docs
        # funnel conservation: each stage's survivors feed the next
        for s in (1, 2, 3, 4):
            assert rows[s].n_out == rows[s].n_in - rows[s].n_dropped
            assert rows[s + 1].n_in == rows[s].n_out
        # every rule drops at least one doc on this corpus, and some
        # documents survive the whole funnel — all five branches real
        for s in (1, 2, 3, 4):
            assert rows[s].n_dropped > 0, f"rule {s} never fired"
        assert rows[5].n_in > 0 and rows[5].n_dropped == 0
        # a document is charged to exactly one rule
        assert (sum(rows[s].n_dropped for s in (1, 2, 3, 4))
                + rows[5].n_in) == docs

    def test_single_pass_shape(self, spark):
        """The funnel is one grouping-free Aggregate over the signal
        pass — no joins after the signals, no windows anywhere."""
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_attrition)
        plan = (q_curation_attrition(spark, SF)
                ._jdf.queryExecution().optimizedPlan().toString())
        assert "Window" not in plan


class TestKMeansExact:
    def test_partitioning_invariance_and_improvement(self, spark):
        from otd_semantic_framework_spark.operators.simsearch import (
            kmeans_lloyd_exact, quantize_embeddings)
        from otd_semantic_framework_spark.plans.queries._shared import (
            KMEANS_ITERS, KMEANS_K)
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        qz = quantize_embeddings(e)
        out = kmeans_lloyd_exact(qz, k=KMEANS_K, iters=KMEANS_ITERS).cache()
        # one cluster per vector, ids in [1, k]
        assert out.count() == e.count()
        assert out.where((F.col("cluster") < 1)
                         | (F.col("cluster") > KMEANS_K)).count() == 0
        # bit-identical under a different partitioning — the property
        # the flagged MLlib path does NOT have
        re = kmeans_lloyd_exact(qz.repartition(13), k=KMEANS_K,
                                iters=KMEANS_ITERS)
        assert out.exceptAll(re).count() == 0
        assert re.exceptAll(out).count() == 0
        # Lloyd updates improved (or held) total distortion vs assigning
        # straight to the seed centroids
        seed_only = kmeans_lloyd_exact(qz, k=KMEANS_K, iters=0)
        d0 = seed_only.agg(F.sum("sq_dist")).first()[0]
        d2 = out.agg(F.sum("sq_dist")).first()[0]
        assert d2 <= d0
        # clustering is non-trivial: more than one cluster in use
        assert out.select("cluster").distinct().count() > 1
        out.unpersist()


class TestChunks:
    def test_coverage_overlap_and_tail(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            CHUNK_STRIDE, CHUNK_TOKENS)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_chunks)
        out = q_curation_chunks(spark, SF).cache()
        # stride/width invariants: chunk c covers [c*stride+1,
        # min(c*stride+width, n)] and spans are never empty
        bad = out.where(
            (F.col("tok_from") != F.col("chunk_idx") * CHUNK_STRIDE + 1)
            | (F.col("tok_to") < F.col("tok_from"))
            | (F.col("tok_to") - F.col("tok_from") + 1 > CHUNK_TOKENS)
        ).count()
        assert bad == 0
        # the chunk text has exactly (tok_to - tok_from + 1) tokens
        assert out.where(
            F.size(F.split("chunk", r"\s+"))
            != F.col("tok_to") - F.col("tok_from") + 1).count() == 0
        # full coverage: consecutive chunks leave no gap (next chunk
        # starts within the previous one's span + 1)
        per_doc = (out.groupBy("doc_id")
                   .agg(F.max("chunk_idx").alias("mx"),
                        F.count(F.lit(1)).alias("nc")))
        assert per_doc.where(F.col("nc") != F.col("mx") + 1).count() == 0
        assert CHUNK_STRIDE < CHUNK_TOKENS  # overlap actually configured
        # both shapes exist on this corpus: single-chunk short docs and
        # multi-chunk docs with a short tail
        assert per_doc.where(F.col("nc") == 1).count() > 0
        tails = out.join(per_doc, "doc_id").where(
            (F.col("chunk_idx") == F.col("mx")) & (F.col("mx") > 0)
            & (F.col("tok_to") - F.col("tok_from") + 1 < CHUNK_TOKENS))
        assert tails.count() > 0
        out.unpersist()

    def test_map_only_plan(self, spark):
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_chunks)
        plan = (q_curation_chunks(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan, "chunking must not shuffle"


class TestPhash:
    def test_identical_payloads_collide_and_chunks_bounded(self, spark):
        from otd_semantic_framework_spark.operators.dedup import (
            simhash_near_pairs_chunks)
        from otd_semantic_framework_spark.operators.multimodal import (
            phash_media)
        rows = [(1, bytearray(b"same payload")),
                (2, bytearray(b"same payload")),
                (3, bytearray(b"a completely different thing"))]
        media = spark.createDataFrame(rows, "doc_id long, payload binary")
        ch = phash_media(media).cache()
        assert ch.count() == 3
        for i in range(4):
            assert ch.where((F.col(f"c{i}") < 0)
                            | (F.col(f"c{i}") > 65535)).count() == 0
        pairs = {(r.doc_a, r.doc_b, r.hamming)
                 for r in simhash_near_pairs_chunks(ch, max_hamming=8)
                 .collect()}
        # identical payloads -> identical pHash -> hamming 0; the
        # unrelated payload must not sneak under a tight threshold
        assert (1, 2, 0) in pairs
        assert all(p[:2] == (1, 2) for p in pairs)
        ch.unpersist()

    def test_query_no_all_pairs(self, spark):
        """Candidate generation must be the chunk equi-join, never a
        cartesian product over the media table."""
        from otd_semantic_framework_spark.plans.queries.multimodal import (
            q_multimodal_phash)
        plan = (q_multimodal_phash(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestWave2Properties:
    """Cross-operator invariants on a constructed corpus (hypothesis
    over Spark jobs is prohibitively slow; a deterministic adversarial
    corpus pins the same properties)."""

    def _corpus(self, spark):
        rows = [
            (100, "alpha beta gamma delta " * 10, "en", "s0", 0),
            (101, "alpha beta gamma delta " * 10, "en", "s1", 0),  # dup
            (102, "x", "en", "s0", 0),                 # single token
            (103, "", "en", "s0", 0),                  # empty
            (104, None, "en", "s0", 0),                # NULL text
            (105, "uno dos tres cuatro cinco seis", "es", "s1", 0),
            (106, " ".join(f"w{i}" for i in range(100)), "en", "s0", 0),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
                  " n_chars int")

    def test_chunking_reconstructs_every_token(self, spark):
        """Stride-concatenation of chunk prefixes reproduces the doc:
        tokens [c*stride+1, next start) of each chunk, plus the final
        chunk's tail, exactly rebuild the token stream."""
        from otd_semantic_framework_spark.operators.curation import (
            chunk_documents)
        out = chunk_documents(self._corpus(spark), chunk_tokens=8,
                              stride=5)
        per_doc = {}
        for r in out.collect():
            per_doc.setdefault(r.doc_id, []).append(r)
        docs = {r.doc_id: r.text for r in self._corpus(spark).collect()}
        for doc_id, chunks in per_doc.items():
            chunks.sort(key=lambda r: r.chunk_idx)
            toks = []
            for i, r in enumerate(chunks):
                ct = r.chunk.split(" ")
                take = 5 if i < len(chunks) - 1 else len(ct)
                toks.extend(ct[:take])
            expect = [t for t in (docs[doc_id] or "").lower().split()
                      if t]
            assert toks == expect, f"doc {doc_id} not reconstructed"
        # empty/NULL docs yield no chunks
        assert 103 not in per_doc and 104 not in per_doc

    def test_boilerplate_caps(self, spark):
        """df_cap above the corpus size is the identity (nothing can
        exceed it); df_cap=0 drops every non-empty segment."""
        from otd_semantic_framework_spark.operators.dedup import (
            boilerplate_segments)
        corpus = self._corpus(spark)
        keep_all = boilerplate_segments(corpus, seg_words=3, df_cap=10**9)
        assert keep_all.where(F.col("n_dropped") > 0).count() == 0
        drop_all = boilerplate_segments(corpus, seg_words=3, df_cap=0)
        assert drop_all.where(
            (F.col("n_segs") > 0)
            & (F.col("n_dropped") != F.col("n_segs"))).count() == 0
        assert drop_all.where(F.col("clean_text") != "").count() == 0

    def test_attrition_rule_order_is_first_fail(self, spark):
        """A doc failing BOTH language and diversity is charged to
        language (the earlier rule), never double-counted."""
        from otd_semantic_framework_spark.operators.curation import (
            filter_attrition)
        # 105 fails language; 100/101 fail diversity (4 types / 40
        # tokens); 102/103/104 fail min_tokens; 106 survives
        rows = {r.rule: r for r in filter_attrition(
            self._corpus(spark), min_tokens=5, allowed_lang="en",
            max_tok_share_ppm=500_000, min_ttr_ppm=300_000).collect()}
        assert rows["min_tokens"].n_dropped == 3
        assert rows["language"].n_dropped == 1
        assert rows["diversity"].n_dropped == 2
        assert rows["survived"].n_in == 1


class TestStreamAttrition:
    def test_micro_batch_deltas_sum_to_batch_funnel(self, spark):
        """The streamed funnel equals the one-shot batch funnel row for
        row — and the stream really ran as multiple micro-batches (the
        additivity claim is vacuous on a single batch)."""
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_attrition)
        from otd_semantic_framework_spark.plans.queries.stream import (
            q_stream_attrition)
        import os, tempfile
        streamed = q_stream_attrition(spark, SF)
        batch = q_curation_attrition(spark, SF)
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0
        sfx = f"{os.path.basename(SF)}_{os.getpid()}"
        sink = os.path.join(tempfile.gettempdir(),
                            f"stream_attr_{sfx}.parquet")
        deltas = spark.read.parquet(sink)
        assert deltas.count() >= 2, "stream collapsed to one batch"


class TestStreamUpsert:
    def test_merge_is_order_independent_and_idempotent(self, spark, tmp_path):
        """upsert_latest decides by the version column: applying the
        same batches in reverse order, or re-applying a batch, yields
        the identical table."""
        from otd_semantic_framework_spark.sources.storage import Storage
        rows = [(1, 0, "a0"), (2, 0, "b0"), (3, 0, "c0")]
        upd1 = [(1, 1, "a1"), (2, 1, "b1")]
        upd2 = [(1, 2, "a2")]
        schema = "k long, ver long, payload string"

        def build(order, root):
            st = Storage(str(root))
            for batch in order:
                st.upsert_latest(spark, "t",
                                 spark.createDataFrame(batch, schema),
                                 key_cols=["k"], ver_col="ver")
            return {(r.k, r.ver, r.payload)
                    for r in st.read_table(spark, "t").collect()}

        fwd = build([rows, upd1, upd2], tmp_path / "fwd")
        rev = build([upd2, upd1, rows], tmp_path / "rev")
        dup = build([rows, upd1, upd2, upd1], tmp_path / "dup")
        expect = {(1, 2, "a2"), (2, 1, "b1"), (3, 0, "c0")}
        assert fwd == rev == dup == expect


class TestZipfAndKAnon:
    def test_zipf_fit_shape(self, spark):
        from otd_semantic_framework_spark.plans.queries.text import q_text_zipf
        r = q_text_zipf(spark, SF).first()
        assert r.n_points > 2
        # frequencies are non-increasing in rank, so the fitted slope
        # cannot be positive, and R^2 is a valid share
        assert r.zipf_slope <= 0.0
        assert 0.0 <= r.zipf_r2 <= 1.0

    def test_kanon_accounting(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import KANON_K
        from otd_semantic_framework_spark.plans.queries.rel1 import q_rel_kanon
        out = q_rel_kanon(spark, SF).cache()
        docs = _docs(spark).count()
        assert out.agg(F.sum("n")).first()[0] == docs
        assert out.where(
            F.col("is_risky") != (F.col("n") < KANON_K)).count() == 0
        risky_docs = (out.where("is_risky").agg(F.sum("n")).first()[0]
                      or 0)
        share = out.select("risky_share_ppm").distinct().collect()
        assert len(share) == 1
        assert share[0][0] == risky_docs * 1_000_000 // docs
        out.unpersist()
