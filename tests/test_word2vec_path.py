"""VERDICT r3 item 4 — the flagged corpus-trained Word2Vec path
(operators/embed.py:train_word2vec), run END-TO-END as a linking
pipeline for the first time: train on the fixture corpus, embed
concepts and mentions with the SAME trained token table, link by
cosine top-1, and score P/R against the hash-embedding canonical
goldens.

Determinism caveat (SURVEY.md §7 risk 2, embed.py module docstring):
MLlib Word2Vec negative sampling is parallelism-sensitive, so trained
VECTORS are not bit-stable across cluster layouts. The quality band
asserted here does not depend on the vectors' values: a mention whose
surface IS a concept's normalized pref label mean-pools the identical
token vectors as the concept itself, so its cosine against that
concept is exactly 1.0 (the maximum) WHATEVER the training produced —
top-1 must recover the concept unless two concepts' label token
multisets collide (the fixture ontology has none). Synonym/alt-label
surfaces depend on corpus co-occurrence and are reported, not gated.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from otd_semantic_framework_spark import semantics as S
from otd_semantic_framework_spark.operators.embed import (
    mention_embeddings, train_word2vec)
from otd_semantic_framework_spark.operators.evaluate import precision_recall
from otd_semantic_framework_spark.operators.linking import (
    OntologySetup, canonicalize, link_candidates_broadcast)
from otd_semantic_framework_spark.operators.mentions import (
    detect_mentions_exploded)
from otd_semantic_framework_spark.operators.normalize import normalize_turns
from otd_semantic_framework_spark.operators.wup import concept_similarity
from otd_semantic_framework_spark.sources.fixtures import (
    ontology_pandas, ontology_spark, transcripts_spark_df)

DIM = 32


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def test_trained_word2vec_linking_quality(spark):
    corpus = transcripts_spark_df(spark, 60)
    model, vecs = train_word2vec(corpus, dim=DIM, min_count=1)

    # --- well-formed trained table -------------------------------------
    vp = vecs.toPandas()
    assert len(vp) > 50  # fixture vocabulary actually trained
    assert (vp["vector"].apply(len) == DIM).all()
    assert not vp["vector"].apply(
        lambda v: any(math.isnan(x) or math.isinf(x) for x in v)).any()

    gaz = S.build_gazetteer(S.build_ontology())
    mentions = detect_mentions_exploded(
        normalize_turns(corpus), gaz).cache()
    assert mentions.count() > 100

    # --- trained-path embeddings (distributed mean-pool + renorm) ------
    memb = mention_embeddings(mentions, vecs, dim=DIM)
    norms = memb.select(
        F.sqrt(_dot("embedding", "embedding")).alias("n")).collect()
    assert all(abs(r.n - 1.0) < 1e-3 or r.n == 0.0 for r in norms)

    onto = ontology_pandas()
    concept_rows = [(i, S.normalize_text(lbl), cid) for i, (cid, lbl)
                    in enumerate(zip(onto["concept_id"], onto["pref_label"]))]
    cdf = spark.createDataFrame(
        concept_rows, "mention_id long, surface string, concept_id string")
    cemb = (mention_embeddings(cdf, vecs, dim=DIM)
            .join(cdf.select("mention_id", "concept_id"), "mention_id")
            .select(F.col("concept_id").alias("cand_cid"),
                    F.col("embedding").alias("cvec")))

    # --- cosine top-1 link per mention (broadcast the tiny ontology) ---
    w = Window.partitionBy("mention_id").orderBy(
        F.desc("cos"), F.asc("cand_cid"))
    trained_links = (
        memb.crossJoin(F.broadcast(cemb))
        .withColumn("cos", _dot("embedding", "cvec"))
        .withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("cos") > 0.0))
        .select("mention_id", F.col("cand_cid").alias("concept_id")))

    # --- hash-embedding canonical goldens -------------------------------
    golden = (canonicalize(
        link_candidates_broadcast(mentions, OntologySetup(onto).scores),
        concept_similarity(ontology_spark(spark)))
        .select("mention_id", "concept_id"))

    def as_triples(df):
        return df.select(
            F.col("mention_id").cast("string").alias("subj"),
            F.lit("links_to").alias("pred"),
            F.col("concept_id").alias("obj"))

    # exact-pref-label subset: trained top-1 MUST recover the concept
    exact_surfaces = {S.normalize_text(l) for l in onto["pref_label"]}
    exact_ids = (mentions.filter(F.col("surface").isin(*exact_surfaces))
                 .select("mention_id"))
    pr_exact = precision_recall(
        as_triples(trained_links.join(exact_ids, "mention_id")),
        as_triples(golden.join(exact_ids, "mention_id")))
    assert pr_exact["precision"] >= 0.9 and pr_exact["recall"] >= 0.9, pr_exact

    # whole-vocabulary P/R (synonym surfaces included): reported for the
    # record; trained-vector geometry on a 60-conv synthetic corpus is
    # too noisy to gate — exact equality is explicitly NOT required.
    pr_all = precision_recall(as_triples(trained_links), as_triples(golden))
    print(f"trained-w2v linking P/R vs hash goldens: exact-label "
          f"P={pr_exact['precision']:.3f} R={pr_exact['recall']:.3f}; "
          f"all-surfaces P={pr_all['precision']:.3f} "
          f"R={pr_all['recall']:.3f}")
    assert pr_all["tp"] > 0
    mentions.unpersist()
