"""Driver queries: `kg` domain (part 2)."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ... import semantics as S
from ..driver_ontology import driver_ancestors, driver_gazetteer, driver_scores, driver_wup, values_sql


from ._shared import *  # noqa: F401,F403


def _sql_kg_entity_salience() -> str:
    from ...operators.construct import SALIENCE_TOP_K
    return f"""
WITH {_MENTIONS_CTE},
conv_len AS (
  SELECT conv_id, count(*) AS conv_len FROM transcripts GROUP BY 1),
per AS (
  SELECT conv_id, concept_id, count(*) AS n_mentions,
         count(DISTINCT turn_idx) AS n_turns, min(turn_idx) AS first_turn
  FROM mentions GROUP BY 1, 2),
scored AS (
  SELECT p.conv_id, p.concept_id, p.n_mentions, p.n_turns, p.first_turn,
         500000 * p.n_turns // c.conv_len
           + 500000 // (1 + p.first_turn) AS salience_ppm
  FROM per p JOIN conv_len c USING (conv_id)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id
             ORDER BY salience_ppm DESC, concept_id ASC) AS rank
  FROM scored)
SELECT conv_id, concept_id, CAST(n_mentions AS BIGINT) AS n_mentions,
       CAST(n_turns AS BIGINT) AS n_turns,
       CAST(first_turn AS BIGINT) AS first_turn,
       CAST(salience_ppm AS BIGINT) AS salience_ppm,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {SALIENCE_TOP_K}
"""


def q_kg_turn_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-level novelty: distinct concepts per turn, first
    introductions, running distinct-concept count, exact novelty ratio
    — the new-information-rate curve an incremental KG builder reads.
    All windows partitioned by (conv) or (conv, concept)."""
    from ...operators.construct import turn_novelty
    return turn_novelty(
        _mentions_df(spark, sf_dir).select("conv_id", "turn_idx",
                                           "concept_id"))


SQL_KG_TURN_NOVELTY = f"""
WITH {_MENTIONS_CTE},
cm AS (SELECT DISTINCT conv_id, turn_idx, concept_id FROM mentions),
flagged AS (
  SELECT conv_id, turn_idx,
         CASE WHEN row_number() OVER (PARTITION BY conv_id, concept_id
              ORDER BY turn_idx) = 1 THEN 1 ELSE 0 END AS is_new
  FROM cm),
per_turn AS (
  SELECT conv_id, turn_idx, count(*) AS n_concepts, sum(is_new) AS n_new
  FROM flagged GROUP BY 1, 2)
SELECT conv_id, turn_idx, CAST(n_concepts AS BIGINT) AS n_concepts,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(sum(n_new) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_concepts,
       CAST(n_new * 1000000 // n_concepts AS BIGINT) AS novelty_ppm
FROM per_turn
"""


def q_kg_alias_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-linking alias dictionary: per corpus surface form —
    mention frequency, candidate fan-out, best candidate, best-vs-
    runner-up margin (half-up ppm), ambiguity flag. Candidate ranking
    windows over the broadcast-sized score table only."""
    from ...operators.construct import alias_table
    return alias_table(_mentions_df(spark, sf_dir), _scores_df(spark))


def _sql_kg_alias_table() -> str:
    from ...operators.construct import ALIAS_AMBIGUITY_MARGIN_PPM
    sc = values_sql(driver_scores().round({"cos_sim": 6}), "s")
    return f"""
WITH {_MENTIONS_CTE},
freq AS (
  SELECT surface, count(*) AS n_mentions FROM mentions GROUP BY 1),
ranked AS (
  SELECT surface, concept_id,
         CAST(floor(cos_sim * 1000000 + 0.5) AS BIGINT) AS cos_ppm,
         row_number() OVER (PARTITION BY surface
                            ORDER BY cos_sim DESC, concept_id ASC) AS rn
  FROM {sc}),
n_cand AS (SELECT surface, count(*) AS n_candidates FROM ranked GROUP BY 1),
prof AS (
  SELECT b.surface, b.concept_id AS best_concept,
         b.cos_ppm AS best_cos_ppm,
         b.cos_ppm - coalesce(s2.cos_ppm, 0) AS margin_ppm
  FROM (SELECT * FROM ranked WHERE rn = 1) b
  LEFT JOIN (SELECT * FROM ranked WHERE rn = 2) s2 USING (surface))
SELECT f.surface, CAST(f.n_mentions AS BIGINT) AS n_mentions,
       CAST(n.n_candidates AS BIGINT) AS n_candidates,
       p.best_concept, p.best_cos_ppm,
       CAST(p.margin_ppm AS BIGINT) AS margin_ppm,
       CAST(CASE WHEN p.margin_ppm < {ALIAS_AMBIGUITY_MARGIN_PPM}
            THEN 1 ELSE 0 END AS INT) AS is_ambiguous
FROM freq f JOIN prof p USING (surface) JOIN n_cand n USING (surface)
"""


def q_kg_transe_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransE-style triple plausibility evaluation [K: Bordes 2013]
    over the extracted graph with deterministic hash-initialized
    fixed-point embeddings (operators/kgembed.py) — per-predicate true
    vs corrupted-tail L1 scores, strict-win rate, margin sum. Map-only
    scoring + one predicate-keyed hash agg; exact integers end to
    end."""
    from ...operators.kgembed import transe_margins
    return transe_margins(
        q_kg_triples(spark, sf_dir).select("subj", "pred", "obj"))


def _sql_kg_transe_score() -> str:
    from ...operators.kgembed import TRANSE_DIM

    def comp(key: str, j: int) -> str:
        p1, p2 = 2 * j + 1, 2 * j + 2
        return (f"((strpos('0123456789abcdef', substr(md5({key}), {p1}, 1))"
                f" - 1) * 16"
                f" + strpos('0123456789abcdef', substr(md5({key}), {p2}, 1))"
                f" - 1 - 128)")

    def l1(tail_key: str) -> str:
        return " + ".join(
            f"abs({comp('h_key', j)} + {comp('r_key', j)}"
            f" - {comp(tail_key, j)})"
            for j in range(TRANSE_DIM))

    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
keyed AS (
  SELECT pred, 'ent:' || subj AS h_key, 'rel:' || pred AS r_key,
         'ent:' || obj AS t_key,
         'corrupt:' || subj || pred || obj AS c_key
  FROM (SELECT DISTINCT subj, pred, obj FROM triples)),
scored AS (
  SELECT pred, {l1('t_key')} AS true_score, {l1('c_key')} AS corrupt_score
  FROM keyed)
SELECT pred, CAST(count(*) AS BIGINT) AS n_triples,
       CAST(sum(true_score) AS BIGINT) AS sum_true_score,
       CAST(sum(corrupt_score) AS BIGINT) AS sum_corrupt_score,
       CAST(sum(CASE WHEN true_score < corrupt_score THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true_better,
       CAST(sum(CASE WHEN true_score < corrupt_score THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS hits_ppm,
       CAST(sum(corrupt_score - true_score) AS BIGINT) AS margin_sum
FROM scored GROUP BY pred
"""


# ---------------------------------------------------------------------------
# Wave 13: rule mining, completeness estimation, the conflict queue,
# and the dedup savings report.
# ---------------------------------------------------------------------------

def q_kg_rule_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-lite horn-rule mining [K: Galárraga 2013] over the
    extracted graph: 2-atom forward chains p(x,y) ∧ q(y,z) ⇒ r(x,z)
    with support and standard confidence (exact ppm), middle nodes
    hub-capped (cap-as-semantics, replayed by the oracle). Discovers
    e.g. "a reply stays on topic" (replies_to ∧ mentions ⇒ mentions)
    from the triples alone."""
    from ...operators.construct import mine_rules
    return mine_rules(q_kg_triples(spark, sf_dir).select(
        "subj", "pred", "obj"))


def _sql_kg_rule_mining() -> str:
    from ...operators.construct import RULE_HUB_CAP, RULE_MIN_SUPPORT
    return f"""
WITH triples AS MATERIALIZED (
  SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_body()})),
deg AS (
  SELECT n, count(*) AS deg FROM (
    SELECT subj AS n FROM triples UNION ALL SELECT obj AS n FROM triples)
  GROUP BY 1),
mid AS (SELECT n FROM deg WHERE deg <= {RULE_HUB_CAP}),
body AS (
  SELECT DISTINCT t1.pred AS p, t2.pred AS q, t1.subj AS x, t2.obj AS z
  FROM triples t1
  JOIN mid m ON m.n = t1.obj
  JOIN triples t2 ON t2.subj = t1.obj
  WHERE t1.subj <> t2.obj),
body_count AS (SELECT p, q, count(*) AS n_body FROM body GROUP BY 1, 2),
support AS (
  SELECT b.p, b.q, h.pred AS r, count(*) AS support
  FROM body b JOIN triples h ON h.subj = b.x AND h.obj = b.z
  GROUP BY 1, 2, 3)
SELECT s.p AS body_p, s.q AS body_q, s.r AS head_r,
       CAST(s.support AS BIGINT) AS support,
       CAST(c.n_body AS BIGINT) AS n_body,
       CAST(s.support * 1000000 // c.n_body AS BIGINT) AS conf_ppm
FROM support s JOIN body_count c ON c.p = s.p AND c.q = s.q
WHERE s.support >= {RULE_MIN_SUPPORT}
"""


def q_kg_completeness_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KB completeness via capture-recapture [K: Lincoln-Petersen;
    Razniewski et al. apply it to KB recall]: user turns and assistant
    turns as two independent observers of the (conv discusses concept)
    fact space; their overlap estimates the unobserved remainder. One
    summary row, exact integers."""
    from ...operators.construct import estimate_completeness
    t = derived_transcripts(spark, sf_dir)
    gaz = _gaz_df(spark)
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    obs = (t.join(F.broadcast(gaz),
                  padded.contains(F.concat(F.lit(" "), gaz.surface,
                                           F.lit(" "))), "inner")
           .select("conv_id", "concept_id", "role"))
    return estimate_completeness(obs)


SQL_KG_COMPLETENESS_EST = f"""
WITH transcripts AS ({TRANSCRIPTS_CTE}),
obs AS (
  SELECT t.conv_id, g.concept_id, t.role
  FROM transcripts t JOIN {_gaz_values()} ON
    (' ' || t.text || ' ') LIKE ('% ' || g.surface || ' %')
),
per_fact AS (
  SELECT conv_id, concept_id,
         max(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS saw_user,
         max(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS saw_asst
  FROM obs GROUP BY 1, 2),
agg AS (
  SELECT CAST(sum(saw_user) AS BIGINT) AS n_user,
         CAST(sum(saw_asst) AS BIGINT) AS n_assistant,
         CAST(sum(saw_user * saw_asst) AS BIGINT) AS n_overlap,
         CAST(count(*) AS BIGINT) AS n_observed
  FROM per_fact)
SELECT n_user, n_assistant, n_overlap, n_observed,
       CAST(CASE WHEN n_overlap > 0
            THEN n_user * n_assistant // n_overlap END AS BIGINT)
         AS est_total,
       CAST(CASE WHEN n_overlap > 0
                  AND n_user * n_assistant // n_overlap > 0
            THEN n_observed * 1000000 //
                 (n_user * n_assistant // n_overlap) END AS BIGINT)
         AS coverage_ppm
FROM agg
"""


def q_kg_fact_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conflict-resolution queue for the conversation-level uses_tool
    predicate (functional at conv granularity by policy): convs using
    multiple tools, per-tool support/share, winner pick — the evidence
    list behind predicate_profile's violation COUNTS. Windows
    PARTITIONED BY subj."""
    from ...operators.construct import fact_conflicts
    facts = (q_kg_triples(spark, sf_dir)
             .filter(F.col("pred") == "uses_tool")
             .select(F.concat(F.lit("conv:"),
                              F.split(F.col("subj"), ":").getItem(1))
                      .alias("subj"),
                     F.col("obj")))
    return fact_conflicts(facts)


def _sql_kg_fact_conflicts() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
facts AS (
  SELECT 'conv:' || string_split(subj, ':')[2] AS subj, obj
  FROM triples WHERE pred = 'uses_tool'),
sup AS (SELECT subj, obj, count(*) AS support FROM facts GROUP BY 1, 2),
ranked AS (
  SELECT subj, obj, support,
         row_number() OVER (PARTITION BY subj
                            ORDER BY support DESC, obj ASC) AS rank,
         count(*) OVER (PARTITION BY subj) AS n_alternatives,
         sum(support) OVER (PARTITION BY subj) AS total_support
  FROM sup)
SELECT subj, obj, CAST(support AS BIGINT) AS support,
       CAST(n_alternatives AS BIGINT) AS n_alternatives,
       CAST(support * 1000000 // total_support AS BIGINT) AS share_ppm,
       CAST(CASE WHEN rank = 1 THEN 1 ELSE 0 END AS INT) AS is_winner,
       CAST(rank AS INT) AS rank
FROM ranked WHERE n_alternatives >= 2
"""


def q_kg_sparql_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION / MINUS / FILTER-regex in one algebra tree —
    the set-operator half of the SPARQL 1.1 surface (BGP/OPTIONAL/
    NOT-EXISTS/paths/aggregates/ASK/DESCRIBE/CONSTRUCT are covered by
    their own paired queries):

        SELECT ?t ?c ?src WHERE {
          { ?t <mentions> ?c }  UNION  { ?t <uses_tool> ?c }
          MINUS { ?t <replies_to> ?u }          # opening turns only
          FILTER regex(?c, '^(dq:B|tool:)')     # branch concepts/tools
        }

    Shape: two filtered projections UNION ALL'd, one left-anti join
    (MINUS on the shared binding), one JVM regex filter — no windows,
    no cross joins."""
    t = q_kg_triples(spark, sf_dir).select("subj", "pred", "obj")
    m = (t.filter(F.col("pred") == "mentions")
         .select(F.col("subj").alias("t"), F.col("obj").alias("c"),
                 F.lit("mentions").alias("src")))
    u = (t.filter(F.col("pred") == "uses_tool")
         .select(F.col("subj").alias("t"), F.col("obj").alias("c"),
                 F.lit("uses_tool").alias("src")))
    openers_minus = (t.filter(F.col("pred") == "replies_to")
                     .select(F.col("subj").alias("t")).distinct())
    return (m.unionByName(u)
            .filter(F.col("c").rlike("^(dq:B|tool:)"))
            .join(openers_minus, "t", "left_anti")
            .distinct())


def _sql_kg_sparql_setops() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
branches AS (
  SELECT subj AS t, obj AS c, 'mentions' AS src
  FROM triples WHERE pred = 'mentions'
  UNION ALL
  SELECT subj AS t, obj AS c, 'uses_tool' AS src
  FROM triples WHERE pred = 'uses_tool')
SELECT DISTINCT t, c, src
FROM branches b
WHERE regexp_matches(c, '^(dq:B|tool:)')
  AND NOT EXISTS (SELECT 1 FROM triples r
                  WHERE r.pred = 'replies_to' AND r.subj = b.t)
"""


def q_kg_reify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF reification of the extracted graph [K: rdf:Statement]:
    content-addressed statement IRIs + the four standard triples per
    fact — the provenance attachment point. Map-only."""
    from ...operators.construct import reify_triples
    return reify_triples(q_kg_triples(spark, sf_dir).select(
        "subj", "pred", "obj"))


def _sql_kg_reify() -> str:
    return f"""
WITH triples AS (
  SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_body()})),
stmt AS (
  SELECT 'stmt:' || substr(md5(subj || '#' || pred || '#' || obj), 1, 16)
           AS stmt,
         subj, pred, obj
  FROM triples)
SELECT stmt AS subj, 'rdf:type' AS pred, 'rdf:Statement' AS obj FROM stmt
UNION ALL
SELECT stmt, 'rdf:subject', subj FROM stmt
UNION ALL
SELECT stmt, 'rdf:predicate', pred FROM stmt
UNION ALL
SELECT stmt, 'rdf:object', obj FROM stmt
"""


def q_kg_void_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID self-description of the extracted graph [K: W3C VoID]:
    dataset-level triple/subject/object/property counts plus one
    property partition per predicate, emitted as triples. One global
    distinct agg + one predicate-keyed hash agg."""
    from ...operators.construct import void_description
    return void_description(q_kg_triples(spark, sf_dir).select(
        "subj", "pred", "obj"))


def _sql_kg_void_stats() -> str:
    return f"""
WITH triples AS MATERIALIZED (
  SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_body()})),
g AS (
  SELECT count(*) AS n_triples, count(DISTINCT subj) AS n_subj,
         count(DISTINCT obj) AS n_obj, count(DISTINCT pred) AS n_pred
  FROM triples),
pp AS (SELECT pred, count(*) AS n FROM triples GROUP BY 1)
SELECT 'dataset:kg' AS subj, 'rdf:type' AS pred, 'void:Dataset' AS obj
FROM g
UNION ALL
SELECT 'dataset:kg', 'void:triples', CAST(n_triples AS VARCHAR) FROM g
UNION ALL
SELECT 'dataset:kg', 'void:distinctSubjects', CAST(n_subj AS VARCHAR) FROM g
UNION ALL
SELECT 'dataset:kg', 'void:distinctObjects', CAST(n_obj AS VARCHAR) FROM g
UNION ALL
SELECT 'dataset:kg', 'void:properties', CAST(n_pred AS VARCHAR) FROM g
UNION ALL
SELECT 'dataset:kg' || '#' || pred, 'void:property', pred FROM pp
UNION ALL
SELECT 'dataset:kg' || '#' || pred, 'void:triples', CAST(n AS VARCHAR) FROM pp
UNION ALL
SELECT 'dataset:kg', 'void:propertyPartition', 'dataset:kg' || '#' || pred
FROM pp
"""


# ---------------------------------------------------------------------------
# wave 15: robust outliers, sequential patterns, token-budgeted mixture,
# closeness centrality over the concept co-occurrence projection
# ---------------------------------------------------------------------------

#: rel_seq_patterns: minimum support for a reported trigram
def q_kg_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness + harmonic centrality of concepts over the
    co-occurrence projection (operators/graph.cooccurrence_edges →
    closeness_centrality): which concepts sit nearest the center of
    what the corpus talks about. The projection join is the
    distributed stage (keyed by conv_id); the all-pairs bounded BFS
    runs on the ontology-sized edge list. Oracle recomputes min
    distance as a depth-bounded recursive CTE."""
    from ...operators.graph import closeness_centrality, cooccurrence_edges
    edges = cooccurrence_edges(_mentions_df(spark, sf_dir),
                               min_convs=CLOSENESS_MIN_CONVS)
    return closeness_centrality(edges, max_hops=CLOSENESS_MAX_HOPS)


SQL_KG_CLOSENESS = f"""
WITH RECURSIVE {_MENTIONS_CTE},
cm AS (SELECT DISTINCT conv_id, concept_id FROM mentions),
edges AS (
  SELECT a.concept_id AS src, b.concept_id AS dst
  FROM cm a JOIN cm b USING (conv_id)
  WHERE a.concept_id <> b.concept_id
  GROUP BY 1, 2 HAVING count(*) >= {CLOSENESS_MIN_CONVS}),
nodes AS (SELECT DISTINCT src AS node FROM edges),
walk(bfs_src, node, d) AS (
  SELECT node, node, 0 FROM nodes
  UNION
  SELECT w.bfs_src, e.dst, w.d + 1
  FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.d < {CLOSENESS_MAX_HOPS}),
dist AS (SELECT bfs_src, node, min(d) AS d FROM walk GROUP BY 1, 2),
per AS (
  SELECT bfs_src AS node, count(*) AS n_reach, sum(d) AS sum_dist,
         sum(1000000 // d) AS harmonic_ppm
  FROM dist WHERE d > 0 GROUP BY 1)
SELECT n.node, CAST(coalesce(p.n_reach, 0) AS BIGINT) AS n_reach,
       CAST(coalesce(p.sum_dist, 0) AS BIGINT) AS sum_dist,
       CAST(CASE WHEN coalesce(p.sum_dist, 0) > 0
            THEN p.n_reach * 1000000 // p.sum_dist ELSE 0 END AS BIGINT)
         AS closeness_ppm,
       CAST(coalesce(p.harmonic_ppm, 0) AS BIGINT) AS harmonic_ppm
FROM nodes n LEFT JOIN per p USING (node)
"""


# ---------------------------------------------------------------------------
# wave 16: count-min sketch frequency estimation, recency-decayed CDS
# ---------------------------------------------------------------------------


def q_kg_decay_cds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed CDS: the conversation-level concept score where
    each canonical mention is discounted by how far it sits from the
    conversation's last turn (weight_ppm = 1e6 DIV (1 + age)) — the
    freshness-weighted variant of kg_cds for tagging what a LIVE
    conversation is about NOW rather than everything it ever touched.
    Exact integers: link_score enters as half-up ppm, the decay
    product is integer-divided back to ppm, max/count per (conv,
    concept). The last-turn window partitions by conv_id, so the
    per-conversation history is the task unit at any scale."""
    canon = q_kg_canonical(spark, sf_dir)
    w = Window.partitionBy("conv_id")
    x = (canon
         .withColumn("score_ppm", F.expr(
             "CAST(floor(link_score * 1000000 + 0.5) AS BIGINT)"))
         .withColumn("last_turn", F.max("turn_idx").over(w))
         .withColumn("dscore", F.expr(
             "(score_ppm * (1000000 DIV (1 + last_turn - turn_idx)))"
             " DIV 1000000")))
    return (x.groupBy(
        F.concat(F.lit("conv:"), F.col("conv_id")).alias("subj_key"),
        "concept_id")
        .agg(F.max("score_ppm").cast("long").alias("raw_ppm"),
             F.max("dscore").cast("long").alias("decayed_ppm"),
             F.count(F.lit(1)).cast("long").alias("n_mentions")))


def _sql_kg_decay_cds() -> str:
    return f"""
WITH canon AS ({_sql_kg_canonical_body()}),
x AS (
  SELECT conv_id, concept_id,
         CAST(floor(link_score * 1000000 + 0.5) AS BIGINT) AS score_ppm,
         (CAST(floor(link_score * 1000000 + 0.5) AS BIGINT)
          * (1000000 // (1 + max(turn_idx) OVER (PARTITION BY conv_id)
                         - turn_idx))) // 1000000 AS dscore
  FROM canon)
SELECT 'conv:' || conv_id AS subj_key, concept_id,
       CAST(max(score_ppm) AS BIGINT) AS raw_ppm,
       CAST(max(dscore) AS BIGINT) AS decayed_ppm,
       CAST(count(*) AS BIGINT) AS n_mentions
FROM x GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# wave 17: 2-D skyline (Pareto front) and predicate co-occurrence summary
# ---------------------------------------------------------------------------


def q_kg_pred_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate co-occurrence schema summary: for every unordered
    predicate pair, how many subjects carry BOTH (the LODStats-style
    'which properties travel together' profile), with exact-ppm
    Jaccard over the per-predicate subject sets. One subj-keyed
    self-join of the distinct (subj, pred) table — per-subject
    predicate sets are rule-bounded (3 predicates here), so the join
    fan-out is constant per subject at any corpus size."""
    sp = (q_kg_triples(spark, sf_dir)
          .select("subj", "pred").distinct())
    a = sp.alias("a")
    b = sp.alias("b")
    co = (a.join(b, "subj")
          .filter(F.col("a.pred") < F.col("b.pred"))
          .groupBy(F.col("a.pred").alias("pred_a"),
                   F.col("b.pred").alias("pred_b"))
          .agg(F.count(F.lit(1)).cast("long").alias("n_both")))
    per = sp.groupBy("pred").agg(F.count(F.lit(1)).alias("n_subj"))
    return (co
            .join(F.broadcast(per.select(F.col("pred").alias("pred_a"),
                                         F.col("n_subj").alias("n_a"))),
                  "pred_a")
            .join(F.broadcast(per.select(F.col("pred").alias("pred_b"),
                                         F.col("n_subj").alias("n_b"))),
                  "pred_b")
            .select("pred_a", "pred_b", "n_both",
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    F.expr("n_both * 1000000"
                           " DIV (n_a + n_b - n_both)").cast("long")
                    .alias("jaccard_ppm")))


def _sql_kg_pred_cooccur() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
sp AS (SELECT DISTINCT subj, pred FROM triples),
co AS (
  SELECT a.pred AS pred_a, b.pred AS pred_b, count(*) AS n_both
  FROM sp a JOIN sp b USING (subj)
  WHERE a.pred < b.pred
  GROUP BY 1, 2),
per AS (SELECT pred, count(*) AS n_subj FROM sp GROUP BY 1)
SELECT co.pred_a, co.pred_b, CAST(co.n_both AS BIGINT) AS n_both,
       CAST(pa.n_subj AS BIGINT) AS n_a,
       CAST(pb.n_subj AS BIGINT) AS n_b,
       CAST(co.n_both * 1000000
            // (pa.n_subj + pb.n_subj - co.n_both) AS BIGINT)
         AS jaccard_ppm
FROM co
JOIN per pa ON pa.pred = co.pred_a
JOIN per pb ON pb.pred = co.pred_b
"""


# ---------------------------------------------------------------------------
# Wave 18: histogram-sketch quantiles, collective entity linking,
# nearest-event temporal join.
# ---------------------------------------------------------------------------

def q_kg_collective_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collective entity disambiguation (document-coherence re-rank —
    the Cucerzan / Milne-Witten shape [K]): a candidate concept is
    scored by its TAXONOMY COHERENCE with the conversation's other
    top-1 links — the sum of Wu-Palmer similarity (exact-integer ppm)
    to every other mention's independent pick, its own contribution
    excluded — and the final pick maximizes (coherence, cos_sim,
    concept_id). An ambiguous surface is thus pulled toward the
    ontology branch the conversation is actually about instead of
    being linked in isolation. Shapes: the per-conversation concept
    profile is a two-level hash agg; both wup joins broadcast the
    O(|ontology|²) similarity table; the candidate × profile join keys
    on conv_id, whose fan-out is bounded by concepts-per-conversation
    (ontology-bounded) — the conversation is the task unit at any
    scale. ``changed`` marks mentions the context flipped.

    Candidate generation: the exact-match linker is single-point
    (driver_scores maps each surface to ONE concept at sim 1.0), so the
    candidate set is widened by taxonomy neighborhood — the gazetteer
    concept plus its top-(K-1) WuP-nearest concepts, each carrying its
    wup as the candidate prior (``sim_ppm``; the direct hit scores the
    full 10^6). This is the standard recall-widening move when the
    entity linker emits point estimates."""
    mentions = (_mentions_df(spark, sf_dir)
                .select("conv_id", "turn_idx", "surface",
                        F.col("concept_id").alias("base_concept"))
                .distinct())
    wupp = _wup_df(spark).select(
        "concept_a", "concept_b",
        F.round(F.col("wup") * 1_000_000).cast("long").alias("wup_ppm"))
    wk = Window.partitionBy("concept_a").orderBy(
        F.desc("wup_ppm"), F.asc("concept_b"))
    # wup(a,a)=1.0 ranks first, so self is always in the candidate set
    wupk = (wupp.withColumn("krnk", F.row_number().over(wk))
            .filter(F.col("krnk") <= COLLECTIVE_TOP_K))
    cands = (mentions
             .join(F.broadcast(wupk.select(
                 F.col("concept_a").alias("base_concept"),
                 F.col("concept_b").alias("concept_id"),
                 F.col("wup_ppm").alias("sim_ppm"))), "base_concept"))
    profile = (mentions.groupBy("conv_id", F.col("base_concept")
                                .alias("ctx_concept"))
               .agg(F.count(F.lit(1)).alias("n")))
    coh = (cands
           .join(profile, "conv_id")
           .join(F.broadcast(wupp),
                 (F.col("concept_id") == F.col("concept_a"))
                 & (F.col("ctx_concept") == F.col("concept_b")))
           .groupBy("conv_id", "turn_idx", "surface", "base_concept",
                    "concept_id", "sim_ppm")
           .agg(F.sum(F.col("n") * F.col("wup_ppm")).alias("coh_all")))
    own = wupp.select(F.col("concept_a").alias("concept_id"),
                      F.col("concept_b").alias("base_concept"),
                      F.col("wup_ppm").alias("own_ppm"))
    nm = mentions.groupBy("conv_id").agg(F.count(F.lit(1)).alias("nm"))
    scored = (coh
              .join(F.broadcast(own), ["concept_id", "base_concept"])
              .join(nm, "conv_id")
              .withColumn("vote", F.col("coh_all") - F.col("own_ppm"))
              .withColumn("coh_ppm", F.when(
                  F.col("nm") > 1,
                  F.expr("vote DIV (nm - 1)")).otherwise(F.lit(0)))
              .withColumn("score",
                          COLLECTIVE_W_PRIOR * F.col("sim_ppm")
                          + COLLECTIVE_W_CTX * F.col("coh_ppm")))
    w = Window.partitionBy("conv_id", "turn_idx", "surface").orderBy(
        F.desc("score"), F.desc("sim_ppm"), F.asc("concept_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("conv_id", "turn_idx", "surface", "concept_id",
                    F.col("sim_ppm").cast("long").alias("sim_ppm"),
                    F.col("coh_ppm").cast("long").alias("coh_ppm"),
                    F.col("score").cast("long").alias("score"),
                    (F.col("concept_id") != F.col("base_concept"))
                    .cast("long").alias("changed")))


def _sql_kg_collective_linking() -> str:
    wu = values_sql(driver_wup(), "w")
    return f"""
WITH {_MENTIONS_CTE},
m AS (
  SELECT DISTINCT conv_id, turn_idx, surface,
         concept_id AS base_concept
  FROM mentions),
wupp AS (
  SELECT concept_a, concept_b,
         CAST(round(wup * 1000000) AS BIGINT) AS wup_ppm
  FROM {wu}),
wupk AS (
  SELECT * FROM (
    SELECT concept_a, concept_b, wup_ppm,
           row_number() OVER (PARTITION BY concept_a
                              ORDER BY wup_ppm DESC, concept_b ASC) AS krnk
    FROM wupp)
  WHERE krnk <= {COLLECTIVE_TOP_K}),
cands AS (
  SELECT m.conv_id, m.turn_idx, m.surface, m.base_concept,
         k.concept_b AS concept_id, k.wup_ppm AS sim_ppm
  FROM m JOIN wupk k ON k.concept_a = m.base_concept),
profile AS (
  SELECT conv_id, base_concept AS ctx_concept, count(*) AS n
  FROM m GROUP BY 1, 2),
coh AS (
  SELECT c.conv_id, c.turn_idx, c.surface, c.base_concept,
         c.concept_id, c.sim_ppm,
         sum(p.n * w.wup_ppm) AS coh_all
  FROM cands c
  JOIN profile p ON p.conv_id = c.conv_id
  JOIN wupp w ON w.concept_a = c.concept_id
             AND w.concept_b = p.ctx_concept
  GROUP BY 1, 2, 3, 4, 5, 6),
nm AS (SELECT conv_id, count(*) AS nm FROM m GROUP BY 1),
scored AS (
  SELECT coh.*,
         CASE WHEN nm.nm > 1
              THEN (coh.coh_all - w2.wup_ppm) // (nm.nm - 1)
              ELSE 0 END AS coh_ppm
  FROM coh
  JOIN wupp w2 ON w2.concept_a = coh.concept_id
              AND w2.concept_b = coh.base_concept
  JOIN nm ON nm.conv_id = coh.conv_id),
pick AS (
  SELECT *, {COLLECTIVE_W_PRIOR} * sim_ppm
              + {COLLECTIVE_W_CTX} * coh_ppm AS score,
         row_number() OVER (
      PARTITION BY conv_id, turn_idx, surface
      ORDER BY {COLLECTIVE_W_PRIOR} * sim_ppm
                 + {COLLECTIVE_W_CTX} * coh_ppm DESC,
               sim_ppm DESC, concept_id ASC) AS rn
  FROM scored)
SELECT conv_id, turn_idx, surface, concept_id,
       CAST(sim_ppm AS BIGINT) AS sim_ppm,
       CAST(coh_ppm AS BIGINT) AS coh_ppm,
       CAST(score AS BIGINT) AS score,
       CAST(CASE WHEN concept_id <> base_concept THEN 1 ELSE 0 END
            AS BIGINT) AS changed
FROM pick WHERE rn = 1
"""


def q_kg_concept_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order concept transition graph over conversations: how
    often concept A in turn t is followed by concept B in turn t+1 —
    the Markov chain a dialogue planner or next-topic recommender
    trains on. Turn-adjacent equi-join keyed on (conv_id, turn_idx+1)
    (the conversation is the join's task unit), two-level hash agg for
    the edge counts, and the per-source totals rejoin keyed on the
    source concept; transition probability in exact ppm."""
    m = (_mentions_df(spark, sf_dir)
         .select("conv_id", "turn_idx", "concept_id").distinct())
    a = m.alias("a")
    b = m.alias("b")
    trans = (a.join(b, (F.col("a.conv_id") == F.col("b.conv_id"))
                    & (F.col("b.turn_idx") == F.col("a.turn_idx") + 1))
             .groupBy(F.col("a.concept_id").alias("src"),
                      F.col("b.concept_id").alias("dst"))
             .agg(F.count(F.lit(1)).alias("n")))
    tot = trans.groupBy("src").agg(F.sum("n").alias("n_out"))
    return (trans.join(tot, "src")
            .select("src", "dst", F.col("n").cast("long").alias("n"),
                    F.col("n_out").cast("long").alias("n_out"),
                    F.expr("n * 1000000 DIV n_out").cast("long")
                    .alias("p_ppm")))


def _sql_kg_concept_transitions() -> str:
    return f"""
WITH {_MENTIONS_CTE},
m AS (SELECT DISTINCT conv_id, turn_idx, concept_id FROM mentions),
trans AS (
  SELECT a.concept_id AS src, b.concept_id AS dst, count(*) AS n
  FROM m a JOIN m b ON b.conv_id = a.conv_id
                   AND b.turn_idx = a.turn_idx + 1
  GROUP BY 1, 2),
tot AS (SELECT src, sum(n) AS n_out FROM trans GROUP BY 1)
SELECT t.src, t.dst, CAST(t.n AS BIGINT) AS n,
       CAST(o.n_out AS BIGINT) AS n_out,
       CAST(t.n * 1000000 // o.n_out AS BIGINT) AS p_ppm
FROM trans t JOIN tot o ON o.src = t.src
"""


def q_kg_entity_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity card materialization — the per-concept profile a KG
    browser or entity-page service precomputes: mention volume,
    conversation reach, surface-form diversity, and the concept's
    strongest co-occurring neighbor (by shared-conversation count,
    deterministic tie to the smaller id). Two-level hash aggs
    throughout; the neighbor rank is a window PARTITIONED BY concept —
    the concept is the task unit at any scale."""
    m = (_mentions_df(spark, sf_dir)
         .select("conv_id", "turn_idx", "surface", "concept_id"))
    base = (m.groupBy("concept_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.countDistinct("surface").cast("long").alias("n_surfaces")))
    cc = m.select("conv_id", "concept_id").distinct()
    a = cc.alias("a")
    b = cc.alias("b")
    co = (a.join(b, (F.col("a.conv_id") == F.col("b.conv_id"))
                 & (F.col("a.concept_id") != F.col("b.concept_id")))
          .groupBy(F.col("a.concept_id").alias("concept_id"),
                   F.col("b.concept_id").alias("co_concept"))
          .agg(F.count(F.lit(1)).cast("long").alias("n_shared")))
    w = Window.partitionBy("concept_id").orderBy(
        F.desc("n_shared"), F.asc("co_concept"))
    top_co = (co.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select("concept_id", F.col("co_concept").alias("top_co"),
                      F.col("n_shared").alias("top_co_n")))
    return (base.join(top_co, "concept_id", "left")
            .select("concept_id", "n_mentions", "n_convs", "n_surfaces",
                    "top_co", F.coalesce("top_co_n", F.lit(0))
                    .cast("long").alias("top_co_n")))


def _sql_kg_entity_cards() -> str:
    return f"""
WITH {_MENTIONS_CTE},
m AS (SELECT conv_id, turn_idx, surface, concept_id FROM mentions),
base AS (
  SELECT concept_id, count(*) AS n_mentions,
         count(DISTINCT conv_id) AS n_convs,
         count(DISTINCT surface) AS n_surfaces
  FROM m GROUP BY 1),
cc AS (SELECT DISTINCT conv_id, concept_id FROM m),
co AS (
  SELECT a.concept_id, b.concept_id AS co_concept, count(*) AS n_shared
  FROM cc a JOIN cc b ON a.conv_id = b.conv_id
                     AND a.concept_id <> b.concept_id
  GROUP BY 1, 2),
top_co AS (
  SELECT concept_id, co_concept AS top_co, n_shared AS top_co_n
  FROM (SELECT *, row_number() OVER (
            PARTITION BY concept_id
            ORDER BY n_shared DESC, co_concept ASC) AS rn FROM co)
  WHERE rn = 1)
SELECT b.concept_id, CAST(b.n_mentions AS BIGINT) AS n_mentions,
       CAST(b.n_convs AS BIGINT) AS n_convs,
       CAST(b.n_surfaces AS BIGINT) AS n_surfaces,
       t.top_co, CAST(COALESCE(t.top_co_n, 0) AS BIGINT) AS top_co_n
FROM base b LEFT JOIN top_co t ON t.concept_id = b.concept_id
"""


def q_kg_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAP-style graph summarization [K]: collapse the triple graph
    onto (node-type, degree-bucket) super-nodes and count edges
    between super-node pairs per predicate — the compact structural
    fingerprint an operator dashboards instead of the 10^12-edge
    graph. Degree = total (in+out) over distinct edges; buckets are
    exact power-of-two ranges (a CASE chain, not float log2 -- an
    engine-parity hazard at boundaries), capped at 256+. Two hash
    aggs for degrees,
    node-keyed rejoins of the edge list, one super-edge agg — every
    join keys on the node id."""
    t = q_kg_triples(spark, sf_dir).select("subj", "pred", "obj").distinct()
    deg = (t.select(F.col("subj").alias("node"))
           .unionAll(t.select(F.col("obj").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    bucket = F.when(F.col("degree") <= 1, 0)
    for i in range(1, 8):
        bucket = bucket.when(F.col("degree") <= (1 << (i + 1)) - 1, i)
    bucket = bucket.otherwise(8)
    ntype = F.when(F.col("node").startswith("turn:"), "turn") \
             .when(F.col("node").startswith("tool:"), "tool") \
             .otherwise("concept")
    groups = deg.select(
        "node", F.concat(ntype, F.lit(":d"), bucket.cast("string"))
        .alias("grp"))
    return (t.join(groups.withColumnRenamed("grp", "src_grp"),
                   t.subj == groups.node).drop("node")
            .join(groups.withColumnRenamed("grp", "dst_grp")
                  .withColumnRenamed("node", "node2"),
                  F.col("obj") == F.col("node2")).drop("node2")
            .groupBy("src_grp", "pred", "dst_grp")
            .agg(F.count(F.lit(1)).cast("long").alias("n_edges")))


def _sql_kg_graph_summary() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
t AS (SELECT DISTINCT subj, pred, obj FROM triples),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT subj AS node FROM t
    UNION ALL
    SELECT obj AS node FROM t) GROUP BY 1),
groups AS (
  SELECT node,
         (CASE WHEN node LIKE 'turn:%' THEN 'turn'
               WHEN node LIKE 'tool:%' THEN 'tool'
               ELSE 'concept' END
          || ':d' ||
          CASE WHEN degree <= 1 THEN 0
               WHEN degree <= 3 THEN 1
               WHEN degree <= 7 THEN 2
               WHEN degree <= 15 THEN 3
               WHEN degree <= 31 THEN 4
               WHEN degree <= 63 THEN 5
               WHEN degree <= 127 THEN 6
               WHEN degree <= 255 THEN 7
               ELSE 8 END) AS grp
  FROM deg)
SELECT gs.grp AS src_grp, t.pred, gd.grp AS dst_grp,
       CAST(count(*) AS BIGINT) AS n_edges
FROM t
JOIN groups gs ON gs.node = t.subj
JOIN groups gd ON gd.node = t.obj
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Wave 22: surface ambiguity QA, taxonomy transitive reduction.
# ---------------------------------------------------------------------------


def q_kg_surface_ambiguity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-form ambiguity QA over the COLLECTIVE linker's output:
    per surface — mention volume, how many distinct concepts the
    context-aware linker actually assigned it across the corpus, the
    dominant concept, and its share in exact ppm. The report that
    tells a KG curator which surfaces are genuinely polysemous in this
    corpus (under the isolated linker every surface is 1 concept by
    construction; only context creates spread). Two hash aggs + a
    surface-partitioned rank window."""
    coll = q_kg_collective_linking(spark, sf_dir)
    per = (coll.groupBy("surface", "concept_id")
           .agg(F.count(F.lit(1)).alias("n")))
    tot = per.groupBy("surface").agg(
        F.sum("n").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_concepts"))
    w = Window.partitionBy("surface").orderBy(
        F.desc("n"), F.asc("concept_id"))
    top = (per.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select("surface", F.col("concept_id").alias("top_concept"),
                   F.col("n").alias("top_n")))
    return (tot.join(top, "surface")
            .select("surface",
                    F.col("n_mentions").cast("long").alias("n_mentions"),
                    F.col("n_concepts").cast("long").alias("n_concepts"),
                    "top_concept",
                    F.expr("top_n * 1000000 DIV n_mentions").cast("long")
                    .alias("top_share_ppm")))


def _sql_kg_surface_ambiguity() -> str:
    return f"""
WITH coll AS MATERIALIZED ({_sql_kg_collective_linking()}),
per AS (
  SELECT surface, concept_id, count(*) AS n
  FROM coll GROUP BY 1, 2),
tot AS (
  SELECT surface, sum(n) AS n_mentions, count(*) AS n_concepts
  FROM per GROUP BY 1),
top AS (
  SELECT surface, concept_id AS top_concept, n AS top_n
  FROM (SELECT *, row_number() OVER (
            PARTITION BY surface ORDER BY n DESC, concept_id ASC) AS rn
        FROM per)
  WHERE rn = 1)
SELECT t.surface, CAST(t.n_mentions AS BIGINT) AS n_mentions,
       CAST(t.n_concepts AS BIGINT) AS n_concepts,
       p.top_concept,
       CAST(p.top_n * 1000000 // t.n_mentions AS BIGINT)
         AS top_share_ppm
FROM tot t JOIN top p ON p.surface = t.surface
"""


def q_kg_transitive_reduction(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Transitive reduction of the ancestor CLOSURE back to the Hasse
    diagram (operators/graph.py transitive_reduction): drop every
    closure edge with a 2-step witness — the exact inverse of the
    inference stage's ancestor_expansion, pinned as such in pytest.
    Self-join keyed on the middle node + left-anti on the edge."""
    from ...operators.graph import transitive_reduction
    av = driver_ancestors()
    closure = spark.createDataFrame(
        av[["concept_id", "anc_id"]],
        "concept_id string, anc_id string")
    return (transitive_reduction(closure, "concept_id", "anc_id")
            .select(F.col("concept_id"), F.col("anc_id").alias("parent_id")))


def _sql_kg_transitive_reduction() -> str:
    import pandas as pd
    av = values_sql(driver_ancestors()[["concept_id", "anc_id"]], "a")
    return f"""
WITH closure AS (SELECT concept_id, anc_id FROM {av}),
witnessed AS (
  SELECT DISTINCT ab.concept_id, bc.anc_id
  FROM closure ab JOIN closure bc ON bc.concept_id = ab.anc_id),
red AS (
  SELECT c.concept_id, c.anc_id
  FROM closure c
  LEFT JOIN witnessed w
    ON w.concept_id = c.concept_id AND w.anc_id = c.anc_id
  WHERE w.concept_id IS NULL)
SELECT concept_id, anc_id AS parent_id FROM red
"""


# ---------------------------------------------------------------------------
# Wave 23: n-ary event extraction, temporal fact-validity intervals.
# ---------------------------------------------------------------------------


def q_kg_event_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-ary event extraction (the reified-event-node pattern n-ary
    relations need [K: W3C n-ary relations note]): every turn that
    BOTH uses a tool AND mentions a concept yields a tool-application
    event — a content-addressed event node with actor (role), action
    (tool), theme (concept) and location (turn) edges. Binary triples
    can't hold a 4-way relation; the event node is the KG-native
    encoding. One conv/turn-keyed equi-join of the tool turns with
    their canonical mentions, then a map-only 4-way edge projection
    (posexplode of a literal-4 array — no unions of separate scans)."""
    t = derived_transcripts(spark, sf_dir).filter(F.col("tool").isNotNull())
    m = (_mentions_df(spark, sf_dir)
         .select("conv_id", "turn_idx", "concept_id").distinct())
    ev = (t.join(m, ["conv_id", "turn_idx"])
          .select(
              F.concat(
                  F.lit("event:"),
                  F.substring(F.md5(F.concat_ws(
                      "#", "conv_id", F.col("turn_idx").cast("string"),
                      "tool", "concept_id")), 1, 16)).alias("event"),
              "conv_id", "turn_idx", "role", "tool", "concept_id"))
    edge = F.array(
        F.struct(F.lit("kg:actor").alias("pred"),
                 F.col("role").alias("obj")),
        F.struct(F.lit("kg:action").alias("pred"),
                 F.concat(F.lit("tool:"), F.col("tool")).alias("obj")),
        F.struct(F.lit("kg:theme").alias("pred"),
                 F.col("concept_id").alias("obj")),
        F.struct(F.lit("kg:at_turn").alias("pred"),
                 F.concat(F.lit("turn:"), F.col("conv_id"), F.lit(":"),
                          F.col("turn_idx").cast("string")).alias("obj")))
    return (ev.select("event", F.explode(edge).alias("e"))
            .select(F.col("event").alias("subj"),
                    F.col("e.pred").alias("pred"),
                    F.col("e.obj").alias("obj")))


def _sql_kg_event_extraction() -> str:
    return f"""
WITH {_MENTIONS_CTE},
m AS (SELECT DISTINCT conv_id, turn_idx, concept_id FROM mentions),
ev AS (
  SELECT 'event:' || substr(md5(t.conv_id || '#' ||
             CAST(t.turn_idx AS VARCHAR) || '#' || t.tool || '#' ||
             m.concept_id), 1, 16) AS event,
         t.conv_id, t.turn_idx, t.role, t.tool, m.concept_id
  FROM transcripts t
  JOIN m ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
  WHERE t.tool IS NOT NULL)
SELECT event AS subj, 'kg:actor' AS pred, role AS obj FROM ev
UNION ALL
SELECT event, 'kg:action', 'tool:' || tool FROM ev
UNION ALL
SELECT event, 'kg:theme', concept_id FROM ev
UNION ALL
SELECT event, 'kg:at_turn',
       'turn:' || conv_id || ':' || CAST(turn_idx AS VARCHAR) FROM ev
"""


def q_kg_fact_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal validity intervals for conversation-level facts: per
    (conv, concept), collapse the turns that mention the concept into
    maximal runs of CONSECUTIVE turns (gaps-and-islands via the
    turn_idx − dense-position anchor) — the validity spans a temporal
    KG stores instead of per-turn observations. Every window
    partitions by (conv_id, concept_id); spans carry start/end turn,
    length, and the per-fact span count."""
    m = (_mentions_df(spark, sf_dir)
         .select("conv_id", "turn_idx", "concept_id").distinct())
    w = Window.partitionBy("conv_id", "concept_id").orderBy("turn_idx")
    spans = (m.withColumn("anchor",
                          F.col("turn_idx") - F.row_number().over(w))
             .groupBy("conv_id", "concept_id", "anchor")
             .agg(F.min("turn_idx").alias("from_turn"),
                  F.max("turn_idx").alias("to_turn"),
                  F.count(F.lit(1)).cast("long").alias("n_turns")))
    wn = Window.partitionBy("conv_id", "concept_id")
    return (spans
            .withColumn("n_spans",
                        F.count(F.lit(1)).over(wn).cast("long"))
            .select("conv_id", "concept_id", "from_turn", "to_turn",
                    "n_turns", "n_spans"))


def _sql_kg_fact_intervals() -> str:
    return f"""
WITH {_MENTIONS_CTE},
m AS (SELECT DISTINCT conv_id, turn_idx, concept_id FROM mentions),
anch AS (
  SELECT conv_id, concept_id, turn_idx,
         turn_idx - row_number() OVER (
             PARTITION BY conv_id, concept_id ORDER BY turn_idx)
           AS anchor
  FROM m),
spans AS (
  SELECT conv_id, concept_id, anchor,
         min(turn_idx) AS from_turn, max(turn_idx) AS to_turn,
         count(*) AS n_turns
  FROM anch GROUP BY 1, 2, 3)
SELECT conv_id, concept_id, from_turn, to_turn,
       CAST(n_turns AS BIGINT) AS n_turns,
       CAST(count(*) OVER (PARTITION BY conv_id, concept_id) AS BIGINT)
         AS n_spans
FROM spans
"""


# ---------------------------------------------------------------------------
# Wave 24: graph diff between snapshot states.
# ---------------------------------------------------------------------------


def q_kg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diff between two KG snapshot states — the change report a
    nightly rebuild publishes next to the storage layer's time travel:
    v1 and v2 are two overlapping md5-slices of the extracted graph
    (so added, removed AND unchanged all fire). Per predicate: triples
    added, removed, unchanged, plus churn in exact ppm of the v2 size. A
    null-safe full outer join on the whole triple key (the
    ontology_diff pattern applied to the instance graph) feeding one
    pred-keyed conditional agg — both shuffles key on (subj,pred,obj)
    / pred."""
    full = q_kg_triples(spark, sf_dir).select("subj", "pred", "obj")
    h = (F.conv(F.substring(F.md5(F.col("subj")), 1, 2), 16, 10)
         .cast("long"))
    # two overlapping hash slices so the diff exercises ALL THREE
    # classes: v1-only (removed), v2-only (added), both (unchanged)
    v1 = full.filter(h < 160)
    v2 = full.filter(h >= 32)
    j = (v1.withColumn("_v1", F.lit(1))
         .join(v2.withColumn("_v2", F.lit(1)),
               ["subj", "pred", "obj"], "full_outer"))
    per = (j.groupBy("pred").agg(
        F.sum(F.when(F.col("_v1").isNull(), 1).otherwise(0))
        .cast("long").alias("added"),
        F.sum(F.when(F.col("_v2").isNull(), 1).otherwise(0))
        .cast("long").alias("removed"),
        F.sum(F.when(F.col("_v1").isNotNull() & F.col("_v2").isNotNull(),
                     1).otherwise(0)).cast("long").alias("unchanged")))
    return per.select(
        "pred", "added", "removed", "unchanged",
        F.expr("(added + removed) * 1000000"
               " DIV (added + unchanged)").cast("long")
        .alias("churn_ppm"))


def _sql_kg_snapshot_diff() -> str:
    dig = ("(instr('0123456789abcdef', substring(md5(subj), 1, 1)) - 1)"
           " * 16 + instr('0123456789abcdef', substring(md5(subj), 2, 1))"
           " - 1")
    return f"""
WITH full_g AS (
  SELECT subj, pred, obj FROM ({_sql_kg_triples_body()})),
v1 AS (SELECT * FROM full_g WHERE {dig} < 160),
v2 AS (SELECT * FROM full_g WHERE {dig} >= 32),
j AS (
  SELECT COALESCE(a.subj, b.subj) AS subj,
         COALESCE(a.pred, b.pred) AS pred,
         COALESCE(a.obj, b.obj) AS obj,
         a.subj IS NOT NULL AS in_v1, b.subj IS NOT NULL AS in_v2
  FROM v1 a FULL OUTER JOIN v2 b
    ON a.subj = b.subj AND a.pred = b.pred AND a.obj = b.obj)
SELECT pred,
       CAST(sum(CASE WHEN NOT in_v1 THEN 1 ELSE 0 END) AS BIGINT)
         AS added,
       CAST(sum(CASE WHEN NOT in_v2 THEN 1 ELSE 0 END) AS BIGINT)
         AS removed,
       CAST(sum(CASE WHEN in_v1 AND in_v2 THEN 1 ELSE 0 END) AS BIGINT)
         AS unchanged,
       CAST((sum(CASE WHEN NOT in_v1 THEN 1 ELSE 0 END)
             + sum(CASE WHEN NOT in_v2 THEN 1 ELSE 0 END)) * 1000000
            // (sum(CASE WHEN NOT in_v1 THEN 1 ELSE 0 END)
                + sum(CASE WHEN in_v1 AND in_v2 THEN 1 ELSE 0 END))
            AS BIGINT) AS churn_ppm
FROM j GROUP BY 1
"""


def q_kg_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank / random-walk-with-restart
    (operators/graph.py) seeded on every tool-using turn — "which
    nodes does the tool-using activity region of the KG concentrate
    on". Restart mass returns only to the seeds; pure BIGINT fixed
    point, so the distributed aggregation is bit-exact against
    DuckDB's unrolled replay of the same four synchronous rounds.
    Zero-rank (seed-unreachable) nodes are dropped in BOTH engines."""
    from ...operators.graph import personalized_pagerank_exact
    triples = q_kg_triples(spark, sf_dir)
    seeds = (triples.filter(F.col("pred") == "uses_tool")
             .select(F.col("subj").alias("node")).distinct())
    return (personalized_pagerank_exact(triples, seeds,
                                        iterations=PPR_ITERS)
            .select("node", F.col("rank").alias("rank_ppm")))


def _sql_kg_ppr() -> str:
    its, prev = [], "r0"
    for i in range(1, PPR_ITERS + 1):
        its.append(f"""i{i} AS (
  SELECT n.node,
         CAST(n.is_seed * 150000
              + (850 * coalesce(f.inflow, 0)) // 1000 AS BIGINT) AS pr
  FROM sn n LEFT JOIN (
    SELECT s.obj AS node, CAST(sum(r.pr // s.out_deg) AS BIGINT) AS inflow
    FROM send s JOIN {prev} r ON r.node = s.subj
    GROUP BY s.obj) f ON f.node = n.node)""")
        prev = f"i{i}"
    return f"""
WITH triples AS ({_sql_kg_triples_body()}),
edges AS (SELECT DISTINCT subj, obj FROM triples),
outd AS (SELECT subj, count(*) AS out_deg FROM edges GROUP BY subj),
nodes AS (SELECT subj AS node FROM edges UNION SELECT obj FROM edges),
seeds AS (SELECT DISTINCT subj AS node FROM triples
          WHERE pred = 'uses_tool'),
sn AS (SELECT n.node,
              CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
       FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
send AS (SELECT e.subj, e.obj, o.out_deg
         FROM edges e JOIN outd o ON o.subj = e.subj),
r0 AS (SELECT node, CAST(is_seed * 1000000 AS BIGINT) AS pr FROM sn),
{', '.join(its)}
SELECT node, pr AS rank_ppm FROM {prev} WHERE pr > 0
"""


def q_kg_search_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback search (Rocchio query expansion [K]):
    run the P17 scorer, take the top-``PRF_FB_DOCS`` subjects as
    pseudo-relevant, mine their CDS rows for the ``PRF_FB_TERMS``
    strongest concepts NOT already in the query, append them with a
    damped weight (``round(mass * PRF_BETA, 6)``), and re-score. The
    round-to-6-then-rank discipline (deterministic ties on id) keeps
    both the feedback selection and the final ranking engine-portable.

    Scale shape: the feedback set is a broadcast-bounded constant
    (10 subjects → semi-join, 3 concepts → broadcast weights); both
    scoring passes are one subject-keyed hash agg over CDS followed by
    limit-then-rank (TakeOrdered, never a partitionless window over an
    unbounded input)."""
    import pandas as pd
    scores = driver_scores()
    gaz = driver_gazetteer()
    norm = S.normalize_text(SEARCH_QUERY)
    surfaces = sorted({m[0] for m in S.find_mentions(norm, gaz)})
    q = (scores[scores.surface.isin(surfaces)]
         .groupby("concept_id", as_index=False)["cos_sim"].max()
         .rename(columns={"cos_sim": "weight"}).round({"weight": 6}))
    q_df = spark.createDataFrame(
        pd.DataFrame(q), "concept_id string, weight double")
    q_concepts = sorted(q["concept_id"])
    cds = q_kg_cds(spark, sf_dir)
    base = (
        cds.join(F.broadcast(q_df), cds.cds_concept == q_df.concept_id,
                 "inner")
        .groupBy("subj_key")
        .agg(F.round(F.sum(F.col("score") * F.col("weight")), 6)
             .alias("base_score")))
    fb = (base.orderBy(F.desc("base_score"), F.asc("subj_key"))
          .limit(PRF_FB_DOCS).select("subj_key"))
    expansion = (
        cds.join(F.broadcast(fb), "subj_key", "left_semi")
        .filter(~F.col("cds_concept").isin(q_concepts))
        .groupBy("cds_concept")
        .agg(F.round(F.sum("score"), 6).alias("mass"))
        .orderBy(F.desc("mass"), F.asc("cds_concept"))
        .limit(PRF_FB_TERMS)
        .select(F.col("cds_concept").alias("concept_id"),
                F.round(F.col("mass") * F.lit(PRF_BETA), 6)
                .alias("weight")))
    weights = q_df.unionByName(expansion)
    final = (
        cds.join(F.broadcast(weights),
                 cds.cds_concept == weights.concept_id, "inner")
        .groupBy("subj_key")
        .agg(F.round(F.sum(F.col("score") * F.col("weight")), 6)
             .alias("prf_score")))
    top = final.orderBy(F.desc("prf_score"), F.asc("subj_key")).limit(20)
    w = Window.orderBy(F.desc("prf_score"), F.asc("subj_key"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("subj_key", "rank", "prf_score"))


def _sql_kg_search_prf() -> str:
    import pandas as pd
    scores = driver_scores()
    gaz = driver_gazetteer()
    norm = S.normalize_text(SEARCH_QUERY)
    surfaces = sorted({m[0] for m in S.find_mentions(norm, gaz)})
    q = (scores[scores.surface.isin(surfaces)]
         .groupby("concept_id", as_index=False)["cos_sim"].max()
         .rename(columns={"cos_sim": "weight"}).round({"weight": 6}))
    qv = values_sql(pd.DataFrame(q), "q")
    q_list = ", ".join(f"'{c}'" for c in sorted(q["concept_id"]))
    return f"""
WITH cds AS ({_sql_kg_cds_body()}),
base AS (
  SELECT c.subj_key,
         round(sum(c.score * q.weight), 6) AS base_score
  FROM cds c JOIN {qv} ON q.concept_id = c.cds_concept
  GROUP BY c.subj_key),
fb AS (SELECT subj_key FROM base
       ORDER BY base_score DESC, subj_key ASC LIMIT {PRF_FB_DOCS}),
expansion AS (
  SELECT cds_concept AS concept_id,
         round(round(sum(score), 6) * {PRF_BETA}, 6) AS weight
  FROM cds
  WHERE subj_key IN (SELECT subj_key FROM fb)
    AND cds_concept NOT IN ({q_list})
  GROUP BY cds_concept
  ORDER BY round(sum(score), 6) DESC, cds_concept ASC
  LIMIT {PRF_FB_TERMS}),
weights AS (SELECT concept_id, weight FROM {qv}
            UNION ALL SELECT concept_id, weight FROM expansion),
final AS (
  SELECT c.subj_key, round(sum(c.score * w.weight), 6) AS prf_score
  FROM cds c JOIN weights w ON w.concept_id = c.cds_concept
  GROUP BY c.subj_key),
top AS (SELECT subj_key, prf_score FROM final
        ORDER BY prf_score DESC, subj_key ASC LIMIT 20)
SELECT subj_key,
       CAST(row_number() OVER (ORDER BY prf_score DESC, subj_key ASC)
            AS INT) AS rank,
       prf_score
FROM top
"""


def q_kg_linkpred_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction ranking evaluation — MRR and Hits@{1,k} of the
    neighbor-Jaccard scorer (q_kg_link_predict) measured against the
    graph's own edge set ("raw" setting: every 2-path candidate is
    ranked, true edges are NOT filtered out of the candidate pool but
    labeled). For every node `a` whose candidate list contains at
    least one true edge, the reciprocal rank of the FIRST true edge is
    taken; the summary row reports the node count, the exact-integer
    mean reciprocal rank and hit rates in ppm (sum//n — both engines
    share BIGINT floor semantics, so the distributed agg is bit-exact
    against DuckDB).

    Scale shape: identical candidate generation to kg_link_predict
    (hub-capped 2-path self-join keyed on the middle node — the d²
    blowup is excluded by LINKPRED_HUB_CAP as part of the SEMANTICS);
    the label join is an equi-join against the edge set; the ranking
    window is PARTITIONED BY a (keyed, never global); the final
    summary is one partial-aggregating reduce to a single row."""
    from ...operators.graph import undirected_edges
    e = undirected_edges(q_kg_triples(spark, sf_dir))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    mid = (deg.filter(F.col("deg") <= LINKPRED_HUB_CAP)
           .select(F.col("src").alias("n")))
    p1 = (e.select(F.col("src").alias("a"), F.col("dst").alias("n"))
          .join(mid, "n"))
    p2 = (e.select(F.col("src").alias("n"), F.col("dst").alias("b"))
          .join(mid, "n"))
    two = (p1.join(p2, "n").filter(F.col("a") < F.col("b"))
           .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common")))
    edges_ab = (e.filter(F.col("src") < F.col("dst"))
                .select(F.col("src").alias("a"), F.col("dst").alias("b"),
                        F.lit(1).alias("is_edge")))
    j = (two.filter(F.col("common") >= LINKPRED_MIN_COMMON)
         .join(deg.select(F.col("src").alias("a"),
                          F.col("deg").alias("deg_a")), "a")
         .join(deg.select(F.col("src").alias("b"),
                          F.col("deg").alias("deg_b")), "b")
         .withColumn("jaccard_ppm", F.expr(
             "common * 1000000 DIV (deg_a + deg_b - common)"))
         .join(edges_ab, ["a", "b"], "left")
         .withColumn("label", F.coalesce(F.col("is_edge"), F.lit(0))))
    w = Window.partitionBy("a").orderBy(F.desc("jaccard_ppm"), F.asc("b"))
    per_a = (j.withColumn("rk", F.row_number().over(w))
             .groupBy("a")
             .agg(F.min(F.when(F.col("label") == 1, F.col("rk")))
                  .alias("first_true"))
             .filter(F.col("first_true").isNotNull()))
    k = LINKPRED_EVAL_HITS_K
    return per_a.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("sum(1000000 DIV first_true) DIV count(*)")
        .alias("mrr_ppm"),
        F.expr("sum(CASE WHEN first_true <= 1 THEN 1 ELSE 0 END)"
               " * 1000000 DIV count(*)").alias("hits1_ppm"),
        F.expr(f"sum(CASE WHEN first_true <= {k} THEN 1 ELSE 0 END)"
               " * 1000000 DIV count(*)").alias("hitsk_ppm"))


def _sql_kg_linkpred_eval() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
e AS MATERIALIZED (
  SELECT subj AS src, obj AS dst FROM (SELECT DISTINCT subj, obj FROM triples)
  UNION
  SELECT obj, subj FROM (SELECT DISTINCT subj, obj FROM triples)),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
mid AS (SELECT src AS n FROM deg WHERE deg <= {LINKPRED_HUB_CAP}),
two AS (
  SELECT p1.src AS a, p2.dst AS b, count(*) AS common
  FROM e p1 JOIN e p2 ON p2.src = p1.dst
  JOIN mid m ON m.n = p1.dst
  WHERE p1.src < p2.dst
  GROUP BY 1, 2),
j AS (
  SELECT t.a, t.b,
         t.common * 1000000 // (da.deg + db.deg - t.common) AS jaccard_ppm,
         CASE WHEN ed.src IS NULL THEN 0 ELSE 1 END AS label
  FROM two t
  JOIN deg da ON da.src = t.a
  JOIN deg db ON db.src = t.b
  LEFT JOIN e ed ON ed.src = t.a AND ed.dst = t.b
  WHERE t.common >= {LINKPRED_MIN_COMMON}),
rk AS (
  SELECT a, label,
         row_number() OVER (PARTITION BY a
                            ORDER BY jaccard_ppm DESC, b ASC) AS rk
  FROM j),
per_a AS (
  SELECT a, min(CASE WHEN label = 1 THEN rk END) AS first_true
  FROM rk GROUP BY a
  HAVING min(CASE WHEN label = 1 THEN rk END) IS NOT NULL)
SELECT count(*) AS n_nodes,
       CAST(sum(1000000 // first_true) // count(*) AS BIGINT) AS mrr_ppm,
       CAST(sum(CASE WHEN first_true <= 1 THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS hits1_ppm,
       CAST(sum(CASE WHEN first_true <= {LINKPRED_EVAL_HITS_K}
                THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS hitsk_ppm
FROM per_a
"""


def q_kg_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-signature node typing — RDFS-style domain/range
    inference [K]: each predicate of the derived KG carries an implied
    (subject-type, object-type) signature (mentions: turn->concept,
    uses_tool: turn->tool, replies_to: turn->turn); every incident
    edge casts one vote at each endpoint, and a node's inferred type
    is its majority vote with confidence = votes*1e6//total ppm
    (deterministic tie on type name). On a clean graph confidence is
    1e6 everywhere; the operator exists to FLAG the dirty case (a node
    id reused across roles) and to materialize the typing a downstream
    consumer joins against.

    Shape: one projection + union (no shuffle), one (node, type) hash
    agg, then a keyed rank window over the per-node handful of type
    rows. Nothing global."""
    t = q_kg_triples(spark, sf_dir)
    obj_type = (F.when(F.col("pred") == "mentions", F.lit("concept"))
                .when(F.col("pred") == "uses_tool", F.lit("tool"))
                .otherwise(F.lit("turn")))
    votes = (t.select(F.col("subj").alias("node"),
                      F.lit("turn").alias("node_type"))
             .unionAll(t.select(F.col("obj").alias("node"),
                                obj_type.alias("node_type"))))
    counts = (votes.groupBy("node", "node_type")
              .agg(F.count(F.lit(1)).alias("votes")))
    wt = Window.partitionBy("node")
    wr = Window.partitionBy("node").orderBy(F.desc("votes"),
                                            F.asc("node_type"))
    return (counts
            .withColumn("total", F.sum("votes").over(wt))
            .withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") == 1)
            .select("node", "node_type", "votes", "total",
                    F.expr("votes * 1000000 DIV total")
                    .alias("confidence_ppm")))


def _sql_kg_type_inference() -> str:
    return f"""
WITH triples AS ({_sql_kg_triples_body()}),
votes AS (
  SELECT subj AS node, 'turn' AS node_type FROM triples
  UNION ALL
  SELECT obj,
         CASE pred WHEN 'mentions' THEN 'concept'
                   WHEN 'uses_tool' THEN 'tool'
                   ELSE 'turn' END
  FROM triples),
counts AS (
  SELECT node, node_type, count(*) AS votes
  FROM votes GROUP BY 1, 2),
ranked AS (
  SELECT node, node_type, votes,
         sum(votes) OVER (PARTITION BY node) AS total,
         row_number() OVER (PARTITION BY node
                            ORDER BY votes DESC, node_type ASC) AS rk
  FROM counts)
SELECT node, node_type, votes, CAST(total AS BIGINT) AS total,
       CAST(votes * 1000000 // total AS BIGINT) AS confidence_ppm
FROM ranked WHERE rk = 1
"""


def q_kg_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-correlation profile of the undirected KG — knn(k), the
    mean degree of neighbors of degree-k nodes (Pastor-Satorras
    degree-correlation function [K]): rising knn(k) = assortative
    mixing, falling = disassortative hub-periphery (the typical KG
    shape — leaf turns attach to hub concepts). Exact ppm via
    sum*1e6//count so the agg is engine-portable.

    Shape: degree table joined onto both edge endpoints (the degree
    table is concept-scale — broadcastable on a real cluster), then
    ONE hash agg keyed by degree. No windows, nothing global."""
    from ...operators.graph import undirected_edges
    e = undirected_edges(q_kg_triples(spark, sf_dir))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    j = (e.join(deg.select(F.col("src"), F.col("deg").alias("deg_src")),
                "src")
         .join(deg.select(F.col("src").alias("dst"),
                          F.col("deg").alias("deg_dst")), "dst"))
    return (j.groupBy(F.col("deg_src").alias("degree"))
            .agg(F.count(F.lit(1)).alias("endpoints"),
                 F.expr("sum(deg_dst) * 1000000 DIV count(*)")
                 .alias("avg_nbr_deg_ppm")))


def _sql_kg_assortativity() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
e AS MATERIALIZED (
  SELECT subj AS src, obj AS dst FROM (SELECT DISTINCT subj, obj FROM triples)
  UNION
  SELECT obj, subj FROM (SELECT DISTINCT subj, obj FROM triples)),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)
SELECT ds.deg AS degree,
       count(*) AS endpoints,
       CAST(sum(dd.deg) * 1000000 // count(*) AS BIGINT)
         AS avg_nbr_deg_ppm
FROM e
JOIN deg ds ON ds.src = e.src
JOIN deg dd ON dd.src = e.dst
GROUP BY 1
"""


def q_kg_sameas_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs consolidation of the constructed KG — the standard
    post-extraction step that collapses equivalent entity nodes and
    rewrites the triple table onto canonical ids [K]. Equivalence here
    comes from an utterance fingerprint (first SAMEAS_PREFIX chars of
    the normalized text — a deliberately coarse blocking key standing
    in for a fuzzy matcher; the seam where a production matcher plugs
    in). Because the fingerprint is a FUNCTION of the node, the
    transitive closure is exactly the group-by on the fingerprint — no
    iteration — and the canonical member is the lexicographic min node
    id. Every triple's turn endpoints are remapped, merge-induced
    self-loops are dropped, and the rewritten table is re-deduplicated
    under the same (subj, pred, obj) -> max(score) rule as P13.

    Shape: one hash agg for the mapping (turn-scale, keyed by
    fingerprint), one equi-join per endpoint (subj always; obj only on
    the replies_to branch), one final dedup agg. All keyed; at cluster
    scale the mapping table co-partitions with the triple table on the
    node id."""
    t = derived_transcripts(spark, sf_dir)
    node = F.concat(F.lit("turn:"), F.col("conv_id"), F.lit(":"),
                    F.col("turn_idx").cast("string"))
    tm = t.select(node.alias("node"),
                  F.substring("text", 1, SAMEAS_PREFIX).alias("fp"))
    mapping = (tm.groupBy("fp").agg(F.min("node").alias("canon_node"))
               .join(tm, "fp")
               .select("node", "canon_node"))
    triples = q_kg_triples(spark, sf_dir)
    m1 = mapping.select(F.col("node").alias("subj"),
                        F.col("canon_node").alias("subj_c"))
    m2 = mapping.select(F.col("node").alias("obj"),
                        F.col("canon_node").alias("obj_c"))
    rw = (triples.join(m1, "subj")
          .join(m2, "obj", "left")
          .select(F.col("subj_c").alias("subj"), "pred",
                  F.when(F.col("pred") == "replies_to", F.col("obj_c"))
                  .otherwise(F.col("obj")).alias("obj"),
                  "score"))
    return (rw.filter(F.col("subj") != F.col("obj"))
            .groupBy("subj", "pred", "obj")
            .agg(F.round(F.max("score"), 6).alias("score")))


def _sql_kg_sameas_closure() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
transcripts3 AS ({TRANSCRIPTS_CTE}),
tm AS (
  SELECT 'turn:' || conv_id || ':' || cast(turn_idx AS STRING) AS node,
         substr(text, 1, {SAMEAS_PREFIX}) AS fp
  FROM transcripts3),
mapping AS (
  SELECT tm.node, g.canon_node
  FROM tm JOIN (SELECT fp, min(node) AS canon_node FROM tm GROUP BY fp) g
       ON g.fp = tm.fp),
rw AS (
  SELECT m1.canon_node AS subj, t.pred,
         CASE WHEN t.pred = 'replies_to' THEN m2.canon_node
              ELSE t.obj END AS obj,
         t.score
  FROM triples t
  JOIN mapping m1 ON m1.node = t.subj
  LEFT JOIN mapping m2 ON m2.node = t.obj)
SELECT subj, pred, obj, round(max(score), 6) AS score
FROM rw WHERE subj <> obj
GROUP BY 1, 2, 3
"""


def q_kg_search_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance rerank of the P17 search results
    (Carbonell-Goldstein MMR [K]) — diversify the top-20 into 5 picks
    that balance relevance against redundancy. Pure-integer variant:
    relevance is rank-normalized ((K-rank+1)*1e6//K ppm), redundancy
    is the concept-set Jaccard between candidates (inter*1e6//union
    ppm over their CDS concept sets), and each greedy step takes
    argmax of (7*rel + 3*(1e6 - max_sim_to_selected))//10 with
    deterministic ties on subj_key — every quantity BIGINT, so the
    greedy trace is bit-identical across engines.

    Shape: candidates are the distributed TakeOrdered top-K; concept
    sets are semi-joined down to those K subjects before the pairwise
    step, so the similarity join touches K(K-1)/2 <= 190 pairs
    regardless of corpus size. The greedy head runs on the collected
    K-row result — driver-CONSTANT work (like presenting the result
    page), not a driver-side data path."""
    cand = q_kg_search(spark, sf_dir)
    cds = q_kg_cds(spark, sf_dir)
    csets = (cds.join(F.broadcast(cand.select("subj_key")),
                      "subj_key", "left_semi")
             .select("subj_key", "cds_concept").distinct())
    sizes = csets.groupBy("subj_key").agg(F.count(F.lit(1)).alias("n"))
    pa = csets.select(F.col("subj_key").alias("a"), "cds_concept")
    pb = csets.select(F.col("subj_key").alias("b"), "cds_concept")
    inter = (pa.join(pb, "cds_concept").filter(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("i")))
    sims = (inter
            .join(sizes.select(F.col("subj_key").alias("a"),
                               F.col("n").alias("na")), "a")
            .join(sizes.select(F.col("subj_key").alias("b"),
                               F.col("n").alias("nb")), "b")
            .withColumn("sim_ppm",
                        F.expr("i * 1000000 DIV (na + nb - i)"))
            .select("a", "b", "sim_ppm"))
    rel = {r.subj_key: (MMR_K - r.rank + 1) * 1_000_000 // MMR_K
           for r in cand.collect()}
    sim: dict[tuple[str, str], int] = {}
    for r in sims.collect():
        sim[(r.a, r.b)] = r.sim_ppm
        sim[(r.b, r.a)] = r.sim_ppm
    lam, lam_c = MMR_LAMBDA_NUM, 10 - MMR_LAMBDA_NUM
    selected: list[str] = []
    out = []
    remaining = sorted(rel)
    for step in range(1, MMR_SELECT + 1):
        best = None
        for c in remaining:
            ms = max((sim.get((c, s), 0) for s in selected), default=0)
            mmr = (lam * rel[c] + lam_c * (1_000_000 - ms)) // 10
            key = (-mmr, c)
            if best is None or key < best[0]:
                best = (key, c, mmr)
        _, c, mmr = best
        selected.append(c)
        remaining.remove(c)
        out.append((c, step, mmr))
    return spark.createDataFrame(
        out, "subj_key string, mmr_rank int, mmr_ppm bigint")


def _sql_kg_search_mmr() -> str:
    import pandas as pd
    scores = driver_scores()
    gaz = driver_gazetteer()
    norm = S.normalize_text(SEARCH_QUERY)
    surfaces = sorted({m[0] for m in S.find_mentions(norm, gaz)})
    q = (scores[scores.surface.isin(surfaces)]
         .groupby("concept_id", as_index=False)["cos_sim"].max()
         .rename(columns={"cos_sim": "q_score"}).round({"q_score": 6}))
    qv = values_sql(pd.DataFrame(q), "q")
    lam, lam_c = MMR_LAMBDA_NUM, 10 - MMR_LAMBDA_NUM
    steps = []
    for i in range(2, MMR_SELECT + 1):
        steps.append(f"""c{i} AS (
  SELECT r.subj_key, r.rel_ppm, coalesce(max(s.sim_ppm), 0) AS ms
  FROM rel r
  LEFT JOIN sims2 s ON s.a = r.subj_key
       AND s.b IN (SELECT subj_key FROM sel{i - 1})
  WHERE r.subj_key NOT IN (SELECT subj_key FROM sel{i - 1})
  GROUP BY 1, 2),
s{i} AS (
  SELECT subj_key,
         ({lam} * rel_ppm + {lam_c} * (1000000 - ms)) // 10 AS mmr_ppm
  FROM c{i} ORDER BY mmr_ppm DESC, subj_key ASC LIMIT 1),
sel{i} AS (SELECT * FROM sel{i - 1}
           UNION ALL SELECT subj_key, {i}, mmr_ppm FROM s{i})""")
    return f"""
WITH cds AS MATERIALIZED ({_sql_kg_cds_body()}),
ranked AS (
  SELECT c.subj_key, round(sum(c.score * q.q_score), 6) AS search_score
  FROM cds c JOIN {qv} ON q.concept_id = c.cds_concept
  GROUP BY c.subj_key),
cand AS (
  SELECT subj_key,
         row_number() OVER (ORDER BY search_score DESC, subj_key ASC)
           AS rnk
  FROM ranked ORDER BY search_score DESC, subj_key ASC LIMIT {MMR_K}),
rel AS (SELECT subj_key,
               ({MMR_K} - rnk + 1) * 1000000 // {MMR_K} AS rel_ppm
        FROM cand),
csets AS (
  SELECT DISTINCT c.subj_key, c.cds_concept
  FROM cds c JOIN cand ON cand.subj_key = c.subj_key),
sizes AS (SELECT subj_key, count(*) AS n FROM csets GROUP BY 1),
inter AS (
  SELECT a.subj_key AS a, b.subj_key AS b, count(*) AS i
  FROM csets a JOIN csets b
       ON a.cds_concept = b.cds_concept AND a.subj_key < b.subj_key
  GROUP BY 1, 2),
sims AS (
  SELECT i.a, i.b, i.i * 1000000 // (sa.n + sb.n - i.i) AS sim_ppm
  FROM inter i JOIN sizes sa ON sa.subj_key = i.a
               JOIN sizes sb ON sb.subj_key = i.b),
sims2 AS (SELECT a, b, sim_ppm FROM sims
          UNION ALL SELECT b, a, sim_ppm FROM sims),
s1 AS (
  SELECT subj_key,
         ({lam} * rel_ppm + {lam_c} * 1000000) // 10 AS mmr_ppm
  FROM rel ORDER BY rel_ppm DESC, subj_key ASC LIMIT 1),
sel1 AS (SELECT subj_key, 1 AS mmr_rank, mmr_ppm FROM s1),
{', '.join(steps)}
SELECT subj_key, CAST(mmr_rank AS INT) AS mmr_rank,
       CAST(mmr_ppm AS BIGINT) AS mmr_ppm
FROM sel{MMR_SELECT}
"""


def q_kg_property_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-centric property-table denormalization [K: the classic
    RDF property-table / entity-card storage layout]: one wide row per
    subject with per-predicate counts, the max link score, and the
    DISTINCT object lists flattened to '|'-joined sorted strings
    (engine-portable — array hashing is not) — the materialization a
    serving layer reads instead of re-aggregating the triple table per
    request.

    Shape: one subject-keyed hash agg over the triple table (the
    conditional aggregates all fold into the same Expand-free agg);
    the list columns come from two DISTINCT sub-aggs keyed the same
    way, left-joined back. Partial aggregation everywhere; at cluster
    scale the table buckets by subj exactly like the triple sink."""
    t = q_kg_triples(spark, sf_dir)
    base = (t.groupBy("subj").agg(
        F.sum(F.when(F.col("pred") == "mentions", 1).otherwise(0))
        .alias("n_mentions"),
        F.sum(F.when(F.col("pred") == "uses_tool", 1).otherwise(0))
        .alias("n_tools"),
        F.sum(F.when(F.col("pred") == "replies_to", 1).otherwise(0))
        .alias("n_replies"),
        F.round(F.max("score"), 6).alias("max_score")))
    concepts = (t.filter(F.col("pred") == "mentions")
                .select("subj", "obj").distinct()
                .groupBy("subj")
                .agg(F.concat_ws("|", F.array_sort(F.collect_set("obj")))
                     .alias("concept_list")))
    tools = (t.filter(F.col("pred") == "uses_tool")
             .select("subj", "obj").distinct()
             .groupBy("subj")
             .agg(F.concat_ws("|", F.array_sort(F.collect_set("obj")))
                  .alias("tool_list")))
    return (base.join(concepts, "subj", "left")
            .join(tools, "subj", "left")
            .select("subj", "n_mentions", "n_tools", "n_replies",
                    "max_score",
                    F.coalesce("concept_list", F.lit(""))
                    .alias("concept_list"),
                    F.coalesce("tool_list", F.lit(""))
                    .alias("tool_list")))


def _sql_kg_property_table() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
base AS (
  SELECT subj,
         CAST(sum(CASE WHEN pred = 'mentions' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_mentions,
         CAST(sum(CASE WHEN pred = 'uses_tool' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_tools,
         CAST(sum(CASE WHEN pred = 'replies_to' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_replies,
         round(max(score), 6) AS max_score
  FROM triples GROUP BY subj),
concepts AS (
  SELECT subj, string_agg(obj, '|' ORDER BY obj) AS concept_list
  FROM (SELECT DISTINCT subj, obj FROM triples WHERE pred = 'mentions')
  GROUP BY subj),
tools AS (
  SELECT subj, string_agg(obj, '|' ORDER BY obj) AS tool_list
  FROM (SELECT DISTINCT subj, obj FROM triples WHERE pred = 'uses_tool')
  GROUP BY subj)
SELECT b.subj, b.n_mentions, b.n_tools, b.n_replies, b.max_score,
       coalesce(c.concept_list, '') AS concept_list,
       coalesce(t.tool_list, '') AS tool_list
FROM base b
LEFT JOIN concepts c ON c.subj = b.subj
LEFT JOIN tools t ON t.subj = b.subj
"""


def q_kg_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law tail exponent of the KG degree distribution — the
    Hill maximum-likelihood estimator [K: Clauset-Shalizi-Newman]:
    alpha = 1 + n / sum(ln(d / d_min)) over undirected degrees
    d >= HILL_DMIN. The one-number answer to "how hub-dominated is
    this graph", which decides whether degree-capped joins (the
    LINKPRED_HUB_CAP family) are mandatory at scale. Per-node ln terms
    are rounded to micro-nat INTEGERS before the sum (the repo's
    merge-order-independence discipline) and alpha comes out in exact
    micro units via BIGINT division, so the estimate is bit-identical
    cross-engine.

    Shape: the degree table (one hash agg over the undirected edge
    set), a map-side filter + ln, one 1-row reduce."""
    from ...operators.graph import undirected_edges
    e = undirected_edges(q_kg_triples(spark, sf_dir))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    tail = (deg.filter(F.col("deg") >= HILL_DMIN)
            .withColumn("ln_micro", F.expr(
                f"CAST(round(ln(CAST(deg AS DOUBLE) / {HILL_DMIN})"
                f" * 1000000, 0) AS BIGINT)")))
    return (tail.agg(F.count(F.lit(1)).alias("n_tail"),
                     F.sum("ln_micro").alias("sum_ln_micro"))
            .select("n_tail", "sum_ln_micro",
                    F.expr("1000000 + n_tail * 1000000000000"
                           " DIV sum_ln_micro").alias("alpha_micro")))


def _sql_kg_powerlaw_alpha() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
e AS (
  SELECT subj AS src, obj AS dst FROM (SELECT DISTINCT subj, obj FROM triples)
  UNION
  SELECT obj, subj FROM (SELECT DISTINCT subj, obj FROM triples)),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
tail AS (
  SELECT CAST(round(ln(CAST(deg AS DOUBLE) / {HILL_DMIN}) * 1000000, 0)
              AS BIGINT) AS ln_micro
  FROM deg WHERE deg >= {HILL_DMIN})
SELECT count(*) AS n_tail,
       CAST(sum(ln_micro) AS BIGINT) AS sum_ln_micro,
       CAST(1000000 + count(*) * 1000000000000 // sum(ln_micro)
            AS BIGINT) AS alpha_micro
FROM tail
"""


def q_kg_impact_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage impact analysis for incremental rebuilds [K: the
    warehouse "what do I have to recompute" read]: given a changed
    source-conversation set (deterministic here: conv ids ending in
    IMPACT_CONV_SUFFIX — in production the manifest diff supplies it),
    report what fraction of every downstream artifact derives from the
    changed sources — triples, CDS rows, concepts touched, and the
    current search top-20. Exact-integer shares in ppm.

    Shape: each leg is the artifact's own (already keyed) plan plus a
    map-side provenance predicate on the conv id embedded in the key —
    no new shuffles; the four 1-row aggregates union into the report."""
    changed = lambda c: c.endswith(IMPACT_CONV_SUFFIX)  # noqa: E731
    t = q_kg_triples(spark, sf_dir).withColumn(
        "conv", F.split(F.col("subj"), ":").getItem(1))
    is_ch = F.col("conv").endswith(IMPACT_CONV_SUFFIX)
    leg_t = t.agg(F.sum(F.when(is_ch, 1).otherwise(0)).alias("affected"),
                  F.count(F.lit(1)).alias("total")) \
        .select(F.lit("triples").alias("artifact"), "affected", "total")
    cds = q_kg_cds(spark, sf_dir).withColumn(
        "conv", F.split(F.col("subj_key"), ":").getItem(1))
    leg_c = cds.agg(F.sum(F.when(is_ch, 1).otherwise(0))
                    .alias("affected"),
                    F.count(F.lit(1)).alias("total")) \
        .select(F.lit("cds_rows").alias("artifact"), "affected", "total")
    conc = (t.filter(F.col("pred") == "mentions")
            .groupBy("obj")
            .agg(F.max(F.when(is_ch, 1).otherwise(0)).alias("touched")))
    leg_k = conc.agg(F.sum("touched").alias("affected"),
                     F.count(F.lit(1)).alias("total")) \
        .select(F.lit("concepts").alias("artifact"), "affected", "total")
    srch = q_kg_search(spark, sf_dir).withColumn(
        "conv", F.split(F.col("subj_key"), ":").getItem(1))
    leg_s = srch.agg(F.sum(F.when(is_ch, 1).otherwise(0))
                     .alias("affected"),
                     F.count(F.lit(1)).alias("total")) \
        .select(F.lit("search_top20").alias("artifact"), "affected",
                "total")
    rep = leg_t.unionByName(leg_c).unionByName(leg_k).unionByName(leg_s)
    return rep.select("artifact",
                      F.col("affected").cast("long").alias("affected"),
                      F.col("total").cast("long").alias("total"),
                      F.expr("affected * 1000000 DIV total")
                      .alias("share_ppm"))


def _sql_kg_impact_analysis() -> str:
    import pandas as pd
    scores = driver_scores()
    gaz = driver_gazetteer()
    norm = S.normalize_text(SEARCH_QUERY)
    surfaces = sorted({m[0] for m in S.find_mentions(norm, gaz)})
    q = (scores[scores.surface.isin(surfaces)]
         .groupby("concept_id", as_index=False)["cos_sim"].max()
         .rename(columns={"cos_sim": "q_score"}).round({"q_score": 6}))
    qv = values_sql(pd.DataFrame(q), "q")
    sfx = IMPACT_CONV_SUFFIX
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
cds AS MATERIALIZED ({_sql_kg_cds_body()}),
tt AS (
  SELECT CASE WHEN string_split(subj, ':')[2] LIKE '%{sfx}'
              THEN 1 ELSE 0 END AS ch, pred, obj
  FROM triples),
leg_t AS (
  SELECT 'triples' AS artifact, CAST(sum(ch) AS BIGINT) AS affected,
         count(*) AS total
  FROM tt),
leg_c AS (
  SELECT 'cds_rows' AS artifact,
         CAST(sum(CASE WHEN string_split(subj_key, ':')[2] LIKE '%{sfx}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS affected,
         count(*) AS total
  FROM cds),
leg_k AS (
  SELECT 'concepts' AS artifact, CAST(sum(touched) AS BIGINT) AS affected,
         count(*) AS total
  FROM (SELECT obj, max(ch) AS touched FROM tt
        WHERE pred = 'mentions' GROUP BY obj)),
ranked AS (
  SELECT c.subj_key, round(sum(c.score * q.q_score), 6) AS search_score
  FROM cds c JOIN {qv} ON q.concept_id = c.cds_concept
  GROUP BY c.subj_key),
top AS (SELECT subj_key FROM ranked
        ORDER BY search_score DESC, subj_key ASC LIMIT 20),
leg_s AS (
  SELECT 'search_top20' AS artifact,
         CAST(sum(CASE WHEN string_split(subj_key, ':')[2] LIKE '%{sfx}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS affected,
         count(*) AS total
  FROM top),
rep AS (
  SELECT * FROM leg_t UNION ALL SELECT * FROM leg_c
  UNION ALL SELECT * FROM leg_k UNION ALL SELECT * FROM leg_s)
SELECT artifact, affected, CAST(total AS BIGINT) AS total,
       CAST(affected * 1000000 // total AS BIGINT) AS share_ppm
FROM rep
"""


def q_kg_mention_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG training-pair constructor: for every canonical (conversation,
    turn, concept) link, the +/-1-turn context window — the
    (query=concept, context=turn neighborhood) rows a retrieval-
    augmented trainer consumes. Window ids come from the P2 turn
    assembly (conv-keyed lag/lead), ctx_size counts the turns actually
    present (edge turns get 2), and the link score is the mention's
    max.

    Shape: one (conv, turn, concept) hash agg over the canonical
    mentions joined to the turn-assembly frame on its natural
    (conv, turn) key — both sides already partition by conversation;
    no new shuffle shapes, no windows beyond P2's own keyed ones."""
    canon = (q_kg_canonical(spark, sf_dir)
             .groupBy("conv_id", "turn_idx", "concept_id")
             .agg(F.round(F.max("link_score"), 6).alias("link_score")))
    turns = q_kg_turn_assembly(spark, sf_dir).select(
        "conv_id", "turn_idx", "prev_turn_idx", "next_turn_idx")
    j = canon.join(turns, ["conv_id", "turn_idx"])
    ctx = (F.lit(1)
           + F.when(F.col("prev_turn_idx").isNotNull(), 1).otherwise(0)
           + F.when(F.col("next_turn_idx").isNotNull(), 1).otherwise(0))
    return j.select("conv_id", "turn_idx", "concept_id", "link_score",
                    "prev_turn_idx", "next_turn_idx",
                    ctx.cast("int").alias("ctx_size"))


def _sql_kg_mention_contexts() -> str:
    canon = _sql_kg_canonical_body()
    return f"""
WITH canon AS ({canon}),
cm AS (
  SELECT conv_id, turn_idx, concept_id,
         round(max(link_score), 6) AS link_score
  FROM canon GROUP BY 1, 2, 3),
ta AS ({SQL_KG_TURN_ASSEMBLY.strip()})
SELECT c.conv_id, c.turn_idx, c.concept_id, c.link_score,
       t.prev_turn_idx, t.next_turn_idx,
       CAST(1 + CASE WHEN t.prev_turn_idx IS NULL THEN 0 ELSE 1 END
              + CASE WHEN t.next_turn_idx IS NULL THEN 0 ELSE 1 END
            AS INT) AS ctx_size
FROM cm c JOIN ta t ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
"""


def q_kg_neighbor_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style bounded-fanout neighborhood sampler [K: the
    minibatch constructor every GNN trainer runs over a graph]: for
    each seed concept, sample <=NBR_FANOUT_H1 hop-1 neighbors, then
    <=NBR_FANOUT_H2 hop-2 neighbors per hop-1 node (never stepping
    straight back to the seed). The "random" draw is the repo's
    md5-replay convention — rank neighbors by
    md5(seed:hop:[src:]dst) — so any engine, at any parallelism, draws
    the identical neighborhood. One edge row per sampled step.

    Shape: two frontier⋈edges equi-joins; rank windows keyed by seed
    (hop 1) / (seed, src) (hop 2) — bounded by node degree, never
    global. Output <= |seeds| * F1 * (1 + F2) rows by construction:
    the fanout caps are exactly what makes 10^12-edge GNN minibatch
    sampling tractable (the joins stay equi-keyed and the expansion is
    a constant factor, not a degree power)."""
    from ...operators.graph import undirected_edges
    tr = q_kg_triples(spark, sf_dir)
    e = undirected_edges(tr)
    seeds = (tr.filter(F.col("pred") == "mentions")
             .select(F.col("obj").alias("seed")).distinct())
    s1 = F.md5(F.concat(F.col("seed"), F.lit(":1:"), F.col("dst")))
    w1 = Window.partitionBy("seed").orderBy(s1.asc(), F.col("dst").asc())
    hop1 = (seeds.join(e, seeds.seed == e.src)
            .withColumn("rk", F.row_number().over(w1))
            .filter(F.col("rk") <= NBR_FANOUT_H1)
            .select("seed", "src", "dst", "rk"))
    h1n = hop1.select("seed", F.col("dst").alias("node"))
    e2 = e.select(F.col("src").alias("node"), F.col("dst").alias("dst2"))
    s2 = F.md5(F.concat(F.col("seed"), F.lit(":2:"), F.col("node"),
                        F.lit(":"), F.col("dst2")))
    w2 = Window.partitionBy("seed", "node").orderBy(s2.asc(),
                                                    F.col("dst2").asc())
    hop2 = (h1n.join(e2, "node")
            .filter(F.col("dst2") != F.col("seed"))
            .withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= NBR_FANOUT_H2)
            .select("seed", F.col("node").alias("src"),
                    F.col("dst2").alias("dst"), "rk"))
    return (hop1.select("seed", F.lit(1).alias("hop"), "src", "dst", "rk")
            .unionByName(hop2.select("seed", F.lit(2).alias("hop"),
                                     "src", "dst", "rk"))
            .select("seed", F.col("hop").cast("int").alias("hop"),
                    "src", "dst", F.col("rk").cast("int").alias("rk")))


def _sql_kg_neighbor_sampling() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
e AS MATERIALIZED (
  SELECT subj AS src, obj AS dst FROM (SELECT DISTINCT subj, obj FROM triples)
  UNION
  SELECT obj, subj FROM (SELECT DISTINCT subj, obj FROM triples)),
seeds AS (SELECT DISTINCT obj AS seed FROM triples WHERE pred = 'mentions'),
h1 AS (
  SELECT seed, src, dst, rk FROM (
    SELECT s.seed, e.src, e.dst,
           row_number() OVER (PARTITION BY s.seed
                              ORDER BY md5(s.seed || ':1:' || e.dst) ASC,
                                       e.dst ASC) AS rk
    FROM seeds s JOIN e ON e.src = s.seed)
  WHERE rk <= {NBR_FANOUT_H1}),
h2 AS (
  SELECT seed, src, dst, rk FROM (
    SELECT h.seed, e.src, e.dst,
           row_number() OVER (PARTITION BY h.seed, e.src
                              ORDER BY md5(h.seed || ':2:' || e.src
                                           || ':' || e.dst) ASC,
                                       e.dst ASC) AS rk
    FROM h1 h JOIN e ON e.src = h.dst
    WHERE e.dst <> h.seed)
  WHERE rk <= {NBR_FANOUT_H2})
SELECT seed, CAST(1 AS INT) AS hop, src, dst, CAST(rk AS INT) AS rk FROM h1
UNION ALL
SELECT seed, CAST(2 AS INT) AS hop, src, dst, CAST(rk AS INT) AS rk FROM h2
"""


def q_kg_degree_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-anomaly QA over the constructed KG [K: bot/spam sweep — a
    subject whose per-predicate out-degree is a robust outlier is a
    runaway conversation or a scraper, and KG QA flags it before the
    graph ships]: per predicate, compute the median and MAD of subject
    out-degree in exact doubled/quadrupled integer units (the
    rel_outliers idiom — interpolated medians of even bigints stay
    integral) and emit every subject beyond the 3-sigma-equivalent
    |deg - med| > 3*1.4826*MAD fence, cross-multiplied so no division
    ever leaves integers. Degenerate MAD=0 (over half the subjects
    share the median degree) falls back to flagging any deviation —
    the standard MAD behavior, documented rather than patched.

    Shape: one (pred, subj) hash agg over the deduped triple set, two
    pred-keyed percentile aggs broadcast back (|preds| rows), one
    map-side filter. No windows, no self-joins; at 100 TB swap
    percentile for approx_percentile and keep the shape."""
    tr = q_kg_triples(spark, sf_dir)
    deg = (tr.groupBy("pred", "subj")
           .agg(F.count(F.lit(1)).alias("deg")))
    v = deg.withColumn("v2", (F.col("deg") * 2).cast("long"))
    g1 = v.groupBy("pred").agg(
        F.expr("CAST(percentile(v2, 0.5) AS BIGINT)").alias("med2"),
        F.count(F.lit(1)).cast("long").alias("n_subj"))
    dv = (v.join(F.broadcast(g1), "pred")
          .withColumn("dev2", F.abs(F.col("v2") - F.col("med2"))))
    g2 = dv.groupBy("pred").agg(
        F.expr("CAST(percentile(2 * dev2, 0.5) AS BIGINT)").alias("mad4"))
    return (dv.join(F.broadcast(g2), "pred")
            .filter(F.expr("dev2 * 10000 > 22239 * mad4"))
            .select("pred", "subj", F.col("deg").cast("long").alias("deg"),
                    F.col("med2").cast("long").alias("med_deg2"),
                    F.col("mad4").cast("long").alias("mad4"),
                    "n_subj"))


def _sql_kg_degree_anomaly() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
deg AS (
  SELECT pred, subj, count(*) AS deg FROM triples GROUP BY 1, 2),
v AS (SELECT pred, subj, deg, CAST(deg * 2 AS BIGINT) AS v2 FROM deg),
g1 AS (
  SELECT pred, CAST(quantile_cont(v2, 0.5) AS BIGINT) AS med2,
         CAST(count(*) AS BIGINT) AS n_subj
  FROM v GROUP BY 1),
dv AS (
  SELECT v.pred, v.subj, v.deg, abs(v2 - med2) AS dev2, med2, n_subj
  FROM v JOIN g1 USING (pred)),
g2 AS (
  SELECT pred, CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
  FROM dv GROUP BY 1)
SELECT dv.pred, dv.subj, CAST(dv.deg AS BIGINT) AS deg,
       CAST(dv.med2 AS BIGINT) AS med_deg2,
       CAST(g2.mad4 AS BIGINT) AS mad4, dv.n_subj
FROM dv JOIN g2 USING (pred)
WHERE dev2 * 10000 > 22239 * mad4
"""


def q_kg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the Wu-Palmer metric [K: the calibration
    diagram every ML eval ships — here: does a higher WuP score
    actually mean two concepts sit in the same taxonomy branch?]: bin
    every concept pair of the P8 all-pairs matrix by WuP in 0.2-wide
    bins and report, per bin, how many pairs share a depth-2 branch,
    the same-branch rate, and the mean in-bin WuP — all in exact ppm
    integers so the table replays bit-identically on any engine. A
    well-calibrated metric shows the rate rising with the bin; pairs
    involving the root (outside the branch map) are excluded by the
    inner joins, which is the honest denominator.

    Shape: the wup matrix (ontology-sized) joined twice against the
    broadcast (concept -> branch) map, one <=5-row hash agg on the
    bin. Everything after P8 is broadcast-sized."""
    wup = q_kg_wup_matrix(spark, sf_dir)
    bmap = spark.createDataFrame(_branch_map_pdf())
    ba = bmap.select(F.col("concept_id").alias("concept_a"),
                     F.col("branch").alias("branch_a"))
    bb = bmap.select(F.col("concept_id").alias("concept_b"),
                     F.col("branch").alias("branch_b"))
    j = (wup.join(F.broadcast(ba), "concept_a")
         .join(F.broadcast(bb), "concept_b"))
    binned = j.select(
        F.least(F.lit(4), F.floor(F.col("wup") * 5).cast("int"))
        .alias("bin"),
        F.floor(F.col("wup") * 1000000).cast("long").alias("wup_ppm"),
        (F.col("branch_a") == F.col("branch_b")).cast("int").alias("same"))
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.sum("same").cast("long").alias("n_same_branch"),
                 F.expr("sum(same) * 1000000 DIV count(1)").cast("long")
                 .alias("same_rate_ppm"),
                 F.expr("sum(wup_ppm) DIV count(1)").cast("long")
                 .alias("mean_wup_ppm")))


def _sql_kg_calibration() -> str:
    bv = values_sql(_branch_map_pdf(), "m")
    return f"""
WITH wup AS ({_sql_kg_wup_matrix()}),
bmap AS (SELECT concept_id, branch FROM {bv}),
j AS (
  SELECT least(4, CAST(floor(w.wup * 5) AS INT)) AS bin,
         CAST(floor(w.wup * 1000000) AS BIGINT) AS wup_ppm,
         CASE WHEN a.branch = b.branch THEN 1 ELSE 0 END AS same
  FROM wup w
  JOIN bmap a ON a.concept_id = w.concept_a
  JOIN bmap b ON b.concept_id = w.concept_b)
SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(same) AS BIGINT) AS n_same_branch,
       CAST(sum(same) * 1000000 // count(*) AS BIGINT) AS same_rate_ppm,
       CAST(sum(wup_ppm) // count(*) AS BIGINT) AS mean_wup_ppm
FROM j GROUP BY bin
"""


def q_kg_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge triangle support / k-truss pre-peel over the constructed
    KG (operators/graph.py:edge_triangle_support) [K: support(u,v) =
    common-neighbor count; k-truss membership needs support >= k-2].
    One row per canonical undirected edge with exact support and the
    k=3/k=4 flags — the dense-subgraph QA read and the first round of
    the truss peel.

    Shape: wedge-closure equi-joins + one hash agg; see the operator
    docstring for the 100-TB orientation/bucketing notes."""
    from ...operators.graph import edge_triangle_support
    return edge_triangle_support(q_kg_triples(spark, sf_dir))


def _sql_kg_truss() -> str:
    return f"""
WITH triples AS MATERIALIZED ({_sql_kg_triples_body()}),
e0 AS (SELECT DISTINCT subj AS src, obj AS dst FROM triples),
und AS (
  SELECT src, dst FROM e0 WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM e0 WHERE src <> dst),
canon AS (SELECT src, dst FROM und WHERE src < dst),
sup AS (
  SELECT e.src, e.dst, count(*) AS support
  FROM canon e
  JOIN und a ON a.src = e.src
  JOIN und b ON b.src = e.dst AND b.dst = a.dst
  GROUP BY 1, 2)
SELECT c.src, c.dst,
       CAST(coalesce(s.support, 0) AS BIGINT) AS support,
       CAST(CASE WHEN coalesce(s.support, 0) >= 1 THEN 1 ELSE 0 END
            AS INT) AS in_truss3,
       CAST(CASE WHEN coalesce(s.support, 0) >= 2 THEN 1 ELSE 0 END
            AS INT) AS in_truss4
FROM canon c LEFT JOIN sup s ON s.src = c.src AND s.dst = c.dst
"""


def q_kg_pathsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PathSim metapath similarity over the heterogeneous KG [K: Sun
    et al., VLDB'11 — similarity of two same-typed nodes along a
    symmetric metapath; here concept-turn-concept: s(a,b) =
    2*|paths a~t~b| / (|a~t~a| + |b~t~b|), which for binary incidence
    is 2*co-mentions / (n_turns_a + n_turns_b). The normalization is
    what distinguishes it from raw co-occurrence: a hub concept that
    co-occurs with everything is discounted by its own path mass].
    Exact-ppm integers; only co-mentioning pairs (co > 0) are emitted
    — the equi-join on the shared turn IS the sparsity, never
    all-pairs.

    Shape: one distinct (turn, concept) projection, one turn-keyed
    self-join (a < b) + pair hash agg, one per-concept count agg
    joined back twice (broadcast — ontology-sized). At 100 TB the
    turn-keyed join salts hot turns (bounded: a turn mentions <=
    |ontology| concepts), and the per-concept side is always tiny."""
    tags = (_mentions_df(spark, sf_dir)
            .select("conv_id", "turn_idx", "concept_id").distinct())
    co = (tags.alias("a")
          .join(tags.alias("b"),
                (F.col("a.conv_id") == F.col("b.conv_id"))
                & (F.col("a.turn_idx") == F.col("b.turn_idx"))
                & (F.col("a.concept_id") < F.col("b.concept_id")))
          .groupBy(F.col("a.concept_id").alias("concept_a"),
                   F.col("b.concept_id").alias("concept_b"))
          .agg(F.count(F.lit(1)).cast("long").alias("co_turns")))
    n = tags.groupBy("concept_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"))
    na = n.select(F.col("concept_id").alias("concept_a"),
                  F.col("n_turns").alias("n_a"))
    nb = n.select(F.col("concept_id").alias("concept_b"),
                  F.col("n_turns").alias("n_b"))
    return (co.join(F.broadcast(na), "concept_a")
            .join(F.broadcast(nb), "concept_b")
            .select("concept_a", "concept_b", "co_turns", "n_a", "n_b",
                    F.expr("2 * co_turns * 1000000L DIV (n_a + n_b)")
                    .cast("long").alias("pathsim_ppm")))


def _sql_kg_pathsim() -> str:
    return f"""
WITH {_MENTIONS_CTE},
tags AS (SELECT DISTINCT conv_id, turn_idx, concept_id FROM mentions),
co AS (
  SELECT a.concept_id AS concept_a, b.concept_id AS concept_b,
         CAST(count(*) AS BIGINT) AS co_turns
  FROM tags a JOIN tags b
    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
   AND a.concept_id < b.concept_id
  GROUP BY 1, 2),
n AS (SELECT concept_id, CAST(count(*) AS BIGINT) AS n_turns
      FROM tags GROUP BY 1)
SELECT co.concept_a, co.concept_b, co.co_turns,
       na.n_turns AS n_a, nb.n_turns AS n_b,
       CAST(2 * co.co_turns * 1000000 // (na.n_turns + nb.n_turns)
            AS BIGINT) AS pathsim_ppm
FROM co
JOIN n na ON na.concept_id = co.concept_a
JOIN n nb ON nb.concept_id = co.concept_b
"""


def q_kg_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank agreement between PageRank and raw degree over the KG's
    concept layer [K: the Kendall-tau sanity read behind "can we use
    the cheap degree proxy instead of iterating PageRank" — high tau
    means degree-based pruning is safe, low tau means the link
    structure carries information degree misses]: exact integer
    Kendall counts (concordant / discordant / ties) over all concept
    pairs, tau-a as one double division at the end. Restricted to the
    ontology-sized concept layer ON PURPOSE: all-pairs over every KG
    node is a banned BNL shape at scale, while |ontology|^2 is a
    constant; the rank_ppm and degree inputs are both exact BIGINTs
    so every comparison is engine-invariant.

    Shape: the pagerank fixed point + one degree hash agg, both
    filtered to 'dq:' concept nodes (tiny), one broadcast inequality
    self-join over that tiny table, one O(1) count agg."""
    pr = q_kg_pagerank(spark, sf_dir) \
        .filter(F.col("node").startswith("dq:"))
    tr = q_kg_triples(spark, sf_dir)
    deg = (tr.select(F.col("subj").alias("node"))
           .unionByName(tr.select(F.col("obj").alias("node")))
           .filter(F.col("node").startswith("dq:"))
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("long").alias("degree")))
    t = pr.join(deg, "node", "left") \
        .select("node", "rank_ppm",
                F.coalesce("degree", F.lit(0)).cast("long")
                .alias("degree"))
    pairs = (t.alias("a")
             .join(F.broadcast(t.alias("b")),
                   F.col("a.node") < F.col("b.node"))
             .select(
                 ((F.col("a.rank_ppm") > F.col("b.rank_ppm"))
                  & (F.col("a.degree") > F.col("b.degree"))
                  | (F.col("a.rank_ppm") < F.col("b.rank_ppm"))
                  & (F.col("a.degree") < F.col("b.degree")))
                 .cast("long").alias("conc"),
                 ((F.col("a.rank_ppm") > F.col("b.rank_ppm"))
                  & (F.col("a.degree") < F.col("b.degree"))
                  | (F.col("a.rank_ppm") < F.col("b.rank_ppm"))
                  & (F.col("a.degree") > F.col("b.degree")))
                 .cast("long").alias("disc")))
    n = t.agg(F.count(F.lit(1)).cast("long").alias("n_concepts"))
    g = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                  F.sum("conc").cast("long").alias("concordant"),
                  F.sum("disc").cast("long").alias("discordant"))
    return (g.crossJoin(F.broadcast(n))
            .select("n_concepts", "n_pairs", "concordant", "discordant",
                    (F.col("n_pairs") - F.col("concordant")
                     - F.col("discordant")).cast("long").alias("ties"),
                    F.round((F.col("concordant").cast("double")
                             - F.col("discordant").cast("double"))
                            / F.col("n_pairs").cast("double"), 6)
                    .alias("tau_a")))


def _sql_kg_rank_corr() -> str:
    pr = _sql_kg_pagerank().strip().rstrip(";")
    return f"""
WITH pr_all AS MATERIALIZED ({pr}),
pr AS (SELECT node, rank_ppm FROM pr_all WHERE node LIKE 'dq:%'),
triples AS MATERIALIZED ({_sql_kg_triples_body()}),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT subj AS node FROM triples
    UNION ALL SELECT obj AS node FROM triples)
  WHERE node LIKE 'dq:%' GROUP BY 1),
t AS (
  SELECT pr.node, pr.rank_ppm,
         CAST(coalesce(deg.degree, 0) AS BIGINT) AS degree
  FROM pr LEFT JOIN deg USING (node)),
pairs AS (
  SELECT CAST(CASE WHEN (a.rank_ppm > b.rank_ppm AND a.degree > b.degree)
                    OR (a.rank_ppm < b.rank_ppm AND a.degree < b.degree)
              THEN 1 ELSE 0 END AS BIGINT) AS conc,
         CAST(CASE WHEN (a.rank_ppm > b.rank_ppm AND a.degree < b.degree)
                    OR (a.rank_ppm < b.rank_ppm AND a.degree > b.degree)
              THEN 1 ELSE 0 END AS BIGINT) AS disc
  FROM t a JOIN t b ON a.node < b.node),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_concepts FROM t),
g AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(conc) AS BIGINT) AS concordant,
             CAST(sum(disc) AS BIGINT) AS discordant FROM pairs)
SELECT n_concepts, n_pairs, concordant, discordant,
       CAST(n_pairs - concordant - discordant AS BIGINT) AS ties,
       round((CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
             / CAST(n_pairs AS DOUBLE), 6) AS tau_a
FROM g CROSS JOIN n
"""


def q_kg_diameter_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diameter lower bound by double-BFS [K: the standard
    2-sweep heuristic — BFS from an arbitrary node, then BFS from the
    farthest node found; the second eccentricity is a (often tight)
    diameter lower bound]: seed = lexicographically smallest KG node
    (deterministic), both sweeps capped at DIAM_MAX_HOPS (the bound
    stays a valid LOWER bound under the cap, documented), farthest-
    node ties broken by smallest node id so both engines pick the
    identical endpoint. Reports the seed, its eccentricity, the
    peripheral node, and the second-sweep diameter bound. Reads the
    seed's component only — unreachable nodes can't contribute to a
    path through the seed anyway.

    Shape: two bounded level-synchronous BFS passes (the bfs_depths
    operator: per-hop equi-join + anti-join, localCheckpoint per
    level) and two O(1) argmax collects (TakeOrdered over the depth
    table) to choose the next seed — 1-row driver actions, the
    convergence-probe convention, not data movement."""
    from ...operators.graph import bfs_depths
    tr = q_kg_triples(spark, sf_dir)
    nodes = (tr.select(F.col("subj").alias("node"))
             .unionByName(tr.select(F.col("obj").alias("node"))))
    seed = nodes.agg(F.min("node").alias("node")).collect()[0].node
    b1 = bfs_depths(tr, spark.createDataFrame([(seed,)], "node string"),
                    max_hops=DIAM_MAX_HOPS)
    far = b1.orderBy(F.desc("depth"), F.asc("node")).limit(1) \
        .collect()[0]
    b2 = bfs_depths(tr,
                    spark.createDataFrame([(far.node,)], "node string"),
                    max_hops=DIAM_MAX_HOPS)
    end = b2.orderBy(F.desc("depth"), F.asc("node")).limit(1) \
        .collect()[0]
    return spark.createDataFrame(
        [(seed, int(far.depth), far.node, int(end.depth), end.node)],
        "seed string, ecc_seed bigint, peripheral string,"
        " diameter_lb bigint, endpoint string")


def _sql_kg_diameter_est() -> str:
    return f"""
WITH RECURSIVE triples AS MATERIALIZED ({_sql_kg_triples_body()}),
e AS MATERIALIZED (
  SELECT subj AS src, obj AS dst
  FROM (SELECT DISTINCT subj, obj FROM triples)
  UNION
  SELECT obj, subj FROM (SELECT DISTINCT subj, obj FROM triples)),
seed AS (SELECT min(node) AS node FROM (
  SELECT subj AS node FROM triples
  UNION ALL SELECT obj FROM triples)),
r1(node, depth) AS (
  SELECT node, 0 FROM seed
  UNION
  SELECT e.dst, r1.depth + 1 FROM r1 JOIN e ON e.src = r1.node
  WHERE r1.depth < {DIAM_MAX_HOPS}),
d1 AS (SELECT node, CAST(min(depth) AS BIGINT) AS depth
       FROM r1 GROUP BY node),
far1 AS (SELECT node, depth FROM d1
         ORDER BY depth DESC, node ASC LIMIT 1),
r2(node, depth) AS (
  SELECT node, 0 FROM far1
  UNION
  SELECT e.dst, r2.depth + 1 FROM r2 JOIN e ON e.src = r2.node
  WHERE r2.depth < {DIAM_MAX_HOPS}),
d2 AS (SELECT node, CAST(min(depth) AS BIGINT) AS depth
       FROM r2 GROUP BY node),
far2 AS (SELECT node, depth FROM d2
         ORDER BY depth DESC, node ASC LIMIT 1)
SELECT (SELECT node FROM seed) AS seed,
       (SELECT depth FROM far1) AS ecc_seed,
       (SELECT node FROM far1) AS peripheral,
       (SELECT depth FROM far2) AS diameter_lb,
       (SELECT node FROM far2) AS endpoint
"""


def q_kg_topic_focus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation topical-concentration profile [K: the
    Herfindahl-Hirschman / inverse-Simpson read a topic router and a
    curation mixer both consume — effective_topics = 1/HHI is "how
    many topics is this conversation REALLY about"; 1.0 = laser
    focus, near the concept count = diffuse]: CDS scores quantized to
    exact milli-integers (round-stable), HHI = sum(s_i^2) over
    (sum s_i)^2 with BOTH sums exact BIGINTs (the milli scale keeps
    sum(s^2)*1e6 far inside int64 — a ppm scale would overflow at
    ontology fan-outs), hhi_ppm by integer cross-multiplied division,
    and one double reciprocal at the end. A margin-style top1-top2
    read is degenerate on this pipeline (max-propagated CDS ties the
    head at 1.0 corpus-wide — verified), so concentration over the
    WHOLE score mass is the read with signal.

    Shape: one (conv) hash agg over the P14 table + map arithmetic.
    Nothing beyond the CDS plan itself."""
    cds = q_kg_cds(spark, sf_dir)
    q = cds.select("subj_key",
                   F.expr(f"CAST(round(score * {HHI_SCALE}, 0)"
                          " AS BIGINT)").alias("s"))
    g = q.groupBy("subj_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_concepts"),
        F.sum("s").cast("long").alias("mass"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("mass2"))
    return g.select(
        "subj_key", "n_concepts", "mass",
        F.expr("mass2 * 1000000L DIV (mass * mass)").cast("long")
        .alias("hhi_ppm"),
        F.round(F.col("mass").cast("double")
                * F.col("mass").cast("double")
                / F.col("mass2").cast("double"), 6)
        .alias("effective_topics"))


def _sql_kg_topic_focus() -> str:
    return f"""
WITH cds AS ({_sql_kg_cds_body()}),
q AS (
  SELECT subj_key,
         CAST(round(score * {HHI_SCALE}, 0) AS BIGINT) AS s
  FROM cds),
g AS (
  SELECT subj_key, CAST(count(*) AS BIGINT) AS n_concepts,
         CAST(sum(s) AS BIGINT) AS mass,
         CAST(sum(s * s) AS BIGINT) AS mass2
  FROM q GROUP BY 1)
SELECT subj_key, n_concepts, mass,
       CAST(mass2 * 1000000 // (mass * mass) AS BIGINT) AS hhi_ppm,
       round(CAST(mass AS DOUBLE) * CAST(mass AS DOUBLE)
             / CAST(mass2 AS DOUBLE), 6) AS effective_topics
FROM g
"""


def q_kg_cardinality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate cardinality profile of the materialized KG [K:
    the OWL-flavored schema QA every KG consumer runs before writing
    queries — is `mentions` one-to-many? is `replies_to` functional
    (<=1 object per subject)? is anything inverse-functional (a
    natural key)? — plus the fan-out maxima that predict join skew]:
    per predicate the triple / distinct-subject / distinct-object
    counts, max out-fan and in-fan, exact mean out-fan in ppm, and
    the functional / inverse_functional flags.

    Shape: one (pred,subj) and one (pred,obj) hash agg (both partial-
    aggregating map-side), re-aggregated per predicate, joined on the
    tiny predicate key — output is predicate-cardinality-sized. The
    fan maxima are exactly the skew signal rel_salted_agg defuses at
    execution time; this op is how you DISCOVER which predicate needs
    the salt at 10^12 triples."""
    t = q_kg_triples(spark, sf_dir)
    out = (t.groupBy("pred", "subj")
           .agg(F.count(F.lit(1)).cast("long").alias("fan"))
           .groupBy("pred")
           .agg(F.count(F.lit(1)).cast("long").alias("n_subj"),
                F.sum("fan").cast("long").alias("n_triples"),
                F.max("fan").cast("long").alias("max_out")))
    inn = (t.groupBy("pred", "obj")
           .agg(F.count(F.lit(1)).cast("long").alias("fan"))
           .groupBy("pred")
           .agg(F.count(F.lit(1)).cast("long").alias("n_obj"),
                F.max("fan").cast("long").alias("max_in")))
    return (out.join(inn, "pred")
            .select("pred", "n_triples", "n_subj", "n_obj",
                    "max_out", "max_in",
                    F.expr("n_triples * 1000000 DIV n_subj")
                    .cast("long").alias("mean_out_ppm"),
                    (F.col("max_out") == 1).cast("int")
                    .alias("functional"),
                    (F.col("max_in") == 1).cast("int")
                    .alias("inverse_functional")))


def _sql_kg_cardinality_profile() -> str:
    return f"""
WITH triples AS ({_sql_kg_triples_body()}),
o AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n_subj,
         CAST(sum(fan) AS BIGINT) AS n_triples,
         CAST(max(fan) AS BIGINT) AS max_out
  FROM (SELECT pred, subj, CAST(count(*) AS BIGINT) AS fan
        FROM triples GROUP BY 1, 2) GROUP BY pred),
i AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n_obj,
         CAST(max(fan) AS BIGINT) AS max_in
  FROM (SELECT pred, obj, CAST(count(*) AS BIGINT) AS fan
        FROM triples GROUP BY 1, 2) GROUP BY pred)
SELECT pred, n_triples, n_subj, n_obj, max_out, max_in,
       CAST(n_triples * 1000000 // n_subj AS BIGINT) AS mean_out_ppm,
       CAST(CASE WHEN max_out = 1 THEN 1 ELSE 0 END AS INT)
         AS functional,
       CAST(CASE WHEN max_in = 1 THEN 1 ELSE 0 END AS INT)
         AS inverse_functional
FROM o JOIN i USING (pred)
"""


def q_kg_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimator calibration per predicate pair [K:
    the optimizer-engineering read — the textbook uniformity estimate
    |A||B|/max(V(A,obj),V(B,subj)) against the TRUE size of the
    obj=subj join for every ordered predicate pair, with the q-error
    every cardinality-estimation paper reports; pairs with big
    q-error are exactly where a 10^12-triple engine mis-plans join
    order]: true size computed scale-correctly as sum over join keys
    of out-degree x in-degree (a key-keyed equi-join of two degree
    tables — never materializing the join), estimate from per-pred
    totals, q-error = max(act,est)/max(min(act,est),1) in exact ppm.

    Shape: two (pred,key) hash aggs, a key-keyed equi-join + per-pair
    agg, a tiny pred-pair cross of broadcast per-pred stats. Output
    is |preds|^2-sized."""
    t = q_kg_triples(spark, sf_dir)
    outd = (t.groupBy("pred", F.col("obj").alias("k"))
            .agg(F.count(F.lit(1)).cast("long").alias("d1")))
    ind = (t.groupBy("pred", F.col("subj").alias("k"))
           .agg(F.count(F.lit(1)).cast("long").alias("d2")))
    act = (outd.select(F.col("pred").alias("pa"), "k", "d1")
           .join(ind.select(F.col("pred").alias("pb"), "k", "d2"), "k")
           .groupBy("pa", "pb")
           .agg(F.sum(F.col("d1") * F.col("d2")).cast("long")
                .alias("actual")))
    stats = t.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("obj").cast("long").alias("v_obj"),
        F.countDistinct("subj").cast("long").alias("v_subj"))
    pairs = (stats.alias("a").crossJoin(F.broadcast(stats.alias("b")))
             .select(F.col("a.pred").alias("pa"),
                     F.col("b.pred").alias("pb"),
                     F.col("a.n").alias("n_a"),
                     F.col("b.n").alias("n_b"),
                     F.greatest(F.col("a.v_obj"), F.col("b.v_subj"))
                     .alias("v")))
    j = (pairs.join(act, ["pa", "pb"], "left")
         .select("pa", "pb", "n_a", "n_b",
                 F.coalesce("actual", F.lit(0)).cast("long")
                 .alias("actual"),
                 F.expr("n_a * n_b DIV v").cast("long").alias("est")))
    return j.select(
        F.col("pa").alias("pred_a"), F.col("pb").alias("pred_b"),
        "n_a", "n_b", "actual", "est",
        F.expr("greatest(actual, est) * 1000000"
               " DIV greatest(least(actual, est), 1)").cast("long")
        .alias("q_error_ppm"),
        (F.col("est") >= F.col("actual")).cast("int")
        .alias("overestimate"))


def _sql_kg_join_cardinality() -> str:
    return f"""
WITH triples AS ({_sql_kg_triples_body()}),
outd AS (
  SELECT pred AS pa, obj AS k, CAST(count(*) AS BIGINT) AS d1
  FROM triples GROUP BY 1, 2),
ind AS (
  SELECT pred AS pb, subj AS k, CAST(count(*) AS BIGINT) AS d2
  FROM triples GROUP BY 1, 2),
act AS (
  SELECT pa, pb, CAST(sum(d1 * d2) AS BIGINT) AS actual
  FROM outd JOIN ind USING (k) GROUP BY 1, 2),
stats AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT obj) AS BIGINT) AS v_obj,
         CAST(count(DISTINCT subj) AS BIGINT) AS v_subj
  FROM triples GROUP BY 1),
pairs AS (
  SELECT a.pred AS pa, b.pred AS pb, a.n AS n_a, b.n AS n_b,
         greatest(a.v_obj, b.v_subj) AS v
  FROM stats a CROSS JOIN stats b),
j AS (
  SELECT pa, pb, n_a, n_b,
         CAST(coalesce(act.actual, 0) AS BIGINT) AS actual,
         CAST(n_a * n_b // v AS BIGINT) AS est
  FROM pairs LEFT JOIN act USING (pa, pb))
SELECT pa AS pred_a, pb AS pred_b, n_a, n_b, actual, est,
       CAST(greatest(actual, est) * 1000000
            // greatest(least(actual, est), 1) AS BIGINT)
         AS q_error_ppm,
       CAST(CASE WHEN est >= actual THEN 1 ELSE 0 END AS INT)
         AS overestimate
FROM j
"""


def q_kg_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club connectivity of the KG [K: the network-science read
    on elite interconnection — do high-degree concepts link to EACH
    OTHER more densely than chance? a rising phi(k) means hub
    concepts form a core (one shuffle-hot block at query time), a
    flat one means hubs spread]: for each power-of-two degree
    threshold k the surviving node count, the undirected edge count
    among survivors, and the density phi in exact ppm
    (2E / (N(N-1))).

    Shape: one degree agg, a broadcast degree join onto the edge
    list (edges keyed by both endpoints — two joins, never
    all-pairs), one per-threshold conditional agg over the bounded
    threshold list. Exact integers throughout."""
    t = q_kg_triples(spark, sf_dir)
    edges = (t.select(F.col("subj").alias("u"), F.col("obj").alias("v"))
             .filter(F.col("u") != F.col("v")).distinct()
             .select(F.least("u", "v").alias("a"),
                     F.greatest("u", "v").alias("b")).distinct())
    deg = (edges.select(F.col("a").alias("n_id"))
           .unionAll(edges.select(F.col("b").alias("n_id")))
           .groupBy("n_id")
           .agg(F.count(F.lit(1)).cast("long").alias("deg")))
    ks = spark.range(0, 7).select(
        F.expr("shiftleft(1L, CAST(id AS INT))").cast("long")
        .alias("k"))
    nodes = (deg.crossJoin(F.broadcast(ks))
             .filter(F.col("deg") > F.col("k"))
             .groupBy("k")
             .agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
    da = deg.select(F.col("n_id").alias("a"),
                    F.col("deg").alias("da"))
    db = deg.select(F.col("n_id").alias("b"),
                    F.col("deg").alias("db"))
    ej = edges.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    ecnt = (ej.crossJoin(F.broadcast(ks))
            .filter((F.col("da") > F.col("k"))
                    & (F.col("db") > F.col("k")))
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
    return (nodes.join(ecnt, "k", "left")
            .select("k", "n_nodes",
                    F.coalesce("n_edges", F.lit(0)).cast("long")
                    .alias("n_edges"))
            .filter(F.col("n_nodes") >= 2)
            .withColumn("phi_ppm", F.expr(
                "2 * n_edges * 1000000"
                " DIV (n_nodes * (n_nodes - 1))").cast("long")))


def _sql_kg_rich_club() -> str:
    return f"""
WITH triples AS ({_sql_kg_triples_body()}),
edges AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
  FROM (SELECT DISTINCT subj AS u, obj AS v FROM triples
        WHERE subj <> obj)),
deg AS (
  SELECT n_id, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS n_id FROM edges
        UNION ALL SELECT b AS n_id FROM edges)
  GROUP BY 1),
ks AS (SELECT CAST(1 << CAST(unnest(generate_series(0, 6)) AS INT)
              AS BIGINT) AS k),
nodes AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg CROSS JOIN ks WHERE deg > k GROUP BY 1),
ej AS (
  SELECT e.a, e.b, da.deg AS da, db.deg AS db
  FROM edges e JOIN deg da ON da.n_id = e.a
               JOIN deg db ON db.n_id = e.b),
ecnt AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_edges
  FROM ej CROSS JOIN ks WHERE da > k AND db > k GROUP BY 1)
SELECT nodes.k, n_nodes,
       CAST(coalesce(ecnt.n_edges, 0) AS BIGINT) AS n_edges,
       CAST(2 * coalesce(ecnt.n_edges, 0) * 1000000
            // (n_nodes * (n_nodes - 1)) AS BIGINT) AS phi_ppm
FROM nodes LEFT JOIN ecnt ON ecnt.k = nodes.k
WHERE n_nodes >= 2
"""


def q_kg_domain_range_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned domain/range conformance audit per predicate [K: the
    OWL domain/range constraint check WITHOUT a declared schema —
    learn each predicate's dominant subject and object NAMESPACE
    (the id prefix before ':'), then count triples that deviate;
    deviations are either modeling drift or extraction bugs, and
    this audit is how a KG team finds them at 10^12 triples]: per
    predicate the dominant domain/range, triple count, conforming
    count (both ends dominant), and violation ppm.

    Shape: map-side namespace projection, one (pred, ns-pair) hash
    agg, per-pred struct-max dominants (no window), one broadcast
    join back. Exact integers end to end."""
    t = q_kg_triples(spark, sf_dir)
    ns = t.select(
        "pred",
        F.substring_index("subj", ":", 1).alias("sns"),
        F.substring_index("obj", ":", 1).alias("ons"))
    cnt = (ns.groupBy("pred", "sns", "ons")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    doms = (ns.groupBy("pred", "sns")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .groupBy("pred")
            .agg(F.max(F.struct(F.col("c"),
                                F.col("sns").alias("v"))).alias("t"))
            .select("pred", F.col("t.v").alias("dom_ns")))
    rngs = (ns.groupBy("pred", "ons")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .groupBy("pred")
            .agg(F.max(F.struct(F.col("c"),
                                F.col("ons").alias("v"))).alias("t"))
            .select("pred", F.col("t.v").alias("rng_ns")))
    per = (cnt.groupBy("pred")
           .agg(F.sum("c").cast("long").alias("n_triples")))
    conf = (cnt.join(F.broadcast(doms), "pred")
            .join(F.broadcast(rngs), "pred")
            .groupBy("pred")
            .agg(F.sum(F.when((F.col("sns") == F.col("dom_ns"))
                              & (F.col("ons") == F.col("rng_ns")),
                              F.col("c")).otherwise(0))
                 .cast("long").alias("n_conform")))
    return (per.join(conf, "pred").join(F.broadcast(doms), "pred")
            .join(F.broadcast(rngs), "pred")
            .select("pred", "dom_ns", "rng_ns", "n_triples",
                    "n_conform",
                    F.expr("(n_triples - n_conform) * 1000000"
                           " DIV n_triples").cast("long")
                    .alias("violation_ppm")))


def _sql_kg_domain_range_audit() -> str:
    return f"""
WITH triples AS ({_sql_kg_triples_body()}),
ns AS (
  SELECT pred, split_part(subj, ':', 1) AS sns,
         split_part(obj, ':', 1) AS ons
  FROM triples),
cnt AS (
  SELECT pred, sns, ons, CAST(count(*) AS BIGINT) AS c
  FROM ns GROUP BY 1, 2, 3),
doms AS (
  SELECT pred, first(sns ORDER BY c DESC, sns ASC) AS dom_ns
  FROM (SELECT pred, sns, CAST(count(*) AS BIGINT) AS c
        FROM ns GROUP BY 1, 2)
  GROUP BY pred),
rngs AS (
  SELECT pred, first(ons ORDER BY c DESC, ons ASC) AS rng_ns
  FROM (SELECT pred, ons, CAST(count(*) AS BIGINT) AS c
        FROM ns GROUP BY 1, 2)
  GROUP BY pred),
per AS (
  SELECT pred, CAST(sum(c) AS BIGINT) AS n_triples
  FROM cnt GROUP BY 1),
conf AS (
  SELECT cnt.pred,
         CAST(sum(CASE WHEN cnt.sns = doms.dom_ns
                        AND cnt.ons = rngs.rng_ns
                  THEN cnt.c ELSE 0 END) AS BIGINT) AS n_conform
  FROM cnt JOIN doms USING (pred) JOIN rngs USING (pred)
  GROUP BY cnt.pred)
SELECT per.pred, dom_ns, rng_ns, n_triples, n_conform,
       CAST((n_triples - n_conform) * 1000000 // n_triples AS BIGINT)
         AS violation_ppm
FROM per JOIN conf USING (pred) JOIN doms USING (pred)
JOIN rngs USING (pred)
"""


def q_kg_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed reciprocity of the KG [K: the network read that
    separates conversational graphs (replies reciprocate) from
    taxonomic ones (mentions don't) — reciprocity r = share of
    directed edges whose reverse edge also exists, per predicate and
    pooled; high-reciprocity predicates are the ones worth storing
    bidirectionally at 10^12 triples]: per predicate the directed
    edge count, reciprocated count, and r in exact ppm, plus an
    __all__ pooled row.

    Shape: distinct edge projection, one self-equi-join on the
    reversed key (hash join on (obj,subj) — never all-pairs), two
    tiny aggs. Exact integers."""
    t = q_kg_triples(spark, sf_dir)
    ed = (t.select("pred", F.col("subj").alias("u"),
                   F.col("obj").alias("v"))
          .filter(F.col("u") != F.col("v")).distinct())
    rev = ed.select("pred", F.col("v").alias("u"),
                    F.col("u").alias("v"),
                    F.lit(1).alias("has_rev"))
    j = (ed.join(rev, ["pred", "u", "v"], "left")
         .select("pred", F.coalesce("has_rev", F.lit(0)).alias("r")))
    per = (j.groupBy("pred")
           .agg(F.count(F.lit(1)).cast("long").alias("n_edges"),
                F.sum("r").cast("long").alias("n_recip")))
    allr = (j.groupBy(F.lit("__all__").alias("pred"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_edges"),
                 F.sum("r").cast("long").alias("n_recip")))
    return (per.unionByName(allr)
            .select("pred", "n_edges", "n_recip",
                    F.expr("n_recip * 1000000 DIV n_edges")
                    .cast("long").alias("reciprocity_ppm")))


def _sql_kg_reciprocity() -> str:
    return f"""
WITH triples AS ({_sql_kg_triples_body()}),
ed AS (
  SELECT DISTINCT pred, subj AS u, obj AS v
  FROM triples WHERE subj <> obj),
j AS (
  SELECT e.pred,
         CASE WHEN r.u IS NULL THEN 0 ELSE 1 END AS rr
  FROM ed e LEFT JOIN ed r
    ON r.pred = e.pred AND r.u = e.v AND r.v = e.u),
per AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(rr) AS BIGINT) AS n_recip
  FROM j GROUP BY 1
  UNION ALL
  SELECT '__all__', CAST(count(*) AS BIGINT),
         CAST(sum(rr) AS BIGINT)
  FROM j)
SELECT pred, n_edges, n_recip,
       CAST(n_recip * 1000000 // n_edges AS BIGINT)
         AS reciprocity_ppm
FROM per
"""


def q_kg_salt_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salt planner [K: closes the loop between skew DISCOVERY
    and skew HANDLING — kg_cardinality_profile finds the hot keys,
    rel_salted_agg shows the two-phase fix; this op turns the
    per-predicate fan maxima into the concrete salt factor a job
    config needs: the smallest power of two that brings the hottest
    key under a target rows-per-(key,salt) budget]: per (pred,
    direction) the hottest key's fan, the p-th largest fans summary
    (max + total), the recommended salt (power of two, 1 = none) and
    the post-salt worst-case rows per task.

    Shape: two (pred,key) hash aggs, per-pred maxima, map-side
    bit-length arithmetic (exact — no logs). Output is tiny."""
    t = q_kg_triples(spark, sf_dir)
    outs = []
    for direction, key in (("out", "subj"), ("in", "obj")):
        fan = (t.groupBy("pred", F.col(key).alias("k"))
               .agg(F.count(F.lit(1)).cast("long").alias("fan")))
        per = (fan.groupBy("pred")
               .agg(F.count(F.lit(1)).cast("long").alias("n_keys"),
                    F.sum("fan").cast("long").alias("n_rows"),
                    F.max("fan").cast("long").alias("max_fan")))
        # salt = 2^ceil(log2(max_fan / target)) via bit-length:
        # need = (max_fan + T - 1) DIV T; salt = next pow2 >= need
        outs.append(per.select(
            "pred", F.lit(direction).alias("direction"),
            "n_keys", "n_rows", "max_fan",
            F.expr(
                f"CASE WHEN max_fan <= {SALT_TARGET_PER_KEY} THEN 1L "
                f"ELSE shiftleft(1L, CAST(length(bin("
                f"(max_fan + {SALT_TARGET_PER_KEY} - 1)"
                f" DIV {SALT_TARGET_PER_KEY} - 1)) AS INT)) END")
            .cast("long").alias("salt")))
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out.withColumn(
        "post_salt_max",
        F.expr("(max_fan + salt - 1) DIV salt").cast("long"))


def _sql_kg_salt_planner() -> str:
    blocks = []
    for direction, key in (("out", "subj"), ("in", "obj")):
        blocks.append(f"""
SELECT pred, '{direction}' AS direction,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(fan) AS BIGINT) AS n_rows,
       CAST(max(fan) AS BIGINT) AS max_fan,
       CAST(CASE WHEN max(fan) <= {SALT_TARGET_PER_KEY} THEN 1
            ELSE (CAST(1 AS BIGINT) << CAST(length(bin(
                 (max(fan) + {SALT_TARGET_PER_KEY} - 1)
                 // {SALT_TARGET_PER_KEY} - 1)) AS INT)) END
            AS BIGINT) AS salt
FROM (SELECT pred, {key} AS k, CAST(count(*) AS BIGINT) AS fan
      FROM triples GROUP BY 1, 2)
GROUP BY pred""")
    body = "\nUNION ALL\n".join(blocks)
    return f"""
WITH triples AS ({_sql_kg_triples_body()}),
base AS (
{body})
SELECT pred, direction, n_keys, n_rows, max_fan, salt,
       CAST((max_fan + salt - 1) // salt AS BIGINT) AS post_salt_max
FROM base
"""


def q_kg_thread_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation thread-topology profile [K: the transcript-
    structure read a dialogue-data team does before modeling —
    linear back-and-forth threads train turn-taking, branchy threads
    (a turn answered by many) need tree-aware packing; the
    replies_to edges carry exactly this shape]: per conversation the
    turn count, reply-edge count, max reply fan-in, branch-point
    count (turns with >= 2 replies), and the linear flag (no
    branches and every non-root turn replies).

    Shape: map-side conv-key extraction from the turn ids, one
    (conv, target) fan-in agg, one per-conv agg. Exact integers."""
    t = q_kg_triples(spark, sf_dir)
    rep = (t.filter(F.col("pred") == "replies_to")
           .select(F.regexp_extract("subj", "^turn:([^:]+):", 1)
                   .alias("conv"), F.col("obj").alias("tgt")))
    fanin = (rep.groupBy("conv", "tgt")
             .agg(F.count(F.lit(1)).cast("long").alias("fan")))
    per = (fanin.groupBy("conv")
           .agg(F.sum("fan").cast("long").alias("n_reply_edges"),
                F.max("fan").cast("long").alias("max_fanin"),
                F.sum((F.col("fan") >= 2).cast("long")).cast("long")
                .alias("n_branch_points")))
    turns = (t.filter(F.col("pred") == "replies_to")
             .select(F.regexp_extract("subj", "^turn:([^:]+):", 1)
                     .alias("conv"), "subj")
             .unionByName(
                 t.filter(F.col("pred") == "replies_to")
                 .select(F.regexp_extract("obj", "^turn:([^:]+):", 1)
                         .alias("conv"),
                         F.col("obj").alias("subj")))
             .distinct()
             .groupBy("conv")
             .agg(F.count(F.lit(1)).cast("long").alias("n_turns")))
    return (turns.join(per, "conv")
            .select("conv", "n_turns", "n_reply_edges", "max_fanin",
                    "n_branch_points",
                    ((F.col("n_branch_points") == 0)
                     & (F.col("n_reply_edges")
                        == F.col("n_turns") - 1)).cast("int")
                    .alias("is_linear")))


def _sql_kg_thread_stats() -> str:
    return f"""
WITH triples AS ({_sql_kg_triples_body()}),
rep AS (
  SELECT regexp_extract(subj, '^turn:([^:]+):', 1) AS conv,
         obj AS tgt
  FROM triples WHERE pred = 'replies_to'),
fanin AS (
  SELECT conv, tgt, CAST(count(*) AS BIGINT) AS fan
  FROM rep GROUP BY 1, 2),
per AS (
  SELECT conv, CAST(sum(fan) AS BIGINT) AS n_reply_edges,
         CAST(max(fan) AS BIGINT) AS max_fanin,
         CAST(sum(CASE WHEN fan >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_branch_points
  FROM fanin GROUP BY 1),
turns AS (
  SELECT conv, CAST(count(*) AS BIGINT) AS n_turns
  FROM (
    SELECT regexp_extract(subj, '^turn:([^:]+):', 1) AS conv,
           subj AS t
    FROM triples WHERE pred = 'replies_to'
    UNION
    SELECT regexp_extract(obj, '^turn:([^:]+):', 1) AS conv,
           obj AS t
    FROM triples WHERE pred = 'replies_to')
  GROUP BY 1)
SELECT turns.conv, n_turns, n_reply_edges, max_fanin, n_branch_points,
       CAST(CASE WHEN n_branch_points = 0
                  AND n_reply_edges = n_turns - 1
            THEN 1 ELSE 0 END AS INT) AS is_linear
FROM turns JOIN per ON per.conv = turns.conv
"""


def q_kg_storage_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding storage model for the triple store [K: the
    capacity-planning arithmetic behind every columnar KG layout —
    subj/pred/obj are low-cardinality strings, so dictionary + fixed-
    width codes shrink them to ceil(log2(V)) bits per value plus the
    dictionary itself; this op computes the exact model per column
    and the compression ratio, which is what you quote when sizing
    10^12 triples on object storage]: per column the row count,
    distinct count, code bits (bit_length(V-1), exact), raw UTF-8
    bytes, dictionary bytes, encoded bytes (codes + dict), and the
    compression ratio in ppm.

    Shape: per column one distinct agg + one length sum — three
    column passes over the triple projection, tiny output. Exact
    integers."""
    t = q_kg_triples(spark, sf_dir)
    outs = []
    for col in ("subj", "pred", "obj"):
        c = t.select(F.col(col).alias("v"))
        raw = c.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum(F.length(F.col("v"))).cast("long")
                    .alias("raw_bytes"))
        dc = (c.distinct()
              .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"),
                   F.sum(F.length(F.col("v"))).cast("long")
                   .alias("dict_bytes")))
        outs.append(
            raw.crossJoin(F.broadcast(dc))
            .select(F.lit(col).alias("column"), "n_rows",
                    "n_distinct", "raw_bytes", "dict_bytes",
                    F.expr("CAST(CASE WHEN n_distinct <= 1 THEN 1"
                           " ELSE length(bin(n_distinct - 1)) END"
                           " AS BIGINT)").alias("code_bits"))
            .withColumn("encoded_bytes", F.expr(
                "(n_rows * code_bits + 7) DIV 8 + dict_bytes")
                .cast("long"))
            .withColumn("ratio_ppm", F.expr(
                "encoded_bytes * 1000000 DIV greatest(raw_bytes, 1)")
                .cast("long")))
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


def _sql_kg_storage_model() -> str:
    blocks = []
    for col in ("subj", "pred", "obj"):
        blocks.append(f"""
SELECT '{col}' AS "column",
       (SELECT CAST(count(*) AS BIGINT) FROM triples) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       (SELECT CAST(sum(length({col})) AS BIGINT) FROM triples)
         AS raw_bytes,
       CAST(sum(length(v)) AS BIGINT) AS dict_bytes,
       CAST(CASE WHEN count(*) <= 1 THEN 1
            ELSE length(bin(count(*) - 1)) END AS BIGINT)
         AS code_bits
FROM (SELECT DISTINCT {col} AS v FROM triples)""")
    body = "\nUNION ALL\n".join(blocks)
    return f"""
WITH triples AS ({_sql_kg_triples_body()}),
base AS (
{body})
SELECT "column", n_rows, n_distinct, raw_bytes, dict_bytes, code_bits,
       CAST((n_rows * code_bits + 7) // 8 + dict_bytes AS BIGINT)
         AS encoded_bytes,
       CAST(((n_rows * code_bits + 7) // 8 + dict_bytes) * 1000000
            // greatest(raw_bytes, 1) AS BIGINT) AS ratio_ppm
FROM base
"""


# Cross-module references (resolved at call time; these imports sit
# BELOW every def so the module cycles close deterministically).
from .kg1 import (  # noqa: E402
    SQL_KG_TURN_ASSEMBLY,
    _sql_kg_canonical_body,
    _sql_kg_cds_body,
    _sql_kg_pagerank,
    _sql_kg_triples_body,
    _sql_kg_wup_matrix,
    q_kg_canonical,
    q_kg_cds,
    q_kg_pagerank,
    q_kg_search,
    q_kg_triples,
    q_kg_turn_assembly,
    q_kg_wup_matrix)
