"""Seeded inputs for the benchmark.

Two input families, both pure functions of ``(seed, size)`` and cached
on disk under ``.perfbench_cache/`` in the checkout so that generation
never counts towards a timed phase:

- :func:`transcripts` — the ``transcripts`` table, shaped like
  ``sources.fixtures.transcripts_spark`` (Spark-native column
  expressions, Zipf-ish conversation lengths, one hot conversation) but
  with the seed mixed into every hashed value and the hot
  conversation's share of all turns as a parameter.
- :func:`sf_tables` — the ten TPC-H-ish tables the query suite reads
  (same names, column names and parquet types as the repository's
  testdata tables, TESTDATA.md),
  drawn from a seeded numpy generator.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pandas as pd

_BASE_TS = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())


def cache_dir(root: str) -> str:
    d = os.path.join(root, ".perfbench_cache")
    os.makedirs(d, exist_ok=True)
    return d


def publish(tmp: str, final: str) -> None:
    """Rename a finished directory into place; a concurrent or earlier
    copy wins and the new one is dropped."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def transcripts_df(spark, seed: int, n_convs: int, hot_share: float):
    """Seeded transcript corpus as a lazy Spark DataFrame (TRANSCRIPTS
    schema). Conversation 0 holds ``hot_share`` of all turns."""
    from pyspark.sql import functions as F

    from otd_semantic_framework_spark import semantics as S

    s = F.lit(seed)
    avg_len = 3 + 7.5
    hot_len = max(8, int(n_convs * avg_len * hot_share))
    vocab_arr = F.array(*[F.lit(w) for w in S.VOCAB])
    tools_arr = F.array(*[F.lit(t) for t in S.TOOL_NAMES])
    labels = [c.pref_label for c in S.build_ontology()]
    labels_arr = F.array(*[F.lit(x) for x in labels])

    def h(tag, *cols):
        return F.pmod(F.xxhash64(F.lit(tag), s, F.col("conv_id"), *cols),
                      F.lit(2**31))

    convs = (
        spark.range(n_convs)
        .withColumn("conv_id", F.format_string("conv-%06d", F.col("id").cast("int")))
        .withColumn(
            "n_turns",
            F.when(F.col("id") == 0, F.lit(hot_len))
            .otherwise((F.pmod(F.xxhash64(F.lit("len"), s, F.col("id")),
                               F.lit(16)) + 3).cast("int")))
        .withColumn("conv_off", h("convoff") % 1_000_000)
    )
    turns = convs.select(
        "conv_id", "conv_off",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"))
    t = F.col("turn_idx")
    words = F.transform(
        F.sequence(F.lit(0), (h("nw", t) % 9 + 3).cast("int")),
        lambda j: F.element_at(
            vocab_arr,
            (F.pmod(F.xxhash64(F.lit("w"), s, F.col("conv_id"), t, j),
                    F.lit(len(S.VOCAB))) + 1).cast("int")))
    # one turn in four carries a full (possibly multi-word) ontology label
    label = F.element_at(labels_arr, (h("injlab", t) % len(labels) + 1).cast("int"))
    text = F.when(h("inj", t) % 4 == 0,
                  F.concat_ws(" ", F.array_join(words, " "), label)
                  ).otherwise(F.array_join(words, " "))
    return (
        turns
        .withColumn("role", F.when((t > 0) & (h("toolrole", t) % 5 == 0), F.lit("tool"))
                    .when(t % 2 == 0, F.lit("user")).otherwise(F.lit("assistant")))
        .withColumn("text", text)
        .withColumn("tool", F.when(F.col("role") == "tool", F.element_at(
            tools_arr, (h("tool", t) % len(S.TOOL_NAMES) + 1).cast("int"))))
        .withColumn("ts", F.timestamp_seconds(
            F.lit(_BASE_TS) + F.col("conv_off") + t * 95 + h("gap", t) % 86))
        .select("conv_id", t.cast("int").alias("turn_idx"),
                "role", "text", "tool", "ts")
    )


def transcripts(spark, root: str, seed: int, n_convs: int,
                hot_share: float = 0.05) -> str:
    """Parquet path of the seeded corpus, generated on first use."""
    final = os.path.join(cache_dir(root),
                         f"transcripts-s{seed}-n{n_convs}-h{hot_share}")
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        tmp = f"{final}.tmp{os.getpid()}"
        transcripts_df(spark, seed, n_convs, hot_share).write.mode(
            "overwrite").parquet(tmp)
        publish(tmp, final)
    return final


# -- query-suite tables ------------------------------------------------

_DOC_WORDS = ("join hash row batch scan column customer filter small slow "
              "merge order vector line table data agg value key stream window "
              "a spark part group big sort query fast the").split()
_PART_WORDS = ("anvil blue bolt cold gear gizmo hot large new old plate red "
               "ring rod small widget").split()


def _sf_frames(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    from otd_semantic_framework_spark import semantics as S

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_line, n_ev = int(150000 * scale), int(600000 * scale), int(100000 * scale)
    n_doc = n_emb = max(50, int(5000 * scale))

    def ts(start: str, days: int, n: int) -> pd.Series:
        base = np.datetime64(start, "us")
        return pd.Series(base + rng.integers(0, days * 86400, n).astype(
            "timedelta64[s]").astype("timedelta64[us]"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999, 9999, n_supp)})
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [" ".join(p) for p in rng.choice(_PART_WORDS, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(800, 500000, n_ord),
        "o_orderdate": ts("1995-01-01", 2403, n_ord).dt.floor("D"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": ts("1995-01-02", 2500, n_line).dt.floor("D")})
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts("2024-01-01", 30, n_ev).sort_values().reset_index(drop=True),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": money(0, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(_DOC_WORDS + S.VOCAB[:20])
    texts = [" ".join(rng.choice(words, k)) for k in rng.integers(10, 100, n_doc)]
    for i in rng.choice(n_doc, max(1, n_doc // 40), replace=False):
        texts[i] = texts[(i * 7 + 1) % n_doc] + " dup"  # near-duplicates
    documents = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events, "documents": documents,
            "embeddings": embeddings}


def sf_tables(root: str, seed: int, scale: float) -> str:
    """Directory of seeded ``<table>.parquet`` files (testdata layout)."""
    final = os.path.join(cache_dir(root), f"sf-s{seed}-x{scale}")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        for name, pdf in _sf_frames(seed, scale).items():
            pdf.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
        publish(tmp, final)
    return final
