"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: a full declarative auto-load of a star
schema through :class:`SparkConnector` (the engine's reason to exist),
returning the generated multi-way-join reconstruction.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
family (SURVEY.md §2A/§2G): loader DataFrame ops, analytics over the
TPC-H-ish tables, and the LLM-pipeline operators (dedup, similarity
search, text analysis).  Every aggregate is computed in DECIMAL (exact,
order-insensitive) and cast to DOUBLE at the end, so the Spark result
and the DuckDB oracle match bit-for-bit; ratios are exact integer
divisions in double precision.  Operators whose hashing is
Spark-specific (xxhash64-based MinHash/SimHash/LSH) have no portable
oracle and are registered rows-only.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from sql_autoloader_spark.functions import (
    dedup,
    events,
    multimodal,
    similarity,
    text,
)
from sql_autoloader_spark.ops import dataframe_ops as ops

_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _fix_event_ts(ev: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a timestamp column regardless of how the
    fixture was generated: older data ships TIMESTAMP(NANOS) (read as raw
    int64 under ``nanosAsLong`` and truncated ns→us, matching DuckDB/Arrow
    truncation); newer data ships native timestamp[us] and passes through.
    """
    if isinstance(ev.schema["ts"].dataType, LongType):
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # timestamp[us] fixtures land as TIMESTAMP_NTZ; cast to TIMESTAMP so
    # instant functions (unix_micros, watermarks) accept it.  The session
    # timezone is pinned to UTC (in _t before any frame is built, and here
    # for the streaming readers that bypass _t), making the cast
    # value-preserving and identical to DuckDB's naive reading.
    ev.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Memoized per session: every spark.read.parquet call pays ~80 ms of
    # relation construction (footer read, schema resolution), and a
    # 6-table star query builds 6 of them — per benchmark repetition.
    # DataFrames are immutable plans over read-only fixture files, so
    # reuse is exactly what a user session would do; the cache dies with
    # the session object (never shared across sessions).
    cache = getattr(spark, "_graft_table_cache", None)
    if cache is None:
        cache = {}
        spark._graft_table_cache = cache
    # Re-assert the session timezone on EVERY call (a driver-side map
    # write — no job): timestamp literals and casts must resolve
    # identically even if a harness or third party changed the conf
    # between queries.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (sf_dir, name)
    if key not in cache:
        if name == "events":
            # Legacy conf is a no-op for timestamp[us] fixtures; it only
            # kicks in when the parquet stores TIMESTAMP(NANOS).
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            cache[key] = _fix_event_ts(
                spark.read.parquet(f"{sf_dir}/events.parquet")
            )
        else:
            cache[key] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return cache[key]


def _pin_small(df: DataFrame) -> DataFrame:
    """Materialize a TINY (certificate-sized) frame cluster-safely.

    Collects the rows to the driver and rebuilds a local-relation
    DataFrame with the identical schema.  Unlike
    ``localCheckpoint(eager=True)`` — whose blocks are executor-local
    and non-recomputable, so an executor loss after the source scratch
    data is rmtree'd fails every later action — the returned frame's
    data lives in the plan itself (a LocalRelation) and survives any
    executor churn.  Only for frames that are a handful of rows by
    construction (per-source aggregates, one-row certificates); never
    call this on data-sized frames.
    """
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


def _dec(col: str | F.Column, scale: int = 2) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(12,{scale})")


# md5-bucket split boundaries: hex bytes compare lexically = numerically;
# '00'..'cc' = train (~80%), 'cd'..'e5' = val (~10%), rest = test.
_SPLIT_TRAIN_HI = "cd"
_SPLIT_VAL_HI = "e6"


def _split_col() -> F.Column:
    b = F.substring(F.md5("text"), 1, 2)
    return (
        F.when(b < _SPLIT_TRAIN_HI, "train")
        .when(b < _SPLIT_VAL_HI, "val")
        .otherwise("test")
    )


#: bigrams of a pre-split words column named ``ws`` (0-based transform
#: index i pairs word i with 1-based element_at i+2)
_BIGRAMS_EXPR = (
    "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
    " (w, i) -> concat(w, ' ', element_at(ws, i + 2)))"
)


# --------------------------------------------------------------------------
# Loader-op queries (SURVEY §2A as runnable queries over the fixtures)
# --------------------------------------------------------------------------


def q_preprocess_rename_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: rename per mapping + global row dedup."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    return ops.preprocess(
        li, {"l_returnflag": "returnflag", "l_linestatus": "linestatus"}
    )


def q_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: distinct projection (the insert payload)."""
    return ops.distinct_rows(
        _t(spark, sf_dir, "orders"), ["o_orderstatus", "o_orderpriority"]
    )


def q_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: the null-profile aggregate behind ``has_nulls``."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        *[
            F.sum(F.col(c).isNull().cast("bigint")).cast("bigint").alias(f"nulls_{c}")
            for c in ["user_id", "event_type", "value", "props"]
        ],
    )


def q_nullsafe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: null-safe left equi-join (merge_ids' join shape)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = cust.join(
        nat, on=cust["c_nationkey"].eqNullSafe(nat["n_nationkey"]), how="left"
    )
    return joined.select(
        "c_custkey", F.col("n_name").alias("nation_name")
    )


def q_compare_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: set-difference (the compare primitive) — customers with no
    order in 2001."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("custkey"))
    )
    return cust.subtract(recent)


def q_load_star_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: the full declarative auto-load lifecycle.

    Flattened nation⨝region names load into a 2-table star via
    ``SparkConnector.load`` (plan → idempotent insert → surrogate keys →
    FK merge → generated-join validation); the returned frame is the
    generated compare-query reconstruction, which must equal the
    distinct input.
    """
    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    flat = nation.join(
        region, nation["n_regionkey"] == region["r_regionkey"]
    ).select(F.col("n_name").alias("name"), F.col("r_name").alias("region"))

    connector = SparkConnector(spark)
    connector.expose_reconstruction = True
    connector.execute_ddl(
        """
        CREATE TABLE dim_region (
            id INTEGER PRIMARY KEY,
            region TEXT UNIQUE
        );
        CREATE TABLE dim_nation (
            id INTEGER PRIMARY KEY,
            name TEXT UNIQUE,
            region_id INTEGER REFERENCES dim_region (id)
        );
        """
    )
    with connector:
        connector.load(flat)
    # the compare aggregate already computed (and pinned) the validated
    # reconstruction — return it instead of re-running the multi-way join
    return connector.last_reconstruction


def q_load_star3_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 on a 3-level chain: flattened customer⨝nation⨝region loads into
    customer→nation→region dimensions — two FK hops, so the planner
    orders three insert-and-retrieve steps and the running frame swaps
    payload for keys twice before validation."""
    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    flat = (
        cust.join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select(
            F.col("c_name").alias("customer"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )
    connector = SparkConnector(spark)
    connector.expose_reconstruction = True
    connector.execute_ddl(
        """
        CREATE TABLE dim_region (
            id INTEGER PRIMARY KEY,
            region TEXT UNIQUE
        );
        CREATE TABLE dim_nation (
            id INTEGER PRIMARY KEY,
            nation TEXT UNIQUE,
            region_id INTEGER REFERENCES dim_region (id)
        );
        CREATE TABLE dim_customer (
            id INTEGER PRIMARY KEY,
            customer TEXT UNIQUE,
            nation_id INTEGER REFERENCES dim_nation (id)
        );
        """
    )
    with connector:
        connector.load(flat)
    return connector.last_reconstruction


# --------------------------------------------------------------------------
# Analytics queries (TPC-H-shaped; exercise agg/join/window/sort/limit)
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)))
            .alias("avg_qty"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
        .withColumnsRenamed(
            {"l_returnflag": "returnflag", "l_linestatus": "linestatus"}
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .withColumnsRenamed({"n_name": "nation"})
    )


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 3)
        .select(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
            "rnk",
        )
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO share of revenue for one ship-month."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc_price).cast("double")
            ).alias("promo_share"),
            F.sum(disc_price).cast("double").alias("total_revenue"),
        )
    )


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: order counts by status, status+priority, total."""
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
    )


def q_orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# LLM-pipeline queries (SURVEY §2G)
# --------------------------------------------------------------------------


def q_docs_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.fingerprint_dedup_stats(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )


def q_docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact keyed dedup: one surviving row (min doc_id) per distinct
    text.  hash_key shuffles a 32-byte SHA-256 of the text instead of
    the raw document bytes (the 100 TB shuffle-volume path); the oracle
    still groups by raw text — identical groups prove the encoding."""
    return dedup.exact_dedup(
        _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source"),
        ["text"],
        id_col="doc_id",
        hash_key=True,
    ).select("doc_id", "lang", "source")


def q_emb_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding cosine >= threshold (the oracle for the
    LSH-bucketed variant; quadratic — correctness-scale only)."""
    emb = _t(spark, sf_dir, "embeddings")
    # blocked all-pairs scorer: bit-identical to the former
    # join + cosine_arrow form (differentially proven — exceptAll empty
    # both ways on the raw sims at sf0.001/0.01/0.1), but each vector
    # crosses the Python boundary O(blocks) times instead of O(N)
    return (
        similarity.exact_cosine_pairs(
            emb, id_col="vec_id", vec_col="embedding", min_sim=0.3
        )
        .select("id_a", "id_b", F.round(F.col("sim"), 6).alias("sim"))
        .where(F.col("sim") >= 0.3)
    )


def q_docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_obs"),
    )


def q_docs_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-token counts (the cheap proxy for model token
    counts) alongside whitespace tokens, per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        text.token_count(F.col("text")).alias("n_ws_tokens"),
    )


def q_docs_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


def q_docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.quality_features(docs, "text").select(
        "doc_id",
        "n_tokens",
        "alpha_ratio",
        "space_ratio",
        "avg_token_len",
        "quality_score",
    )


def q_docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.language_id(docs, "text").select(
        "doc_id", "pred_lang", "score_en", "score_es", "score_de", "score_fr"
    )


def q_docs_dupspan_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span coverage (document-level substring
    dedup signal, Lee et al. ACL 2022): per doc, the fraction of word
    5-gram positions whose 5-gram also occurs in another document —
    the metric used to drop boilerplate-heavy documents from a training
    corpus.  Exact-string grams here (portable oracle); the
    ``hash_grams=True`` knob is the 100 TB shuffle-width path."""
    return dedup.dup_span_coverage(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        ngram_words=5,
    )


def q_lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column data profile (rows / nulls / exact
    distinct / numeric min-max-avg / string min-max) — the
    corpus-understanding sweep run before constraint rules are written.
    One conditional aggregate over one scan, exploded driver-side."""
    from sql_autoloader_spark.functions import constraints

    return constraints.profile_table(
        _t(spark, sf_dir, "lineitem"),
        columns=["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"],
    )


def q_lineitem_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (deequ/dbt-test shape): six
    constraint rules over lineitem verified in ONE aggregate pass —
    no per-rule job, no shuffle beyond the single global aggregate.
    The fixture's (orderkey, linenumber) pair is deliberately NOT
    unique, so the report exercises a failing rule too."""
    from sql_autoloader_spark.functions import constraints

    return constraints.constraint_report(
        _t(spark, sf_dir, "lineitem"),
        not_null=["l_orderkey", "l_quantity"],
        unique=[["l_orderkey", "l_linenumber"]],
        ranges={"l_quantity": (1, 50), "l_discount": (0.0, 0.1)},
        accepted={"l_returnflag": ["A", "N", "R"]},
        patterns={"l_linestatus": "^[OF]$"},
        min_rows=1,
    )


def q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: assign documents (in doc_id
    order) to fixed 2048-token training sequences by exact global token
    offset — the packing step that turns a cleaned corpus into training
    batches.  The running offset uses ``scale.prefix_sum`` (data-
    derived range buckets + per-bucket offsets), NOT a single-partition
    window, so the plan holds at corpus scale; the oracle states the
    same cumsum as a SQL window.  The one eager boundary-sampling job
    prefix_sum runs at construction samples the raw doc_id projection
    (``boundary_hint``), not the token-counted frame, so it never pays
    the tokenizer regex."""
    from sql_autoloader_spark.functions import scale

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text.token_count(F.col("text")).alias("n_tokens")
    )
    packed = scale.prefix_sum(
        toks,
        order_by=["doc_id"],
        value_col="n_tokens",
        out_col="end_off",
        boundary_hint=docs.select("doc_id"),
    )
    start = F.col("end_off") - F.col("n_tokens")
    return packed.select(
        "doc_id",
        "n_tokens",
        start.cast("bigint").alias("start_offset"),
        F.floor(start / F.lit(2048)).cast("bigint").alias("seq_id"),
    )


def q_docs_split_span_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document eval decontamination: for every val/test-split
    document, the fraction of its word 5-gram positions found anywhere
    in the train split — the document-level report behind the
    corpus-level ``docs_split_contamination`` rate (drop eval docs
    above a leakage threshold before publishing a benchmark)."""
    docs = _t(spark, sf_dir, "documents").where(F.trim("text") != "")
    split = _split_col()
    return dedup.span_leakage(
        docs.where(split != "train"),
        docs.where(split == "train"),
        id_col="doc_id",
        text_col="text",
        ngram_words=5,
    )


def q_docs_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram-set Jaccard pairs — the oracle twin of
    ``docs_minhash_pairs`` (same shingle space, same threshold), so the
    LSH path's recall is measured against this exact ground truth."""
    return dedup.token_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        threshold=0.4,
        shingle_words=3,
    )


def q_docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components (iterative min-label
    propagation) over the exact-Jaccard candidate pairs — the pairs→
    groups step that lets a keep-one policy run per cluster."""
    pairs = dedup.token_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        threshold=0.4,
        shingle_words=3,
    )
    return dedup.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )


def q_docs_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup clusters: exact cosine near-dup
    pairs at engine-invariant rounded precision → connected components →
    cluster labels joined onto document metadata (embeddings.vec_id is
    documents.doc_id in the fixtures).  At 100 TB the pair source swaps
    to the LSH-bucketed variant (``emb_neardup_lsh``); the CC step and
    the per-cluster policy are unchanged — only candidate generation
    scales differently."""
    emb = _t(spark, sf_dir, "embeddings")
    # blocked all-pairs scorer (see q_emb_neardup_exact): bit-identical
    # sims to the former join + cosine_arrow form, O(blocks) boundary
    # crossings per vector instead of O(N)
    pairs = (
        similarity.exact_cosine_pairs(
            emb, id_col="vec_id", vec_col="embedding", min_sim=0.4
        )
        .select("id_a", "id_b", F.round(F.col("sim"), 6).alias("sim"))
        .where(F.col("sim") >= 0.4)
    )
    comp = dedup.connected_components(pairs)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return comp.join(docs, comp["id"] == docs["doc_id"]).select(
        "doc_id", "component", "lang", "n_chars"
    )


def q_docs_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline: candidate pairs → connected components →
    keep-one-per-cluster policy (longest document wins, doc_id breaks
    ties; singletons keep themselves).  Returns the surviving corpus."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = dedup.token_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        threshold=0.4,
        shingle_words=3,
    )
    comp = dedup.connected_components(pairs)
    labeled = docs.join(
        comp, docs["doc_id"] == comp["id"], "left"
    ).select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
        "n_chars",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "component", "n_chars")
    )


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.brute_force_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5
    )


def q_emb_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine top-k: the reduced-memory ANN twin of
    ``emb_cosine_topk`` — symmetric per-vector quantization, exact LONG
    dot products, 4x fewer bytes broadcast/shuffled at scale."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.quantized_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5
    )


def q_docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + redaction over the documents table.

    The fixture corpus carries no organic PII, so each doc is first
    salted with a deterministic email/phone/IP derived from its id —
    the oracle applies the identical salt — and then audited
    (per-rule match counts) and scrubbed (typed placeholders).  The
    whole query is a zero-shuffle JVM regex map stage.
    """
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("txt"),
    )
    return salted.select(
        "doc_id",
        *text.pii_counts(F.col("txt")),
        text.scrub_pii(F.col("txt")).alias("scrubbed"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def q_events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts"), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


def q_events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attribute each purchase to the latest prior click of
    the same user (inclusive)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    return events.as_of_join(
        purchases, clicks, on=["user_id"], suffix="_click"
    ).select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("click_id_click").alias("click_id"),
        F.col("ts_click").alias("click_ts"),
    )


def q_events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column + keyed aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.count(F.when(F.col("k") > 50, 1)).cast("bigint").alias("n_high"),
        )
    )


def q_big_spenders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING shape (TPC-H Q18 flavor): customers whose
    total order value exceeds a threshold."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.groupBy("o_custkey")
        .agg(F.sum(_dec("o_totalprice")).alias("total_dec"))
        .where(F.col("total_dec") > 1_500_000)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("total_dec").cast("double").alias("total_spent"),
        )
    )


def q_events_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


def q_events_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct estimation via HyperLogLog++, self-verifying (round 11:
    upgraded from rows-only).  The estimate itself is engine-specific,
    but its RELATIONSHIP to the exact count is the sketch's contract:
    per event_type this emits the exact distinct count (pure SQL — the
    oracle recomputes it) and ``within_bound`` = |approx−exact| ≤ 10% ·
    exact (rsd=0.02, so 10% is a 5σ envelope — an implementation
    regression fails, estimator noise never does).  The oracle pins
    TRUE, so every group's estimate is gated, not just row counts."""
    ev = _t(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("__approx")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return exact.join(approx, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__approx") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.10)
        ).alias("within_bound"),
    )


def q_events_hll_daily_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch algebra (Datasketches HLL): build one
    distinct-user sketch per (event_type, day), then MERGE the binary
    sketches per event_type and estimate — the canonical 100 TB
    pre-aggregation pattern, where daily partitions keep a tiny sketch
    and any date-range distinct count is a sketch union at query time,
    never a re-scan of raw events.  Self-verifying (round 11, upgraded
    from rows-only): per event_type the exact distinct count (oracle-
    recomputed SQL) plus ``within_bound`` = |union-estimate − exact| ≤
    5% · exact (lgK=14 → rsd ≈ 0.81%, so 5% is a generous envelope) —
    the oracle pins TRUE, gating the whole sketch→union→estimate
    algebra against ground truth instead of a rows-only count."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    approx = (
        daily.groupBy("event_type")
        .agg(F.hll_union_agg("sk").alias("merged"))
        .select(
            "event_type",
            F.hll_sketch_estimate("merged").alias("__approx"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return exact.join(approx, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__approx") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------------
# Analytics round 2: semi/anti joins, scalar subqueries, correlated
# aggregates, count-distinct, window frames, sessionization (TPC-H
# Q4/Q6/Q7/Q10/Q13/Q15/Q16/Q17/Q18/Q19/Q22 shapes on the fixture schema)
# --------------------------------------------------------------------------


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-table filter + scalar aggregate (the
    pushdown-friendliest query in the suite)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("double")
        .alias("revenue")
    )


def q4_late_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join — orders with at least one line
    shipped >60 days after the order date, counted per priority."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation-pair trade volume by ship year (two
    broadcast dimension joins with a symmetric pair predicate)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("n_name").alias("nation"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("custkey"))
        .limit(20)
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose total lineitem value exceeds an
    above-average share of the global total (GROUP BY + HAVING against a
    scalar subquery).  The fixtures ship no partsupp table, so stock
    value is proxied by sum(extendedprice * quantity) per part; the
    share predicate stays engine-exact by cross-multiplying DECIMAL sums
    instead of comparing to a double fraction."""
    li = _t(spark, sf_dir, "lineitem")
    value = _dec("l_extendedprice") * F.col("l_quantity").cast("decimal(12,2)")
    per_part = li.groupBy("l_partkey").agg(F.sum(value).alias("value_dec"))
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("value_dec") * 1600 > F.col("total_dec"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("value_dec").cast("double").alias("value"),
        )
        .orderBy(F.col("value").desc(), "partkey")
    )


def q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: among lines shipped long after their order was
    placed, how many belong to high- vs low-priority orders, per line
    status (two-way conditional aggregation over the fact-fact join).
    The fixtures carry no l_shipmode/l_receiptdate, so "late" is a ship
    date more than 30 days past o_orderdate and the grouping key is
    l_linestatus."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
            & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution over customers via a
    LEFT OUTER join (customers with zero qualifying orders included)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum quarterly revenue
    (scalar-subquery max, exact DECIMAL equality)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    rev = li.groupBy("l_suppkey").agg(F.sum(revenue).alias("total_dec"))
    mx = rev.agg(F.max("total_dec").alias("mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_dec") == F.col("mx"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("total_dec").cast("double").alias("total_revenue"),
        )
    )


def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per part attribute
    bucket (COUNT DISTINCT after a fact-dim join)."""
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 25)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .select(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").cast("int").alias("size"),
            "supplier_cnt",
        )
    )


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average — revenue from lines
    whose quantity is below half the part's average quantity.

    The per-part average is an exact DECIMAL sum divided in DOUBLE, so
    the threshold is bit-identical across engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    )
    half_avg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)) / F.lit(2.0)
        ).alias("half_avg_qty")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(half_avg, F.col("l_partkey") == F.col("a_partkey"))
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 300 (HAVING
    on a fact rollup, joined back to dimensions), top 100."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty_dec"))
        .where(F.col("sum_qty_dec") > 300)
    )
    # broadcast the HAVING-filtered rollup, not the orders table: the
    # static planner cannot estimate through the aggregate+filter
    # (guide §3.1) and picks orders as the build side — fine while the
    # orders FILE is under the broadcast threshold, but at x10 it tips
    # into a sort-merge join that shuffles every order for the ~0.005%
    # of keys that survive HAVING > 300 (r15 interleaved A/B: x10
    # 1.96 s -> 1.46 s; the filtered rollup stays ~5e-5 of orders at
    # any scale, so the broadcast never becomes the big side).  The
    # customer join is left to the planner, which already broadcasts
    # the customer build at both scales.
    return (
        F.broadcast(big).join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("totalprice").desc(), F.col("orderkey"))
        .limit(100)
    )


def q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    ranges evaluated on a broadcast fact-dim join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


def q22_idle_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery average + anti-join — customers
    with above-average balance and no orders since 2001, per nation."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
            "avg_bal"
        )
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


def q_orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame: per-customer running order total (cumulative DECIMAL
    sum over an ordered frame)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderdate").alias("orderdate"),
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after a >6 h gap;
    lag + cumulative-sum windows, then a per-session rollup."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us > 6 * 3600 * 1_000_000), 1
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.withColumn("session_id", F.sum(new_sess).over(cum).cast("bigint"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def q_events_sessionize_segmented(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hot-key-safe sessionization: same >6h-gap semantics as
    ``events_sessionize`` but via the decomposed plan — per-(user,
    time-chunk) windows over the events, a per-user window only over
    chunk SUMMARIES, boundary merges renumbered arithmetically.  The
    oracle is the plain single-window sessionization, so the hash
    match proves the decomposition exact (see
    ``functions/events.py:sessionize_segmented`` and SCALE.md's skew
    section for why this matters at a 20%-hot user)."""
    from sql_autoloader_spark.functions.events import sessionize_segmented

    ev = _t(spark, sf_dir, "events")
    tagged = sessionize_segmented(
        ev,
        gap_seconds=6 * 3600,
        tiebreak_col="event_id",
    )
    return tagged.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def q20_heavy_red_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers qualified by an aggregate subquery —
    those who shipped more than 400 units of 'red' parts in 1997."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_name").contains("red"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    qualified = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .where(F.col("qty_dec") > 400)
    )
    return (
        supp.join(qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
    )


def q21_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS correlated on the same fact —
    suppliers with a returned line in a multi-supplier order where no
    OTHER supplier in that order had a return."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    mine = li.select("l_orderkey", "l_suppkey").distinct()
    others = li.select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk")
    ).distinct()
    returned = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    ).distinct()
    returned_others = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r_ok"), F.col("l_suppkey").alias("r_sk")
    ).distinct()
    base = (
        returned
        # EXISTS: some other supplier in the same order
        .join(
            others,
            (F.col("l_orderkey") == F.col("o_ok"))
            & (F.col("l_suppkey") != F.col("o_sk")),
            "left_semi",
        )
        # NOT EXISTS: no other supplier with a returned line
        .join(
            returned_others,
            (F.col("l_orderkey") == F.col("r_ok"))
            & (F.col("l_suppkey") != F.col("r_sk")),
            "left_anti",
        )
    )
    return (
        base.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            "numwait",
        )
        .orderBy(F.col("numwait").desc(), F.col("suppkey"))
        .limit(25)
    )


def q_docs_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep pipeline: quality filter → language
    filter → exact dedup by fingerprint (keep min id) → per-source
    corpus stats.  Composes the §2G text/dedup operators the way a real
    100 TB pre-training pipeline chains them, in one Catalyst plan.
    Spread first: the quality/language scoring is the CPU-bound stage
    and must not inherit a single byte-sized parquet split."""
    docs = dedup.spread_for_compute(_t(spark, sf_dir, "documents"))
    scored = text.quality_features(text.language_id(docs), "text")
    kept = scored.where(
        (F.col("quality_score") >= 0.3)
        & (F.col("pred_lang") == "en")
        & (F.col("n_tokens") >= 5)
    )
    deduped = dedup.exact_dedup(
        kept.select(
            "doc_id", "source", "n_tokens", text.fingerprint_md5(F.col("text")).alias("fp")
        ),
        ["fp"],
        id_col="doc_id",
    )
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias(
            "avg_tokens"
        ),
    )


def q_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection: customers ordering in both 1996 and 2001
    (INTERSECT — the compare primitive's dual to ``compare_except``)."""
    orders = _t(spark, sf_dir, "orders")

    def year_custs(y: int) -> DataFrame:
        return orders.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select(F.col("o_custkey").alias("custkey"))

    return year_custs(1996).intersect(year_custs(2001))


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel: per user, first click → first purchase strictly
    after it → conversion stats per nation-sized user bucket."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    first_purchase = (
        firsts.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("first_click")),
            "left",
        )
        .groupBy("user_id", "first_click")
        .agg(F.min("p_ts").alias("first_purchase_after"))
    )
    return first_purchase.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.count("first_click").cast("bigint").alias("n_clicked"),
        F.count("first_purchase_after").cast("bigint").alias("n_converted"),
        (
            F.count("first_purchase_after").cast("double")
            / F.count("first_click").cast("double")
        ).alias("conversion_rate"),
    )


def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation: all grouping-set combinations of status and
    priority (the ROLLUP query's lattice-complete sibling)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
    )


def q_orders_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregates: exact interpolated percentiles of order
    value per priority (sort-based, deterministic)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
        F.max("o_totalprice").alias("p_max"),
    )


_TFIDF_TERMS = ["join", "hash", "filter"]


def q_docs_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF relevance search over documents for a fixed term list
    (smoothed idf, fixed-order summation — deterministic doubles)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.tfidf_term_scores(
            docs, _TFIDF_TERMS, id_col="doc_id", text_col="text"
        )
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
    )


def q_events_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end: the events parquet replayed as a
    file stream through watermarked tumbling-window aggregation
    (``streaming.windowed_event_counts``) with an availableNow trigger
    into a memory sink.  Complete-mode output over a finite replay is
    deterministic and equals the batch GROUP BY — so this streaming
    pipeline is verified against the same SQL oracle as a batch query.
    """
    import tempfile
    import uuid

    from sql_autoloader_spark.streaming import pipeline as streaming

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = _fix_event_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    ).withColumn("value", F.col("value").cast("decimal(18,6)"))
    agg = streaming.windowed_event_counts(stream, watermark="1 minute")
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    # stateful: the session's state-store provider backs it (RocksDB
    # in production sessions; see OPERATIONS.md "Session settings")
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    query.awaitTermination()
    return spark.table(name).withColumn(
        "sum_value", F.col("sum_value").cast("double")
    )


def q_docs_stream_fuzzy_dedup_raw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The single-pass ingest run — what tools/scale_probe.py times
    (the registered certificate below deliberately streams the source
    TWICE to prove the replay contract, which would double the probe's
    wall and break cross-round comparability)."""
    import tempfile
    import uuid

    from sql_autoloader_spark.streaming import pipeline as streaming

    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    base = tempfile.mkdtemp(prefix=f"fuzzy_{uuid.uuid4().hex[:8]}_")
    query = streaming.fuzzy_dedup_stream(
        stream,
        id_col="doc_id",
        text_col="text",
        store_path=f"{base}/store",
        out_path=f"{base}/admitted",
        checkpoint_dir=f"{base}/ckpt",
    )
    query.awaitTermination()
    # The returned frame stays a plain parquet scan — fully
    # recomputable after executor loss (no executor-local pin) — so the
    # scratch tree must outlive the frame: reclaim it at process exit
    # instead of now.  Bounded: one skinny admitted projection per
    # probe/bench rep, swept when the driver exits.
    import atexit
    import shutil

    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return spark.read.parquet(f"{base}/admitted").select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_docs_stream_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying streaming near-dup ADMISSION certificate
    (round 12: the former rows-only entry upgraded to a value-hash
    oracle).

    The documents parquet replays as a file stream through MinHash-LSH
    band-bucket admission against a persistent signature store
    (``streaming.fuzzy_dedup_stream``) — the continuous-ingest form of
    corpus dedup, where the state is the admitted corpus itself.  The
    admitted SET is xxhash64-specific (no SQL twin), but the admission
    CONTRACT is checkable, and every emitted value is oracle-pinned:

    - ``n_docs``: oracle-recomputed corpus count (coverage anchor);
    - ``n_dup_rows`` / ``n_unknown_ids``: corpus-integrity defects
      (a doc admitted twice; an admitted id absent from the source) —
      pinned literal 0;
    - ``n_replay_admitted``: a SECOND stream with a FRESH checkpoint
      replays the identical source against the SAME store — the
      docstring's core claim, "a replayed shard admits nothing new" —
      pinned literal 0 (this is the production re-crawl scenario);
    - ``admission_ok``: pinned TRUE.

    (Sub-shingle documents — fewer than 3 tokens — are admitted
    unconditionally by design and would legitimately re-admit on
    replay; the fixtures carry none at any gate SF, verified.)
    """
    import tempfile
    import uuid

    from sql_autoloader_spark.streaming import pipeline as streaming

    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    base = tempfile.mkdtemp(prefix=f"fuzzy_{uuid.uuid4().hex[:8]}_")

    def run(tag: str) -> None:
        stream = (
            spark.readStream.schema(docs_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        query = streaming.fuzzy_dedup_stream(
            stream,
            id_col="doc_id",
            text_col="text",
            store_path=f"{base}/store",
            out_path=f"{base}/admitted",
            checkpoint_dir=f"{base}/ckpt_{tag}",
        )
        query.awaitTermination()

    run("first")
    admitted = spark.read.parquet(f"{base}/admitted").select("doc_id")
    n_first = admitted.count()
    run("replay")  # fresh checkpoint, same store: a re-crawled shard
    corpus = spark.read.parquet(f"{base}/admitted").select("doc_id")
    docs = _t(spark, sf_dir, "documents")
    per_id = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__m"))
    labeled = per_id.join(
        docs.select("doc_id", F.lit(1).alias("__src")), "doc_id", "left"
    )
    cert = labeled.agg(
        F.coalesce(F.sum(F.when(F.col("__m") > 1, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_dup_rows"),
        F.coalesce(F.sum(F.when(F.col("__src").isNull(), 1)), F.lit(0))
        .cast("bigint")
        .alias("n_unknown_ids"),
        (F.coalesce(F.sum("__m"), F.lit(0)) - F.lit(n_first))
        .cast("bigint")
        .alias("n_replay_admitted"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("__m") > 1) | F.col("__src").isNull(), 1
                    )
                ),
                F.lit(0),
            )
            == 0
        ).alias("admission_ok"),
    )
    # pin the one-row certificate cluster-safely (driver collect →
    # LocalRelation), then reclaim the scratch tree NOW instead of
    # leaking corpus+store+checkpoints per gate run
    import shutil

    result = _pin_small(
        docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).crossJoin(
            cert
        )
    )
    shutil.rmtree(base, ignore_errors=True)
    return result


def q_docs_stream_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus cleaning: the documents parquet replayed as a
    file stream through the deterministic PII salt + redaction and a
    minimum-length quality gate — the shape of a continuous ingest
    pipeline (new crawl shards arrive, get scrubbed and filtered, land
    append-only).  Stateless map/filter stages stream with NO watermark
    or state store, so the availableNow replay equals the batch SQL
    oracle row-for-row; at 100 TB this runs at file-arrival rate with
    per-batch parallelism.
    """
    import tempfile
    import uuid

    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    salted = stream.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ).alias("txt"),
    )
    cleaned = salted.select(
        "doc_id",
        "source",
        text.scrub_pii(F.col("txt")).alias("scrubbed"),
        text.token_count(F.col("txt")).alias("n_tokens"),
    ).where(F.col("n_tokens") >= 10)
    name = f"stream_clean_{uuid.uuid4().hex[:8]}"
    query = (
        cleaned.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def q_events_stream_autoload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest through the CONNECTOR: the events parquet
    replayed as a file stream, each micro-batch auto-loaded into an
    event-type dim + fact star via ``streaming.autoload_stream``
    (foreachBatch → plan → idempotent insert → key merge, replay-safe).
    Returns the generated compare-query reconstruction, which must equal
    the distinct input projection — so the whole streaming load
    lifecycle is verified against a plain batch SQL oracle."""
    import tempfile

    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
    from sql_autoloader_spark.streaming import pipeline as streaming

    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE st_etype (id INTEGER PRIMARY KEY, event_type TEXT UNIQUE);
        CREATE TABLE st_event (
            event_id BIGINT,
            etype_id INTEGER REFERENCES st_etype (id),
            value DOUBLE
        );
        """
    )
    stream = (
        spark.readStream.schema("event_id bigint, event_type string, value double")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    query = streaming.autoload_stream(
        db, stream, checkpoint_dir=tempfile.mkdtemp()
    )
    query.awaitTermination()
    compare_sql = db.schema.get_compare_query(
        ["event_type", "event_id", "value"], quote="`"
    )
    return spark.sql(compare_sql)


def q_events_stream_postgres_autoload(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingest into a LIVE PostgreSQL warehouse: the events
    parquet replayed as a file stream, each micro-batch auto-loaded
    through the wire-native sink via ``streaming.autoload_stream``
    (foreachBatch → plan → idempotent insert → key merge; fact batches
    above ``copy_threshold`` take the distributed COPY path).  A SECOND
    stream over the same files with a FRESH checkpoint then replays
    every batch — the sink's idempotency must make them all no-ops.
    Returns the PostgreSQL-executed compare reconstruction, which must
    equal the distinct input projection (the batch SQL oracle)."""
    import tempfile

    from sql_autoloader_spark.connectors.pgwire import EmbeddedPostgres
    from sql_autoloader_spark.connectors.postgres import PostgresConnector
    from sql_autoloader_spark.streaming import pipeline as streaming

    def stream():  # noqa: ANN202
        return (
            spark.readStream.schema(
                "event_id bigint, event_type string, value double"
            )
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    with EmbeddedPostgres() as pg:
        db = PostgresConnector(
            spark,
            sock_dir=pg.sock_dir,
            port=pg.port,
            copy_threshold=1000,
        )
        db.execute_ddl(
            """
            CREATE TABLE sp_etype (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                event_type text UNIQUE
            );
            CREATE TABLE sp_event (
                event_id bigint,
                etype_id bigint REFERENCES sp_etype (id),
                value double precision
            );
            """
        )
        for _ in range(2):  # second pass = full replay, must no-op
            streaming.autoload_stream(
                db, stream(), checkpoint_dir=tempfile.mkdtemp()
            ).awaitTermination()
        query = db.schema.get_compare_query(
            ["event_id", "event_type", "value"], quote='"'
        )
        # already driver-local (wire-decoded rows) — no server dependency
        result = db._execute_compare_query(query)
        db.close()
    return result.select(
        F.col("event_id").cast("long"),
        "event_type",
        F.col("value").cast("double"),
    )


def q_events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``session_window`` with watermark eviction: per-user
    30-minute-gap sessions over the replayed events stream, append mode
    — only sessions the watermark has closed emit.  The oracle is the
    batch island analysis with the empirically pinned boundaries: an
    exact-gap event still merges (break is strictly ``> gap``) and a
    session whose end equals the final watermark is emitted (``<=``)."""
    import tempfile
    import uuid

    from sql_autoloader_spark.streaming import pipeline as streaming

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = _fix_event_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = streaming.sessionized_counts(
        stream, gap="30 minutes", watermark="0 seconds"
    )
    name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    # stateful: the session's state-store provider backs it (RocksDB
    # in production sessions; see OPERATIONS.md "Session settings")
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def q_events_salted_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe dimension enrichment: the events fact joins its 5-value
    ``event_type`` dimension through ``scale.salted_join`` — the fact
    side fans out over deterministic content-hash salts and the (tiny)
    dim side replicates per salt, so a hot key spreads across
    ``n_salts`` reducers instead of collapsing onto one.  Results are
    identical to the plain join (the SQL oracle); only the shuffle
    distribution changes — the 100 TB hot-key recipe, oracle-checked."""
    from sql_autoloader_spark.functions import scale

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    type_dim = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_of_type"))
    )
    return scale.salted_join(ev, type_dim, on="event_type", n_salts=8).select(
        "event_id",
        "event_type",
        "n_of_type",
        F.round(F.col("value") / F.col("n_of_type"), 9).alias("share"),
    )


def q_events_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: every purchase within 30
    minutes of a same-user click, as two file streams joined with
    time-bounded state (``streaming.interval_join_streams``).  The
    watermark exceeds the fixture's span so replay evicts nothing and
    the appended output equals the batch join exactly — the SQL oracle.
    Production sizes the watermark to the real lateness horizon; state
    per key is then rate × (delay + watermark), independent of stream
    length."""
    import tempfile
    import uuid

    from sql_autoloader_spark.streaming import pipeline as streaming

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def src() -> DataFrame:
        return _fix_event_ts(
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    clicks = (
        src()
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        src()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = streaming.interval_join_streams(
        clicks,
        purchases,
        on="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        max_delay="30 minutes",
        watermark="3650 days",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).cast("bigint").alias("delay_us"),
    )
    name = f"stream_attr_{uuid.uuid4().hex[:8]}"
    # stateful: the session's state-store provider backs it (RocksDB
    # in production sessions; see OPERATIONS.md "Session settings")
    query = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def q_load_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 incrementally: a small bootstrap load, then a full backfill
    that re-sends every bootstrap row plus novel ones.

    Exercises the loader's incremental contract end-to-end in the
    oracle-checked surface: the anti-join keeps re-sent dim members and
    re-sent fact rows out (idempotency), novel dim members continue the
    surrogate sequence from ``max(existing id)`` (continuity), and the
    second load validates with the subset compare (``exact=False`` —
    its data is a subset of the accumulated table state).  Returns the
    final star state (fact ⟕ dim).
    """
    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    # bootstrap-then-backfill: a 2% first load (so batch 2 is guaranteed
    # to carry BOTH re-sent rows and novel dim members at every SF),
    # then the whole corpus — novel sources must continue the surrogate
    # sequence from max(existing id), re-sent rows must not duplicate
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    batch1 = docs.where(F.col("doc_id") % 50 == 0)
    batch2 = docs
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE inc_source (id INTEGER PRIMARY KEY, source TEXT UNIQUE);
        CREATE TABLE inc_doc (
            doc_id BIGINT,
            source_id INTEGER REFERENCES inc_source (id),
            n_chars BIGINT
        );
        """
    )
    with db:
        db.load(batch1)
    with db:
        db.load(batch2, exact=False)
    return spark.sql(
        """
        SELECT d.doc_id, CAST(s.id AS BIGINT) AS source_id, s.source,
               d.n_chars
        FROM inc_doc d LEFT JOIN inc_source s ON d.source_id = s.id
        """
    )


def q_load_snapshot_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the manifest journal, registered end-to-end:
    two transactional loads into a managed database, then each durable
    epoch read back AS-OF via ``read_table_as_of`` — per-epoch row
    counts prove snapshots are consistent across the dim AND fact of
    each transaction (the epoch flip was atomic).  Oracle-pinned since
    round 12: the scratch database is fresh, so the journal's commit
    ids are deterministic (1, 2 — one per ``with db:`` block), and each
    epoch's counts are pure SQL over the loaded slices (even doc_ids,
    then all) — DuckDB recomputes the whole history table."""
    import uuid

    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    db = SparkConnector(spark, database=f"snap_{uuid.uuid4().hex[:8]}")
    db.execute_ddl(
        """
        CREATE TABLE sh_source (id INTEGER PRIMARY KEY, source TEXT UNIQUE);
        CREATE TABLE sh_doc (
            doc_id BIGINT,
            source_id INTEGER REFERENCES sh_source (id),
            n_chars BIGINT
        );
        """
    )
    with db:
        db.load(docs.where(F.col("doc_id") % 2 == 0))
    with db:
        db.load(docs, exact=False)
    rows = [
        (
            int(epoch),
            db.read_table_as_of("sh_source", epoch).count(),
            db.read_table_as_of("sh_doc", epoch).count(),
        )
        for epoch in db.commit_history()
    ]
    # counts are driver-side; the scratch database can go
    spark.sql(f"DROP DATABASE {db.database} CASCADE")
    return spark.createDataFrame(
        rows, "commit_id bigint, n_sources bigint, n_docs bigint"
    )


def q_load_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changes-feed (CDC) read through the manifest journal,
    registered end-to-end: two transactional loads into a fresh
    managed database (docs with ``doc_id % 3 == 0``, then all), then
    ``table_changes`` — the incremental-consumer primitive (Delta CDF
    analog) — read two ways: the full feed ``(0, head]`` grouped by
    the committing epoch, and the incremental tail ``(1, head]`` a
    consumer that already processed commit 1 would ask for.  Each row
    carries ``_commit_id``/``_change_type``, so the aggregate pins the
    token→commit mapping AND the insert-only contract.  The diff is a
    commit-range FILTER on the scan (O(new data), pushable) — never an
    EXCEPT between snapshots, which would read and shuffle both full
    snapshots at 100 TB.  Oracle: on a fresh database the commit ids
    are deterministic (1, 2), so every group is pure SQL over the
    parquet slices (``%3==0`` vs the rest)."""
    import uuid

    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    db = SparkConnector(spark, database=f"cdc_{uuid.uuid4().hex[:8]}")
    db.execute_ddl(
        """
        CREATE TABLE sd_source (id INTEGER PRIMARY KEY, source TEXT UNIQUE);
        CREATE TABLE sd_doc (
            doc_id BIGINT,
            source_id INTEGER REFERENCES sd_source (id),
            n_chars BIGINT
        );
        """
    )
    with db:
        db.load(docs.where(F.col("doc_id") % 3 == 0))
    with db:
        db.load(docs, exact=False)

    def _agg(feed: str, changes: DataFrame) -> DataFrame:
        return changes.groupBy("_commit_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                (F.col("_change_type") == "insert").cast("bigint")
            ).cast("bigint").alias("n_inserts"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        ).select(
            F.lit(feed).alias("feed"),
            F.col("_commit_id").cast("bigint").alias("commit_id"),
            "n_rows",
            "n_inserts",
            "sum_chars",
            "min_doc",
            "max_doc",
        )

    full = _agg("since_0", db.table_changes("sd_doc", 0))
    tail = _agg("since_1", db.table_changes("sd_doc", 1))
    result = _pin_small(full.unionByName(tail))
    spark.sql(f"DROP DATABASE {db.database} CASCADE")
    return result


def q_load_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the CDC feed: a per-source
    rollup (n_docs, sum_chars) is built after the first load, PINNED
    (the stored summary a downstream job would persist), and after the
    second load refreshed by merging ONLY the delta —
    ``scale.merge_rollup(summary, agg(table_changes(tbl, c1)))`` —
    never by re-aggregating the table.  O(groups + new rows) per
    refresh: at 100 TB the summary touches the day's commits, not the
    warehouse.  The oracle recomputes the rollup from the raw parquet,
    so the hash match certifies the incremental path converges to the
    full recompute (the IVM invariant), including the source_id →
    source dim resolution."""
    import uuid

    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
    from sql_autoloader_spark.functions import scale

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    db = SparkConnector(spark, database=f"ivm_{uuid.uuid4().hex[:8]}")
    db.execute_ddl(
        """
        CREATE TABLE ir_source (id INTEGER PRIMARY KEY, source TEXT UNIQUE);
        CREATE TABLE ir_doc (
            doc_id BIGINT,
            source_id INTEGER REFERENCES ir_source (id),
            n_chars BIGINT
        );
        """
    )

    def rollup(frame: DataFrame) -> DataFrame:
        return frame.groupBy("source_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )

    with db:
        db.load(docs.where(F.col("doc_id") % 3 == 0))
    c1 = db.commit_history()[-1]
    # the stored summary: tiny (one row per source), pinned like a
    # downstream job would persist it
    summary = _pin_small(rollup(db.read_table_as_of("ir_doc", c1)))

    with db:
        db.load(docs, exact=False)
    head = db.commit_history()[-1]
    delta = rollup(db.table_changes("ir_doc", c1, head))
    refreshed = scale.merge_rollup(summary, delta, keys=["source_id"])

    dim = db.read_table_as_of("ir_source", head).select("id", "source")
    out = _pin_small(
        refreshed.join(dim, refreshed["source_id"] == dim["id"]).select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("sum_chars").cast("bigint").alias("sum_chars"),
        )
    )
    spark.sql(f"DROP DATABASE {db.database} CASCADE")
    return out


def q_load_incremental_distinct_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental DISTINCT-count maintenance (r14): a distinct count
    cannot ride a sum-merged rollup — folding per-refresh counts
    double-counts keys seen in more than one delta.  The mergeable
    form is a Datasketches HLL sketch column:
    ``hll_sketch_agg(doc_id)`` per refresh, merged with
    ``merge_rollup(..., combine={"sk": "hll_union"})``, estimated at
    read time.  Three loads with OVERLAPPING doc sets (each reload
    re-presents the prior docs; the idempotent insert keeps one copy,
    so each delta carries only new doc_ids — but the sketch union
    would stay correct even with overlap) drive two incremental
    refreshes; the certificate joins the estimate against the exact
    per-source distinct count (oracle-recomputed) and pins
    ``within_bound`` = |estimate − exact| ≤ 5% · exact (lgK=14 → rsd
    ≈ 0.81%; at gate-scale cardinalities the sparse-mode sketch is
    exact).  O(groups + day's commits) per refresh at 100 TB, same as
    the sum rollup — the sketch column is ~16 KB per group, mergeable
    forever."""
    import uuid

    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
    from sql_autoloader_spark.functions import scale

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    db = SparkConnector(spark, database=f"ivmd_{uuid.uuid4().hex[:8]}")
    db.execute_ddl(
        """
        CREATE TABLE ird_source (id INTEGER PRIMARY KEY, source TEXT UNIQUE);
        CREATE TABLE ird_doc (
            doc_id BIGINT,
            source_id INTEGER REFERENCES ird_source (id),
            n_chars BIGINT
        );
        """
    )

    def sketch(frame: DataFrame) -> DataFrame:
        return frame.groupBy("source_id").agg(
            F.hll_sketch_agg("doc_id", 14).alias("sk")
        )

    with db:
        db.load(docs.where(F.col("doc_id") % 3 == 0))
    c1 = db.commit_history()[-1]
    summary = _pin_small(sketch(db.read_table_as_of("ird_doc", c1)))

    with db:
        db.load(docs.where(F.col("doc_id") % 3 <= 1), exact=False)
    c2 = db.commit_history()[-1]
    summary = _pin_small(
        scale.merge_rollup(
            summary,
            sketch(db.table_changes("ird_doc", c1, c2)),
            keys=["source_id"],
            combine={"sk": "hll_union"},
        )
    )

    with db:
        db.load(docs, exact=False)
    c3 = db.commit_history()[-1]
    refreshed = scale.merge_rollup(
        summary,
        sketch(db.table_changes("ird_doc", c2, c3)),
        keys=["source_id"],
        combine={"sk": "hll_union"},
    )

    approx = refreshed.select(
        "source_id", F.hll_sketch_estimate("sk").alias("__approx")
    )
    exact = (
        db.read_table_as_of("ird_doc", c3)
        .groupBy("source_id")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("exact_docs"))
    )
    dim = db.read_table_as_of("ird_source", c3).select("id", "source")
    out = _pin_small(
        exact.join(approx, "source_id")
        .join(dim, exact["source_id"] == dim["id"])
        .select(
            "source",
            "exact_docs",
            (
                F.abs(F.col("__approx") - F.col("exact_docs"))
                <= F.col("exact_docs") * F.lit(0.05)
            ).alias("within_bound"),
        )
    )
    spark.sql(f"DROP DATABASE {db.database} CASCADE")
    return out


def q_docs_mixture_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-specified mixture totals (r14): ``docs_mixture_weights``
    water-fills to the feasible MAX; real pipelines ask for an exact
    budget ("2 B tokens at 5:3:2").  Same deterministic weights and
    draw order, but the total is pinned to HALF the water-fill
    maximum via ``mixture_sample(..., target_total=...)`` — every
    group is cut at ``w_g * T/2`` (no group is binding, all are cut),
    which the oracle recomputes exactly.  The infeasible-target and
    malformed-weight paths raise named errors (unit-tested); this
    certificate pins the happy path's exact doc set cross-engine."""
    from sql_autoloader_spark.functions import scale

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        text.token_count(F.col("text")).alias("n_tokens"),
        F.substring(F.md5("text"), 7, 2).alias("draw"),
        (
            F.regexp_extract("source", "([0-9]+)", 1).cast("int") % 4 + 1
        ).alias("w"),
    )
    # the target is DERIVED (half the water-fill max) so the query is
    # feasible at every SF; the aggregate is #sources-row tiny and the
    # float is computed with the same IEEE ops the oracle uses
    t_max = (
        base.groupBy("source")
        .agg(F.max("w").alias("w"), F.sum("n_tokens").alias("m"))
        .agg(
            F.min(F.col("m").cast("double") / F.col("w")).alias("t")
        )
        .first()["t"]
    )
    kept = scale.mixture_sample(
        base,
        group_col="source",
        weight_col="w",
        token_col="n_tokens",
        order_cols=["draw", "doc_id"],
        target_total=0.5 * t_max,
    )
    return kept.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
    )


def q_events_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC (r14): the commit-journal changes feed as a real
    ``readStream`` source (``streaming.read_changes_stream`` — a
    Python Data Source whose offsets are commit ids from the manifest
    journal, partitions are parquet files footer-pruned on the token
    column, Delta-CDF-streaming analogue).  Three commits land with a
    deterministic split (``event_id % 3``); one availableNow run
    drains the feed into a parquet sink.  The certificate pins BOTH
    directions: ``n_mismatch`` = |streamed EXCEPT batch-feed| +
    |batch-feed EXCEPT streamed| (oracle pins 0 — the stream serves
    exactly ``table_changes``), and per-(commit, event_type) exact
    aggregates the oracle recomputes from the split rule.  Incremental
    restart + crash replay + the vacuum-horizon guard are pinned in
    tests/test_streaming.py."""
    import tempfile
    import uuid

    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
    from sql_autoloader_spark.streaming import read_changes_stream

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    db = SparkConnector(spark, database=f"scdc_{uuid.uuid4().hex[:8]}")
    db.execute_ddl(
        "CREATE TABLE ce (event_id BIGINT, event_type TEXT, value DOUBLE);"
    )
    for i in range(3):
        with db:
            db.insert(ev.where(F.col("event_id") % 3 == i), table="ce")
    head = db.commit_history()[-1]

    # run-unique sink dir (outlives the call — the returned DataFrame
    # still reads it when the caller collects), same as jsonl_roundtrip
    sink = f"/tmp/spark_graft_cdcstream_{uuid.uuid4().hex[:12]}"
    stream = read_changes_stream(db, "ce")
    query = (
        stream.writeStream.foreachBatch(
            lambda df, _bid: df.write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()

    cols = ["event_id", "event_type", "value", "_commit_id", "_change_type"]
    streamed = spark.read.parquet(sink).select(*cols)
    batch_feed = db.table_changes("ce", 0, head).select(*cols)
    n_mismatch = (
        streamed.exceptAll(batch_feed)
        .unionAll(batch_feed.exceptAll(streamed))
        .count()
    )
    out = _pin_small(
        streamed.groupBy("_commit_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
        .select(
            F.col("_commit_id").cast("bigint").alias("commit_id"),
            "event_type",
            "n_events",
            "sum_event_id",
            "min_event_id",
            "max_event_id",
            F.lit(n_mismatch).cast("bigint").alias("n_mismatch"),
        )
    )
    spark.sql(f"DROP DATABASE {db.database} CASCADE")
    return out


def q_load_incremental_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental QUANTILE maintenance (r14): percentiles cannot ride
    a sum-merged rollup, but a fixed-bin histogram can — each summary
    keeps one ``array<bigint>`` of bin counts per source, refreshes
    merge element-wise (``merge_rollup(..., combine={"hist":
    "vector_sum"})``), and any quantile reads off the merged counts
    with no extra scan.  Bins are ``least(15, n_chars div 64)`` — a
    fixed, engine-recomputable boundary, so unlike t-digest sketches
    the WHOLE certificate is exact: after two incremental refreshes
    across three loads the exploded (source, bin, n_docs) rows must
    hash-match the oracle's direct recount from raw parquet."""
    import uuid

    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
    from sql_autoloader_spark.functions import scale

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    db = SparkConnector(spark, database=f"ivmh_{uuid.uuid4().hex[:8]}")
    db.execute_ddl(
        """
        CREATE TABLE irh_source (id INTEGER PRIMARY KEY, source TEXT UNIQUE);
        CREATE TABLE irh_doc (
            doc_id BIGINT,
            source_id INTEGER REFERENCES irh_source (id),
            n_chars BIGINT
        );
        """
    )

    n_bins, width = 16, 64

    def hist(frame: DataFrame) -> DataFrame:
        bin_col = F.least(
            F.lit(n_bins - 1), (F.col("n_chars") / width).cast("int")
        )
        return frame.groupBy("source_id").agg(
            F.array(
                *[
                    F.sum(
                        F.when(bin_col == i, 1).otherwise(0)
                    ).cast("bigint")
                    for i in range(n_bins)
                ]
            ).alias("hist")
        )

    summary = None
    bookmark = 0
    for chunk in (
        F.col("doc_id") % 3 == 0,
        F.col("doc_id") % 3 <= 1,
        F.lit(True),
    ):
        with db:
            db.load(docs.where(chunk), exact=False)
        head = db.commit_history()[-1]
        delta = hist(db.table_changes("irh_doc", bookmark, head))
        summary = _pin_small(
            delta
            if summary is None
            else scale.merge_rollup(
                summary, delta, keys=["source_id"], combine={"hist": "vector_sum"}
            )
        )
        bookmark = head

    dim = db.read_table_as_of("irh_source", bookmark).select("id", "source")
    out = _pin_small(
        summary.join(dim, summary["source_id"] == dim["id"])
        .select("source", F.posexplode("hist").alias("bin", "n_docs"))
        .where(F.col("n_docs") > 0)
        .select(
            "source",
            F.col("bin").cast("bigint").alias("bin"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
    )
    spark.sql(f"DROP DATABASE {db.database} CASCADE")
    return out


def q_load_incremental_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The READ half of incremental quantiles (r15): maintain the same
    fixed-bin histogram rollup as ``load_incremental_histogram`` across
    three incremental loads, then read p50/p95 straight off the merged
    counts with :func:`histogram_quantile` — a pure expression over the
    groups-sized summary, NO scan of the underlying documents.  The
    oracle recomputes the identical inclusive-rank quantile (smallest
    bin whose cumulative count reaches ``ceil(q*total)``) from the raw
    parquet, so the hash match certifies the full loop:
    incremental maintenance -> mergeable histogram -> quantile read."""
    import uuid

    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
    from sql_autoloader_spark.functions import scale

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    db = SparkConnector(spark, database=f"ivmq_{uuid.uuid4().hex[:8]}")
    db.execute_ddl(
        """
        CREATE TABLE irq_source (id INTEGER PRIMARY KEY, source TEXT UNIQUE);
        CREATE TABLE irq_doc (
            doc_id BIGINT,
            source_id INTEGER REFERENCES irq_source (id),
            n_chars BIGINT
        );
        """
    )

    n_bins, width = 16, 64

    def hist(frame: DataFrame) -> DataFrame:
        bin_col = F.least(
            F.lit(n_bins - 1), (F.col("n_chars") / width).cast("int")
        )
        return frame.groupBy("source_id").agg(
            F.array(
                *[
                    F.sum(
                        F.when(bin_col == i, 1).otherwise(0)
                    ).cast("bigint")
                    for i in range(n_bins)
                ]
            ).alias("hist")
        )

    summary = None
    bookmark = 0
    for chunk in (
        F.col("doc_id") % 3 == 0,
        F.col("doc_id") % 3 <= 1,
        F.lit(True),
    ):
        with db:
            db.load(docs.where(chunk), exact=False)
        head = db.commit_history()[-1]
        delta = hist(db.table_changes("irq_doc", bookmark, head))
        summary = _pin_small(
            delta
            if summary is None
            else scale.merge_rollup(
                summary, delta, keys=["source_id"], combine={"hist": "vector_sum"}
            )
        )
        bookmark = head

    dim = db.read_table_as_of("irq_source", bookmark).select("id", "source")
    out = _pin_small(
        summary.join(dim, summary["source_id"] == dim["id"]).select(
            "source",
            scale.histogram_quantile("hist", 0.50).alias("p50_bin"),
            scale.histogram_quantile("hist", 0.95).alias("p95_bin"),
        )
    )
    spark.sql(f"DROP DATABASE {db.database} CASCADE")
    return out


def q_load_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental HEAVY-HITTERS (r15): a top-k measure rides the
    rollup as a mergeable Misra-Gries count map (``merge_rollup(...,
    combine={"hh": "topk8"})``) — each refresh folds the delta's exact
    count map, the summary stays ≤8 keys per group, no refresh rescans
    the table.  Like any mergeable sketch the summary CONTENT is
    merge-order-dependent inside the MG guarantees, so the certificate
    reads only order-invariant derivatives: a planted skew (half of
    every group's docs share one hot key, the rest spread over ~96
    keys) makes the top key provably stable, and the MG bounds
    (no overcount; undercount ≤ N/(k+1); every key above N/(k+1)
    retained; ≤ k keys) are emitted as booleans the oracle pins TRUE.
    ``top_docs`` is the EXACT count of the summary's argmax key — the
    oracle recomputes it from raw parquet, so a hash match certifies
    the maintained sketch found the true heavy hitter."""
    import uuid

    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
    from sql_autoloader_spark.functions import scale

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    db = SparkConnector(spark, database=f"ivmt_{uuid.uuid4().hex[:8]}")
    db.execute_ddl("CREATE TABLE itk_doc (doc_id BIGINT, lang TEXT);")

    k = 8

    def hh_key(frame: DataFrame) -> DataFrame:
        return frame.withColumn(
            "hh_key",
            F.when(F.col("doc_id") % 2 == 0, F.lit("hot")).otherwise(
                F.concat(
                    F.lit("k"),
                    (F.col("doc_id") % 97).cast("int").cast("string"),
                )
            ),
        )

    def partial(frame: DataFrame) -> DataFrame:
        return (
            hh_key(frame)
            .groupBy("lang", "hh_key")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .groupBy("lang")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("hh_key", "c"))
                ).alias("hh")
            )
        )

    summary = None
    bookmark = 0
    for chunk in (
        F.col("doc_id") % 3 == 0,
        F.col("doc_id") % 3 <= 1,
        F.lit(True),
    ):
        with db:
            db.load(docs.where(chunk), exact=False)
        head = db.commit_history()[-1]
        delta = partial(db.table_changes("itk_doc", bookmark, head))
        summary = _pin_small(
            delta
            if summary is None
            else scale.merge_rollup(
                summary, delta, keys=["lang"], combine={"hh": f"topk{k}"}
            )
        )
        bookmark = head

    snapshot = hh_key(db.read_table_as_of("itk_doc", bookmark))
    exact = (
        snapshot.groupBy("lang", "hh_key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact"))
        .withColumn(
            "n", F.sum("exact").over(Window.partitionBy("lang"))
        )
    )
    est = summary.select(
        "lang", F.size("hh").alias("hh_size"), F.explode("hh").alias(
            "hh_key", "est"
        )
    )
    bound = F.col("n").cast("double") / (k + 1)
    ex = exact.join(est.drop("hh_size"), ["lang", "hh_key"], "left")
    per_lang = ex.groupBy("lang").agg(
        F.expr(
            "max_by(struct(hh_key, exact), struct(est, hh_key))"
            " FILTER (WHERE est IS NOT NULL)"
        ).alias("top"),
        F.min(
            F.when(F.col("est").isNotNull(), F.col("est") <= F.col("exact"))
            .otherwise(F.lit(True))
        ).alias("no_overcount"),
        F.min(
            F.when(
                F.col("est").isNotNull(),
                (F.col("exact") - F.col("est")).cast("double") <= bound,
            ).otherwise(F.lit(True))
        ).alias("within_bound"),
        F.min(
            F.when(
                F.col("exact").cast("double") > bound,
                F.col("est").isNotNull(),
            ).otherwise(F.lit(True))
        ).alias("heavy_present"),
    )
    sizes = summary.select(
        "lang", (F.size("hh") <= F.lit(k)).alias("size_ok")
    )
    out = _pin_small(
        per_lang.join(sizes, "lang").select(
            "lang",
            F.col("top")["hh_key"].alias("top_key"),
            F.col("top")["exact"].cast("bigint").alias("top_docs"),
            "heavy_present",
            "no_overcount",
            "within_bound",
            "size_ok",
        )
    )
    spark.sql(f"DROP DATABASE {db.database} CASCADE")
    return out


def q_events_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUSH-based incremental view maintenance (r14): a
    ``RollupConsumer`` maintained by ``streaming.stream_rollup`` from
    the streaming changes feed — each micro-batch folds its delta into
    the versioned summary under the batch-id bookmark riding the same
    atomic HEAD flip (exactly-once on at-least-once replay; crash
    paths pinned in tests/test_streaming.py).  Three commits land by
    the ``event_id % 3`` split, two separate drains maintain the
    rollup (the second drain folds only the commit it hasn't seen),
    and the certificate is the final summary itself — the oracle
    recomputes the same per-type aggregate from the raw events, so the
    hash match certifies streamed-incremental ≡ full recompute."""
    import tempfile
    import uuid

    from sql_autoloader_spark.connectors.consumer import RollupConsumer
    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
    from sql_autoloader_spark.streaming import stream_rollup

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    db = SparkConnector(spark, database=f"srol_{uuid.uuid4().hex[:8]}")
    db.execute_ddl(
        "CREATE TABLE sre (event_id BIGINT, event_type TEXT);"
    )

    def agg(frame: DataFrame) -> DataFrame:
        return frame.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
        )

    rc = RollupConsumer(
        spark, tempfile.mkdtemp(), keys=["event_type"]
    )
    ckpt = tempfile.mkdtemp()
    # drain 1 covers the first two commits, drain 2 only the third —
    # the summary is maintained incrementally across stream runs
    for split in ([0, 1], [2]):
        for i in split:
            with db:
                db.insert(
                    ev.where(F.col("event_id") % 3 == i), table="sre"
                )
        stream_rollup(
            db, "sre", rc, agg, checkpoint_dir=ckpt
        ).awaitTermination()

    out = _pin_small(
        rc.summary().select(
            "event_type", "n_events", "sum_event_id"
        )
    )
    spark.sql(f"DROP DATABASE {db.database} CASCADE")
    return out


def q_docs_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ingestion through the JSONL front door: write the
    documents table as JSON Lines, read it back with the quarantining
    reader (PERMISSIVE + explicit schema — the production settings for
    crawl-shard ingestion), and aggregate per source.  The oracle runs
    the same aggregate on the parquet directly, so the hash match
    proves the JSONL round trip is lossless, including the text column
    (quotes, unicode, newlines survive JSON escaping)."""
    import uuid

    from sql_autoloader_spark.connectors.files import (
        read_jsonl,
        split_quarantine,
        write_jsonl,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    # run-unique path: concurrent runs against the same sf_dir must not
    # overwrite a directory another run's scan is reading.  (The dir
    # outlives the call by design — the returned DataFrame still reads
    # it when the caller collects.)
    out = f"/tmp/spark_graft_jsonl_{uuid.uuid4().hex[:12]}"
    write_jsonl(docs, out, mode="overwrite", partitions=4)
    back = read_jsonl(
        spark, out, "doc_id bigint, source string, n_chars bigint, text string"
    )
    clean, _bad = split_quarantine(back)
    return clean.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )


def q_docs_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline — the flagship composition
    proving the cleaning operators stack:

    1. QUALITY GATE: whitespace token count in [20, 80] (the
       two-tail cut; ``text.token_count``);
    2. FUZZY-EXACT DEDUP: first (min doc_id) document per normalized
       fingerprint survives (``text.fingerprint_md5`` +
       ``dedup.exact_dedup`` — one keyed shuffle of 32-hex keys);
    3. PII SCRUB: deterministic salt (fixtures carry no organic PII),
       then ``text.scrub_pii`` typed placeholders — zero-shuffle regex
       map;
    4. SEQUENCE PACKING: post-scrub token counts packed into 2048-token
       training sequences by exact global offset
       (``scale.prefix_sum`` — data-derived range buckets +
       per-bucket offsets, never a single-partition window).

    The oracle restates all four stages in SQL (gate → GROUP BY
    fingerprint → identical regex chain → cumsum window), so the value
    hash certifies the whole composition, not just each stage alone.
    Plan shape: one MAIN lazy plan with one keyed shuffle for the dedup
    and one bucket exchange for the pack — everything else fuses into
    scan-speed map stages.  prefix_sum additionally runs one eager
    boundary-sampling job at construction (its documented cost
    contract); ``boundary_hint`` points that job at the raw documents
    key projection, so it costs one cheap column scan instead of
    re-executing the gate→dedup→scrub lineage.
    """
    from sql_autoloader_spark.functions import dedup, scale
    from sql_autoloader_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    gated = docs.withColumn(
        "n_raw_tokens", textf.token_count(F.col("text"))
    ).filter(F.col("n_raw_tokens").between(20, 80))
    survivors = dedup.exact_dedup(
        gated.withColumn("fp", textf.fingerprint_md5(F.col("text"))),
        ["fp"],
        id_col="doc_id",
    ).drop("fp", "n_raw_tokens")
    salted = survivors.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ),
    )
    scrubbed = salted.select(
        "doc_id",
        "source",
        textf.scrub_pii(F.col("text")).alias("text"),
    )
    toks = scrubbed.select(
        "doc_id", "source", textf.token_count(F.col("text")).alias("n_tokens")
    )
    packed = scale.prefix_sum(
        toks,
        order_by=["doc_id"],
        value_col="n_tokens",
        out_col="end_off",
        boundary_hint=docs.select("doc_id"),
    )
    start = F.col("end_off") - F.col("n_tokens")
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        start.cast("bigint").alias("start_offset"),
        F.floor(start / F.lit(2048)).cast("bigint").alias("seq_id"),
    )


def q_docs_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-metadata ingestion through the CSV front door: write the
    documents table as CSV shards with DELIBERATELY hostile text
    (embedded commas and double quotes, so the writer must quote and
    the reader must unescape), inject three malformed lines into the
    directory, read back with the quarantining reader (PERMISSIVE +
    explicit schema, ``connectors/files.py:read_csv``), and aggregate
    per source.  The oracle computes the same aggregate from parquet
    directly with the quarantine count hard-coded to the injected 3 —
    so the hash match proves (a) CSV quoting round-trips losslessly,
    (b) malformed lines are quarantined, never silently dropped or
    fatal, and (c) clean rows are untouched by the quarantine split.
    (Embedded NEWLINES are deliberately out of scope: splittable CSV is
    for metadata sidecars; text with newlines belongs in JSONL —
    ``docs_jsonl_roundtrip`` — or needs multiLine=true, which reads one
    task per file.)"""
    import uuid

    from sql_autoloader_spark.connectors.files import (
        read_csv,
        split_quarantine,
    )

    import shutil

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.concat(F.lit('v,"q" '), F.substring("text", 1, 40)).alias("text"),
    )
    # run-unique path: concurrent runs against the same sf_dir must not
    # overwrite a directory another run's scan is reading
    out = f"/tmp/spark_graft_csv_{uuid.uuid4().hex[:12]}"
    try:
        (
            docs.repartition(4)
            .write.mode("overwrite")
            .option("header", "false")
            # the CSV WRITER trims surrounding whitespace by default —
            # silently lossy for text ending in a space; pin it off (the
            # reader's same-named options already default to false)
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .csv(out)
        )
        with open(f"{out}/zz-malformed.csv", "w", encoding="utf-8") as fh:
            fh.write("not_a_number,web,1,ok\n")  # unparseable bigint
            fh.write('12,"unterminated,3,x\n')  # broken quoting
            fh.write("‽,‽,‽,‽\n")  # type garbage everywhere
        back = read_csv(
            spark,
            out,
            "doc_id bigint, source string, n_chars bigint, text string",
            header=False,
        )
        clean, bad = split_quarantine(back)
        n_bad = bad.count()
        agg = (
            clean.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
                F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
                F.min("doc_id").cast("bigint").alias("min_doc"),
                F.max("doc_id").cast("bigint").alias("max_doc"),
            )
            .withColumn("n_quarantined", F.lit(n_bad).cast("bigint"))
        )
        # pin the tiny per-source aggregate cluster-safely (driver
        # collect → LocalRelation) so the shard directory can be
        # removed NOW instead of leaking one /tmp/spark_graft_csv_*
        # per correctness/bench invocation while the caller still
        # holds an uncollected lazy frame; the returned frame carries
        # its few rows in the plan itself and survives executor loss
        return _pin_small(agg)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def q_docs_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus interchange through the ORC front door: write the
    documents table as zstd ORC shards with a bloom filter on
    ``doc_id`` (``connectors/files.py:write_orc``), read it back with
    an explicit pinned schema (``read_orc``), and aggregate per source
    — plus a sparse ``doc_id % 97`` probe column that anchors value
    fidelity on individual rows, not just totals.  The oracle computes
    the same aggregates from parquet directly, so the hash match proves
    the ORC round trip is lossless (text, unicode, the full doc_id
    range).  Predicate pushdown into the ORC scan (stripe skipping +
    the bloom filter this writer embeds) is plan-pinned separately in
    tests/test_plans.py — filter-correctness under pushdown is a plan
    property, not something a post-scan aggregate can witness."""
    import shutil
    import uuid

    from sql_autoloader_spark.connectors.files import read_orc, write_orc

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    # run-unique path: concurrent runs against the same sf_dir must not
    # overwrite a directory another run's scan is reading
    out = f"/tmp/spark_graft_orc_{uuid.uuid4().hex[:12]}"
    try:
        write_orc(
            docs,
            out,
            mode="overwrite",
            bloom_filter_cols=["doc_id"],
            partitions=4,
        )
        back = read_orc(
            spark,
            out,
            "doc_id bigint, source string, n_chars bigint, text string",
        )
        probed = F.sum(
            F.when(F.col("doc_id") % 97 == 0, F.length("text"))
        )
        agg = back.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
            F.coalesce(probed, F.lit(0)).cast("bigint").alias("probe_len"),
        )
        # tiny per-source aggregate: pin cluster-safely (LocalRelation)
        # so the shard directory can be removed NOW instead of leaking
        # one /tmp/spark_graft_orc_* per invocation
        return _pin_small(agg)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def q_load_vacuum_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse maintenance end-to-end: three transactional loads, a
    Z-ORDER compaction (``compact_table(zorder_by=[doc_id, n_chars])``
    — the multi-column data-skipping rewrite; the 1-D ``sort_by`` path
    is footer-pinned in tests), then ``vacuum_commits(retain_last=1)``
    folding old history into the base.  The returned row proves content
    survives both rewrites, history trims to the retained commit, and
    the vacuumed-base snapshot absorbs the folded loads.  Oracle-pinned
    since round 12: on a fresh scratch database every returned number
    is SQL-derivable — content counts from the documents table,
    ``n_history`` = the retained 1, and the vacuumed base = the folded
    first two loads (``doc_id % 3 < 2``) — so a regression in either
    rewrite (compaction dropping rows, vacuum folding the wrong
    horizon) hash-mismatches instead of passing rows-only."""
    import uuid

    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    db = SparkConnector(spark, database=f"vac_{uuid.uuid4().hex[:8]}")
    db.execute_ddl(
        """
        CREATE TABLE vm_source (id INTEGER PRIMARY KEY, source TEXT UNIQUE);
        CREATE TABLE vm_doc (
            doc_id BIGINT,
            source_id INTEGER REFERENCES vm_source (id),
            n_chars BIGINT
        );
        """
    )
    for part in (0, 1, 2):
        with db:
            db.load(
                docs.where(F.col("doc_id") % 3 == part),
                compare=False,
            )
    total_before = db._read_table("vm_doc").count()
    db.compact_table(
        "vm_doc", target_partitions=4, zorder_by=["doc_id", "n_chars"]
    )
    db.vacuum_commits(retain_last=1)
    history = db.commit_history()
    row = (
        int(total_before),
        int(db._read_table("vm_doc").count()),
        len(history),
        int(db.read_table_as_of("vm_doc", 0).count()),
        int(db.read_table_as_of("vm_doc", history[-1]).count()),
    )
    spark.sql(f"DROP DATABASE {db.database} CASCADE")
    return spark.createDataFrame(
        [row],
        "n_before bigint, n_after bigint, n_history bigint, "
        "n_base_snapshot bigint, n_head_snapshot bigint",
    )


def q_load_star_sqlite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 through the SQLite compatibility sink (D1 executed for real):
    the same nation⨝region star load as ``load_star_roundtrip``, but
    against a live sqlite3 database — PRAGMA introspection, INSERT OR
    IGNORE under real UNIQUE constraints, genuine autoincrement
    surrogate keys, and the generated compare query executed by SQLite
    itself (double-quote dialect)."""
    from sql_autoloader_spark.connectors.sqlite import SQLiteConnector

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    flat = nation.join(
        region, nation["n_regionkey"] == region["r_regionkey"]
    ).select(F.col("n_name").alias("name"), F.col("r_name").alias("region"))

    db = SQLiteConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE dim_region (
            id INTEGER PRIMARY KEY,
            region TEXT UNIQUE
        );
        CREATE TABLE dim_nation (
            id INTEGER PRIMARY KEY,
            name TEXT UNIQUE,
            region_id INTEGER REFERENCES dim_region (id)
        );
        """
    )
    with db:
        db.load(flat)
    query = db.schema.get_compare_query(["name", "region"], quote='"')
    return db._execute_compare_query(query)


def q_load_star_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 through the JDBC connector against a live embedded Apache
    Derby database (D2's execution path made real — Derby ships on
    Spark's classpath): DatabaseMetaData introspection, identity-column
    surrogate keys minted by the database, idempotent anti-join appends
    via ``spark.write.jdbc``, and the generated compare query executed
    remotely.  Identifiers are uppercase (Derby normalizes unquoted SQL
    identifiers); the result is aliased back to lowercase for the
    oracle."""
    import tempfile

    from sql_autoloader_spark.connectors.jdbc import JDBCConnector

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    flat = nation.join(
        region, nation["n_regionkey"] == region["r_regionkey"]
    ).select(F.col("n_name").alias("NAME"), F.col("r_name").alias("REGION"))

    url = f"jdbc:derby:{tempfile.mkdtemp()}/stardb;create=true"
    db = JDBCConnector(spark, url)
    db.execute_ddl(
        """
        CREATE TABLE DIM_REGION (
            ID INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
            REGION VARCHAR(64) NOT NULL,
            CONSTRAINT UQ_REGION UNIQUE (REGION)
        );
        CREATE TABLE DIM_NATION (
            ID INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
            NAME VARCHAR(64) NOT NULL,
            REGION_ID INT REFERENCES DIM_REGION (ID),
            CONSTRAINT UQ_NAME UNIQUE (NAME)
        )
        """
    )
    with db:
        db.load(flat)
    query = db.schema.get_compare_query(["NAME", "REGION"], quote='"')
    return db._execute_compare_query(query).select(
        F.col("NAME").alias("name"), F.col("REGION").alias("region")
    )


def q_load_star_postgres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 through the wire-native Postgres sink against a LIVE embedded
    PostgreSQL server (reference postgres/postgres_connector.py:160-254
    executed for real — its upstream test suite is skipped for lack of a
    server): information_schema introspection via the golden-pinned
    dialect SQL, ``INSERT ... ON CONFLICT DO NOTHING`` under real UNIQUE
    constraints, identity-sequence surrogate keys, and the generated
    compare query executed by PostgreSQL itself."""
    from sql_autoloader_spark.connectors.pgwire import EmbeddedPostgres
    from sql_autoloader_spark.connectors.postgres import PostgresConnector

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    flat = nation.join(
        region, nation["n_regionkey"] == region["r_regionkey"]
    ).select(F.col("n_name").alias("name"), F.col("r_name").alias("region"))

    with EmbeddedPostgres() as pg:
        db = PostgresConnector(
            spark, sock_dir=pg.sock_dir, port=pg.port
        )
        db.execute_ddl(
            """
            CREATE TABLE dim_region (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                region text UNIQUE
            );
            CREATE TABLE dim_nation (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                name text UNIQUE,
                region_id bigint REFERENCES dim_region (id)
            );
            """
        )
        with db:
            db.load(flat)
        query = db.schema.get_compare_query(["name", "region"], quote='"')
        # the frame is createDataFrame-backed over wire-decoded rows —
        # already driver-local, no dependency on the departing server
        result = db._execute_compare_query(query)
        db.close()
    return result


def q_load_events_postgres_copy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E5 at fact scale against LIVE PostgreSQL through the distributed
    COPY landing (connectors/postgres.py:_write_new_rows): the whole
    events projection auto-loaded into an event-type dim + fact star
    where the fact payload exceeds ``copy_threshold``, so executors
    COPY partitions concurrently into an unlogged staging table and ONE
    server-side null-safe anti-join + ``ON CONFLICT DO NOTHING``
    statement merges it — no fact row ever crosses the driver on the
    write side.  The dim lands over the driver connection, exercising
    both landings in one load.  Returns
    the PostgreSQL-executed compare-query reconstruction (= the
    distinct input projection)."""
    from sql_autoloader_spark.connectors.pgwire import EmbeddedPostgres
    from sql_autoloader_spark.connectors.postgres import PostgresConnector

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    with EmbeddedPostgres() as pg:
        db = PostgresConnector(
            spark,
            sock_dir=pg.sock_dir,
            port=pg.port,
            copy_threshold=1000,
        )
        db.execute_ddl(
            """
            CREATE TABLE pe_etype (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                event_type text UNIQUE
            );
            CREATE TABLE pe_event (
                event_id bigint,
                etype_id bigint REFERENCES pe_etype (id),
                value double precision
            );
            """
        )
        with db:
            db.load(ev)
        query = db.schema.get_compare_query(
            ["event_id", "event_type", "value"], quote='"'
        )
        # the frame is createDataFrame-backed over wire-decoded rows —
        # already driver-local, no dependency on the departing server
        result = db._execute_compare_query(query)
        db.close()
    return result.select(
        F.col("event_id").cast("long"),
        "event_type",
        F.col("value").cast("double"),
    )


def q_load_events_postgres_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full round-9 PostgreSQL surface in one oracle-checked round
    trip: the events star loads through the distributed COPY write
    (executors stream partitions into unlogged staging, one server-side
    merge), the happy-path validation runs as the IN-DATABASE checksum
    aggregate (O(1) bytes to the driver), and the fact table is then
    read BACK through the distributed ctid-ranged ``COPY ... TO
    STDOUT`` path (connectors/postgres.py:_read_table_distributed) —
    no fact row ever crosses the driver connection in either direction.
    Returns a per-type aggregate of the read-back fact ⨝ dim, checked
    against DuckDB over the original parquet."""
    from sql_autoloader_spark.connectors.pgwire import EmbeddedPostgres
    from sql_autoloader_spark.connectors.postgres import PostgresConnector

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    with EmbeddedPostgres() as pg:
        db = PostgresConnector(
            spark,
            sock_dir=pg.sock_dir,
            port=pg.port,
            copy_threshold=1000,
            read_copy_bytes=64 << 10,  # the fact heap counts as "big"
        )
        db.execute_ddl(
            """
            CREATE TABLE pr_etype (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                event_type text UNIQUE
            );
            CREATE TABLE pr_event (
                event_id bigint,
                etype_id bigint REFERENCES pr_etype (id),
                value double precision
            );
            """
        )
        with db:
            db.load(ev)
        fact = db._read_table("pr_event")  # distributed ctid-range read
        dim = db._read_table("pr_etype")  # dimension: driver read
        agg = (
            fact.join(dim, fact["etype_id"] == dim["id"])
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_value"),
            )
        )
        # materialize before the server goes away: the per-type
        # aggregate is a handful of rows, so the cluster-safe pin
        # (driver collect → LocalRelation) costs nothing and the
        # returned frame survives executor loss after db.close()
        result = _pin_small(agg)
        db.close()
    return result


def q_load_star_postgres_typed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E5 with TYPE-CORNER columns through the driver write path
    against LIVE PostgreSQL (round-10 gap close): the dimension carries
    ``numeric(18,6)``, ``bytea``, and ``timestamptz`` payload columns
    and the fact a ``numeric(18,6)`` measure, all moving as COPY text
    over the driver connection into the typed session-temp table +
    EXCEPT merge (``connectors/postgres.py:_write_new_rows``), validated by
    the in-database checksum, and read back through the generated
    compare query — so decimal scale, binary round-trip fidelity, and
    the UTC timestamptz canon are all oracle-checked end to end (the
    fuzz suite covers these live, but this puts them under the
    driver's value-hash gate).  Binary and timestamptz render to
    engine-neutral forms (UTF-8 decode, UTC wall-clock string) only in
    the FINAL select — the lifecycle itself moves the raw types."""
    from sql_autoloader_spark.connectors.pgwire import EmbeddedPostgres
    from sql_autoloader_spark.connectors.postgres import PostgresConnector

    orders = _t(spark, sf_dir, "orders")
    flat = orders.filter(F.col("o_orderkey") % 20 == 0).select(
        F.col("o_orderkey").alias("okey"),
        (F.col("o_orderkey").cast("decimal(18,6)") / 64)
        .cast("decimal(18,6)")
        .alias("price"),
        F.col("o_orderpriority").alias("prio"),
        (F.length("o_orderpriority").cast("decimal(18,6)") / 8)
        .cast("decimal(18,6)")
        .alias("weight"),
        F.encode("o_orderpriority", "UTF-8").alias("tag"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, length(o_orderpriority))"
        ).alias("first_seen"),
    )
    with EmbeddedPostgres() as pg:
        db = PostgresConnector(spark, sock_dir=pg.sock_dir, port=pg.port)
        db.execute_ddl(
            """
            CREATE TABLE typed_prio (
                id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
                prio text UNIQUE,
                weight numeric(18,6),
                tag bytea,
                first_seen timestamptz
            );
            CREATE TABLE typed_fact (
                prio_id bigint REFERENCES typed_prio (id),
                okey bigint,
                price numeric(18,6)
            );
            """
        )
        with db:
            db.load(flat)
        query = db.schema.get_compare_query(
            ["okey", "price", "prio", "weight", "tag", "first_seen"],
            quote='"',
        )
        # the frame is createDataFrame-backed over wire-decoded rows —
        # already driver-local, no dependency on the departing server
        result = db._execute_compare_query(query)
        db.close()
    return result.select(
        F.col("okey").cast("long"),
        F.col("price").cast("decimal(18,6)"),
        "prio",
        F.col("weight").cast("decimal(18,6)"),
        F.decode(F.col("tag"), "UTF-8").alias("tag_txt"),
        F.date_format("first_seen", "yyyy-MM-dd HH:mm:ss").alias(
            "first_seen_utc"
        ),
    )


def q_load_events_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 at fact scale: the whole events table auto-loaded into an
    event-type dim + fact star in one batch ``load``.  Unlike the
    dimension-shaped star loads (25–150k dedup-heavy rows), this drives
    the loader's fact path — a full-width append plus a key merge
    against a broadcast-sized dim — which is the shape that must scale
    linearly to 100 TB.  Returns the generated compare-query
    reconstruction (equals the distinct input projection)."""
    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    db = SparkConnector(spark)
    db.expose_reconstruction = True
    db.execute_ddl(
        """
        CREATE TABLE be_etype (id INTEGER PRIMARY KEY, event_type TEXT UNIQUE);
        CREATE TABLE be_event (
            event_id BIGINT,
            etype_id INTEGER REFERENCES be_etype (id),
            value DOUBLE
        );
        """
    )
    with db:
        db.load(ev)
    # reuse the compare aggregate's pinned reconstruction (identical to
    # the generated compare query's distinct result, shuffle already paid)
    return db.last_reconstruction


def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the events file stream unioned with
    itself — every row arrives twice — through ``streaming.dedup_stream``
    (``withWatermark`` + ``dropDuplicatesWithinWatermark`` on the natural
    key), so the appended output must equal the batch table exactly: one
    state entry per key collapses both arrivals.  Survivors are
    bit-identical to their duplicates, making the result deterministic
    and SQL-oracle-able.  The watermark delay exceeds the fixture's time
    span so no state is evicted mid-replay; production pipelines size it
    to the real late-data horizon instead (bounded state at 100 TB)."""
    import tempfile
    import uuid

    from sql_autoloader_spark.streaming import pipeline as streaming

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def src() -> DataFrame:
        return _fix_event_ts(
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    deduped = streaming.dedup_stream(
        src().unionAll(src()), keys=["event_id"], watermark="3650 days"
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    # stateful: the session's state-store provider backs it (RocksDB
    # in production sessions; see OPERATIONS.md "Session settings")
    query = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def q_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the explicit form rollup/cube are sugar over:
    three grouping shapes ((status, priority), (status), (year)) computed
    in one pass over orders, one shuffle total."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return (
        orders.groupingSets(
            [
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderstatus"],
                ["order_year"],
            ],
            "o_orderstatus",
            "o_orderpriority",
            "order_year",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "order_year",
            "n_orders",
            "revenue",
        )
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of regional revenue
    per year (conditional aggregate over a 6-way star join)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    nation5 = F.when(F.col("supp_nation") == "NATION_5", revenue).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cr_key") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(nation5).cast("double") / F.sum(revenue).cast("double")
            ).alias("mkt_share"),
            F.sum(revenue).cast("double").alias("total_revenue"),
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year.  The fixture
    schema has no partsupp, so supply cost is proxied as 60% of the
    part's retail price — the join/aggregate shape is unchanged."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").contains("red"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cost = (
        _dec("l_quantity")
        * _dec("p_retailprice")
        * F.lit("0.6").cast("decimal(2,1)")
    )
    profit = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")) - cost
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier via a correlated
    min subquery.  No partsupp table exists, so per-(part, supplier)
    cost is the average observed sale price from lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
    )
    cost = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))
            ).alias("avg_price")
        )
    )
    min_cost = cost.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("avg_price").alias("min_price")
    )
    return (
        cost.join(
            min_cost,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("avg_price") == F.col("min_price")),
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("name"),
            F.col("l_suppkey").alias("suppkey"),
            F.round("avg_price", 6).alias("cost"),
        )
    )


# --------------------------------------------------------------------------
# Multimodal queries (SURVEY §2G): opaque binary content + typed metadata
# --------------------------------------------------------------------------


#: duplicate-injection modulus for the synthetic media corpus: ids
#: congruent mod this share identical PNG bytes (SQL-predictable dups)
_MEDIA_MOD = 384


def _media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from document ids: REAL deterministic
    PNGs (``multimodal.synthesize_png``) so the registered path runs
    the actual stdlib PNG decoder on real pixels in-container.  Every
    image parameter is a pure arithmetic function of
    ``doc_id % _MEDIA_MOD`` — see the oracle SQL, which recomputes
    sizes and pixel statistics without any codec."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.synthetic_png_media(
        docs, id_col="doc_id", modulus=_MEDIA_MOD
    )


def q_media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side media metadata + exact content dedup: byte length and
    the per-asset count of assets sharing the same SHA-256 content
    hash.  The oracle recomputes n_bytes from the stored-block PNG size
    formula and the dup groups from the generator's id-congruence."""
    media = _media_frame(spark, sf_dir)
    stats = multimodal.attach_byte_stats(media)
    dup = Window.partitionBy("content_hash")
    return stats.select(
        "media_id",
        "n_bytes",
        F.count(F.lit(1)).over(dup).cast("bigint").alias("n_dup_assets"),
    )


def q_media_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through Arrow-batched ``mapInPandas`` (one asset →
    up to 4 frames of 256 bytes), rolled up per asset.  The oracle
    computes the expected frame count/bytes arithmetically from the
    PNG size formula — an end-to-end check on the mapInPandas
    explosion."""
    media = _media_frame(spark, sf_dir)
    frames = multimodal.sample_frames(media, every_n_bytes=256, max_frames=4)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum(F.octet_length("frame")).cast("bigint").alias("frame_bytes"),
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize normalization through Arrow-batched ``mapInPandas``: real
    PNG decode → luma → nearest-neighbor resample; every asset lands at
    the fixed 224×224 shape as a raw width*height luma plane.  The
    oracle recomputes out_bytes (= 224*224) AND the exact integer pixel
    sum of the resampled plane from the generator arithmetic — a
    bit-level end-to-end check on decode + grayscale + resize."""
    media = _media_frame(spark, sf_dir)
    out = multimodal.resize_images(media, width=224, height=224)

    @F.pandas_udf("bigint")
    def _byte_sum(s: pd.Series) -> pd.Series:
        import numpy as np  # noqa: PLC0415 — executor-side import

        return s.map(
            lambda b: None
            if b is None
            else int(np.frombuffer(b, dtype=np.uint8).sum())
        )

    return out.select(
        "media_id",
        "width",
        "height",
        F.octet_length("resized").cast("bigint").alias("out_bytes"),
        _byte_sum("resized").alias("sum_luma"),
    )


def q_media_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-decode audit: per-asset min/max/sum of decoded luma pixels
    (NO byte-histogram fallback — non-null stats prove a real pixel
    decode ran).  The oracle recomputes every value from the generator
    arithmetic via generate_series."""
    media = _media_frame(spark, sf_dir)
    return multimodal.pixel_stats(media, id_col="media_id").select(
        "media_id", "n_pixels", "min_luma", "max_luma", "sum_luma"
    )


def q_media_neardup_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw near-dup pair list (exact-content stars + rep-level LSH
    links) — what bench.py and tools/scale_probe.py time; the
    registered certificate below adds connected components and the
    oracle-recomputed group census on top."""
    media = _media_frame(spark, sf_dir)
    return multimodal.media_neardup_pairs(media, threshold=0.995)


def q_media_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying media near-dup certificate (round 12: the former
    rows-only entry upgraded to a value-hash oracle).

    LSH hyperplane hashing has no portable SQL twin, but the generator
    does: assets with equal content key ``k = doc_id % 384`` are
    byte-identical PNGs, so the ground-truth duplicate GROUPS are pure
    id arithmetic the oracle recomputes.  The certificate runs the real
    path (PNG decode → feature → exact-content stars + rep-level LSH →
    connected components) and emits ONE row:

    - ``n_assets`` / ``n_dup_groups`` / ``n_dup_assets`` /
      ``sum_dup_keys``: the generator-derived census — pure SQL, the
      oracle recomputes every value from ``doc_id % 384``;
    - ``n_split_groups``: byte-identical groups whose members do NOT
      all land in one near-dup component (an unlinked member counts as
      its own singleton component).  The oracle pins the literal 0.
      This is the certificate that caught the round-12 bug it now
      guards: the pre-split ``media_neardup_pairs`` lost exactly these
      links once the LSH bucket cap bound (136/384 groups split at
      sf0.1);
    - ``complete_ok``: pinned TRUE.

    False positives are deliberately NOT pinned: distinct generator
    keys can legitimately produce near-identical luma histograms, and
    cosine ≥ 0.995 between different images is a correct answer, not
    an error.
    """
    media = _media_frame(spark, sf_dir)
    pairs = multimodal.media_neardup_pairs(media, threshold=0.995)
    comp = dedup.connected_components(pairs, src="id_a", dst="id_b")
    assets = media.select(
        "media_id", (F.col("media_id") % 384).alias("k")
    )
    labeled = assets.join(
        comp, assets["media_id"] == comp["id"], "left"
    ).select(
        "media_id",
        "k",
        # a pair-less asset is its own component
        F.coalesce(F.col("component"), F.col("media_id")).alias("c"),
    )
    per_group = labeled.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("c").alias("n_comp"),
    )
    dup = F.col("n") > 1
    return per_group.agg(
        F.sum("n").cast("bigint").alias("n_assets"),
        F.coalesce(F.sum(F.when(dup, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_dup_groups"),
        F.coalesce(F.sum(F.when(dup, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("n_dup_assets"),
        F.coalesce(F.sum(F.when(dup, F.col("k"))), F.lit(0))
        .cast("bigint")
        .alias("sum_dup_keys"),
        F.coalesce(
            F.sum(F.when(dup & (F.col("n_comp") > 1), 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_split_groups"),
        F.coalesce(
            F.sum(F.when(dup & (F.col("n_comp") > 1), 1)), F.lit(0)
        ).eqNullSafe(F.lit(0)).alias("complete_ok"),
    )


# -- rows-only (Spark-specific hashing; no portable SQL oracle) ------------


def q_docs_minhash_pairs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure MinHash-LSH scale path (banded buckets, representative-
    star caps, NO all-pairs) — what bench.py and tools/scale_probe.py
    time, because the registered certificate below deliberately embeds
    the quadratic exact twin and would wreck the sub-quadratic probe."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        threshold=0.4,
        shingle_words=3,
    )


def q_docs_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying MinHash-LSH near-dup certificate (round 11: the
    former rows-only entry upgraded to a value-hash oracle).

    MinHash signatures/bucket hashes are engine-specific, so the pair
    set itself cannot be value-hashed against DuckDB — but the
    RELATIONSHIP to the exact ground truth can: this emits ONE row
    joining the approx pairs against the exact word-trigram Jaccard
    twin (``docs_jaccard_pairs``, same shingle space and threshold):

    - ``n_exact_pairs`` / ``sum_exact_ids``: the exact twin's size and
      id checksum — pure SQL, the oracle recomputes them;
    - ``n_false_positives``: approx pairs absent from the exact set.
      ``verify=True`` re-scores every candidate, so the only way a
      false positive can exist is a shingle xxhash64-mod-2³¹ collision
      inflating a near-threshold pair's hashed Jaccard over the exact
      string-set value (dedup.py documents the ~|shingles|²/2³² odds:
      ≈10⁻⁶ per pair on these fixtures).  The oracle pins the literal
      0 — a collision-induced red would localize here, by design;
    - ``recall_ok``: approx∩exact ≥ 80% of exact (measured 100% at
      sf0.01 and sf0.1; the banding S-curve at j≥0.4 with 32 hashes /
      8 bands plus exact verification loses only pairs never bucketed
      together).  The oracle pins TRUE, so a recall regression
      hash-mismatches instead of passing rows-only.

    Plan shape: ONE full-outer join of the two pair sets with
    presence flags, then ONE aggregate — each twin's subtree appears
    exactly once in the plan (an earlier semi+anti+agg form referenced
    the deliberately-quadratic exact twin three times and re-executed
    it each time).
    """
    docs = _t(spark, sf_dir, "documents")
    # dropDuplicates: structural immunity to a future approx operator
    # emitting duplicate pairs (which would fan out exact-side rows in
    # the full-outer join and corrupt the oracle-recomputed checksums)
    approx = (
        dedup.minhash_lsh_pairs(
            docs,
            id_col="doc_id",
            text_col="text",
            threshold=0.4,
            shingle_words=3,
        )
        .select("id_a", "id_b", F.lit(1).alias("__a"))
        .dropDuplicates(["id_a", "id_b"])
    )
    exact = dedup.token_jaccard_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        threshold=0.4,
        shingle_words=3,
    ).select("id_a", "id_b", F.lit(1).alias("__e"))
    joined = exact.join(approx, ["id_a", "id_b"], "full_outer")
    e = F.col("__e").isNotNull()
    a = F.col("__a").isNotNull()
    # coalesce every aggregate: an empty join (no pairs on either
    # side) must yield the oracle's zeros/TRUE, not NULLs
    n_exact = F.coalesce(F.sum(F.when(e, 1).otherwise(0)), F.lit(0))
    n_hit = F.coalesce(F.sum(F.when(e & a, 1).otherwise(0)), F.lit(0))
    return joined.agg(
        n_exact.cast("bigint").alias("n_exact_pairs"),
        F.coalesce(
            F.sum(F.when(e, F.col("id_a") + F.col("id_b"))), F.lit(0)
        )
        .cast("bigint")
        .alias("sum_exact_ids"),
        F.coalesce(F.sum(F.when(a & ~e, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_false_positives"),
        (n_hit >= n_exact * F.lit(0.8)).alias("recall_ok"),
    )


def q_docs_simhash_pairs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_hamming=6 -> 7 pigeonhole chunks of ~9 bits: each bucket key
    # has ~512 values, so the candidate join actually prunes.  (At 12
    # the mandatory 13 chunks are ~5 bits wide — 32 buckets per chunk —
    # and bucketing degenerates toward all-pairs on any corpus with a
    # shared vocabulary.)  The cap bounds residual bucket skew — this
    # is the production scale path bench.py times.
    return dedup.simhash_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        max_hamming=6,
        max_bucket_size=1024,
    )


def q_docs_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying SimHash pigeonhole certificate (round 12: the
    former rows-only entry upgraded to a value-hash oracle).

    SimHash fingerprints are xxhash64-specific, so the pair set cannot
    be value-hashed against DuckDB — but the pigeonhole guarantee can:
    any pair within Hamming ≤ 6 agrees on one of the 7 fingerprint
    chunks, so the bucketed join is EXHAUSTIVE.  The certificate
    brute-forces Hamming over the IDENTICAL signature frame
    (:func:`dedup.simhash_fingerprints` — the same expression
    ``simhash_pairs`` buckets) and emits the symmetric difference:

    - ``n_missing``: exact pairs the pigeonhole path lost — the oracle
      pins the literal 0;
    - ``n_extra``: emitted pairs absent from the brute-force set
      (a Hamming-filter or dedup corruption) — pinned 0;
    - ``complete_ok``: pinned TRUE;
    - ``n_docs``: oracle-recomputed corpus count, anchoring that the
      certificate ran over the full table.

    The certified path runs UNCAPPED (``max_bucket_size=None``): the
    cap deliberately trades recall inside oversized buckets (372 pairs
    at sf0.1 — measured, documented in simhash_pairs), so pinning 0
    under the cap would certify a claim the operator does not make.
    The capped production config stays the benched scale path
    (``q_docs_simhash_pairs_raw``).  The brute-force twin is quadratic
    — correctness-scale only, like every certificate's exact twin
    (MIGRATION.md).
    """
    docs = _t(spark, sf_dir, "documents")
    fps = dedup.simhash_fingerprints(
        docs, id_col="doc_id", text_col="text"
    ).persist()
    # one-generation pin lifetime (r16): the next invocation releases it
    dedup._fresh_pins("q_docs_simhash_pairs_cert").append(fps)
    exact = (
        fps.alias("l")
        .join(fps.alias("r"), F.col("l.doc") < F.col("r.doc"))
        .where(
            F.bit_count(F.col("l.fp").bitwiseXOR(F.col("r.fp"))) <= 6
        )
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            F.lit(1).alias("__e"),
        )
    )
    approx = (
        dedup.simhash_pairs(
            docs,
            id_col="doc_id",
            text_col="text",
            max_hamming=6,
            max_bucket_size=None,
        )
        .select("id_a", "id_b", F.lit(1).alias("__a"))
        .dropDuplicates(["id_a", "id_b"])
    )
    joined = exact.join(approx, ["id_a", "id_b"], "full_outer")
    e = F.col("__e").isNotNull()
    a = F.col("__a").isNotNull()
    n_missing = F.coalesce(F.sum(F.when(e & ~a, 1)), F.lit(0))
    n_extra = F.coalesce(F.sum(F.when(a & ~e, 1)), F.lit(0))
    cert = joined.agg(
        n_missing.cast("bigint").alias("n_missing"),
        n_extra.cast("bigint").alias("n_extra"),
        ((n_missing + n_extra) == 0).alias("complete_ok"),
    )
    return docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).crossJoin(cert)


def q_docs_rolling_fp_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw per-document fingerprint frame — what bench.py and
    tools/scale_probe.py time (the registered certificate below
    computes the fingerprints three times over by design)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.rolling_fingerprint(F.col("text")).alias("roll_fp")
    )


def q_docs_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying rolling-fingerprint certificate (round 12: the
    former rows-only entry upgraded to a value-hash oracle).

    xxhash64 makes the fingerprint VALUES engine-specific; the
    fingerprint's defining PROPERTIES are checkable:

    - ``n_copy_mismatch``: a verbatim duplicate of every document is
      planted in-query (id-shifted union — a genuinely separate plan
      subtree, so this also proves the expression is deterministic
      across independent evaluations) and must fingerprint identically
      to its original.  The oracle pins the literal 0;
    - ``n_norm_mismatch``: a case-mangled, punctuation-injected variant
      (``upper(text) || '  !!,,'``) normalizes to the same canonical
      form, so it must fingerprint identically too — certifying the
      fingerprint is a pure function of the normalized text.  Pinned 0;
    - ``identity_ok``: pinned TRUE;
    - ``n_docs`` / ``n_distinct_norm``: oracle-recomputed anchors —
      DuckDB independently recomputes the canonical normalization
      (lower, alnum runs, single-space joins) and its distinct count
      must equal Spark's, pinning the normalization semantics the
      fingerprint hashes.

    Injectivity is deliberately NOT claimed: the fingerprint is the
    min window hash (a winnowing selector built for near-dup
    robustness), and documents sharing their minimal window legally
    collide — at sf0.1 the fixture's 4 992 distinct normalized texts
    map to ~238 fingerprints.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    offset = F.lit(1_000_000_000)
    planted = docs.select(
        (F.col("doc_id") + offset).alias("doc_id"), F.col("text")
    )
    fp = lambda c: text.rolling_fingerprint(c)  # noqa: E731
    both = docs.unionByName(planted).select(
        "doc_id", fp(F.col("text")).alias("roll_fp")
    )
    orig = both.where(F.col("doc_id") < offset)
    copy = both.where(F.col("doc_id") >= offset).select(
        (F.col("doc_id") - offset).alias("doc_id"),
        F.col("roll_fp").alias("copy_fp"),
    )
    mangled = docs.select(
        "doc_id",
        fp(F.concat(F.upper(F.col("text")), F.lit("  !!,,"))).alias(
            "norm_fp"
        ),
    )
    joined = orig.join(copy, "doc_id").join(mangled, "doc_id")
    n_copy = F.coalesce(
        F.sum(F.when(F.col("roll_fp") != F.col("copy_fp"), 1)), F.lit(0)
    )
    n_norm = F.coalesce(
        F.sum(F.when(F.col("roll_fp") != F.col("norm_fp"), 1)), F.lit(0)
    )
    cert = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        n_copy.cast("bigint").alias("n_copy_mismatch"),
        n_norm.cast("bigint").alias("n_norm_mismatch"),
        ((n_copy + n_norm) == 0).alias("identity_ok"),
    )
    anchor = docs.agg(
        F.countDistinct(text.normalized(F.col("text")))
        .cast("bigint")
        .alias("n_distinct_norm")
    )
    return cert.crossJoin(anchor)


def q_emb_lsh_topk_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure hyperplane-LSH top-k scale path — what bench.py and
    tools/scale_probe.py time (the registered certificate below embeds
    the brute-force twin).  (planes, tables) = (5, 24) is tuned to the
    FIXTURE corpus (500-2k random 64-dim vectors: 32 buckets/table,
    measured recall 0.86-0.92 vs exact top-5 across sf0.001-0.1; the
    round-10 default (8, 4) measured 0.06 — an ANN that finds nothing).
    At production corpus sizes planes grows ~log(n) to keep buckets
    bounded; recall is then bought with tables, not fewer planes."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.lsh_topk(
        emb,
        queries,
        id_col="vec_id",
        vec_col="embedding",
        dim=64,
        k=5,
        planes=5,
        tables=24,
    )


def q_emb_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying hyperplane-LSH top-k certificate (round 11: the
    former rows-only entry upgraded to a value-hash oracle).

    Hyperplane signatures are engine-specific, so the neighbor lists
    cannot be value-hashed directly — the relationship to the exact
    brute-force twin (``emb_cosine_topk``, already a green value-hash
    oracle, hence deterministic top-5 sets) can: one row with the exact
    twin's size/id checksum (oracle-recomputed) and ``recall_ok`` =
    LSH∩exact ≥ 75% of the exact neighbor set (measured 0.86-0.92
    across sf0.001/0.01/0.1 with planes=5, tables=24 — the tuning this
    certificate exists to pin; the old default config's 0.06 recall
    would have failed loudly here instead of passing rows-only).
    """
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    approx = similarity.lsh_topk(
        emb,
        queries,
        id_col="vec_id",
        vec_col="embedding",
        dim=64,
        k=5,
        planes=5,
        tables=24,
    )
    return _topk_recall_certificate(emb, queries, approx, floor=0.75)


def _topk_recall_certificate(
    emb: DataFrame, queries: DataFrame, approx: DataFrame, *, floor: float
) -> DataFrame:
    """One-row recall certificate of an approximate top-k against the
    brute-force exact twin: exact-side size + id checksum (pure SQL —
    the oracle recomputes them from ``_EMB_EXACT_TOPK_CTE``) and
    ``recall_ok`` = approx∩exact ≥ *floor* of the exact neighbor set
    (the oracle pins TRUE, so a recall regression hash-mismatches).

    Plan shape: ONE left join of exact onto approx with a presence
    flag, then ONE aggregate — the brute-force twin's subtree appears
    exactly once (a semi-join + separate agg would execute it twice).
    Exact-preserving left join: approx extras are irrelevant to every
    emitted value, so no full-outer needed here."""
    from sql_autoloader_spark.functions import similarity as _sim

    exact = _sim.brute_force_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5
    ).select("query_id", "neighbor_id")
    # dropDuplicates makes the join-side stats structurally immune to
    # a future approx operator emitting duplicate key pairs (which
    # would fan out exact-side rows and corrupt the exact checksums
    # the oracle recomputes independently) — a no-op on today's
    # already-distinct top-k outputs
    flagged = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("__a")
    ).dropDuplicates(["query_id", "neighbor_id"])
    joined = exact.join(flagged, ["query_id", "neighbor_id"], "left")
    n_exact = F.count(F.lit(1))  # count(*) is 0 on empty, never NULL
    n_hit = F.coalesce(F.sum(F.when(F.col("__a").isNotNull(), 1)), F.lit(0))
    return joined.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        n_exact.cast("bigint").alias("n_exact_neighbors"),
        F.coalesce(F.sum("neighbor_id"), F.lit(0))
        .cast("bigint")
        .alias("sum_exact_neighbor_ids"),
        (n_hit >= n_exact * F.lit(floor)).alias("recall_ok"),
    )


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying IVF top-k certificate (round 11 — the defaults'
    n_centroids=16/n_probe=4 measured 0.48-0.58 recall on the fixture
    corpus; n_centroids=8/n_probe=6 measures 0.82-0.94 across
    sf0.001/0.01/0.1, floor 0.70 pinned by the oracle)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    approx = similarity.ivf_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5,
        n_centroids=8, n_probe=6,
    )
    return _topk_recall_certificate(emb, queries, approx, floor=0.70)


def q_emb_ivf_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF routing composed with int8 scoring: centroids route on the
    float vectors map-side, the inverted-file shuffle carries 1-byte
    codes (4x fewer bytes), candidates score by quantized cosine.
    Same recall certificate as ``emb_ivf_topk`` (measured 0.80-0.92 —
    quantization noise costs ≤2 points of recall at the same config)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    approx = similarity.ivf_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5,
        n_centroids=8, n_probe=6, quantize=True,
    )
    return _topk_recall_certificate(emb, queries, approx, floor=0.70)


def q_emb_neardup_lsh_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure LSH near-dup scale path (bucketed candidates +
    exact-cosine verify; what the exchange-ceiling plan test audits).
    (planes, tables) = (4, 32) is tuned to the fixture corpus: the old
    default (8, 4) measured 1-2% recall even on the high-similarity
    tail — a near-dup detector returning noise, invisible under
    rows-only checks.  At production corpus sizes planes grows ~log(n);
    recall is bought with tables."""
    return similarity.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        dim=64,
        threshold=0.3,
        planes=4,
        tables=32,
        # bound bucket skew: oversized LSH buckets (degenerate clusters)
        # fall back to representative-star pairing, linear not quadratic
        max_bucket_size=512,
    )


def q_emb_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying LSH near-dup certificate (round 11).

    One row against the exact twin (``emb_neardup_exact``, already a
    green value-hash oracle): the exact pair count + id checksum at the
    query threshold 0.3 (oracle-recomputed), ``n_false_positives``
    (provably 0 — candidates are re-scored with exact cosine; pinned
    as a literal), and ``recall_ok`` over the HIGH-SIMILARITY tail
    (exact sim ≥ 0.45, floor 0.85; measured 1.0 at every SF with
    planes=4/tables=32).  The tail restriction is the hyperplane-LSH
    physics stated honestly: at the 0.3 boundary the angle is ~72.5°
    and the S-curve is flat — no bucketing scheme prunes there (the
    fixture's 0.3-pairs are the random-noise tail, not planted dups);
    the operator's design range is the high-similarity mass, and THAT
    is what the certificate holds it to."""
    # dropDuplicates: see q_docs_minhash_pairs — join-side stats must
    # be immune to duplicate approx pairs
    approx = (
        q_emb_neardup_lsh_raw(spark, sf_dir)
        .select("id_a", "id_b", F.lit(1).alias("__a"))
        .dropDuplicates(["id_a", "id_b"])
    )
    exact = q_emb_neardup_exact(spark, sf_dir).select(
        "id_a", "id_b", "sim", F.lit(1).alias("__e")
    )
    # ONE full-outer join + ONE aggregate: the quadratic exact twin's
    # subtree appears exactly once in the plan (the semi/anti/agg form
    # re-executed it three times)
    joined = exact.join(approx, ["id_a", "id_b"], "full_outer")
    e = F.col("__e").isNotNull()
    a = F.col("__a").isNotNull()
    in_tail = e & (F.col("sim") >= 0.45)
    n_tail = F.coalesce(F.sum(F.when(in_tail, 1).otherwise(0)), F.lit(0))
    n_hit = F.coalesce(
        F.sum(F.when(in_tail & a, 1).otherwise(0)), F.lit(0)
    )
    return joined.agg(
        F.coalesce(F.sum(F.when(e, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_exact_pairs"),
        F.coalesce(
            F.sum(F.when(e, F.col("id_a") + F.col("id_b"))), F.lit(0)
        )
        .cast("bigint")
        .alias("sum_exact_ids"),
        n_tail.cast("bigint").alias("n_tail_pairs"),
        F.coalesce(F.sum(F.when(a & ~e, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_false_positives"),
        (n_hit >= n_tail * F.lit(0.85)).alias("recall_ok"),
    )


def q_docs_semantic_clusters_lsh_raw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The semantic-dedup SCALE path end-to-end: hyperplane-LSH
    near-dup pairs (bucketed candidates + exact-cosine verify, never
    all-pairs) → connected components → keep-best-per-cluster.  The
    100 TB form of ``docs_semantic_clusters``'s "the pair source swaps
    to the LSH-bucketed variant" claim — same CC step, same keep
    policy, sub-quadratic candidate generation.  Returns the surviving
    corpus ``(doc_id, component, lang, n_chars)`` (singletons keep
    themselves, component = own id)."""
    pairs = similarity.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        dim=64,
        threshold=0.45,
        planes=4,
        tables=32,
        max_bucket_size=512,
    ).select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    labeled = docs.join(comp, docs["doc_id"] == comp["id"], "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
        "lang",
        "n_chars",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "component", "lang", "n_chars")
    )


def q_docs_semantic_clusters_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Self-verifying certificate for the semantic-dedup scale path
    (round 13 — the COVERAGE.md "swaps to LSH at scale" claim, now a
    registered value-hash entry instead of documentation).

    Runs the full LSH pipeline (pairs → components → keep policy) and
    certifies it against the exact quadratic twin on the
    high-similarity tail (exact cosine ≥ 0.45 — the hyperplane-LSH
    design range, as in ``q_emb_neardup_lsh``):

    - ``n_docs`` / ``n_exact_tail_pairs`` / ``sum_exact_ids``:
      oracle-recomputed anchors (corpus count; quadratic pair count +
      id checksum at the tail threshold);
    - ``pair_recall_ok``: the LSH pair source recovers ≥ 0.85 of the
      exact tail pairs (pinned TRUE; measured 1.0 at gate SFs with
      planes=4/tables=32);
    - ``cluster_recall_ok``: ≥ 0.85 of exact tail pairs end up in the
      SAME component under the LSH clustering (pinned TRUE) — the
      cluster-level claim: transitivity may recover pairs the bucket
      join missed, never fewer than pair recall;
    - ``keep_policy_ok``: NO exact tail pair that landed same-component
      has BOTH members surviving the keep policy (pinned TRUE) — the
      end-to-end dedup contract the pipeline exists for.
    """
    emb = _t(spark, sf_dir, "embeddings")
    approx = (
        similarity.embedding_neardup_pairs(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            dim=64,
            threshold=0.45,
            planes=4,
            tables=32,
            max_bucket_size=512,
        )
        .select("id_a", "id_b", F.lit(1).alias("__a"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # pin the (small) approx pair list: the recall flag, the CC edge
    # list, and the keep policy all derive from it.  One-generation
    # lifetime (r16): the next invocation releases it.
    approx = approx.persist()
    dedup._fresh_pins("q_docs_semantic_clusters_lsh_cert").append(approx)
    comp = dedup.connected_components(approx.select("id_a", "id_b"))
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labeled = docs.join(comp, docs["doc_id"] == comp["id"], "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
        "n_chars",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    kept = (
        labeled.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.lit(1).alias("__k"))
    )
    exact_tail = q_emb_neardup_exact(spark, sf_dir).where(
        F.col("sim") >= 0.45
    )
    # one left join per certified relation onto the exact tail: the
    # quadratic twin's subtree appears exactly once in the plan
    flagged = (
        exact_tail.join(approx, ["id_a", "id_b"], "left")
        .join(
            comp.select(
                F.col("id").alias("id_a"), F.col("component").alias("__ca")
            ),
            "id_a",
            "left",
        )
        .join(
            comp.select(
                F.col("id").alias("id_b"), F.col("component").alias("__cb")
            ),
            "id_b",
            "left",
        )
        .join(
            kept.select(F.col("doc_id").alias("id_a"), F.col("__k").alias("__ka")),
            "id_a",
            "left",
        )
        .join(
            kept.select(F.col("doc_id").alias("id_b"), F.col("__k").alias("__kb")),
            "id_b",
            "left",
        )
    )
    same = F.col("__ca").isNotNull() & (F.col("__ca") == F.col("__cb"))
    n_exact = F.count(F.lit(1))
    n_pair_hit = F.coalesce(
        F.sum(F.when(F.col("__a").isNotNull(), 1)), F.lit(0)
    )
    n_same = F.coalesce(F.sum(F.when(same, 1)), F.lit(0))
    n_both_kept = F.coalesce(
        F.sum(
            F.when(
                same & F.col("__ka").isNotNull() & F.col("__kb").isNotNull(),
                1,
            )
        ),
        F.lit(0),
    )
    cert = flagged.agg(
        n_exact.cast("bigint").alias("n_exact_tail_pairs"),
        F.coalesce(F.sum(F.col("id_a") + F.col("id_b")), F.lit(0))
        .cast("bigint")
        .alias("sum_exact_ids"),
        (n_pair_hit >= n_exact * F.lit(0.85)).alias("pair_recall_ok"),
        (n_same >= n_exact * F.lit(0.85)).alias("cluster_recall_ok"),
        (n_both_kept == 0).alias("keep_policy_ok"),
    )
    return (
        docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .crossJoin(cert)
    )


# --------------------------------------------------------------------------
# Analytics round 3: gap-filled time rollup, pivot, window gaps, range
# join, deterministic hash split, bigram mining, stable correlation,
# quantized vector centroids
# --------------------------------------------------------------------------


def q_events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup with gap fill: a dense hourly series
    (min→max hour, generated, no data skipped) left-joined to the hourly
    aggregate, empty hours as zero.  The hourly aggregate is hour-count
    sized at any data scale, so it is the broadcast (build) side — the
    calendar is the preserved side of the left join, which
    BroadcastHashJoin cannot build.  The only shuffle is the groupBy."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
    )
    return (
        hours.join(F.broadcast(hourly), "hour", "left")
        .select(
            "hour",
            F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n_events"),
            F.coalesce(F.col("sv"), F.lit(0).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per day, one count column per event type (explicit
    pivot values keep the plan a single groupBy — no extra distinct
    pass to discover the columns)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)).cast("bigint"))
        .na.fill(0, _EVENT_TYPES)
    )


def q_events_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap stats via a lag window (ts ties broken by
    event_id; gap aggregates are invariant to the tie order)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = (us - F.lag(us).over(w)).alias("gap_us")
    return (
        ev.where(F.col("user_id").isNotNull())
        .select("user_id", gap)
        .where(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            (F.sum("gap_us").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0)).alias(
                "avg_gap_s"
            ),
            (F.max("gap_us").cast("double") / F.lit(1000000.0)).alias("max_gap_s"),
        )
    )


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-path transition mining: the Markov transition matrix over
    per-user event sequences (from_type -> to_type counts, distinct
    users, and the conditional probability p(to|from)).

    Shape at scale: ONE shuffle on ``user_id`` for the sequence window
    (ts ties broken by ``event_id`` so the order is total), then the
    transition matrix itself is |event_types|^2 rows — the second
    aggregate and the probability window are effectively free.  This is
    the standard funnel-discovery / session-model primitive run over
    clickstream corpora.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
    )
    wf = Window.partitionBy("from_type")
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        .withColumn(
            "p",
            F.col("n").cast("double") / F.sum("n").over(wf).cast("double"),
        )
    )


def q_docs_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: the first md5 byte of the text
    buckets each document (hex compares lexically = numerically), so the
    assignment is stable across engines, runs, and partitionings — the
    way a 100 TB corpus is split without a shuffle or a random seed."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(_split_col().alias("split"), "n_chars", "source")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
        )
    )


_PRICE_BANDS = [
    ("band_0_100k", 0.0, 100_000.0),
    ("band_100k_200k", 100_000.0, 200_000.0),
    ("band_200k_300k", 200_000.0, 300_000.0),
    ("band_300k_400k", 300_000.0, 400_000.0),
    ("band_400k_up", 400_000.0, 1e18),
]


def q_orders_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: orders against a banded price dimension on
    ``lo <= price < hi``.  The band table broadcasts, so the non-equi
    join is a BroadcastNestedLoop over 5 rows — per-row band lookup,
    no shuffle, no cartesian blowup."""
    orders = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    joined = orders.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
    )


def q_docs_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram frequency mining over normalized text (corpus-statistics
    building block for contamination checks / n-gram LMs).  The
    frequency floor scales with corpus size, so the result is a
    fixed-density head at any SF."""
    docs = _t(spark, sf_dir, "documents")
    cnt = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    bigrams = F.expr(_BIGRAMS_EXPR)
    return (
        docs.where(F.trim("text") != "")
        .select(F.split(text.normalized(F.col("text")), " ").alias("ws"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(F.broadcast(cnt))
        .where(F.col("n") * 50 >= F.col("n_docs"))
        .select("bigram", "n")
    )


def q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition score (the Gopher/MassiveText duplicate
    n-gram signal): fraction of word trigrams that are repeats of an
    earlier trigram in the same document.  Pure map stage — trigram
    construction, distinct count, and ratio are all array expressions;
    no Python.  The input is spread first: a byte-sized parquet split
    would otherwise serialize this CPU-bound trigram stage onto one
    core (the raw-row repartition is cheap; the trigram arrays are
    not)."""
    docs = dedup.spread_for_compute(_t(spark, sf_dir, "documents"))
    trigrams = F.expr(
        "transform(slice(ws, 1, greatest(size(ws) - 2, 0)),"
        " (w, i) -> concat(w, ' ', element_at(ws, i + 2), ' ',"
        " element_at(ws, i + 3)))"
    )
    return (
        docs.where(F.trim("text") != "")
        .select(
            "doc_id", F.split(text.normalized(F.col("text")), " ").alias("ws")
        )
        # size(ws) >= 3 <=> size(tg) > 0, but stated on ws so the
        # predicate Catalyst pushes below the spread exchange is the
        # cheap split, not the whole trigram construction
        .where(F.size("ws") >= 3)
        .select("doc_id", trigrams.alias("tg"))
        .select(
            "doc_id",
            F.size("tg").cast("bigint").alias("n_trigrams"),
            F.round(
                (F.size("tg") - F.size(F.array_distinct("tg")))
                / F.size("tg").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


def q_docs_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality gate: word count, mean word
    length (computed from the normalized single-space form, so it is
    ``(chars - spaces) / words`` — no per-word pass), and the fraction
    of words containing a letter; a document passes when all three sit
    inside their band.  Zero-shuffle map plan."""
    docs = _t(spark, sf_dir, "documents")
    norm = text.normalized(F.col("text"))
    base = docs.where(F.trim("text") != "").select(
        "doc_id", norm.alias("s"), F.split(norm, " ").alias("ws")
    )
    n_words = F.size("ws").cast("bigint")
    mean_wlen = (F.length("s") - F.size("ws") + 1) / F.size("ws").cast(
        "double"
    )
    alpha_frac = F.size(
        F.expr("filter(ws, w -> w rlike '[a-z]')")
    ) / F.size("ws").cast("double")
    return base.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        (
            n_words.between(10, 5000)
            & mean_wlen.between(2.0, 12.0)
            & (alpha_frac > 0.6)
        ).alias("keep"),
    )


def q_lineitem_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles of quantity per return flag —
    ``percentile`` (linear interpolation, the same estimator DuckDB's
    ``quantile_cont`` uses).  One partial+final aggregate; at 100 TB
    swap for ``approx_percentile`` (t-digest) and keep the plan."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.expr(
        "percentile(CAST(l_quantity AS DOUBLE), array(0.25, 0.5, 0.75))"
    )
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(q.alias("qs"))
        .select(
            "returnflag",
            F.round(F.element_at("qs", 1), 6).alias("q25"),
            F.round(F.element_at("qs", 2), 6).alias("q50"),
            F.round(F.element_at("qs", 3), 6).alias("q75"),
        )
    )


def q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: documents stratify into token
    length bands and each band keeps a different fraction, selected by
    an md5 cut (bytes 3-4, independent of the split hash's bytes 1-2) —
    reproducible on any engine, no RNG state, map-only plan.  The
    standard recipe for rebalancing a training mix."""
    docs = _t(spark, sf_dir, "documents")
    n = text.token_count(F.col("text"))
    band = (
        F.when(n < 20, "short").when(n < 100, "medium").otherwise("long")
    )
    bucket = F.substring(F.md5("text"), 3, 2)
    threshold = (
        F.when(F.col("band") == "short", "80")  # ~50%
        .when(F.col("band") == "medium", "40")  # ~25%
        .otherwise("1a")  # ~10%
    )
    return (
        docs.select("doc_id", band.alias("band"), bucket.alias("bucket"))
        .where(F.col("bucket") < threshold)
        .select("doc_id", "band")
    )


def q_docs_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: downsample each source to ~40% of
    its token mass, deterministically.

    The domain-mixing primitive of a training-data pipeline — each
    source (domain) is re-weighted to a token budget, not a document
    count.  Docs are ordered inside their source by an md5 draw (bytes
    5-6: independent of the split hash's 1-2 and the stratified
    sampler's 3-4) and kept while the running token total stays within
    budget; the budget is a fraction of the source's own token mass, so
    the query is scale-free and RNG-free on any engine.  Plan: ONE
    shuffle on ``source`` feeds both windows (running sum + source
    total) — at 100 TB that is a single pass ordered within domains.
    """
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        text.token_count(F.col("text")).alias("n_tokens"),
        F.substring(F.md5("text"), 5, 2).alias("draw"),
    )
    order = Window.partitionBy("source").orderBy("draw", "doc_id")
    cum = F.sum("n_tokens").over(
        order.rowsBetween(Window.unboundedPreceding, 0)
    )
    total = F.sum("n_tokens").over(
        Window.partitionBy("source").orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return (
        base.withColumn("cum_tokens", cum)
        .withColumn("budget", (total * F.lit(0.4)).cast("double"))
        .where(F.col("cum_tokens").cast("double") <= F.col("budget"))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def q_docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-MIXTURE sampling (``scale.mixture_sample``): resample the
    corpus so the retained token mass hits exact relative weights
    across sources — the domain-mixing step of a training run (the
    web:books:code ratio), where ``docs_token_budget_sample`` only
    downsamples each source against itself.  Weights derive
    deterministically from the source name (suffix mod 4, in 1..4) so
    any engine at any SF recomputes them; the feasible total is
    water-filled (``T = min_s mass_s/w_s`` — the largest total every
    source can serve), each source keeps docs in md5-draw order (bytes
    7-8: independent of the split/stratify/budget draws) while its
    running token sum stays within ``w_s*T``.  One exchange on
    ``source`` feeds the window; budgets are a 20-row broadcast."""
    from sql_autoloader_spark.functions import scale

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        text.token_count(F.col("text")).alias("n_tokens"),
        F.substring(F.md5("text"), 7, 2).alias("draw"),
        (
            F.regexp_extract("source", "([0-9]+)", 1).cast("int") % 4 + 1
        ).alias("w"),
    )
    kept = scale.mixture_sample(
        base,
        group_col="source",
        weight_col="w",
        token_col="n_tokens",
        order_cols=["draw", "doc_id"],
    )
    return kept.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
    )


def q_docs_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying BPE-training certificate (round 12: the former
    rows-only entry upgraded to a value-hash oracle).

    Tokenizer training: learn the first 16 BPE merges from the corpus
    (word counting is the distributed pass — one shuffle; the merge
    loop runs driver-side on the capped vocabulary — the IVF split:
    fit on aggregates, never on rows).  The full merge SEQUENCE is
    iterative and not SQL-expressible, but its FIRST step is: merge
    rank 1 is the most-frequent adjacent symbol pair over the
    char-split vocabulary (ties to the lexicographically smallest
    pair), which DuckDB recomputes exactly — so the certificate emits
    ``rank1_left`` / ``rank1_right`` / ``rank1_count`` as
    oracle-recomputed VALUES (a cross-engine anchor on the learning
    objective itself), plus structural invariants on the rest of the
    table: ``n_merges`` (oracle pins 16), ``ranks_ok`` (ranks are
    exactly 1..16 — pinned TRUE) and ``n_malformed``
    (``merged != left || right`` — pinned 0).  Deeper ranks stay
    covered by the pytest differential (hand-verified merge order,
    rank-replay equivalence)."""
    docs = _t(spark, sf_dir, "documents")
    merges = text.learn_bpe_merges(docs, n_merges=16)
    return merges.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_merges"),
        F.min_by("left", "rank").alias("rank1_left"),
        F.min_by("right", "rank").alias("rank1_right"),
        F.min_by("pair_count", "rank")
        .cast("bigint")
        .alias("rank1_count"),
        (
            (F.count(F.lit(1)) == 16)
            & (F.count_distinct(F.col("rank")) == 16)
            & (F.min("rank") == 1)
            & (F.max("rank") == 16)
        ).alias("ranks_ok"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("merged") != F.concat("left", "right"), 1
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_malformed"),
    )


def q_docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying BPE-encode certificate (round 12: the former
    rows-only entry upgraded to a value-hash oracle).

    Tokenizer APPLICATION at corpus scale: learn 16 merges, then
    encode every document with them — per-distinct-word Arrow encode
    (Zipf: vocabulary ≪ token count), corpus-sized reassembly
    JVM-side.  The token sequences are merge-table-specific, but BPE's
    defining invariant is LOSSLESSNESS: concatenating a document's
    subwords (end-of-word markers dropped) must reproduce its
    lowercased, whitespace-stripped text exactly.  The certificate
    emits ``sum_concat_len`` — the corpus-total concatenated subword
    length, which DuckDB independently recomputes from raw text — and
    pins ``n_lossless_violations`` (documents whose reassembled length
    differs) to the literal 0, with ``n_docs`` anchoring coverage.
    The encoder's merge-order semantics stay differential-tested in
    tests/test_functions.py (rank-replay equivalence)."""
    docs = _t(spark, sf_dir, "documents")
    merges = text.learn_bpe_merges(docs, n_merges=16)
    encoded = text.apply_bpe(docs, merges)
    concat_len = F.aggregate(
        "tokens",
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.length(F.replace(t, F.lit("</w>"), F.lit(""))),
    )
    expected = F.length(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", "")
    ).cast("bigint")
    # filter EXACTLY like the oracle's WHERE trim(lower(text)) <> '':
    # apply_bpe deliberately preserves empty/whitespace-only documents,
    # so without this the Spark side would count documents the oracle
    # excludes and the certificate would red on a fixture that gains one
    per_doc = encoded.join(
        docs.select("doc_id", "text").where(
            F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
        ),
        "doc_id",
    ).select(concat_len.alias("clen"), expected.alias("elen"))
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("clen").cast("bigint").alias("sum_concat_len"),
        F.coalesce(
            F.sum(F.when(F.col("clen") != F.col("elen"), 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_lossless_violations"),
    )


def q_docs_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination check: which distinct test-split
    bigrams also occur in the train split.  Composes the deterministic
    md5 split with bigram mining in ONE shuffle — per-bigram split
    membership flags from a single groupBy, no self-join of the corpus
    against itself."""
    docs = _t(spark, sf_dir, "documents")
    bigrams = F.expr(_BIGRAMS_EXPR)
    flags = (
        docs.where(F.trim("text") != "")
        .select(
            _split_col().alias("split"),
            F.split(text.normalized(F.col("text")), " ").alias("ws"),
        )
        .select("split", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
                "in_train"
            ),
            F.max(F.when(F.col("split") == "test", 1).otherwise(0)).alias(
                "in_test"
            ),
        )
    )
    return flags.agg(
        F.sum("in_test").cast("bigint").alias("n_test_bigrams"),
        F.sum(F.col("in_test") * F.col("in_train")).cast("bigint").alias(
            "n_contaminated"
        ),
        (
            F.sum(F.col("in_test") * F.col("in_train")).cast("double")
            / F.sum("in_test")
        ).alias("contamination_rate"),
    )


def q_docs_lm_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-corpus quality scoring: per-document bigram OOV rate
    against a language model trained on the train split.

    The LM is the distinct-bigram table of the train split (the
    degenerate-but-exact form of an n-gram LM: membership instead of
    probability, so every count is an integer and the score is
    engine-deterministic — a log-prob average would hang on float
    summation order).  Every held-out doc joins its bigrams against the
    LM — shuffle keyed on the bigram, the scale-honest shape: at 100 TB
    the LM table shards across the cluster and each doc's grams meet it
    where they hash.  High OOV = out-of-domain or garbage, the standard
    cheap filter before an expensive model-based scorer.
    """
    docs = _t(spark, sf_dir, "documents")
    grams = (
        docs.where(F.trim("text") != "")
        .select(
            "doc_id",
            _split_col().alias("split"),
            F.split(text.normalized(F.col("text")), " ").alias("ws"),
        )
        .select(
            "doc_id", "split", F.explode(F.expr(_BIGRAMS_EXPR)).alias("bigram")
        )
    )
    lm = (
        grams.where(F.col("split") == "train")
        .select("bigram")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    return (
        grams.where(F.col("split") != "train")
        .join(lm, on="bigram", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.coalesce(F.sum("seen"), F.lit(0)).cast("bigint").alias("n_seen"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_seen",
            F.round(
                F.lit(1.0)
                - F.col("n_seen").cast("double") / F.col("n_bigrams"),
                6,
            ).alias("oov_rate"),
        )
    )


def q_lineitem_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs. extended price per return
    flag, from exact decimal moment sums (bit-deterministic across
    engines and partitionings — the built-in ``corr`` streams doubles
    and is neither)."""
    li = _t(spark, sf_dir, "lineitem")
    x = _dec("l_quantity")
    y = _dec("l_extendedprice")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(28,4)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(28,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(28,4)")).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("n").cast("bigint").alias("n_rows"),
        # the moment sums are exact decimals; the final double expression
        # can still differ from another engine by one ulp, so round to a
        # precision where the algebra is engine-independent
        F.round(corr, 12).alias("corr_qty_price"),
    )


def q_events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per-user rolling 7-day value sum at
    every event (ties in ts are inside one frame, so the result is
    tie-order invariant — unlike a ROWS frame)."""
    ev = _t(spark, sf_dir, "events")
    return ev.selectExpr(
        "event_id",
        "user_id",
        "ts",
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER ("
        "  PARTITION BY user_id ORDER BY ts"
        "  RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW"
        ") AS DOUBLE) AS rolling_7d_value",
    )


def q_orders_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers bucketed by first-order month, order
    activity per (cohort, month).  First-order date comes from a window
    over the customer key — one shuffle, no self-join, no broadcast of
    a customer-sized aggregate (which would not fit at 100 TB)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("first_dt", F.min("o_orderdate").over(w))
        .groupBy(
            F.date_trunc("month", "first_dt").alias("cohort_month"),
            F.date_trunc("month", "o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        )
    )


def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the event value distribution: bucket =
    floor(value / 50) — a single map-side expression + tiny aggregate
    (the profiling primitive for choosing quantile/clip thresholds)."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value").cast("double") / F.lit(50.0)).cast("bigint")
    return (
        ev.where(F.col("value").isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min(F.col("value").cast("double")).alias("lo"),
            F.max(F.col("value").cast("double")).alias("hi"),
        )
    )


def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column via fixed-point
    quantization: floor(x·10⁶) as int64 sums exactly in any order and
    engine (a float→decimal cast does not — engines round the cast
    differently at the ulp).  This is the k-means/IVF centroid update
    step, shuffled once on (label, pos)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x").cast("double") * F.lit(1000000.0)).cast("bigint")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .select("label", "pos", q.alias("q"))
        .groupBy("label", "pos")
        .agg(F.sum("q").alias("sq"), F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "label",
            "pos",
            (F.col("sq").cast("double") / F.lit(1000000.0) / F.col("n").cast("double")).alias(
                "centroid"
            ),
        )
    )


# --------------------------------------------------------------------------
# Contract surface
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: declarative star-schema auto-load + validation at sf0.001."""
    return q_load_star_roundtrip(spark, "/root/testdata/sf0.001")


def scale_path_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Pure approximate scale paths for the self-verifying recall
    certificates (round 11; one entry per certificate that embeds a
    quadratic exact twin).  The REGISTERED entries under these keys
    deliberately join against their exact twins so the oracle can
    value-hash the recall relationship; bench.py, tools/scale_probe.py,
    and the exchange-ceiling plan test overlay THESE callables under
    the same keys so throughput/plan guards keep measuring the
    sub-quadratic LSH path itself (comparable across rounds), not the
    correctness-scale twin."""
    return {
        "docs_minhash_pairs": q_docs_minhash_pairs_raw,
        "emb_lsh_topk": q_emb_lsh_topk_raw,
        "emb_neardup_lsh": q_emb_neardup_lsh_raw,
        # round 12 certificate upgrades
        "docs_simhash_pairs": q_docs_simhash_pairs_raw,
        "docs_rolling_fp": q_docs_rolling_fp_raw,
        "media_neardup": q_media_neardup_raw,
        "docs_stream_fuzzy_dedup": q_docs_stream_fuzzy_dedup_raw,
        # round 13: the semantic-dedup scale path
        "docs_semantic_clusters_lsh": q_docs_semantic_clusters_lsh_raw,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # loader ops (SURVEY §2A/E)
        "preprocess_rename_dedup": q_preprocess_rename_dedup,
        "distinct_rows": q_distinct_rows,
        "null_profile": q_null_profile,
        "nullsafe_merge": q_nullsafe_merge,
        "compare_except": q_compare_except,
        "load_star_roundtrip": q_load_star_roundtrip,
        "load_star3_roundtrip": q_load_star3_roundtrip,
        # analytics
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_region_revenue": q5_region_revenue,
        "top_customers_per_nation": q_top_customers_per_nation,
        "q14_promo_revenue": q14_promo_revenue,
        "orders_rollup": q_orders_rollup,
        "orders_monthly": q_orders_monthly,
        # LLM-pipeline ops (SURVEY §2G)
        "docs_fingerprint_dedup": q_docs_fingerprint_dedup,
        "docs_exact_dedup": q_docs_exact_dedup,
        "emb_neardup_exact": q_emb_neardup_exact,
        "docs_token_stats": q_docs_token_stats,
        "docs_bpe_token_stats": q_docs_bpe_token_stats,
        "docs_lang_profile": q_docs_lang_profile,
        "docs_quality": q_docs_quality,
        "docs_lang_id": q_docs_lang_id,
        "docs_dupspan_coverage": q_docs_dupspan_coverage,
        "docs_pack_sequences": q_docs_pack_sequences,
        "docs_jsonl_roundtrip": q_docs_jsonl_roundtrip,
        "docs_csv_roundtrip": q_docs_csv_roundtrip,
        "docs_orc_roundtrip": q_docs_orc_roundtrip,
        "docs_training_pipeline": q_docs_training_pipeline,
        "lineitem_constraints": q_lineitem_constraints,
        "lineitem_profile": q_lineitem_profile,
        "docs_split_span_leakage": q_docs_split_span_leakage,
        "docs_jaccard_pairs": q_docs_jaccard_pairs,
        "docs_dup_clusters": q_docs_dup_clusters,
        "docs_dedup_keep_best": q_docs_dedup_keep_best,
        "docs_semantic_clusters": q_docs_semantic_clusters,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_quantized_topk": q_emb_quantized_topk,
        "docs_pii_scrub": q_docs_pii_scrub,
        "events_hourly": q_events_hourly,
        "events_dedup_first": q_events_dedup_first,
        "events_asof_attribution": q_events_asof_attribution,
        "events_props_extract": q_events_props_extract,
        "big_spenders_having": q_big_spenders_having,
        "events_user_stats": q_events_user_stats,
        "q6_revenue_forecast": q6_revenue_forecast,
        "q4_late_shipping": q4_late_shipping,
        "q7_volume_shipping": q7_volume_shipping,
        "q10_returned_items": q10_returned_items,
        "q11_important_stock": q11_important_stock,
        "q12_late_lines": q12_late_lines,
        "q13_custdist": q13_custdist,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_cnt": q16_supplier_cnt,
        "q17_small_qty_revenue": q17_small_qty_revenue,
        "q18_large_orders": q18_large_orders,
        "q19_or_predicates": q19_or_predicates,
        "q22_idle_big_spenders": q22_idle_big_spenders,
        "orders_running_total": q_orders_running_total,
        "events_sessionize": q_events_sessionize,
        "events_sessionize_segmented": q_events_sessionize_segmented,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "docs_tfidf_search": q_docs_tfidf_search,
        "q20_heavy_red_suppliers": q20_heavy_red_suppliers,
        "q21_sole_returned_supplier": q21_sole_returned_supplier,
        "docs_clean_corpus": q_docs_clean_corpus,
        "repeat_customers": q_repeat_customers,
        "events_funnel": q_events_funnel,
        "orders_cube": q_orders_cube,
        "orders_percentiles": q_orders_percentiles,
        "events_gapfill_hourly": q_events_gapfill_hourly,
        "events_pivot_daily": q_events_pivot_daily,
        "events_user_gaps": q_events_user_gaps,
        "events_transitions": q_events_transitions,
        "docs_hash_split": q_docs_hash_split,
        "docs_token_budget_sample": q_docs_token_budget_sample,
        "docs_mixture_weights": q_docs_mixture_weights,
        "docs_mixture_target": q_docs_mixture_target,
        "orders_price_bands": q_orders_price_bands,
        "docs_top_bigrams": q_docs_top_bigrams,
        "docs_repetition": q_docs_repetition,
        "docs_gopher_filter": q_docs_gopher_filter,
        "lineitem_quantiles": q_lineitem_quantiles,
        "docs_stratified_sample": q_docs_stratified_sample,
        "docs_split_contamination": q_docs_split_contamination,
        "docs_lm_oov": q_docs_lm_oov,
        "lineitem_corr": q_lineitem_corr,
        "emb_label_centroids": q_emb_label_centroids,
        "events_rolling_7d": q_events_rolling_7d,
        "orders_cohorts": q_orders_cohorts,
        "events_value_histogram": q_events_value_histogram,
        # Structured Streaming, verified against the batch SQL oracle
        "events_stream_hourly": q_events_stream_hourly,
        "events_stream_autoload": q_events_stream_autoload,
        "events_stream_postgres_autoload": q_events_stream_postgres_autoload,
        "events_stream_sessions": q_events_stream_sessions,
        "events_stream_dedup": q_events_stream_dedup,
        "orders_grouping_sets": q_orders_grouping_sets,
        "load_events_star": q_load_events_star,
        "load_star_sqlite": q_load_star_sqlite,
        "load_star_postgres": q_load_star_postgres,
        "load_star_postgres_typed": q_load_star_postgres_typed,
        "load_events_postgres_copy": q_load_events_postgres_copy,
        "load_events_postgres_readback": q_load_events_postgres_readback,
        "load_incremental": q_load_incremental,
        "load_star_jdbc": q_load_star_jdbc,
        "events_stream_attribution": q_events_stream_attribution,
        "events_stream_cdc": q_events_stream_cdc,
        "events_stream_rollup": q_events_stream_rollup,
        "docs_stream_clean": q_docs_stream_clean,
        "docs_stream_fuzzy_dedup": q_docs_stream_fuzzy_dedup,
        "events_salted_enrich": q_events_salted_enrich,
        # multimodal (SURVEY §2G)
        "media_byte_stats": q_media_byte_stats,
        "media_frame_stats": q_media_frame_stats,
        "media_resize": q_media_resize,
        "media_pixel_stats": q_media_pixel_stats,
        # rows-only (Spark-specific hashing / estimation)
        "events_approx_users": q_events_approx_users,
        "events_hll_daily_union": q_events_hll_daily_union,
        "docs_minhash_pairs": q_docs_minhash_pairs,
        "docs_simhash_pairs": q_docs_simhash_pairs,
        "docs_rolling_fp": q_docs_rolling_fp,
        "docs_bpe_learn": q_docs_bpe_learn,
        "docs_bpe_encode": q_docs_bpe_encode,
        "emb_lsh_topk": q_emb_lsh_topk,
        "emb_ivf_topk": q_emb_ivf_topk,
        "emb_ivf_quantized_topk": q_emb_ivf_quantized_topk,
        "emb_neardup_lsh": q_emb_neardup_lsh,
        "docs_semantic_clusters_lsh": q_docs_semantic_clusters_lsh,
        "load_snapshot_history": q_load_snapshot_history,
        "load_snapshot_diff": q_load_snapshot_diff,
        "load_incremental_rollup": q_load_incremental_rollup,
        "load_incremental_distinct_rollup": q_load_incremental_distinct_rollup,
        "load_incremental_histogram": q_load_incremental_histogram,
        "load_incremental_quantile": q_load_incremental_quantile,
        "load_incremental_topk": q_load_incremental_topk,
        "load_vacuum_maintenance": q_load_vacuum_maintenance,
        "media_neardup": q_media_neardup,
    }


_DEC = "DECIMAL(12,2)"

# Synthetic-media generator parameters as SQL (the DuckDB twin of
# multimodal.synthesize_png): content key k = doc_id % 384, channels c,
# width w, height h, pixel-value modulus m.
_MEDIA_P_SQL = """
  SELECT doc_id, doc_id % 384 AS k,
         1 + (doc_id % 384) % 4 AS c,
         16 + (doc_id % 384) % 9 AS w,
         16 + ((doc_id % 384) // 3) % 7 AS h,
         32 + (doc_id % 384) % 224 AS m
  FROM documents
"""

# Luma of pixel index i (0..w*h-1) for the generated image: sample j
# of the interleaved plane is (k*7 + j*13) % m; gray/gray+alpha use the
# first channel, RGB(A) uses PIL's truncating fixed-point conversion.
_MEDIA_LUMA_SQL = """
  CASE WHEN c <= 2 THEN (k*7 + (i*c)*13) % m
       ELSE (((k*7 + (i*c)*13) % m) * 19595
             + ((k*7 + (i*c+1)*13) % m) * 38470
             + ((k*7 + (i*c+2)*13) % m) * 7471) // 65536
  END
"""

# Exact Jaccard over distinct word-TRIGRAM shingle sets — the same
# measure docs_minhash_pairs approximates (shingle_words=3, threshold
# 0.4), so the exact and LSH paths are true twins.  Single-word sets on
# a shared-vocabulary corpus saturate (~every doc pair shares tokens);
# trigram sets separate the planted near-duplicates from the noise.
_JACCARD_PAIRS_SQL = """
    WITH words AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
        FROM documents WHERE trim(text) <> ''
    ),
    toks AS (
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                              FOR i IN generate_series(1, len(w) - 2)]) AS ts
        FROM words WHERE len(w) >= 3
    ),
    exploded AS (
        SELECT doc_id, unnest(ts) AS s FROM toks
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM exploded a JOIN exploded b
          ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) /
                 (len(ta.ts) + len(tb.ts) - inter), 6) AS jaccard
    FROM inter
    JOIN toks ta ON ta.doc_id = id_a
    JOIN toks tb ON tb.doc_id = id_b
    WHERE round(CAST(inter AS DOUBLE) /
                (len(ta.ts) + len(tb.ts) - inter), 6) >= 0.4
"""


#: exact all-pairs cosine >= 0.3 — shared by the emb_neardup_exact
#: oracle and the emb_neardup_lsh recall certificate
_EMB_NEARDUP_EXACT_SQL = """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(
                       list_sum(list_transform(
                           list_zip(a.embedding, b.embedding),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                       ))
                       / (sqrt(list_sum(list_transform(a.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                       6) AS sim
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND round(
                       list_sum(list_transform(
                           list_zip(a.embedding, b.embedding),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                       ))
                       / (sqrt(list_sum(list_transform(a.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                       6) >= 0.3
        """


#: exact cosine top-5 for queries vec_id < 10 — shared by the
#: emb_cosine_topk oracle and the emb_lsh_topk recall certificate
_EMB_EXACT_TOPK_CTE = """
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(
                   list_zip(q.embedding, c.embedding),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
               ))
               / (sqrt(list_sum(list_transform(q.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS sim_raw
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY sim_raw DESC, neighbor_id
               ) AS rank
        FROM scored
    )
"""


def oracle_sql() -> dict[str, str]:
    disc_price = f"CAST(l_extendedprice AS {_DEC}) * (1 - CAST(l_discount AS {_DEC}))"
    charge = f"{disc_price} * (1 + CAST(l_tax AS {_DEC}))"
    normalized = (
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
        " '\\s+', ' ', 'g'))"
    )
    n_tokens = (
        "CASE WHEN trim(text) = '' THEN 0 ELSE "
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) END"
    )
    n_tokens_txt = n_tokens.replace("(text)", "(txt)")

    def occ(hay: str, needle: str) -> str:
        n = needle.replace("'", "''")
        return (
            f"CAST((length({hay}) - length(replace({hay}, '{n}', '')))"
            f" / {len(needle)} AS BIGINT)"
        )

    padded = "(' ' || lower(text) || ' ')"
    lang_score = {
        lang: " + ".join(occ(padded, m) for m in text.LANG_MARKERS[lang])
        for lang in text.LANG_ORDER
    }
    best = f"greatest({', '.join(f'({s})' for s in lang_score.values())})"
    cjk = "CAST(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS BIGINT)"
    pred_lang = (
        f"CASE WHEN {cjk} > 0 THEN 'zh' WHEN {best} = 0 THEN 'und' "
        + " ".join(
            f"WHEN ({lang_score[lang]}) = {best} THEN '{lang}'"
            for lang in text.LANG_ORDER
        )
        + " END"
    )

    return {
        "preprocess_rename_dedup": (
            "SELECT DISTINCT l_returnflag AS returnflag,"
            " l_linestatus AS linestatus FROM lineitem"
        ),
        "distinct_rows": (
            "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"
        ),
        "null_profile": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,"
            " CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_user_id,"
            " CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_type,"
            " CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_value,"
            " CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_props"
            " FROM events"
        ),
        "nullsafe_merge": (
            "SELECT c_custkey, n_name AS nation_name FROM customer"
            " LEFT JOIN nation ON c_nationkey IS NOT DISTINCT FROM n_nationkey"
        ),
        "compare_except": (
            "SELECT c_custkey AS custkey FROM customer"
            " EXCEPT"
            " SELECT o_custkey AS custkey FROM orders"
            " WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'"
        ),
        "load_star_roundtrip": (
            "SELECT DISTINCT n_name AS name, r_name AS region"
            " FROM nation JOIN region ON n_regionkey = r_regionkey"
        ),
        "load_star3_roundtrip": (
            "SELECT DISTINCT c_name AS customer, n_name AS nation,"
            " r_name AS region"
            " FROM customer"
            " JOIN nation ON c_nationkey = n_nationkey"
            " JOIN region ON n_regionkey = r_regionkey"
        ),
        # decimal sums cast to double THROUGH VARCHAR: DuckDB's direct
        # decimal->double cast divides the int128 payload by 10^scale in
        # double arithmetic and can be 1 ulp off the correctly-rounded
        # value (observed at sf1: sum_charge ...941590 -> ...941593);
        # Spark (BigDecimal.doubleValue) and DuckDB's string->double
        # parser are both correctly rounded, so the string hop makes the
        # oracle engine-neutral at every SF
        "q1_pricing_summary": f"""
            SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
                   CAST(CAST(SUM(CAST(l_quantity AS {_DEC})) AS VARCHAR) AS DOUBLE) AS sum_qty,
                   CAST(CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS VARCHAR) AS DOUBLE) AS sum_base_price,
                   CAST(CAST(SUM({disc_price}) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
                   CAST(CAST(SUM({charge}) AS VARCHAR) AS DOUBLE) AS sum_charge,
                   CAST(CAST(SUM(CAST(l_quantity AS {_DEC})) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
                   CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": f"""
            SELECT o_orderkey, o_orderdate, o_orderpriority,
                   CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "q5_region_revenue": f"""
            SELECT n_name AS nation, CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
        """,
        "top_customers_per_nation": """
            SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
                   c_custkey AS custkey, c_acctbal AS acctbal,
                   CAST(rnk AS INTEGER) AS rnk
            FROM (
                SELECT c_nationkey, c_custkey, c_acctbal,
                       ROW_NUMBER() OVER (
                           PARTITION BY c_nationkey
                           ORDER BY c_acctbal DESC, c_custkey
                       ) AS rnk
                FROM customer
            ) WHERE rnk <= 3
        """,
        "q14_promo_revenue": f"""
            SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN {disc_price} ELSE CAST(0 AS {_DEC}) END) AS DOUBLE)
                   / CAST(SUM({disc_price}) AS DOUBLE) AS promo_share,
                   CAST(SUM({disc_price}) AS DOUBLE) AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
        """,
        "orders_rollup": f"""
            SELECT o_orderstatus, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS revenue
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "orders_monthly": f"""
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS total_revenue
            FROM orders GROUP BY 1
        """,
        "docs_fingerprint_dedup": f"""
            SELECT md5({normalized}) AS fp,
                   CAST(MIN(doc_id) AS BIGINT) AS keep_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM documents GROUP BY 1
        """,
        "docs_exact_dedup": """
            SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
                   arg_min(lang, doc_id) AS lang,
                   arg_min(source, doc_id) AS source
            FROM documents GROUP BY text
        """,
        "emb_neardup_exact": _EMB_NEARDUP_EXACT_SQL,
        "docs_token_budget_sample": f"""
            WITH base AS (
                SELECT doc_id, source, {n_tokens} AS n_tokens,
                       substr(md5(text), 5, 2) AS draw
                FROM documents
            ),
            windowed AS (
                SELECT doc_id, source, n_tokens,
                       SUM(n_tokens) OVER (
                           PARTITION BY source ORDER BY draw, doc_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS cum_tokens,
                       SUM(n_tokens) OVER (PARTITION BY source) * 0.4
                           AS budget
                FROM base
            )
            SELECT doc_id, source, n_tokens, cum_tokens
            FROM windowed
            WHERE CAST(cum_tokens AS DOUBLE) <= CAST(budget AS DOUBLE)
        """,
        "docs_mixture_weights": f"""
            WITH base AS (
                SELECT doc_id, source, {n_tokens} AS n_tokens,
                       substr(md5(text), 7, 2) AS draw,
                       CAST(regexp_extract(source, '([0-9]+)', 1) AS INT)
                           % 4 + 1 AS w
                FROM documents
            ),
            mass AS (
                SELECT source, any_value(w) AS w,
                       CAST(SUM(n_tokens) AS BIGINT) AS m
                FROM base GROUP BY source
            ),
            feasible AS (
                SELECT MIN(CAST(m AS DOUBLE) / w) AS t FROM mass
            ),
            budgets AS (
                SELECT source, w * t AS budget FROM mass, feasible
            ),
            windowed AS (
                SELECT doc_id, source, n_tokens,
                       SUM(n_tokens) OVER (
                           PARTITION BY source ORDER BY draw, doc_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS cum_tokens
                FROM base
            )
            SELECT doc_id, w.source,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM windowed w JOIN budgets b ON w.source = b.source
            WHERE CAST(cum_tokens AS DOUBLE) <= b.budget
        """,
        "docs_mixture_target": f"""
            WITH base AS (
                SELECT doc_id, source, {n_tokens} AS n_tokens,
                       substr(md5(text), 7, 2) AS draw,
                       CAST(regexp_extract(source, '([0-9]+)', 1) AS INT)
                           % 4 + 1 AS w
                FROM documents
            ),
            mass AS (
                SELECT source, any_value(w) AS w,
                       CAST(SUM(n_tokens) AS BIGINT) AS m
                FROM base GROUP BY source
            ),
            feasible AS (
                SELECT 0.5 * MIN(CAST(m AS DOUBLE) / w) AS t FROM mass
            ),
            budgets AS (
                SELECT source, w * t AS budget FROM mass, feasible
            ),
            windowed AS (
                SELECT doc_id, source, n_tokens,
                       SUM(n_tokens) OVER (
                           PARTITION BY source ORDER BY draw, doc_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS cum_tokens
                FROM base
            )
            SELECT doc_id, w.source,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM windowed w JOIN budgets b ON w.source = b.source
            WHERE CAST(cum_tokens AS DOUBLE) <= b.budget
        """,
        "events_stream_cdc": """
            SELECT CAST(event_id % 3 + 1 AS BIGINT) AS commit_id,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
                   CAST(MIN(event_id) AS BIGINT) AS min_event_id,
                   CAST(MAX(event_id) AS BIGINT) AS max_event_id,
                   CAST(0 AS BIGINT) AS n_mismatch
            FROM events
            GROUP BY 1, 2
        """,
        "events_stream_rollup": """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(event_id) AS BIGINT) AS sum_event_id
            FROM events
            GROUP BY event_type
        """,
        "load_incremental_distinct_rollup": """
            SELECT source,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_docs,
                   TRUE AS within_bound
            FROM documents
            GROUP BY source
        """,
        "load_incremental_histogram": """
            WITH base AS (
                SELECT source,
                       LEAST(15, CAST(n_chars // 64 AS INT)) AS bin
                FROM (SELECT DISTINCT doc_id, source, n_chars
                      FROM documents)
            )
            SELECT source, CAST(bin AS BIGINT) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM base
            GROUP BY source, bin
        """,
        "load_incremental_quantile": """
            WITH base AS (
                SELECT source,
                       LEAST(15, CAST(n_chars // 64 AS INT)) AS bin
                FROM (SELECT DISTINCT doc_id, source, n_chars
                      FROM documents)
            ),
            ranked AS (
                SELECT source, bin,
                       ROW_NUMBER() OVER (
                           PARTITION BY source ORDER BY bin
                       ) AS rk,
                       COUNT(*) OVER (PARTITION BY source) AS n
                FROM base
            )
            SELECT source,
                   CAST(MAX(CASE WHEN rk = CEIL(0.50 * n) THEN bin END)
                        AS INT) AS p50_bin,
                   CAST(MAX(CASE WHEN rk = CEIL(0.95 * n) THEN bin END)
                        AS INT) AS p95_bin
            FROM ranked
            GROUP BY source
        """,
        "load_incremental_topk": """
            WITH base AS (SELECT DISTINCT doc_id, lang FROM documents),
            keyed AS (
                SELECT lang,
                       CASE WHEN doc_id % 2 = 0 THEN 'hot'
                            ELSE 'k' || CAST(doc_id % 97 AS INTEGER)
                       END AS hh_key
                FROM base
            ),
            counts AS (
                SELECT lang, hh_key, COUNT(*) AS n_docs
                FROM keyed GROUP BY 1, 2
            ),
            ranked AS (
                SELECT lang, hh_key, n_docs,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY n_docs DESC, hh_key DESC
                       ) AS rk
                FROM counts
            )
            SELECT lang, hh_key AS top_key,
                   CAST(n_docs AS BIGINT) AS top_docs,
                   TRUE AS heavy_present, TRUE AS no_overcount,
                   TRUE AS within_bound, TRUE AS size_ok
            FROM ranked WHERE rk = 1
        """,
        "load_incremental": """
            WITH b1 AS (
                SELECT DISTINCT source FROM documents WHERE doc_id % 50 = 0
            ),
            novel AS (
                SELECT DISTINCT source FROM documents
                WHERE source NOT IN (SELECT source FROM b1)
            ),
            dim AS (
                SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS id
                FROM b1
                UNION ALL
                SELECT source,
                       (SELECT COUNT(*) FROM b1)
                           + ROW_NUMBER() OVER (ORDER BY source) AS id
                FROM novel
            ),
            facts AS (
                SELECT DISTINCT doc_id, source, n_chars FROM documents
            )
            SELECT f.doc_id, CAST(d.id AS BIGINT) AS source_id, f.source,
                   f.n_chars
            FROM facts f JOIN dim d ON f.source = d.source
        """,
        "docs_stream_clean": f"""
            WITH salted AS (
                SELECT doc_id, source,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com' AS txt
                FROM documents
            )
            SELECT doc_id, source,
                   regexp_replace(regexp_replace(regexp_replace(txt,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                       '<EMAIL>', 'g'),
                       '\\+?[0-9]{{1,3}}-[0-9]{{3}}-[0-9]{{3,4}}(-[0-9]{{3,4}})?',
                       '<PHONE>', 'g'),
                       '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b',
                       '<IP>', 'g') AS scrubbed,
                   CASE WHEN trim(txt) = '' THEN 0 ELSE
                       CAST(len(regexp_split_to_array(trim(txt), '\\s+'))
                            AS BIGINT) END AS n_tokens
            FROM salted
            WHERE (CASE WHEN trim(txt) = '' THEN 0 ELSE
                       CAST(len(regexp_split_to_array(trim(txt), '\\s+'))
                            AS BIGINT) END) >= 10
        """,
        "docs_token_stats": f"""
            SELECT doc_id, {n_tokens} AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_obs
            FROM documents
        """,
        "docs_bpe_token_stats": f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))
                        AS BIGINT) AS n_bpe_tokens,
                   {n_tokens} AS n_ws_tokens
            FROM documents
        """,
        "docs_lang_profile": """
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "docs_quality": f"""
            SELECT doc_id,
                   {n_tokens} AS n_tokens,
                   round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 6) AS alpha_ratio,
                   round(CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 6) AS space_ratio,
                   round(CAST(length(trim(text)) - greatest({n_tokens} - 1, 0) AS DOUBLE)
                         / greatest({n_tokens}, 1), 6) AS avg_token_len,
                   round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                         * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                            + CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE))
                         / greatest(length(text), 1), 6) AS quality_score
            FROM documents
        """,
        "docs_lang_id": f"""
            SELECT doc_id, {pred_lang} AS pred_lang,
                   ({lang_score['en']}) AS score_en,
                   ({lang_score['es']}) AS score_es,
                   ({lang_score['de']}) AS score_de,
                   ({lang_score['fr']}) AS score_fr
            FROM documents
        """,
        "docs_dupspan_coverage": """
            WITH words AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                FROM documents WHERE trim(text) <> ''
            ),
            g AS (
                SELECT doc_id,
                       unnest([array_to_string(w[i:i + 4], ' ')
                               FOR i IN generate_series(1, len(w) - 4)]) AS s
                FROM words WHERE len(w) >= 5
            ),
            pd AS (
                SELECT doc_id, s, CAST(count(*) AS BIGINT) AS cnt
                FROM g GROUP BY 1, 2
            ),
            v AS (SELECT s, count(*) AS n_docs FROM pd GROUP BY 1)
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END)
                        AS BIGINT) AS dup_grams,
                   round(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END)
                         / CAST(sum(cnt) AS DOUBLE), 6) AS dup_frac
            FROM pd JOIN v USING (s)
            GROUP BY doc_id
        """,
        "lineitem_profile": """
            SELECT 'l_orderkey' AS "column",
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
                   CAST(MIN(l_orderkey) AS DOUBLE) AS min_num,
                   CAST(MAX(l_orderkey) AS DOUBLE) AS max_num,
                   ROUND(AVG(CAST(l_orderkey AS DOUBLE)), 6) AS avg_num,
                   CAST(NULL AS VARCHAR) AS min_str,
                   CAST(NULL AS VARCHAR) AS max_str
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
                   CAST(MIN(l_quantity) AS DOUBLE),
                   CAST(MAX(l_quantity) AS DOUBLE),
                   ROUND(AVG(l_quantity), 6),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
            FROM lineitem
            UNION ALL
            SELECT 'l_returnflag',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE),
                   MIN(l_returnflag), MAX(l_returnflag)
            FROM lineitem
            UNION ALL
            SELECT 'l_shipdate',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
            FROM lineitem
        """,
        "lineitem_constraints": """
            WITH m AS (
                SELECT
                    CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END)
                         AS BIGINT) AS c0,
                    CAST(count(CASE WHEN l_quantity IS NULL THEN 1 END)
                         AS BIGINT) AS c1,
                    CAST(count(CASE WHEN l_orderkey IS NOT NULL
                                    AND l_linenumber IS NOT NULL THEN 1 END)
                         - count(DISTINCT CASE WHEN l_orderkey IS NOT NULL
                                    AND l_linenumber IS NOT NULL
                                    THEN (l_orderkey, l_linenumber) END)
                         AS BIGINT) AS c2,
                    CAST(count(CASE WHEN l_quantity < 1 OR l_quantity > 50
                               THEN 1 END) AS BIGINT) AS c3,
                    CAST(count(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
                               THEN 1 END) AS BIGINT) AS c4,
                    CAST(count(CASE WHEN l_returnflag IS NOT NULL
                                    AND l_returnflag NOT IN ('A', 'N', 'R')
                               THEN 1 END) AS BIGINT) AS c5,
                    CAST(count(CASE WHEN l_linestatus IS NOT NULL AND NOT
                               regexp_matches(l_linestatus, '^[OF]$')
                               THEN 1 END) AS BIGINT) AS c6,
                    CAST(greatest(1 - count(*), 0) AS BIGINT) AS c7
                FROM lineitem
            )
            SELECT 'not_null(l_orderkey)' AS rule, c0 AS violations,
                   c0 = 0 AS passed FROM m
            UNION ALL SELECT 'not_null(l_quantity)', c1, c1 = 0 FROM m
            UNION ALL SELECT 'unique(l_orderkey, l_linenumber)', c2,
                   c2 = 0 FROM m
            UNION ALL SELECT 'range(l_quantity, 1, 50)', c3, c3 = 0 FROM m
            UNION ALL SELECT 'range(l_discount, 0.0, 0.1)', c4, c4 = 0 FROM m
            UNION ALL SELECT 'accepted(l_returnflag)', c5, c5 = 0 FROM m
            UNION ALL SELECT 'pattern(l_linestatus)', c6, c6 = 0 FROM m
            UNION ALL SELECT 'min_rows(1)', c7, c7 = 0 FROM m
        """,
        "docs_jsonl_roundtrip": """
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_len,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc,
                   CAST(MAX(doc_id) AS BIGINT) AS max_doc
            FROM documents
            GROUP BY source
        """,
        "docs_training_pipeline": f"""
            WITH gated AS (
                SELECT doc_id, source, text
                FROM documents
                WHERE {n_tokens} BETWEEN 20 AND 80
            ),
            keep AS (
                SELECT MIN(doc_id) AS doc_id
                FROM gated GROUP BY md5({normalized})
            ),
            salted AS (
                SELECT g.doc_id, g.source,
                       g.text || ' contact user'
                              || CAST(g.doc_id AS VARCHAR)
                              || '@example.com or +1-555-'
                              || lpad(CAST(g.doc_id % 10000 AS VARCHAR),
                                      4, '0')
                              || ' from 10.0.'
                              || CAST(g.doc_id % 256 AS VARCHAR)
                              || '.7' AS txt
                FROM gated g JOIN keep k USING (doc_id)
            ),
            scrubbed AS (
                SELECT doc_id, source,
                       regexp_replace(regexp_replace(regexp_replace(txt,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                           '<EMAIL>', 'g'),
                           '\\+?[0-9]{{1,3}}-[0-9]{{3}}-[0-9]{{3,4}}(-[0-9]{{3,4}})?',
                           '<PHONE>', 'g'),
                           '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b',
                           '<IP>', 'g') AS txt
                FROM salted
            ),
            toks AS (
                SELECT doc_id, source,
                       {n_tokens_txt} AS n_tokens
                FROM scrubbed
            ),
            c AS (
                SELECT doc_id, source, n_tokens,
                       COALESCE(sum(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS start_offset
                FROM toks
            )
            SELECT doc_id, source, n_tokens,
                   CAST(start_offset AS BIGINT) AS start_offset,
                   CAST(floor(start_offset / 2048.0) AS BIGINT) AS seq_id
            FROM c
        """,
        "docs_csv_roundtrip": """
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(SUM(LENGTH('v,"q" ' || substring(text, 1, 40)))
                        AS BIGINT) AS sum_text_len,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc,
                   CAST(MAX(doc_id) AS BIGINT) AS max_doc,
                   CAST(3 AS BIGINT) AS n_quarantined
            FROM documents
            GROUP BY source
        """,
        "docs_orc_roundtrip": """
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_len,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc,
                   CAST(MAX(doc_id) AS BIGINT) AS max_doc,
                   CAST(COALESCE(SUM(CASE WHEN doc_id % 97 = 0
                                          THEN LENGTH(text) END), 0)
                        AS BIGINT) AS probe_len
            FROM documents
            GROUP BY source
        """,
        "docs_pack_sequences": f"""
            WITH t AS (
                SELECT doc_id, CAST({n_tokens} AS BIGINT) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       COALESCE(sum(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS start_offset
                FROM t
            )
            SELECT doc_id, n_tokens,
                   CAST(start_offset AS BIGINT) AS start_offset,
                   CAST(floor(start_offset / 2048.0) AS BIGINT) AS seq_id
            FROM c
        """,
        "docs_split_span_leakage": f"""
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN substr(md5(text), 1, 2) < '{_SPLIT_TRAIN_HI}'
                                THEN 'train'
                            WHEN substr(md5(text), 1, 2) < '{_SPLIT_VAL_HI}'
                                THEN 'val'
                            ELSE 'test' END AS split,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                FROM documents WHERE trim(text) <> ''
            ),
            ref AS (
                SELECT DISTINCT
                       unnest([array_to_string(w[i:i + 4], ' ')
                               FOR i IN generate_series(1, len(w) - 4)]) AS s
                FROM d WHERE split = 'train' AND len(w) >= 5
            ),
            probe AS (
                SELECT doc_id, s, CAST(count(*) AS BIGINT) AS cnt
                FROM (
                    SELECT doc_id,
                           unnest([array_to_string(w[i:i + 4], ' ')
                                   FOR i IN generate_series(1, len(w) - 4)]) AS s
                    FROM d WHERE split <> 'train' AND len(w) >= 5
                ) GROUP BY 1, 2
            )
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN ref.s IS NOT NULL THEN cnt ELSE 0 END)
                        AS BIGINT) AS leaked_grams,
                   round(sum(CASE WHEN ref.s IS NOT NULL THEN cnt ELSE 0 END)
                         / CAST(sum(cnt) AS DOUBLE), 6) AS leaked_frac
            FROM probe LEFT JOIN ref ON probe.s = ref.s
            GROUP BY doc_id
        """,
        "docs_jaccard_pairs": _JACCARD_PAIRS_SQL,
        "docs_dedup_keep_best": f"""
            WITH RECURSIVE p AS ({_JACCARD_PAIRS_SQL}),
            e AS (SELECT id_a AS a, id_b AS b FROM p
                  UNION SELECT id_b, id_a FROM p),
            n AS (SELECT DISTINCT a AS id FROM e),
            reach AS (
                SELECT id, id AS r FROM n
                UNION
                SELECT reach.id, e.b AS r FROM reach JOIN e ON e.a = reach.r
            ),
            comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
            labeled AS (
                SELECT d.doc_id,
                       COALESCE(c.component, d.doc_id) AS component,
                       d.n_chars
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
            )
            SELECT doc_id, component, n_chars
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY component
                      ORDER BY n_chars DESC, doc_id
                  ) AS rn FROM labeled)
            WHERE rn = 1
        """,
        "docs_dup_clusters": f"""
            WITH RECURSIVE p AS ({_JACCARD_PAIRS_SQL}),
            e AS (SELECT id_a AS a, id_b AS b FROM p
                  UNION SELECT id_b, id_a FROM p),
            n AS (SELECT DISTINCT a AS id FROM e),
            reach AS (
                SELECT id, id AS r FROM n
                UNION
                SELECT reach.id, e.b AS r FROM reach JOIN e ON e.a = reach.r
            )
            SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
        """,
        "docs_semantic_clusters": """
            WITH RECURSIVE p AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM embeddings a, embeddings b
                WHERE a.vec_id < b.vec_id
                  AND round(
                       list_sum(list_transform(
                           list_zip(a.embedding, b.embedding),
                           pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)
                       ))
                       / (sqrt(list_sum(list_transform(a.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                       6) >= 0.4
            ),
            e AS (SELECT id_a AS a, id_b AS b FROM p
                  UNION SELECT id_b, id_a FROM p),
            n AS (SELECT DISTINCT a AS id FROM e),
            reach AS (
                SELECT id, id AS r FROM n
                UNION
                SELECT reach.id, e.b AS r FROM reach JOIN e ON e.a = reach.r
            ),
            comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
            SELECT comp.id AS doc_id, comp.component, d.lang, d.n_chars
            FROM comp JOIN documents d ON comp.id = d.doc_id
        """,
        "emb_cosine_topk": f"""
            WITH {_EMB_EXACT_TOPK_CTE}
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
                   round(sim_raw, 6) AS sim
            FROM ranked WHERE rank <= 5
        """,
        # recall certificate: the exact-side values are pure SQL; the
        # literal 0 / TRUE pin the LSH path's precision (verify=True)
        # and recall floor — a regression hash-mismatches
        "emb_lsh_topk": f"""
            WITH {_EMB_EXACT_TOPK_CTE}
            SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   CAST(count(*) AS BIGINT) AS n_exact_neighbors,
                   CAST(coalesce(sum(neighbor_id), 0) AS BIGINT)
                       AS sum_exact_neighbor_ids,
                   TRUE AS recall_ok
            FROM ranked WHERE rank <= 5
        """,
        "docs_minhash_pairs": f"""
            WITH p AS ({_JACCARD_PAIRS_SQL})
            SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
                   CAST(coalesce(sum(id_a + id_b), 0) AS BIGINT)
                       AS sum_exact_ids,
                   CAST(0 AS BIGINT) AS n_false_positives,
                   TRUE AS recall_ok
            FROM p
        """,
        # Round-12 certificates: engine-specific hashing (SimHash /
        # rolling xxhash64 / media LSH) cannot be value-hashed directly,
        # so each emits oracle-recomputable anchors plus pinned-0
        # defect counters (see the query docstrings).
        "docs_simhash_pairs": """
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(0 AS BIGINT) AS n_missing,
                   CAST(0 AS BIGINT) AS n_extra,
                   TRUE AS complete_ok
            FROM documents
        """,
        "docs_rolling_fp": """
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(0 AS BIGINT) AS n_copy_mismatch,
                   CAST(0 AS BIGINT) AS n_norm_mismatch,
                   TRUE AS identity_ok,
                   CAST(count(DISTINCT array_to_string(
                       list_filter(
                           regexp_split_to_array(lower(text),
                                                 '[^a-z0-9]+'),
                           x -> x <> ''),
                       ' ')) AS BIGINT) AS n_distinct_norm
            FROM documents
        """,
        # Streaming near-dup admission certificate (round 12): the
        # admitted set is engine-hashed, but corpus integrity and the
        # replayed-shard-admits-nothing contract are pinned.
        "docs_stream_fuzzy_dedup": """
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(0 AS BIGINT) AS n_dup_rows,
                   CAST(0 AS BIGINT) AS n_unknown_ids,
                   CAST(0 AS BIGINT) AS n_replay_admitted,
                   TRUE AS admission_ok
            FROM documents
        """,
        # Catalog-lifecycle oracles (round 12): a FRESH scratch
        # database makes the journal's commit ids deterministic, and
        # every count is pure SQL over the loaded slices — the whole
        # time-travel history / maintenance outcome is DuckDB-pinned.
        "load_snapshot_history": """
            SELECT CAST(1 AS BIGINT) AS commit_id,
                   CAST((SELECT count(DISTINCT source) FROM documents
                         WHERE doc_id % 2 = 0) AS BIGINT) AS n_sources,
                   CAST((SELECT count(*) FROM documents
                         WHERE doc_id % 2 = 0) AS BIGINT) AS n_docs
            UNION ALL
            SELECT CAST(2 AS BIGINT),
                   CAST((SELECT count(DISTINCT source) FROM documents)
                        AS BIGINT),
                   CAST((SELECT count(*) FROM documents) AS BIGINT)
        """,
        "load_snapshot_diff": """
            WITH c1 AS (
                SELECT * FROM documents WHERE doc_id % 3 = 0
            ),
            c2 AS (
                SELECT * FROM documents WHERE doc_id % 3 <> 0
            ),
            g AS (
                SELECT CAST(1 AS BIGINT) AS commit_id,
                       CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(count(*) AS BIGINT) AS n_inserts,
                       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                       CAST(min(doc_id) AS BIGINT) AS min_doc,
                       CAST(max(doc_id) AS BIGINT) AS max_doc
                FROM c1
                UNION ALL
                SELECT CAST(2 AS BIGINT),
                       CAST(count(*) AS BIGINT),
                       CAST(count(*) AS BIGINT),
                       CAST(sum(n_chars) AS BIGINT),
                       CAST(min(doc_id) AS BIGINT),
                       CAST(max(doc_id) AS BIGINT)
                FROM c2
            )
            SELECT 'since_0' AS feed, * FROM g
            UNION ALL
            SELECT 'since_1', * FROM g WHERE commit_id = 2
        """,
        "load_incremental_rollup": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents
            GROUP BY source
        """,
        "load_vacuum_maintenance": """
            SELECT CAST(count(*) AS BIGINT) AS n_before,
                   CAST(count(*) AS BIGINT) AS n_after,
                   CAST(1 AS BIGINT) AS n_history,
                   CAST(sum(CASE WHEN doc_id % 3 < 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_base_snapshot,
                   CAST(count(*) AS BIGINT) AS n_head_snapshot
            FROM documents
        """,
        # BPE certificates: the merge SEQUENCE is iterative (no SQL
        # twin), but merge rank 1 IS the most-frequent adjacent symbol
        # pair over the char-split vocabulary — recomputed here exactly
        # (ties to the lexicographically smallest pair, mirroring the
        # trainer) — and encode losslessness reduces to a pure
        # text-length identity.
        "docs_bpe_learn": """
            WITH wc AS (
              SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest(regexp_split_to_array(
                         trim(lower(text)), '\\s+')) AS word
                FROM documents)
              WHERE word <> '' GROUP BY word
              ORDER BY freq DESC, word LIMIT 50000
            ),
            syms AS (
              SELECT freq,
                     list_append(
                       [word[i] FOR i IN
                        generate_series(1, length(word))],
                       '</w>') AS s
              FROM wc
            ),
            expl AS (
              SELECT freq,
                     unnest([struct_pack(l := s[i], r := s[i + 1])
                             FOR i IN generate_series(1, len(s) - 1)])
                       AS p
              FROM syms
            ),
            pc AS (
              SELECT p.l AS l, p.r AS r, SUM(freq) AS c
              FROM expl GROUP BY 1, 2
            )
            SELECT CAST(16 AS BIGINT) AS n_merges,
                   l AS rank1_left,
                   r AS rank1_right,
                   CAST(c AS BIGINT) AS rank1_count,
                   TRUE AS ranks_ok,
                   CAST(0 AS BIGINT) AS n_malformed
            FROM pc ORDER BY c DESC, l, r LIMIT 1
        """,
        "docs_bpe_encode": """
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(length(regexp_replace(
                       trim(lower(text)), '\\s+', '', 'g')))
                       AS BIGINT) AS sum_concat_len,
                   CAST(0 AS BIGINT) AS n_lossless_violations
            FROM documents WHERE trim(lower(text)) <> ''
        """,
        "media_neardup": """
            WITH g AS (SELECT doc_id % 384 AS k, count(*) AS n
                       FROM documents GROUP BY 1)
            SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_assets,
                   CAST(coalesce(sum(CASE WHEN n > 1 THEN 1 END), 0)
                        AS BIGINT) AS n_dup_groups,
                   CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0)
                        AS BIGINT) AS n_dup_assets,
                   CAST(coalesce(sum(CASE WHEN n > 1 THEN k END), 0)
                        AS BIGINT) AS sum_dup_keys,
                   CAST(0 AS BIGINT) AS n_split_groups,
                   TRUE AS complete_ok
            FROM g
        """,
        # IVF certificates share the lsh_topk shape: exact-side values
        # recomputed, recall_ok pinned TRUE (floor 0.70, measured
        # 0.82-0.94 / 0.80-0.92 at n_centroids=8, n_probe=6)
        "emb_ivf_topk": f"""
            WITH {_EMB_EXACT_TOPK_CTE}
            SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   CAST(count(*) AS BIGINT) AS n_exact_neighbors,
                   CAST(coalesce(sum(neighbor_id), 0) AS BIGINT)
                       AS sum_exact_neighbor_ids,
                   TRUE AS recall_ok
            FROM ranked WHERE rank <= 5
        """,
        "emb_ivf_quantized_topk": f"""
            WITH {_EMB_EXACT_TOPK_CTE}
            SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   CAST(count(*) AS BIGINT) AS n_exact_neighbors,
                   CAST(coalesce(sum(neighbor_id), 0) AS BIGINT)
                       AS sum_exact_neighbor_ids,
                   TRUE AS recall_ok
            FROM ranked WHERE rank <= 5
        """,
        # LSH near-dup certificate: exact side at the 0.3 query
        # threshold, recall floor over the >=0.45 high-sim tail
        "emb_neardup_lsh": f"""
            WITH p AS ({_EMB_NEARDUP_EXACT_SQL})
            SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
                   CAST(coalesce(sum(id_a + id_b), 0) AS BIGINT)
                       AS sum_exact_ids,
                   CAST(count(*) FILTER (WHERE sim >= 0.45) AS BIGINT)
                       AS n_tail_pairs,
                   CAST(0 AS BIGINT) AS n_false_positives,
                   TRUE AS recall_ok
            FROM p
        """,
        # semantic-dedup scale path: exact tail-pair anchors recomputed
        # quadratically; the recall + keep-policy booleans pinned TRUE
        # (pair recall measured 1.0 at gate SFs; cluster recall >= pair
        # recall by transitivity; both-kept violations counted in-plan)
        "docs_semantic_clusters_lsh": f"""
            WITH p AS ({_EMB_NEARDUP_EXACT_SQL})
            SELECT CAST((SELECT count(*) FROM documents) AS BIGINT)
                       AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_exact_tail_pairs,
                   CAST(coalesce(sum(id_a + id_b), 0) AS BIGINT)
                       AS sum_exact_ids,
                   TRUE AS pair_recall_ok,
                   TRUE AS cluster_recall_ok,
                   TRUE AS keep_policy_ok
            FROM p WHERE sim >= 0.45
        """,
        # sketch certificates: exact counts recomputed, the error-bound
        # boolean pinned TRUE (10% = 5-sigma at rsd 0.02; 5% at lgK 14)
        "events_approx_users": """
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                   TRUE AS within_bound
            FROM events GROUP BY event_type
        """,
        "events_hll_daily_union": """
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                   TRUE AS within_bound
            FROM events GROUP BY event_type
        """,
        "emb_quantized_topk": """
            WITH quant AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(coalesce(round(
                           CAST(x AS DOUBLE) * 127.0 / nullif(
                               list_max(list_transform(embedding,
                                   y -> abs(CAST(y AS DOUBLE)))), 0.0)
                       ), 0.0) AS INTEGER)) AS q
                FROM embeddings
            ),
            sides AS (
                SELECT vec_id, q,
                       sqrt(list_sum(list_transform(q,
                           x -> CAST(x AS BIGINT) * CAST(x AS BIGINT)))) AS n
                FROM quant
            ),
            scored AS (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       CAST(list_sum(list_transform(
                           list_zip(a.q, b.q),
                           p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)
                       )) AS BIGINT) AS qdot,
                       a.n * b.n AS nprod
                FROM sides a, sides b
                WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
            ),
            ranked AS (
                SELECT query_id, neighbor_id, qdot,
                       coalesce(CAST(qdot AS DOUBLE) / nullif(nprod, 0.0),
                                0.0) AS qsim_raw,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY coalesce(CAST(qdot AS DOUBLE)
                                             / nullif(nprod, 0.0), 0.0) DESC,
                                    neighbor_id
                       ) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
                   qdot, round(qsim_raw, 6) AS qsim
            FROM ranked WHERE rank <= 5
        """,
        "docs_pii_scrub": """
            WITH salted AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1-555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.7' AS txt
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(txt,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(txt,
                       '\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?'))
                       AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(txt,
                       '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b'))
                       AS BIGINT) AS n_ip,
                   regexp_replace(regexp_replace(regexp_replace(txt,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?',
                       '<PHONE>', 'g'),
                       '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b',
                       '<IP>', 'g') AS scrubbed
            FROM salted
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_dedup_first": """
            SELECT user_id, event_type, event_id, ts
            FROM (
                SELECT user_id, event_type, event_id, ts,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY ts, event_id
                       ) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "events_asof_attribution": """
            SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
                   c.event_id AS click_id, c.ts AS click_ts
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "events_props_extract": """
            SELECT event_type,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
                   CAST(COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                              THEN 1 END) AS BIGINT) AS n_high
            FROM events GROUP BY event_type
        """,
        "big_spenders_having": f"""
            SELECT c_custkey AS custkey, c_name AS name,
                   CAST(total_dec AS DOUBLE) AS total_spent
            FROM (
                SELECT o_custkey, SUM(CAST(o_totalprice AS {_DEC})) AS total_dec
                FROM orders GROUP BY o_custkey
                HAVING SUM(CAST(o_totalprice AS {_DEC})) > 1500000
            ) JOIN customer ON o_custkey = c_custkey
        """,
        "events_user_stats": """
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY event_type
        """,
        "q6_revenue_forecast": f"""
            SELECT CAST(SUM(CAST(l_extendedprice AS {_DEC})
                            * CAST(l_discount AS {_DEC})) AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q4_late_shipping": """
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
            FROM orders
            WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
            )
            GROUP BY o_orderpriority
        """,
        "q7_volume_shipping": f"""
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3
        """,
        "q10_returned_items": f"""
            SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal,
                   n_name AS nation,
                   CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
              AND l_returnflag = 'R'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, custkey
            LIMIT 20
        """,
        "q11_important_stock": """
            WITH per_part AS (
                SELECT l_partkey,
                       SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(l_quantity AS DECIMAL(12,2))) AS value_dec
                FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey AS partkey, CAST(value_dec AS DOUBLE) AS value
            FROM per_part
            WHERE value_dec * 1600 > (SELECT SUM(value_dec) FROM per_part)
            ORDER BY value DESC, partkey
        """,
        "q12_late_lines": """
            SELECT l_linestatus AS linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
              AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY 1
        """,
        "q13_custdist": """
            SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
            FROM (
                SELECT c_custkey,
                       CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
                FROM customer
                LEFT JOIN orders ON c_custkey = o_custkey
                             AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey
            ) GROUP BY c_count
        """,
        "q15_top_supplier": f"""
            WITH rev AS (
                SELECT l_suppkey, SUM({disc_price}) AS total_dec
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey AS suppkey, s_name AS name,
                   CAST(total_dec AS DOUBLE) AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_dec = (SELECT MAX(total_dec) FROM rev)
        """,
        "q16_supplier_cnt": """
            SELECT p_brand AS brand, p_type AS type,
                   CAST(p_size AS INTEGER) AS size,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_size <= 25
            GROUP BY 1, 2, 3
        """,
        "q17_small_qty_revenue": f"""
            WITH half_avg AS (
                SELECT l_partkey AS a_partkey,
                       CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE)
                           / COUNT(*) / 2.0 AS half_avg_qty
                FROM lineitem GROUP BY l_partkey
            )
            SELECT CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / 7.0
                       AS avg_yearly
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN half_avg ON l_partkey = a_partkey
            WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
              AND l_quantity < half_avg_qty
        """,
        "q18_large_orders": f"""
            WITH big AS (
                SELECT l_orderkey, SUM(CAST(l_quantity AS {_DEC})) AS sum_qty_dec
                FROM lineitem GROUP BY l_orderkey
                HAVING SUM(CAST(l_quantity AS {_DEC})) > 300
            )
            SELECT c_name AS name, c_custkey AS custkey,
                   o_orderkey AS orderkey, o_orderdate AS orderdate,
                   o_totalprice AS totalprice,
                   CAST(sum_qty_dec AS DOUBLE) AS sum_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY totalprice DESC, orderkey
            LIMIT 100
        """,
        "q19_or_predicates": f"""
            SELECT CAST(SUM({disc_price}) AS DOUBLE) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                   AND l_quantity BETWEEN 20 AND 50)
        """,
        "q22_idle_big_spenders": f"""
            SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
                   CAST(COUNT(*) AS BIGINT) AS numcust,
                   CAST(SUM(CAST(c_acctbal AS {_DEC})) AS DOUBLE) AS totacctbal
            FROM customer
            WHERE c_acctbal > (
                SELECT CAST(SUM(CAST(c_acctbal AS {_DEC})) AS DOUBLE) / COUNT(*)
                FROM customer WHERE c_acctbal > 0
            )
            AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
            )
            GROUP BY 1
        """,
        "orders_running_total": f"""
            SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                   o_orderdate AS orderdate,
                   CAST(SUM(CAST(o_totalprice AS {_DEC})) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS running_total
            FROM orders
        """,
        "events_sessionize": """
            WITH flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id
                            ) > 21600000000
                            OR lag(epoch_us(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id
                            ) IS NULL
                       THEN 1 ELSE 0 END AS new_sess
                FROM events
            ),
            sess AS (
                SELECT user_id, ts,
                       CAST(SUM(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS session_id
                FROM flagged
            )
            SELECT user_id, session_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(ts) AS session_start, MAX(ts) AS session_end
            FROM sess GROUP BY 1, 2
        """,
        "events_sessionize_segmented": """
            WITH flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id
                            ) > 21600000000
                            OR lag(epoch_us(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id
                            ) IS NULL
                       THEN 1 ELSE 0 END AS new_sess
                FROM events
            ),
            sess AS (
                SELECT user_id, ts,
                       CAST(SUM(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS session_id
                FROM flagged
            )
            SELECT user_id, session_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(ts) AS session_start, MAX(ts) AS session_end
            FROM sess GROUP BY 1, 2
        """,
        "q8_market_share": f"""
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(SUM(CASE WHEN n2.n_name = 'NATION_5'
                            THEN {disc_price} ELSE CAST(0 AS {_DEC}) END)
                        AS DOUBLE)
                       / CAST(SUM({disc_price}) AS DOUBLE) AS mkt_share,
                   CAST(SUM({disc_price}) AS DOUBLE) AS total_revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY 1
        """,
        "q9_product_profit": f"""
            SELECT n_name AS nation,
                   CAST(year(l_shipdate) AS INTEGER) AS o_year,
                   CAST(SUM({disc_price}
                            - CAST(l_quantity AS {_DEC})
                              * CAST(p_retailprice AS {_DEC})
                              * CAST(0.6 AS DECIMAL(2,1))) AS DOUBLE)
                       AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY 1, 2
        """,
        "q20_heavy_red_suppliers": f"""
            SELECT s_suppkey AS suppkey, s_name AS name, n_name AS nation
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (
                SELECT l_suppkey FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE '%red%'
                  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                GROUP BY l_suppkey
                HAVING SUM(CAST(l_quantity AS {_DEC})) > 400
            )
        """,
        "q21_sole_returned_supplier": """
            WITH returned AS (
                SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
                WHERE l_returnflag = 'R'
            ),
            base AS (
                SELECT r.l_orderkey, r.l_suppkey
                FROM returned r
                WHERE EXISTS (
                    SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = r.l_orderkey
                      AND l2.l_suppkey <> r.l_suppkey
                )
                AND NOT EXISTS (
                    SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = r.l_orderkey
                      AND l3.l_suppkey <> r.l_suppkey
                      AND l3.l_returnflag = 'R'
                )
            )
            SELECT s_suppkey AS suppkey, s_name AS name,
                   CAST(COUNT(*) AS BIGINT) AS numwait
            FROM base JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY 1, 2
            ORDER BY numwait DESC, suppkey
            LIMIT 25
        """,
        "docs_clean_corpus": f"""
            WITH scored AS (
                SELECT doc_id, source,
                       {n_tokens} AS n_tokens,
                       round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                             * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                                + CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE))
                             / greatest(length(text), 1), 6) AS quality_score,
                       {pred_lang} AS pred_lang,
                       md5({normalized}) AS fp
                FROM documents
            ),
            kept AS (
                SELECT * FROM scored
                WHERE quality_score >= 0.3 AND pred_lang = 'en'
                  AND n_tokens >= 5
            ),
            deduped AS (
                SELECT arg_min(source, doc_id) AS source,
                       arg_min(n_tokens, doc_id) AS n_tokens
                FROM kept GROUP BY fp
            )
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
            FROM deduped GROUP BY source
        """,
        "repeat_customers": """
            SELECT o_custkey AS custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            INTERSECT
            SELECT o_custkey AS custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '2002-01-01 00:00:00'
        """,
        "events_funnel": """
            WITH firsts AS (
                SELECT user_id,
                       MIN(CASE WHEN event_type = 'click' THEN ts END)
                           AS first_click
                FROM events GROUP BY user_id
            ),
            fp AS (
                SELECT f.user_id, f.first_click, MIN(p.ts) AS first_purchase_after
                FROM firsts f
                LEFT JOIN (
                    SELECT user_id, ts FROM events WHERE event_type = 'purchase'
                ) p ON p.user_id = f.user_id AND p.ts > f.first_click
                GROUP BY f.user_id, f.first_click
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(COUNT(first_click) AS BIGINT) AS n_clicked,
                   CAST(COUNT(first_purchase_after) AS BIGINT) AS n_converted,
                   CAST(COUNT(first_purchase_after) AS DOUBLE)
                       / CAST(COUNT(first_click) AS DOUBLE) AS conversion_rate
            FROM fp
        """,
        "orders_cube": f"""
            SELECT o_orderstatus, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS revenue
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "orders_percentiles": """
            SELECT o_orderpriority,
                   quantile_cont(o_totalprice, 0.5) AS p50,
                   quantile_cont(o_totalprice, 0.9) AS p90,
                   MAX(o_totalprice) AS p_max
            FROM orders GROUP BY o_orderpriority
        """,
        "docs_tfidf_search": """
            WITH toks AS (
                SELECT doc_id AS doc,
                       unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
                FROM documents WHERE trim(text) <> ''
            ),
            per_doc AS (
                SELECT doc, COUNT(*) AS n,
                       COUNT(*) FILTER (t = 'join') AS c0,
                       COUNT(*) FILTER (t = 'hash') AS c1,
                       COUNT(*) FILTER (t = 'filter') AS c2
                FROM toks GROUP BY doc
            ),
            g AS (
                SELECT COUNT(DISTINCT doc) AS nd,
                       COUNT(DISTINCT doc) FILTER (t = 'join') AS df0,
                       COUNT(DISTINCT doc) FILTER (t = 'hash') AS df1,
                       COUNT(DISTINCT doc) FILTER (t = 'filter') AS df2
                FROM toks
            )
            SELECT doc AS doc_id,
                   round(
                       (CAST(c0 AS DOUBLE) / CAST(n AS DOUBLE))
                           * (ln(CAST(nd + 1 AS DOUBLE) / (df0 + 1)) + 1.0)
                     + (CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE))
                           * (ln(CAST(nd + 1 AS DOUBLE) / (df1 + 1)) + 1.0)
                     + (CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE))
                           * (ln(CAST(nd + 1 AS DOUBLE) / (df2 + 1)) + 1.0),
                   6) AS score
            FROM per_doc, g
            WHERE c0 + c1 + c2 > 0
            ORDER BY score DESC, doc_id
            LIMIT 20
        """,
        "events_stream_hourly": """
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR
                        AS TIMESTAMP) AS window_end,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2, 3
        """,
        "events_stream_autoload": """
            SELECT DISTINCT event_type,
                   CAST(event_id AS BIGINT) AS event_id,
                   CAST(value AS DOUBLE) AS value
            FROM events
        """,
        "events_stream_postgres_autoload": (
            "SELECT DISTINCT event_id, event_type, value FROM events"
        ),
        "events_stream_sessions": """
            WITH g AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
                SELECT user_id, ts,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM g
            ),
            sess AS (
                SELECT user_id,
                       MIN(ts) AS session_start,
                       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM s GROUP BY user_id, sid
            )
            SELECT session_start, session_end, user_id, n_events
            FROM sess WHERE session_end <= (SELECT max(ts) FROM events)
        """,
        "events_stream_dedup": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events
        """,
        "events_salted_enrich": """
            WITH d AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n_of_type
                FROM events GROUP BY 1
            )
            SELECT e.event_id, e.event_type, d.n_of_type,
                   round(e.value / d.n_of_type, 9) AS share
            FROM events e JOIN d ON e.event_type = d.event_type
        """,
        "events_stream_attribution": """
            SELECT c.user_id,
                   c.event_id AS click_id,
                   p.event_id AS purchase_id,
                   CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT)
                       AS delay_us
            FROM events c JOIN events p
              ON c.user_id = p.user_id
            WHERE c.event_type = 'click' AND p.event_type = 'purchase'
              AND p.ts >= c.ts
              AND p.ts <= c.ts + INTERVAL 30 MINUTE
        """,
        "load_events_star": """
            SELECT DISTINCT event_type,
                   CAST(event_id AS BIGINT) AS event_id,
                   CAST(value AS DOUBLE) AS value
            FROM events
        """,
        "load_star_sqlite": (
            "SELECT DISTINCT n_name AS name, r_name AS region"
            " FROM nation JOIN region ON n_regionkey = r_regionkey"
        ),
        "load_star_jdbc": (
            "SELECT DISTINCT n_name AS name, r_name AS region"
            " FROM nation JOIN region ON n_regionkey = r_regionkey"
        ),
        "load_star_postgres": (
            "SELECT DISTINCT n_name AS name, r_name AS region"
            " FROM nation JOIN region ON n_regionkey = r_regionkey"
        ),
        "load_star_postgres_typed": """
            SELECT DISTINCT
                o_orderkey AS okey,
                CAST(CAST(o_orderkey AS DECIMAL(18,6)) / 64
                     AS DECIMAL(18,6)) AS price,
                o_orderpriority AS prio,
                CAST(CAST(length(o_orderpriority) AS DECIMAL(18,6)) / 8
                     AS DECIMAL(18,6)) AS weight,
                o_orderpriority AS tag_txt,
                strftime(TIMESTAMP '2024-01-01 00:00:00'
                         + to_days(CAST(length(o_orderpriority)
                                        AS INTEGER)),
                         '%Y-%m-%d %H:%M:%S') AS first_seen_utc
            FROM orders WHERE o_orderkey % 20 = 0
        """,
        "load_events_postgres_copy": (
            "SELECT DISTINCT event_id, event_type, value FROM events"
        ),
        "load_events_postgres_readback": """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_value
            FROM (SELECT DISTINCT event_id, event_type, value FROM events) d
            GROUP BY event_type
        """,
        "orders_grouping_sets": """
            SELECT o_orderstatus AS status, o_orderpriority AS priority,
                   order_year,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                       AS revenue
            FROM (SELECT *, CAST(year(o_orderdate) AS INTEGER) AS order_year
                  FROM orders)
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderstatus), (order_year))
        """,
        "q2_min_cost_supplier": f"""
            WITH cost AS (
                SELECT l_partkey, l_suppkey,
                       CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE)
                           / COUNT(*) AS avg_price
                FROM lineitem GROUP BY 1, 2
            ),
            mc AS (
                SELECT l_partkey AS m_partkey, MIN(avg_price) AS min_price
                FROM cost GROUP BY 1
            )
            SELECT p_partkey AS partkey, p_name AS name,
                   l_suppkey AS suppkey, round(avg_price, 6) AS cost
            FROM cost
            JOIN mc ON l_partkey = m_partkey AND avg_price = min_price
            JOIN part ON l_partkey = p_partkey
            WHERE p_size <= 15 AND p_type = 'LARGE'
        """,
        # Media oracles recompute the synthetic-PNG generator arithmetic
        # (multimodal.synthesize_png) in pure SQL: stored-block zlib
        # makes n_bytes = h*(1+w*c) + 68, and pixel j of the image for
        # content key k = doc_id % 384 is (k*7 + j*13) % (32 + k%224)
        # with PIL-truncating luma for RGB(A).  Values on the Spark side
        # come from a REAL stdlib PNG decode of the generated bytes.
        "media_byte_stats": f"""
            WITH p AS ({_MEDIA_P_SQL})
            SELECT doc_id AS media_id,
                   CAST(h*(1 + w*c) + 68 AS BIGINT) AS n_bytes,
                   CAST(COUNT(*) OVER (PARTITION BY doc_id % 384)
                        AS BIGINT) AS n_dup_assets
            FROM p
        """,
        "media_frame_stats": f"""
            WITH p AS ({_MEDIA_P_SQL}),
            nb AS (SELECT doc_id, h*(1 + w*c) + 68 AS n_bytes FROM p)
            SELECT doc_id AS media_id,
                   CAST(least(4, greatest(n_bytes // 256, 1))
                        AS BIGINT) AS n_frames,
                   CAST(least(n_bytes,
                              least(4, greatest(n_bytes // 256, 1)) * 256)
                        AS BIGINT) AS frame_bytes
            FROM nb
        """,
        "media_resize": f"""
            WITH p AS ({_MEDIA_P_SQL}),
            ix AS (SELECT doc_id, k, c, w, h, m,
                          unnest(generate_series(0, w*h - 1)) AS i FROM p),
            lum AS (
              SELECT doc_id,
                     -- nearest-neighbor fan-out: how many of the 224
                     -- target rows/cols map onto source cell (i//w, i%w)
                     ((((i // w)+1)*224 + h - 1)//h
                      - ((i // w)*224 + h - 1)//h)
                     * ((((i % w)+1)*224 + w - 1)//w
                        - ((i % w)*224 + w - 1)//w) AS weight,
                     {_MEDIA_LUMA_SQL} AS luma
              FROM ix)
            SELECT doc_id AS media_id,
                   CAST(224 AS INTEGER) AS width,
                   CAST(224 AS INTEGER) AS height,
                   CAST(224 * 224 AS BIGINT) AS out_bytes,
                   CAST(SUM(weight * luma) AS BIGINT) AS sum_luma
            FROM lum GROUP BY doc_id
        """,
        "media_pixel_stats": f"""
            WITH p AS ({_MEDIA_P_SQL}),
            ix AS (SELECT doc_id, k, c, w, h, m,
                          unnest(generate_series(0, w*h - 1)) AS i FROM p),
            px AS (SELECT doc_id, w*h AS n_pixels,
                          {_MEDIA_LUMA_SQL} AS luma
                   FROM ix)
            SELECT doc_id AS media_id,
                   CAST(ANY_VALUE(n_pixels) AS BIGINT) AS n_pixels,
                   CAST(MIN(luma) AS BIGINT) AS min_luma,
                   CAST(MAX(luma) AS BIGINT) AS max_luma,
                   CAST(SUM(luma) AS BIGINT) AS sum_luma
            FROM px GROUP BY doc_id
        """,
        "events_gapfill_hourly": """
            WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                              date_trunc('hour', max(ts)) AS hi FROM events),
            hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                             AS hour FROM b),
            hourly AS (SELECT date_trunc('hour', ts) AS hour,
                              CAST(count(*) AS BIGINT) AS n,
                              SUM(CAST(value AS DECIMAL(18,6))) AS sv
                       FROM events GROUP BY 1)
            SELECT hours.hour AS hour,
                   COALESCE(n, CAST(0 AS BIGINT)) AS n_events,
                   CAST(COALESCE(sv, 0) AS DOUBLE) AS sum_value
            FROM hours LEFT JOIN hourly ON hours.hour = hourly.hour
        """,
        "events_pivot_daily": (
            "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
            + ", ".join(
                f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
                f" AS BIGINT) AS {t}"
                for t in _EVENT_TYPES
            )
            + " FROM events GROUP BY 1"
        ),
        "events_user_gaps": """
            WITH g AS (
                SELECT user_id,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS gap_us
                FROM events WHERE user_id IS NOT NULL
            )
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                   CAST(SUM(gap_us) AS DOUBLE) / count(*) / 1000000.0
                       AS avg_gap_s,
                   CAST(MAX(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_s
            FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
        """,
        "events_transitions": """
            WITH seq AS (
                SELECT user_id, event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS to_type
                FROM events WHERE user_id IS NOT NULL
            )
            SELECT from_type, to_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(count(*) AS DOUBLE)
                       / CAST(SUM(count(*)) OVER (PARTITION BY from_type)
                              AS DOUBLE) AS p
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        """,
        "docs_hash_split": f"""
            SELECT CASE WHEN substr(md5(text), 1, 2) < '{_SPLIT_TRAIN_HI}' THEN 'train'
                        WHEN substr(md5(text), 1, 2) < '{_SPLIT_VAL_HI}' THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
            FROM documents GROUP BY 1
        """,
        "orders_price_bands": (
            "SELECT band, CAST(count(*) AS BIGINT) AS n_orders,"
            f" CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS revenue"
            " FROM orders JOIN (VALUES "
            + ", ".join(f"('{b}', {lo!r}, {hi!r})" for b, lo, hi in _PRICE_BANDS)
            + ") AS bands(band, lo, hi)"
            " ON o_totalprice >= lo AND o_totalprice < hi GROUP BY band"
        ),
        "docs_top_bigrams": f"""
            WITH w AS (
                SELECT string_split({normalized}, ' ') AS ws
                FROM documents WHERE trim(text) <> ''
            ),
            bg AS (
                SELECT ws[i] || ' ' || ws[i + 1] AS bigram
                FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
                      FROM w)
            ),
            c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n
                  FROM bg GROUP BY 1)
            SELECT bigram, n FROM c
            WHERE n * 50 >= (SELECT count(*) FROM documents)
        """,
        "docs_repetition": f"""
            WITH w AS (
                SELECT doc_id, string_split({normalized}, ' ') AS ws
                FROM documents WHERE trim(text) <> ''
            ),
            t AS (
                SELECT doc_id,
                       list_transform(generate_series(1, len(ws) - 2),
                           i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                           AS tg
                FROM w WHERE len(ws) >= 3
            )
            SELECT doc_id, CAST(len(tg) AS BIGINT) AS n_trigrams,
                   round((len(tg) - len(list_distinct(tg)))
                         / CAST(len(tg) AS DOUBLE), 6) AS dup_frac
            FROM t
        """,
        "docs_gopher_filter": f"""
            WITH b AS (
                SELECT doc_id, {normalized} AS s,
                       string_split({normalized}, ' ') AS ws
                FROM documents WHERE trim(text) <> ''
            )
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   round((length(s) - len(ws) + 1)
                         / CAST(len(ws) AS DOUBLE), 6) AS mean_word_len,
                   round(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                         / CAST(len(ws) AS DOUBLE), 6) AS alpha_word_frac,
                   (len(ws) BETWEEN 10 AND 5000)
                       AND ((length(s) - len(ws) + 1)
                            / CAST(len(ws) AS DOUBLE) BETWEEN 2.0 AND 12.0)
                       AND (len(list_filter(ws,
                                w -> regexp_matches(w, '[a-z]')))
                            / CAST(len(ws) AS DOUBLE) > 0.6) AS keep
            FROM b
        """,
        "lineitem_quantiles": """
            SELECT l_returnflag AS returnflag,
                   round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 6)
                       AS q25,
                   round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6)
                       AS q50,
                   round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 6)
                       AS q75
            FROM lineitem GROUP BY 1
        """,
        "docs_stratified_sample": f"""
            WITH b AS (
                SELECT doc_id,
                       CASE WHEN {n_tokens} < 20 THEN 'short'
                            WHEN {n_tokens} < 100 THEN 'medium'
                            ELSE 'long' END AS band,
                       substr(md5(text), 3, 2) AS bucket
                FROM documents
            )
            SELECT doc_id, band FROM b
            WHERE bucket < CASE band WHEN 'short' THEN '80'
                                     WHEN 'medium' THEN '40'
                                     ELSE '1a' END
        """,
        "docs_lm_oov": f"""
            WITH w AS (
                SELECT doc_id,
                       CASE WHEN substr(md5(text), 1, 2) < '{_SPLIT_TRAIN_HI}' THEN 'train'
                            WHEN substr(md5(text), 1, 2) < '{_SPLIT_VAL_HI}' THEN 'val'
                            ELSE 'test' END AS split,
                       string_split({normalized}, ' ') AS ws
                FROM documents WHERE trim(text) <> ''
            ),
            bg AS (
                SELECT doc_id, split, ws[i] || ' ' || ws[i + 1] AS bigram
                FROM (SELECT doc_id, split, ws,
                             unnest(generate_series(1, len(ws) - 1)) AS i
                      FROM w)
            ),
            lm AS (
                SELECT DISTINCT bigram FROM bg WHERE split = 'train'
            )
            SELECT b.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(COUNT(lm.bigram) AS BIGINT) AS n_seen,
                   round(1.0 - CAST(COUNT(lm.bigram) AS DOUBLE) / COUNT(*),
                         6) AS oov_rate
            FROM bg b LEFT JOIN lm ON b.bigram = lm.bigram
            WHERE b.split <> 'train'
            GROUP BY b.doc_id
        """,
        "docs_split_contamination": f"""
            WITH w AS (
                SELECT CASE WHEN substr(md5(text), 1, 2) < '{_SPLIT_TRAIN_HI}' THEN 'train'
                            WHEN substr(md5(text), 1, 2) < '{_SPLIT_VAL_HI}' THEN 'val'
                            ELSE 'test' END AS split,
                       string_split({normalized}, ' ') AS ws
                FROM documents WHERE trim(text) <> ''
            ),
            bg AS (
                SELECT split, ws[i] || ' ' || ws[i + 1] AS bigram
                FROM (SELECT split, ws,
                             unnest(generate_series(1, len(ws) - 1)) AS i
                      FROM w)
            ),
            fl AS (
                SELECT bigram,
                       MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                           AS in_train,
                       MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                           AS in_test
                FROM bg GROUP BY 1
            )
            SELECT CAST(SUM(in_test) AS BIGINT) AS n_test_bigrams,
                   CAST(SUM(in_test * in_train) AS BIGINT) AS n_contaminated,
                   CAST(SUM(in_test * in_train) AS DOUBLE) / SUM(in_test)
                       AS contamination_rate
            FROM fl
        """,
        "lineitem_corr": f"""
            WITH s AS (
                SELECT l_returnflag,
                       CAST(COUNT(*) AS DOUBLE) AS n,
                       CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS sx,
                       CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE)
                           AS sy,
                       CAST(SUM(CAST(CAST(l_quantity AS {_DEC})
                                     * CAST(l_extendedprice AS {_DEC})
                                     AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
                       CAST(SUM(CAST(CAST(l_quantity AS {_DEC})
                                     * CAST(l_quantity AS {_DEC})
                                     AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
                       CAST(SUM(CAST(CAST(l_extendedprice AS {_DEC})
                                     * CAST(l_extendedprice AS {_DEC})
                                     AS DECIMAL(28,4))) AS DOUBLE) AS syy
                FROM lineitem GROUP BY 1
            )
            SELECT l_returnflag AS returnflag, CAST(n AS BIGINT) AS n_rows,
                   ROUND((n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 12)
                       AS corr_qty_price
            FROM s
        """,
        "events_rolling_7d": """
            SELECT event_id, user_id, ts,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                       PARTITION BY user_id ORDER BY ts
                       RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
                             AND CURRENT ROW
                   ) AS DOUBLE) AS rolling_7d_value
            FROM events
        """,
        "orders_cohorts": f"""
            WITH fo AS (
                SELECT o_custkey, o_orderdate, o_totalprice,
                       MIN(o_orderdate) OVER (PARTITION BY o_custkey)
                           AS first_dt
                FROM orders
            )
            SELECT CAST(date_trunc('month', first_dt) AS TIMESTAMP)
                       AS cohort_month,
                   CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                       AS order_month,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
                   CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE)
                       AS revenue
            FROM fo
            GROUP BY 1, 2
        """,
        "events_value_histogram": """
            SELECT CAST(floor(CAST(value AS DOUBLE) / 50.0) AS BIGINT)
                       AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   MIN(CAST(value AS DOUBLE)) AS lo,
                   MAX(CAST(value AS DOUBLE)) AS hi
            FROM events WHERE value IS NOT NULL GROUP BY 1
        """,
        "emb_label_centroids": """
            WITH e AS (SELECT label, unnest(embedding) AS x,
                              generate_subscripts(embedding, 1) AS pos
                       FROM embeddings),
            s AS (SELECT label, pos - 1 AS pos,
                         SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000.0)
                                  AS BIGINT)) AS sq,
                         CAST(COUNT(*) AS BIGINT) AS n
                  FROM e GROUP BY 1, 2)
            SELECT label, pos,
                   CAST(sq AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
                       AS centroid
            FROM s
        """,
    }
