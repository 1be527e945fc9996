"""Plan-quality regression tests: the physical plans the engine relies
on at 100 TB — parquet filter pushdown, column pruning, and broadcast
join selection — asserted at sf0.001 so a refactor cannot silently
regress them (see SCALE.md)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def plans(spark: SparkSession) -> dict[str, str]:
    queries = entry_mod.queries()
    names = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "q6_revenue_forecast",
        "docs_token_stats",
        "docs_pii_scrub",
    ]
    return {n: formatted_plan(queries[n](spark, SF_DIR)) for n in names}


def test_filters_pushed_to_parquet_scan(plans: dict[str, str]) -> None:
    assert "LessThanOrEqual(l_shipdate" in plans["q1_pricing_summary"]
    assert "EqualTo(c_mktsegment,BUILDING)" in plans["q3_shipping_priority"]
    assert "EqualTo(r_name,ASIA)" in plans["q5_region_revenue"]
    assert "GreaterThanOrEqual(l_shipdate" in plans["q6_revenue_forecast"]


def test_columns_pruned_at_scan(plans: dict[str, str]) -> None:
    """The q1 lineitem scan must not read join keys it never uses."""
    schemas = re.findall(r"ReadSchema: (\S+)", plans["q1_pricing_summary"])
    assert schemas, "no ReadSchema in plan"
    assert all("l_orderkey" not in s and "l_partkey" not in s for s in schemas)
    # the q5 customer scan reads only the two join keys
    cust = [
        s
        for s in re.findall(r"ReadSchema: (\S+)", plans["q5_region_revenue"])
        if "c_custkey" in s
    ]
    assert cust and all("c_name" not in s and "c_acctbal" not in s for s in cust)


def test_dimension_joins_broadcast(plans: dict[str, str]) -> None:
    """Multi-way star joins must pick broadcast-hash for dimensions, not
    shuffle both sides (sort-merge) at this scale."""
    assert plans["q5_region_revenue"].count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plans["q5_region_revenue"]
    assert plans["q3_shipping_priority"].count("BroadcastHashJoin") >= 2


def test_text_ops_stay_single_stage(plans: dict[str, str]) -> None:
    """Text analysis is a pure map pipeline: no exchange, no UDF."""
    for name in ("docs_token_stats", "docs_pii_scrub"):
        assert "Exchange" not in plans[name]
        assert "BatchEvalPython" not in plans[name]
        assert "ArrowEvalPython" not in plans[name]


def test_span_ops_no_python_no_cartesian(spark: SparkSession) -> None:
    """The span-level dedup plans must stay JVM-side (no Python stages —
    the n-gram construction is array expressions) and never fall back to
    a cartesian/nested-loop join: both sides of the gram join are
    distinct on the gram, so Catalyst must plan an equi-join."""
    queries = entry_mod.queries()
    for name in ("docs_dupspan_coverage", "docs_split_span_leakage"):
        plan = formatted_plan(queries[name](spark, SF_DIR))
        assert "Python" not in plan, f"{name}: Python stage in plan"
        assert "CartesianProduct" not in plan, f"{name}: cartesian join"
        assert "BroadcastNestedLoop" not in plan, f"{name}: BNLJ fallback"


def test_range_join_broadcasts_band_table(spark: SparkSession) -> None:
    """The non-equi price-band join must broadcast the 5-row dimension —
    never shuffle or cartesian the fact side."""
    plan = formatted_plan(
        entry_mod.queries()["orders_price_bands"](spark, SF_DIR)
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_gapfill_calendar_broadcasts(spark: SparkSession) -> None:
    """The generated hourly calendar is the broadcast side; the events
    aggregate is the only shuffle."""
    plan = formatted_plan(
        entry_mod.queries()["events_gapfill_hourly"](spark, SF_DIR)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hash_split_is_single_aggregation(spark: SparkSession) -> None:
    """The md5 split never shuffles the corpus by document — only the
    3-row split aggregate exchanges."""
    plan = formatted_plan(entry_mod.queries()["docs_hash_split"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # partial aggregate before the exchange: map-side combine is on
    assert re.search(r"HashAggregate.*\n(.|\n)*Exchange", plan)


def test_bucketed_join_has_no_exchange(spark: SparkSession) -> None:
    """Two tables bucketed on the same key join with zero runtime
    shuffle AND zero sort — the write-time bucketing paid it once."""
    from sql_autoloader_spark.functions import scale

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    scale.write_bucketed(cust, "bkt_customer", keys=["c_custkey"], num_buckets=4)
    scale.write_bucketed(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        "bkt_orders",
        keys=["c_custkey"],
        num_buckets=4,
    )
    # at sf0.001 both sides fit the broadcast threshold, which would hide
    # the bucketing; disable it to surface the big-table plan shape
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_customer").join(
            spark.table("bkt_orders"), "c_custkey"
        )
        plan = formatted_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan


def test_prefix_sum_matches_single_partition_window(
    spark: SparkSession,
) -> None:
    """The distributed running sum must equal the single-partition
    window form exactly, and its plan must contain no empty-frame
    global window (every Window has a partition key)."""
    from pyspark.sql.window import Window

    from sql_autoloader_spark.functions import scale

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    got = {
        r["id"]: r["cumsum"]
        for r in scale.prefix_sum(
            df, order_by=["id"], value_col="v"
        ).collect()
    }
    want = {
        r["id"]: r["c"]
        for r in df.withColumn(
            "c",
            F.sum("v").over(
                Window.orderBy("id").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        ).collect()
    }
    assert got == want
    # simple mode keeps each Window's full spec on its own line
    plan = (
        scale.prefix_sum(df, order_by=["id"], value_col="v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only global (unpartitioned) ordering allowed is over the
    # one-row-per-partition offsets frame, never over the input rows
    for line in plan.splitlines():
        if "Window" in line and "__tot" not in line:
            # partitioned windows print "], [__pid#N], [<order>";
            # a global window has only the order spec group
            assert re.search(r"\], \[__pid#\d+\]", line), (
                f"global window over input rows: {line}"
            )


def test_prefix_sum_nulls_and_negatives(spark: SparkSession) -> None:
    """NULL values contribute 0 (position preserved); negative values
    and a non-contiguous, shuffled order key must still produce the
    exact single-partition-window result."""
    from pyspark.sql.window import Window

    from sql_autoloader_spark.functions import scale

    rows = [(7, 3), (1, None), (100, -5), (42, 0), (9, None), (-3, 11)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(5)
    got = {
        r["id"]: r["cumsum"]
        for r in scale.prefix_sum(
            df, order_by=["id"], value_col="v"
        ).collect()
    }
    want = {
        r["id"]: r["c"]
        for r in df.withColumn(
            "c",
            F.sum(F.coalesce("v", F.lit(0))).over(
                Window.orderBy("id").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        ).collect()
    }
    assert got == want


def test_salted_join_matches_plain_join(spark: SparkSession) -> None:
    """Salting must not change results: same rows as the plain join,
    fact rows spread across (key, salt) sub-keys."""
    from sql_autoloader_spark.functions import scale

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    plain = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select("o_orderkey", "c_name")
    salted = scale.salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        cust,
        on="c_custkey",
        n_salts=4,
    ).select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_loader_fact_merge_broadcasts_dim_fetch(
    spark: SparkSession, monkeypatch: pytest.MonkeyPatch
) -> None:
    """The loader's key-retrieval merge must broadcast the dimension key
    fetch (fact ⟕ dim, BuildRight) — never shuffle the fact side into a
    SortMergeJoin — and the generated compare's final AQE plan must not
    sort-merge either (the dim side converts to a hash build at runtime)."""
    import sql_autoloader_spark.connectors.base as base_mod
    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
    from sql_autoloader_spark.ops import dataframe_ops as ops

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE pl_etype (id INTEGER PRIMARY KEY, event_type TEXT UNIQUE);
        CREATE TABLE pl_event (
            event_id BIGINT,
            etype_id INTEGER REFERENCES pl_etype (id),
            value DOUBLE
        );
        """
    )
    merged = []
    orig = ops.merge_join

    def spy(data, db_data):  # noqa: ANN001, ANN202
        frame = orig(data, db_data)
        merged.append(frame)
        return frame

    monkeypatch.setattr(base_mod.ops, "merge_join", spy)
    with db:
        db.load(ev)

    assert merged, "no merge ran"
    merge_plan = merged[0]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in merge_plan
    assert "SortMergeJoin" not in merge_plan

    cmp_df = spark.sql(
        db.schema.get_compare_query(
            ["event_type", "event_id", "value"], quote="`"
        )
    )
    cmp_df.collect()
    final = cmp_df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    final_section = final.split("Initial Plan")[0]
    assert "SortMergeJoin" not in final_section


def test_zorder_value_domain_and_validation(spark: SparkSession) -> None:
    """zorder_value: bigint in [0, 2^(bits*ncols)), numeric columns
    quantize monotonically (larger value never gets a smaller bucket in
    its own dimension), string columns take the hashed-equality path
    (equal strings -> equal contribution), and impossible bit widths
    are rejected up front."""
    import pytest

    from sql_autoloader_spark.functions import scale

    df = spark.createDataFrame(
        [(0, "a"), (5_000, "b"), (9_999, "a"), (None, None)],
        "x long, s string",
    )
    out = df.select(
        "x", "s", scale.zorder_value(df, ["x", "s"]).alias("z")
    ).collect()
    assert all(0 <= r["z"] < 1 << 16 for r in out)
    # equal strings contribute identically: rows 'a'/x=0 and 'a'/x=9999
    # differ only through x's interleaved bits (even positions for col 0)
    by_key = {(r["x"], r["s"]): r["z"] for r in out}
    odd_mask = sum(1 << (2 * j + 1) for j in range(8))
    assert (by_key[(0, "a")] & odd_mask) == (by_key[(9_999, "a")] & odd_mask)
    # monotone numeric quantization in the x dimension
    even = {k: v & ~odd_mask for k, v in by_key.items()}
    assert even[(0, "a")] <= even[(5_000, "b")] <= even[(9_999, "a")]
    # NULLs quantize to bucket 0 in BOTH dimensions (numeric and
    # hashed): the all-NULL row's z-value is exactly 0
    assert by_key[(None, None)] == 0

    with pytest.raises(ValueError, match="63 usable"):
        scale.zorder_value(df, ["x"] * 8, bits=8)
    with pytest.raises(ValueError, match="at least one column"):
        scale.zorder_value(df, [])


def test_zorder_value_date_and_timestamp_columns(
    spark: SparkSession,
) -> None:
    """Date columns have no direct double cast in Spark — zorder_value
    must route them through timestamp; both temporal types quantize
    monotonically."""
    from pyspark.sql import functions as F

    from sql_autoloader_spark.functions import scale

    df = spark.createDataFrame(
        [("2024-01-01", "2024-01-01 00:00:00"),
         ("2024-06-15", "2024-06-15 12:00:00"),
         ("2024-12-31", "2024-12-31 23:59:59")],
        "d string, ts string",
    ).select(
        F.col("d").cast("date").alias("d"),
        F.col("ts").cast("timestamp").alias("ts"),
        # TIMESTAMP_NTZ is what DuckDB-written parquet carries; Spark
        # rejects a direct ntz->double cast just like date
        F.col("ts").cast("timestamp_ntz").alias("tsn"),
    )
    out = df.select(
        "d", scale.zorder_value(df, ["d", "ts", "tsn"], bits=4).alias("z")
    ).orderBy("d").collect()
    zs = [r["z"] for r in out]
    assert all(0 <= z < 1 << 12 for z in zs)
    assert zs == sorted(zs)  # all dims grow together here -> monotone z


def test_aqe_skew_join_split_fires_on_planted_hot_key(
    spark: SparkSession,
) -> None:
    """The 100 TB risk surface for fact-fact joins is one hot key: AQE's
    runtime skew-join split must actually FIRE (not just be enabled) on
    a planted 60%-hot key, asserted from the final adaptive plan
    (``SortMergeJoin(skew=true)`` + a ``skewed`` AQEShuffleRead).
    Thresholds are scaled down so the same mechanism that splits a
    multi-GB partition at cluster scale splits this test's hot
    partition; correctness is pinned against the AQE-off plain join."""
    conf = spark.conf
    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    prev = {k: conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            conf.set(k, v)
        # fact side: 300k rows, 60% on ONE key; other side: unique keys
        fact = spark.range(300_000).select(
            F.when(F.col("id") % 5 < 3, F.lit(0))
            .otherwise(F.col("id") % 5_000)
            .alias("k"),
            (F.col("id") * 7).alias("v"),
        )
        other = spark.range(5_000).select(
            F.col("id").alias("k"), (F.col("id") + 1).alias("w")
        )
        agg = fact.join(other, "k").agg(
            F.count("*").alias("n"), F.sum("v").alias("sv")
        )
        (row,) = agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan  # the AQEShuffleRead was split
        # unique build keys: every fact row survives exactly once
        assert row["n"] == 300_000
        assert row["sv"] == 7 * (300_000 - 1) * 300_000 // 2
    finally:
        for k, p in prev.items():
            if p is None:
                conf.unset(k)
            else:
                conf.set(k, p)


def test_range_bucket_deterministic_and_monotone(
    spark: SparkSession,
) -> None:
    """The bucket id must be a pure function of the data (round 10:
    the repartitionByRange + spark_partition_id form silently corrupted
    prefix sums whenever Catalyst failed to reuse the range exchange —
    each branch re-sampled boundaries over a shuffle-nondeterministic
    input).  Evaluating the expression in two INDEPENDENT plans over an
    aggregate (nondeterministic-layout) input must agree row-for-row,
    and ids must be non-decreasing in key order with NULL keys in
    bucket 0."""
    from sql_autoloader_spark.functions import scale

    base = (
        spark.range(0, 5000)
        .select((F.col("id") % 2500).alias("k"), F.lit(1).alias("one"))
        .groupBy("k")
        .agg(F.sum("one").alias("v"))
        .withColumn(
            "k", F.when(F.col("k") == 7, F.lit(None)).otherwise(F.col("k"))
        )
    )
    bucket = scale.range_bucket(base, ["k"], 8)
    a = {r["k"]: r["b"] for r in base.withColumn("b", bucket).collect()}
    b = {r["k"]: r["b"] for r in base.withColumn("b", bucket).collect()}
    assert a == b  # recompute-safe
    assert a[None] == 0  # NULL keys sort first
    ordered = [a[k] for k in sorted(k for k in a if k is not None)]
    assert ordered == sorted(ordered)  # monotone in key order
    assert len(set(ordered)) > 1  # genuinely bucketed, not degenerate


def test_prefix_sum_plan_has_no_physical_partition_id(
    spark: SparkSession,
) -> None:
    """prefix_sum must not derive its bucket from physical placement:
    no spark_partition_id and no range repartition anywhere in the
    plan (the split-brain ingredients), and the composition over an
    upstream aggregate must match the single-partition window exactly."""
    from pyspark.sql.window import Window

    from sql_autoloader_spark.functions import scale

    agg = (
        spark.range(0, 4000)
        .select((F.col("id") % 2000).alias("k"), F.lit(1).alias("one"))
        .groupBy("k")
        .agg(F.sum("one").alias("v"))
    )
    out = scale.prefix_sum(agg, order_by=["k"], value_col="v")
    got = {r["k"]: r["cumsum"] for r in out.collect()}
    want = {
        r["k"]: r["c"]
        for r in agg.withColumn(
            "c",
            F.sum("v").over(
                Window.orderBy("k").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        ).collect()
    }
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "spark_partition_id" not in plan
    assert "rangepartitioning" not in plan.lower()

def test_range_bucket_balanced_on_clustered_input(
    spark: SparkSession,
) -> None:
    """Boundary sampling must cover the WHOLE key space even when the
    input is physically key-clustered (time/id-ordered ingest — the
    common case).  The round-10 ``sample().limit()`` form
    short-circuited on the first partitions, drew every boundary from
    the low end, and collapsed nearly all rows into the last bucket —
    degenerating the distributed ranking back into one hot task.  The
    hash-ordered global take (TakeOrdered over every partition) must
    keep the largest bucket within a small factor of the mean, and a
    cheap ``sample_from`` hint frame must be honored."""
    from sql_autoloader_spark.functions import scale

    # spark.range is id-ordered across partitions: partition 0 holds
    # the lowest ids — exactly the clustered layout that broke limit()
    clustered = spark.range(0, 200_000, 1, 16).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    n_parts = 8
    counts = {
        r["b"]: r["n"]
        for r in clustered.withColumn(
            "b", scale.range_bucket(clustered, ["k"], n_parts)
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(counts) >= n_parts // 2  # genuinely spread, not 1-2 buckets
    mean = 200_000 / len(counts)
    assert max(counts.values()) < 3 * mean, counts

    # sample_from: boundaries drawn from a hint frame give the same
    # guarantees (monotone, balanced) without touching df's lineage
    hint = spark.range(0, 200_000, 1, 16).select(F.col("id").alias("k"))
    b2 = scale.range_bucket(clustered, ["k"], n_parts, sample_from=hint)
    counts2 = {
        r["b"]: r["n"]
        for r in clustered.withColumn("b", b2)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert max(counts2.values()) < 3 * (200_000 / len(counts2)), counts2

def test_exchange_count_ceilings(spark: SparkSession) -> None:
    """Shuffle budgets for the most expensive registered queries,
    pinned so a plan regression fails tests instead of waiting for a
    PLANS.md re-read.  Ceilings are the counts plan_audit measures
    today (PLANS.md); UNIQUE operator ids are counted because
    formatted explain reprints a cached subtree under every scan that
    reads it (a raw substring count overstates pinned pipelines
    several-fold)."""
    ceilings = {
        "docs_training_pipeline": 6,
        "docs_pack_sequences": 4,
        # 12 since round 12: +1 keyed window exchange for the
        # exact-content compression (groups byte-identical assets
        # before LSH — the fix for capped buckets splitting identical
        # groups; it also SHRINKS the quadratic-risk LSH input to the
        # distinct-vector set)
        "media_neardup": 12,
        # r16: +1 for the deliberate under-split-corpus spread before
        # the hyperplane-signature stage (guide §2.5 — no-op at real
        # scale, raw-row shuffle at fixture scale; same guard as
        # lsh_topk/minhash/fingerprint)
        "emb_neardup_lsh": 8,
        "q8_market_share": 7,
        "q21_sole_returned_supplier": 7,
        # r12: the capped pigeonhole scale path (the certificate's
        # uncapped brute-force twin is deliberately not ceilinged)
        "docs_simhash_pairs": 6,
        # r12: the fingerprint map is a pure zero-shuffle projection
        "docs_rolling_fp": 0,
        # r13: one data-sized exchange (the source window) + the tiny
        # mass/feasible aggregates and two broadcasts of budget rows
        "docs_mixture_weights": 6,
        # r15: ONE deliberate (band, bucket) repartition feeding both
        # self-join sides from cache, ONE pair-set exchange (the
        # repartition(id_a) serves both the candidate dedup and the
        # first verify join), the verify joins' sh-side exchanges.
        # (The cached repartition reprints under each InMemoryRelation
        # reference, so the unique-id count includes it per reference —
        # the executed plan materializes it once.)
        "docs_minhash_pairs": 5,
    }
    # the overlay points the LSH names at their pure scale paths — the
    # registered certificates embed quadratic exact twins by design,
    # and the ceilings guard the scale path
    queries = {**entry_mod.queries(), **entry_mod.scale_path_queries()}
    for name, ceiling in ceilings.items():
        plan = formatted_plan(queries[name](spark, SF_DIR))
        got = len(
            set(
                re.findall(
                    r"(?<![A-Za-z])(?:Broadcast)?Exchange\b[^\n(]*\((\d+)\)",
                    plan,
                )
            )
        )
        assert got <= ceiling, (
            f"{name}: {got} unique exchanges > pinned ceiling {ceiling}"
        )


def test_lsh_pair_respread_survives_aqe(spark: SparkSession) -> None:
    """The LSH candidate-pair dedup must feed scoring through an
    EXPLICIT-width repartition (REPARTITION_BY_NUM): AQE sizes the
    distinct's output by bytes, and a ~16 B/pair list coalesces to ONE
    partition while the downstream stage computes a dim-length cosine
    per row — measured x10 (r16): one 2.76 s single-task stage in a
    4.2 s query, 31 cores idle; with the explicit respread the query
    reads 1.4-1.7 s.  REPARTITION_BY_NUM is the one origin AQE may not
    re-coalesce, so this pin fails if the repartition loses its
    explicit width."""
    queries = {**entry_mod.queries(), **entry_mod.scale_path_queries()}
    plan = formatted_plan(queries["emb_lsh_topk"](spark, SF_DIR))
    assert "REPARTITION_BY_NUM" in plan


def test_minhash_banded_self_join_shares_one_exchange(
    spark: SparkSession,
) -> None:
    """The LSH banded self-join consumes ONE deliberate cached
    (band, bucket) repartition on both sides — the planner must not add
    its own ensured exchanges of the banded frame (r15: replacing the
    two ensured self-join exchanges with the shared cached one measured
    3.7 s → 2.5 s on the x10 corpus)."""
    queries = {**entry_mod.queries(), **entry_mod.scale_path_queries()}
    plan = formatted_plan(queries["docs_minhash_pairs"](spark, SF_DIR))
    assert "REPARTITION_BY_COL" in plan  # the deliberate shared exchange
    ensured_band = set(
        re.findall(
            r"Exchange hashpartitioning\(band[^\n]*ENSURE_REQUIREMENTS"
            r"[^\n]*\((\d+)\)",
            plan,
        )
    )
    assert not ensured_band, (
        f"banded self-join regained ensured exchanges: {ensured_band}"
    )


def test_minhash_tokenizes_each_doc_once(spark: SparkSession) -> None:
    """MinHash tokenizes and hashes each document once: every
    ``split(`` of the executed plan feeds the one fused Arrow front
    (one per ``MapInArrow``; the cached front reprints under each
    reference), no short-doc ``Filter`` over ``size(transform(…))``
    is pushed below the token-hash projection to tokenize the doc a
    second time, and no per-row Arrow UDF runs beside the front."""
    queries = {**entry_mod.queries(), **entry_mod.scale_path_queries()}
    df = queries["docs_minhash_pairs"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    fronts = plan.count("MapInArrow")
    assert fronts > 0
    assert plan.count("split(") == fronts
    assert not re.search(r"Filter[^\n]*size\(transform\(", plan)
    assert "ArrowEvalPython" not in plan


def test_runtime_bloom_filter_injected_on_selective_nonbroadcast_join(
    spark: SparkSession, tmp_path
) -> None:
    """Spark's runtime bloom filter must stay ON for the engine's
    fact-dim shapes: when the dim side is too big to broadcast but
    carries a selective filter, the optimizer injects a
    bloom_filter_agg on the dim keys and a might_contain guard on the
    FACT scan side — at 100 TB that prunes most of the fact side's
    shuffle input before the exchange, the cheapest rows being the
    ones never shuffled.  Pinned here (with the size thresholds scaled
    down to the fixture, same technique as the AQE skew-split pin) so
    a session-conf regression or Spark upgrade cannot silently lose
    the rewrite; results are pinned against the un-filtered run."""
    fact_p = str(tmp_path / "fact")
    dim_p = str(tmp_path / "dim")
    spark.range(0, 200_000).selectExpr(
        "id % 10000 AS k", "id AS payload"
    ).write.parquet(fact_p)
    spark.range(0, 10_000).selectExpr(
        "id AS k", "id % 100 AS grp"
    ).write.parquet(dim_p)
    lowered = {
        # fixture-scaled: let the tiny dim side qualify as a creation
        # side and the tiny fact side as an application side
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # force a non-broadcast join: broadcast would subsume the bloom
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {
        k: spark.conf.get(k, None) for k in (*lowered, _BLOOM_ENABLED)
    }
    try:
        for k, v in lowered.items():
            spark.conf.set(k, v)
        spark.conf.set(_BLOOM_ENABLED, "true")
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).where("grp = 3")
        j = fact.join(dim, "k").agg(
            F.sum("payload").alias("s"), F.count("*").alias("n")
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
        got = j.collect()[0]
        spark.conf.set(_BLOOM_ENABLED, "false")
        want = (
            spark.read.parquet(fact_p)
            .join(spark.read.parquet(dim_p).where("grp = 3"), "k")
            .agg(F.sum("payload").alias("s"), F.count("*").alias("n"))
            .collect()[0]
        )
        assert (got["s"], got["n"]) == (want["s"], want["n"])
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_BLOOM_ENABLED = "spark.sql.optimizer.runtime.bloomFilter.enabled"
