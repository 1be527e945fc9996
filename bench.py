"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly one JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

The headline set covers every operator family: loader lifecycle
(star-schema auto-load), analytics (agg/join/window/top-k), and the
LLM-pipeline ops (fingerprint dedup, MinHash-LSH near-dup, text
analysis, embedding top-k).  The exact-Jaccard oracle variant is
excluded by design — it is the sf0.01 correctness oracle; MinHash-LSH
is the at-scale path benchmarked here.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod

#: timed repetitions per query; the published number is the MINIMUM
#: (shared noisy host: identical code measures up to 4x apart)
BEST_OF = 4

HEADLINE = [
    "load_star_roundtrip",
    "load_events_star",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_revenue_forecast",
    "q18_large_orders",
    "top_customers_per_nation",
    "orders_monthly",
    "docs_fingerprint_dedup",
    "docs_token_stats",
    "docs_quality",
    "docs_minhash_pairs",
    "emb_cosine_topk",
    "emb_lsh_topk",
    "events_hourly",
    "events_dedup_first",
    "events_sessionize",
    "media_byte_stats",
]

#: the ×10 scale-tracking subset: one query per operator family whose
#: scaling SCALE.md argues about, small enough to keep bench wall time
#: bounded (best-of-2 at the blown-up corpus)
X10_SUBSET = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "q18_large_orders",
    "load_events_star",
    "docs_fingerprint_dedup",
    "docs_minhash_pairs",
    "docs_token_stats",
    "emb_cosine_topk",
    "events_sessionize",
    # round 16: both received scale-motivated changes in r15 (shared
    # banded exchange / LocalRelation broadcast) whose payoff is at x10;
    # tracking them here makes the scale side mechanically visible
    "emb_lsh_topk",
    "media_byte_stats",
]


def _steal_snapshot() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from the aggregate /proc/stat cpu line.

    Round 16 telemetry: the container shares a hypervisor and /proc/stat
    sampling during r15 showed 15-26% steal bursts that ballooned
    32-task barrier stages 2-5x.  Sampling around each query (not just
    the pre-loop calibration job) lets a reader separate "code got
    slower" from "the host was stolen during this query's reps".
    Read failures return (0, 0) — telemetry must never fail the bench.
    """
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:]]
        # fields: user nice system idle iowait irq softirq steal ...
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except Exception:  # noqa: BLE001 — telemetry only
        return 0, 0


def _steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Percent of elapsed cpu ticks stolen between two snapshots."""
    dsteal = after[0] - before[0]
    dtotal = after[1] - before[1]
    if dtotal <= 0:
        return 0.0
    return round(100.0 * dsteal / dtotal, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from pyspark.sql import SparkSession

    from sql_autoloader_spark.streaming.pipeline import ROCKSDB_PROVIDER

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sql_autoloader_spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the session settings the loader's plans and the stateful
        # stream queries were measured under (OPERATIONS.md)
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sql_autoloader_spark.logutil import silence_benign_scheduler_spam
    silence_benign_scheduler_spam(spark)

    # Untimed warmup: touch every table and JIT the operator classes
    # (codegen, Arrow, shuffle paths) with trivial work so the timed
    # numbers measure the queries, not first-use JVM compilation.
    from pyspark.sql import functions as F

    for t in entry_mod._TABLES:
        entry_mod._t(spark, sf_dir, t).limit(1).count()
    warm = entry_mod._t(spark, sf_dir, "region")
    warm.groupBy("r_name").count().count()
    warm.alias("a").join(warm.alias("b"), on="r_regionkey").count()
    warm.select(F.md5(F.col("r_name"))).count()
    warm.select(
        F.transform(F.split("r_name", " "), lambda x: F.xxhash64(x))
    ).count()
    warm.select(
        F.regexp_replace(F.lower("r_name"), "[^a-z0-9\\s]", " ")
    ).count()
    # warm the loader lifecycle (anti-join, window keys, checkpoint paths)
    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    wdb = SparkConnector(spark)
    wdb.execute_ddl(
        "CREATE TABLE __warm_a (id INTEGER PRIMARY KEY, a TEXT UNIQUE);"
        "CREATE TABLE __warm_b (a_id INTEGER REFERENCES __warm_a (id),"
        " b TEXT UNIQUE);"
    )
    with wdb:
        wdb.load(
            spark.createDataFrame([("x", "y")], "a string, b string")
        )

    # Host-load calibration (round 12): a fixed synthetic job — 32
    # input partitions, one hash-aggregate shuffle over 20M rows —
    # timed best-of-3 right before the headline loop.  The container
    # shares a noisy host and identical code has measured up to ~25%
    # apart across rounds; the calibration number captures the host's
    # throughput AT MEASUREMENT TIME, so cross-round comparisons can
    # be stated as calibration-normalized ratios (BASELINE.md) instead
    # of re-running benches side by side to separate load from
    # regression.
    def calibration_job() -> float:
        t0 = time.time()
        (
            spark.range(0, 20_000_000, 1, 32)
            .selectExpr("id % 100000 AS k", "id AS v")
            .groupBy("k")
            .agg(F.sum("v").alias("s"))
            .count()
        )
        return time.time() - t0

    calibration_job()  # untimed: the first rep measures JIT, not the host
    cal_s0 = _steal_snapshot()
    calibration = round(min(calibration_job() for _ in range(5)), 3)
    calibration_steal = _steal_pct(cal_s0, _steal_snapshot())

    # overlay: time the pure LSH scale paths, not the registered
    # recall certificates (which embed quadratic exact twins)
    queries = {**entry_mod.queries(), **entry_mod.scale_path_queries()}
    timings: dict[str, float] = {}
    steal: dict[str, float] = {}
    for name in HEADLINE:
        # the minimum measures the code, the rest measure the neighbors
        best, n = None, 0
        s0 = _steal_snapshot()
        for _ in range(BEST_OF):
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            n = df.count()
            elapsed = time.time() - t0
            best = elapsed if best is None else min(best, elapsed)
        steal[name] = _steal_pct(s0, _steal_snapshot())
        timings[name] = round(best, 3)
        print(f"# {name}: {n} rows in {timings[name]}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)

    # ×10 scale tracking (round 14): the sf1-equivalent CORRECTNESS
    # gate ran once (r13); this keeps scale PERFORMANCE tracked
    # per-round so regressions surface mechanically, like calibration
    # did for host load.  A representative headline subset runs on the
    # 10×-replicated corpus (tools/scale_probe.build_blowup — disjoint
    # key offsets, cached under /tmp across runs); best-of-2 keeps the
    # added wall time bounded.  Disable with SPARK_GRAFT_X10=0.
    x10_timings: dict[str, float] = {}
    x10_steal: dict[str, float] = {}
    x10_total = None
    if os.environ.get("SPARK_GRAFT_X10", "1") != "0":
        try:
            from tools import scale_probe

            os.makedirs(scale_probe.OUT, exist_ok=True)
            scale_probe.build_blowup(spark)
            for name in X10_SUBSET:
                best = None
                s0 = _steal_snapshot()
                for _ in range(2):
                    t0 = time.time()
                    queries[name](spark, scale_probe.OUT).count()
                    elapsed = time.time() - t0
                    best = elapsed if best is None else min(best, elapsed)
                x10_steal[name] = _steal_pct(s0, _steal_snapshot())
                x10_timings[name] = round(best, 3)
                print(
                    f"# x10 {name}: {x10_timings[name]}s", file=sys.stderr
                )
            x10_total = round(sum(x10_timings.values()), 3)
        except Exception as exc:  # noqa: BLE001 — bench must still report
            print(f"# x10 probe failed: {exc}", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "best_of": BEST_OF,
                "calibration": calibration,
                "calibration_steal_pct": calibration_steal,
                "queries": timings,
                "queries_steal_pct": steal,
                "sf": sf,
                "headline_total_x10": x10_total,
                "queries_x10": x10_timings,
                "queries_x10_steal_pct": x10_steal,
            }
        )
    )


if __name__ == "__main__":
    main()
