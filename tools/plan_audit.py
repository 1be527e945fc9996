"""Generate PLANS.md: physical-plan audit of every registered query.

For each query: parquet filter pushdown, scan schema width, join
strategies (static AND final-AQE — each query is executed and the
adaptive plan that actually ran is audited), and exchange count at
sf0.001 — the evidence that filters reach the scan, dimensions
broadcast, and nothing falls back to a cartesian product.  Regenerate
after plan-affecting changes: ``python tools/plan_audit.py``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
# streaming/lifecycle queries execute work on construction; plans of the
# *returned* frame are not the interesting part — skip them here.  The
# loader queries return the compare's pinned reconstruction (a cache
# scan); the loader's own join quality — broadcast dim fetch, final-AQE
# conversion of the generated compare join — is asserted directly in
# tests/test_plans.py::test_loader_fact_merge_broadcasts_dim_fetch.
SKIP = {
    "events_stream_hourly",
    "events_stream_autoload",
    "events_stream_sessions",
    "docs_stream_fuzzy_dedup",  # runs the whole stream on build
    "load_star_roundtrip",
    "load_star3_roundtrip",
    "load_events_star",
    "load_vacuum_maintenance",  # full maintenance lifecycle on build
    "load_snapshot_diff",  # two loads + pinned aggregate on build
    "load_incremental_rollup",  # two loads + pinned summaries on build
    "docs_orc_roundtrip",  # writes/reads ORC on build; returns a pin
    "docs_dup_clusters",  # iterative: label rounds execute on build
    "docs_dedup_keep_best",
}


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from sql_autoloader_spark.streaming.pipeline import ROCKSDB_PROVIDER

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        # the session settings the loader's plans and the stateful
        # stream queries were measured under (OPERATIONS.md)
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sql_autoloader_spark.logutil import silence_benign_scheduler_spam
    silence_benign_scheduler_spam(spark)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    lines = [
        "# PLANS — physical-plan audit (auto-generated)",
        "",
        "`python tools/plan_audit.py` regenerates this file.  Per query:",
        "join strategies chosen by Catalyst, exchange (shuffle) count,",
        "whether Python appears in the plan, and every parquet scan's",
        "pushed filters — the properties SCALE.md argues from, checked",
        "mechanically (regression-tested for key queries in",
        "tests/test_plans.py).",
        "",
        "`joins` is the static plan; `aqe_final` is the join set in the",
        "adaptive plan after execution (what actually ran — AQE converts",
        "sort-merge to broadcast/shuffled-hash once runtime sizes are",
        "known).",
        "",
        "| query | joins | aqe_final | exchanges | python | pushed filters (beyond IsNotNull) |",
        "|---|---|---|---|---|---|",
    ]
    for name, fn in entry_mod.queries().items():
        if name in SKIP:
            lines.append(
                f"| {name} | (lifecycle/streaming — executes on build) | | | | |"
            )
            continue
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(mode)
        # count UNIQUE operator ids: formatted explain reprints a cached
        # (InMemoryRelation) subtree under every scan that reads it, so a
        # raw substring count overstates pinned pipelines several-fold
        # (the pre-fix PLANS.md "24 exchanges" on the signature pipelines
        # was mostly this artifact)
        def uniq(op: str) -> int:
            # tree lines are "Name [modifiers] (id)" — e.g.
            # "BroadcastHashJoin Inner BuildRight (75)", "Exchange (53)"
            return len(
                set(re.findall(rf"(?<![A-Za-z]){op}\b[^\n(]*\((\d+)\)", plan))
            )

        bhj = uniq("BroadcastHashJoin")
        smj = uniq("SortMergeJoin")
        bnl = uniq("BroadcastNestedLoopJoin")
        exch = uniq("Exchange") + uniq("BroadcastExchange")
        py = (
            "arrow"
            if "ArrowEvalPython" in plan
            or "MapInPandas" in plan
            or "FlatMapGroupsInArrow" in plan
            else ("row!" if "BatchEvalPython" in plan else "—")
        )
        joins = ", ".join(
            p
            for p, n in [("BHJ", bhj), ("SMJ", smj), ("BNLJ", bnl)]
            if n
            for p in [f"{p}×{n}"]
        ) or "—"
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        interesting = sorted(
            {
                f.strip()
                for grp in pushed
                for f in re.split(r",\s*(?=[A-Z][A-Za-z]*\()", grp)
                if f.strip() and not f.strip().startswith("IsNotNull")
            }
        )
        shown = "; ".join(interesting)[:120] or "—"

        # execute, then audit the adaptive plan that actually ran
        def final_joins(frame):  # noqa: ANN001, ANN202
            frame.collect()
            text = (
                frame._jdf.queryExecution()
                .executedPlan()
                .toString()
                .split("Initial Plan")[0]
            )
            if not text.strip():
                msg = f"no final plan captured for {name}"
                raise RuntimeError(msg)
            counted = ", ".join(
                f"{p}×{n}"
                for p, n in [
                    ("BHJ", text.count("BroadcastHashJoin")),
                    ("SMJ", text.count("SortMergeJoin")),
                    ("SHJ", text.count("ShuffledHashJoin")),
                    ("BNLJ", text.count("BroadcastNestedLoopJoin")),
                ]
                if n
            )
            return text, counted

        final, fjoins = final_joins(df)
        if not fjoins and joins != "—":
            if "EmptyRelation" not in final:
                msg = (
                    f"{name}: static plan has joins but the executed "
                    "plan has none and no empty-input collapse explains "
                    "it — audit tool failed to capture the final plan"
                )
                raise RuntimeError(msg)
            # the query's input is EMPTY at the audit SF, so AQE's
            # empty-relation propagation legitimately deleted every
            # physical join — re-run one SF up for a representative
            # final plan instead of reporting a hole
            _, fjoins = final_joins(fn(spark, "/root/testdata/sf0.01"))
            fjoins = (fjoins or "—") + " (sf0.01)"
        lines.append(
            f"| {name} | {joins} | {fjoins or '—'} | {exch} | {py} | {shown} |"
        )

    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(lines)} lines)")


if __name__ == "__main__":
    main()
