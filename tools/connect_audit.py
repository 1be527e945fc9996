"""Static Spark Connect compatibility audit of the package source.

Spark Connect sessions have no JVM gateway: ``DataFrame._jdf``,
``SparkSession._jvm``, ``sparkContext`` (and everything hanging off
it), and ``DataFrame.rdd`` all raise.  grpcio is absent in this
container, so a live Connect smoke test is impossible — this audit is
the strongest *checkable* form of the compatibility claim
(functions/scale.py documents it for ``range_bucket``): walk every
non-test module's AST, find each classic-only attribute touch, map it
to its enclosing function, and classify it:

- ``core-clean`` modules (the data-plane operators and the planner —
  everything a Connect user would run) must have ZERO unguarded
  touches;
- ``guarded`` touches sit inside a ``try/except`` with a documented
  DataFrame-only fallback, so they degrade instead of raising;
- ``classic-only`` touches belong to features that are inherently
  driver-JVM-bound (the managed-ACID journal's atomic Hadoop-FS ops,
  the JDBC driver connection, the PG connector's partition planning,
  streaming signature-store file compaction, log4j tuning) and are
  documented as classic-deployment features.

Run: ``python tools/connect_audit.py`` — prints one JSON line per
touch plus a summary; exits non-zero on any UNCLASSIFIED touch, so a
new classic-API use must be consciously classified here (and the
pinned test in tests/test_plans.py fails loudly until it is).
"""

from __future__ import annotations

import ast
import json
import os
import sys

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "sql_autoloader_spark",
)

#: attribute names that only exist on a classic (JVM-gateway) session
CLASSIC_ATTRS = {
    "_jdf",
    "_jvm",
    "_jsc",
    "_sc",
    "_gateway",
    "_jsparkSession",
    "sparkContext",
    "rdd",
    "parallelize",
}

#: modules whose every code path must be Connect-safe: the data-plane
#: operators, the planner, and the connector-independent lifecycle.
#: A touch here is allowed ONLY if classified "guarded" below.
CORE_CLEAN = {
    "ops/dataframe_ops.py",
    "schema/graph.py",
    "schema/model.py",
    "connectors/base.py",
    "functions/text.py",
    "functions/dedup.py",
    "functions/similarity.py",
    "functions/events.py",
    "functions/constraints.py",
    "functions/multimodal.py",
    "functions/scale.py",
    "exceptions.py",
}

#: (file, function) -> ("guarded" | "classic-only", reason).
#: "guarded": the touch is wrapped in try/except with a DataFrame-only
#: fallback — safe under Connect by graceful degradation.
#: "classic-only": the enclosing feature requires a driver JVM and is
#: documented as such; it is never reached from the core lifecycle.
CLASSIFICATION: dict[tuple[str, str], tuple[str, str]] = {
    ("functions/scale.py", "shuffle_partitions"): (
        "guarded",
        "try/except → session conf, then literal default",
    ),
    ("functions/dedup.py", "spread_for_compute"): (
        "guarded",
        "try/except → shuffle_partitions fallback",
    ),
    ("functions/similarity.py", "lsh_topk"): (
        "guarded",
        "pair-respread width: try/except → shuffle_partitions fallback",
    ),
    ("functions/similarity.py", "exact_cosine_pairs"): (
        "guarded",
        "block-pair width: try/except → shuffle_partitions fallback",
    ),
    ("logutil.py", "silence_benign_scheduler_spam"): (
        "guarded",
        "best-effort log4j tuning; whole body try/except-pass",
    ),
    ("connectors/spark_catalog.py", "LinkClaim.claim"): (
        "classic-only",
        "ACID journal: atomic no-overwrite claim via java.nio hardlink",
    ),
    ("connectors/spark_catalog.py", "_CommitJournal.__init__"): (
        "classic-only",
        "ACID journal constructor: Hadoop FS handle for commit files",
    ),
    ("connectors/spark_catalog.py", "_CommitJournal._read"): (
        "classic-only",
        "ACID journal: read a journal file (token, manifest) through Hadoop FS",
    ),
    ("connectors/spark_catalog.py", "_hadoop_fs"): (
        "classic-only",
        "shared Hadoop-FS accessor for journal/maintenance paths",
    ),
    ("connectors/spark_catalog.py", "SparkConnector._persist_table_meta"): (
        "classic-only",
        "managed-catalog table-metadata JSON sidecar write",
    ),
    ("connectors/spark_catalog.py", "SparkConnector._read_table_meta"): (
        "classic-only",
        "managed-catalog table-metadata JSON sidecar read (warehouse open)",
    ),
    ("connectors/spark_catalog.py", "SparkConnector._commit_managed"): (
        "classic-only",
        "managed-catalog commit caps its append workers at defaultParallelism",
    ),
    ("connectors/spark_catalog.py", "SparkConnector.compact_table"): (
        "classic-only",
        "maintenance rewrite sizes output by physical partition count",
    ),
    ("connectors/jdbc.py", "JDBCConnector._driver_connection"): (
        "classic-only",
        "JDBC DriverManager lives in the driver JVM by definition",
    ),
    ("connectors/jdbc.py", "JDBCConnector._fetch_schema_via_metadata"): (
        "classic-only",
        "java.sql.DatabaseMetaData introspection via the gateway",
    ),
    ("connectors/postgres.py", "PostgresConnector._read_table_distributed"): (
        "classic-only",
        "ctid-range task fan-out uses sparkContext.parallelize",
    ),
    ("connectors/postgres.py", "PostgresConnector._stage_frame"): (
        "classic-only",
        "COPY writer coalesces by physical partition count",
    ),
    ("streaming/pipeline.py", "_fuzzy_admitter.admit_batch"): (
        "classic-only",
        "signature-store admission: atomic Hadoop-FS marker files",
    ),
    ("streaming/pipeline.py", "compact_signature_store"): (
        "classic-only",
        "store compaction rewrites shard files through Hadoop FS",
    ),
}


def audit() -> list[dict]:
    """All classic-attribute touches in non-test package source, each
    mapped to its enclosing function and classification."""
    hits: list[dict] = []
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            # QUALIFIED scope path — plain dot-joined enclosing names
            # (Class.method, outer.inner — NOT __qualname__'s
            # "<locals>" form; CLASSIFICATION keys must match this):
            # a bare function name would let one classification entry
            # blanket every same-named function in the file (three
            # __init__s live in spark_catalog.py) and silently absorb
            # future unguarded touches
            spans = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(
                    n,
                    (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                )
            ]
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Attribute)
                    and node.attr in CLASSIC_ATTRS
                ):
                    continue
                enclosing = sorted(
                    (
                        (a, b, n)
                        for a, b, n in spans
                        if a <= node.lineno <= b
                    ),
                    key=lambda s: s[1] - s[0],
                    reverse=True,  # outermost first
                )
                func = (
                    ".".join(n for _a, _b, n in enclosing)
                    if enclosing
                    else "<module>"
                )
                cls, why = CLASSIFICATION.get(
                    (rel, func), ("UNCLASSIFIED", "")
                )
                hits.append(
                    {
                        "file": rel,
                        "line": node.lineno,
                        "attr": node.attr,
                        "func": func,
                        "class": cls,
                        "why": why,
                    }
                )
    return hits


def main() -> int:
    hits = audit()
    for h in hits:
        print(json.dumps(h))
    unclassified = [h for h in hits if h["class"] == "UNCLASSIFIED"]
    core_bad = [
        h
        for h in hits
        if h["file"] in CORE_CLEAN and h["class"] != "guarded"
    ]
    print(
        json.dumps(
            {
                "touches": len(hits),
                "guarded": sum(1 for h in hits if h["class"] == "guarded"),
                "classic_only": sum(
                    1 for h in hits if h["class"] == "classic-only"
                ),
                "unclassified": len(unclassified),
                "core_violations": len(core_bad),
            }
        )
    )
    return 1 if (unclassified or core_bad) else 0


if __name__ == "__main__":
    sys.exit(main())
