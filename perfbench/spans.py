"""Span tracing and per-layer metrics for the benchmark's traced run.

Spans are recorded from the benchmark's own files: :func:`Tracer.install`
wraps the public lifecycle calls of each library module (and the sink
contract declared abstract in ``connectors/base.py``) for the lifetime
of the run and restores them afterwards.  The library is not modified.

- Every span opens its own Spark job group, so each job attributes to
  the innermost span that started it.  Streaming jobs already carry
  their query's run id as job group.
- Spans (name, start, end, parent, op id) are kept in memory and written
  once, at the end, as JSON lines.
- Job, stage and task metrics are read once, at the end, from the
  driver's status store through py4j (the web UI stays off).
- Probes (row counts the benchmark needs for ratios) run in their own
  job group, and their time is subtracted from every enclosing span.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict

PROBE_GROUP = "perfbench-probe"

#: (layer span name, dotted owner, attribute).  Owners are resolved at
#: install time; methods are wrapped on the class that defines them.
SPANS = [
    ("schema.introspect", "sql_autoloader_spark.schema.graph:Schema", "__init__"),
    ("schema.plan", "sql_autoloader_spark.schema.graph:Schema", "get_load_instructions"),
    ("schema.plan", "sql_autoloader_spark.schema.graph:Schema", "get_compare_query"),
    ("schema.plan", "sql_autoloader_spark.schema.graph:Schema", "parse_insert"),
    ("schema.plan", "sql_autoloader_spark.schema.graph:Schema", "parse_retrieve"),
    ("spark_catalog.open", "sql_autoloader_spark.connectors.spark_catalog:SparkConnector", "__init__"),
    ("spark_catalog.ddl", "sql_autoloader_spark.connectors.spark_catalog:SparkConnector", "execute_ddl"),
    ("spark_catalog.write", "sql_autoloader_spark.connectors.spark_catalog:SparkConnector", "_write_new_rows"),
    ("spark_catalog.read", "sql_autoloader_spark.connectors.spark_catalog:SparkConnector", "_read_table"),
    ("spark_catalog.compare_query", "sql_autoloader_spark.connectors.spark_catalog:SparkConnector", "_execute_compare_query"),
    ("spark_catalog.commit", "sql_autoloader_spark.connectors.spark_catalog:SparkConnector", "commit"),
    ("base.load", "sql_autoloader_spark.connectors.base:BaseConnector", "load"),
    ("base.insert", "sql_autoloader_spark.connectors.base:BaseConnector", "insert"),
    ("base.retrieve", "sql_autoloader_spark.connectors.base:BaseConnector", "_retrieve_ids_counted"),
    ("base.compare", "sql_autoloader_spark.connectors.base:BaseConnector", "compare"),
    ("ops.preprocess", "sql_autoloader_spark.ops.dataframe_ops", "preprocess"),
    ("ops.validate", "sql_autoloader_spark.ops.dataframe_ops", "validate_load_compare"),
    ("ops.merge_check", "sql_autoloader_spark.ops.dataframe_ops", "check_merge_invariants"),
    ("dedup.exact", "sql_autoloader_spark.functions.dedup", "exact_dedup"),
    ("dedup.minhash_build", "sql_autoloader_spark.functions.dedup", "minhash_lsh_pairs"),
    ("dedup.cc_build", "sql_autoloader_spark.functions.dedup", "connected_components"),
    ("similarity.neardup_build", "sql_autoloader_spark.functions.similarity", "embedding_neardup_pairs"),
]

#: spans whose Spark engine metrics are reported one by one
HEAVY = [
    "spark_catalog.write",
    "spark_catalog.commit",
    "spark_catalog.read",
    "base.compare",
    "dedup.minhash_build",
    "dedup.cc_build",
    "similarity.neardup_build",
    "stream.add_batch",
]


def _resolve(dotted: str):
    import importlib

    module, _, attr = dotted.partition(":")
    obj = importlib.import_module(module)
    return getattr(obj, attr) if attr else obj


class Tracer:
    """In-memory span recorder with per-span Spark job groups."""

    def __init__(self, spark, cores: int) -> None:
        self.sc = spark.sparkContext
        self.cores = cores
        #: finished spans: dicts with id, name, start, end, parent, op, paused
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._seq = 0
        self._restore: list[tuple[object, str, object]] = []
        #: ops whose calls are recorded; the untraced ops in between give
        #: the tracing overhead
        self.op: int | None = None
        #: hooks called with (args, kwargs) before a wrapped call, keyed by
        #: span name: the benchmark's probes
        self.before: dict[str, object] = {}
        #: values the probes accumulate for the current op
        self.probes: dict[str, float] = {}

    # -- spans ---------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        if self.op is None:
            yield
            return
        self._seq += 1
        parent = self._open[-1] if self._open else None
        rec = {
            "id": f"pb{self._seq}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "paused": 0.0,
        }
        self._open.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self._set_group(self._open[-1] if self._open else None)
            self.spans.append(rec)

    def probe(self, fn):
        """Run *fn* (a benchmark-side count) outside every span's time."""
        if self.op is None:
            return fn()
        t0 = time.perf_counter()
        self.sc.setJobGroup(PROBE_GROUP, "benchmark probe")
        try:
            return fn()
        finally:
            self._set_group(self._open[-1] if self._open else None)
            dt = time.perf_counter() - t0
            for rec in self._open:
                rec["paused"] += dt

    # -- patching --------------------------------------------------------------

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            hook = tracer.before.get(name)
            if hook is not None and tracer.op is not None:
                tracer.probe(lambda: hook(args, kwargs))
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for name, owner_path, attr in SPANS:
            owner = _resolve(owner_path)
            original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._restore.append((owner, attr, original))
            setattr(owner, attr, self._wrap(name, original))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    # -- status store ----------------------------------------------------------

    def engine_data(self) -> tuple[list[dict], dict[int, dict]]:
        """(jobs, stages by id) from the driver's status store, in one
        JSON round trip each."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stage_list = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        stages: dict[int, dict] = {}
        for s in json.loads(mapper.writeValueAsString(stage_list)):
            if s["status"] != "COMPLETE":
                continue
            agg = stages.setdefault(s["stageId"], defaultdict(float))
            for key in (
                "executorRunTime",
                "shuffleWriteBytes",
                "memoryBytesSpilled",
                "diskBytesSpilled",
                "outputRecords",
                "outputBytes",
            ):
                agg[key] += s[key]
        return jobs, stages

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def stage_owner(jobs: list[dict]) -> dict[int, dict]:
    """Each stage id -> the job that ran it (the lowest job id listing
    it; later jobs list a reused shuffle stage as skipped)."""
    owner: dict[int, dict] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job["stageIds"]:
            owner.setdefault(sid, job)
    return owner


#: The per-layer metric registry (see :func:`per_layer_units`).  Every
#: workload reports every metric; a layer it never calls reads 0.
TIMED = [
    "schema.introspect",
    "schema.plan",
    "spark_catalog.open",
    "spark_catalog.ddl",
    "spark_catalog.write",
    "spark_catalog.read",
    "spark_catalog.compare_query",
    "spark_catalog.commit",
    "base.insert",
    "base.retrieve",
    "base.compare",
    "ops.preprocess",
    "ops.validate",
    "ops.merge_check",
    "dedup.exact",
    "dedup.minhash_build",
    "dedup.cc_build",
    "similarity.neardup_build",
]
JOBS = {
    "spark_catalog.write_jobs": "spark_catalog.write",
    "spark_catalog.commit_jobs": "spark_catalog.commit",
    "base.insert_jobs": "base.insert",
    "base.retrieve_jobs": "base.retrieve",
    "base.compare_jobs": "base.compare",
    "ops.preprocess_jobs": "ops.preprocess",
    "ops.validate_jobs": "ops.validate",
    "ops.merge_check_jobs": "ops.merge_check",
    "dedup.cc_jobs": "dedup.cc_build",
    "similarity.neardup_jobs": "similarity.neardup_build",
}
ENGINE = {"shuffle_bytes": "B", "spill_bytes": "B", "executor_run_s": "s", "wait_s": "s"}
OTHER = {
    "base.load_self_s": "s",
    "base.load_self_jobs": "count",
    "spark_catalog.rows_written": "count",
    "spark_catalog.write_yield": "ratio",
    "spark_catalog.bytes_written": "B",
    "dedup.pairs_in": "count",
    "dedup.components": "count",
    "similarity.pairs": "count",
    "stream.add_batch_s": "s",
    "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s",
    "stream.trigger_s": "s",
    "stream.store_rows": "count",
    "stream.admit_frac": "ratio",
    "op.p50_s": "s",
    "op.reference_s": "s",
    "op.self_s": "s",
    "trace.spans_per_op": "count",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{n}_s": "s" for n in TIMED}
    units.update({k: "count" for k in JOBS})
    units.update({f"{h}.{m}": u for h in HEAVY for m, u in ENGINE.items()})
    units.update(OTHER)
    return units


def _engine(jobs: list[dict], stages: dict[int, dict], owner: dict[int, dict]) -> dict:
    ids = {j["jobId"] for j in jobs}
    tot: dict[str, float] = defaultdict(float)
    for sid, agg in stages.items():
        if sid in owner and owner[sid]["jobId"] in ids:
            for k, v in agg.items():
                tot[k] += v
    return tot


def _op_metrics(
    spans: list[dict], by_group: dict, stages: dict, owner: dict, cores: int, probes: dict
) -> dict[str, float]:
    """Layer metrics of one traced op from its spans (inclusive times and
    jobs, summed over the outermost span of each name)."""
    children: dict[str, list[dict]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] in by_id:
            children[s["parent"]].append(s)

    def dur(s: dict) -> float:
        return s["end"] - s["start"] - s["paused"]

    def inclusive_jobs(s: dict) -> list[dict]:
        out = list(by_group.get(s["id"], []))
        for c in children[s["id"]]:
            out.extend(inclusive_jobs(c))
        return out

    def outermost(name: str) -> list[dict]:
        res = []
        for s in spans:
            if s["name"] != name:
                continue
            p = by_id.get(s["parent"])
            while p is not None and p["name"] != name:
                p = by_id.get(p["parent"])
            if p is None:
                res.append(s)
        return res

    m: dict[str, float] = {}
    for name in TIMED:
        m[f"{name}_s"] = sum(dur(s) for s in outermost(name))
    for key, name in JOBS.items():
        m[key] = float(sum(len(inclusive_jobs(s)) for s in outermost(name)))
    for name in HEAVY:
        if name.startswith("stream."):
            continue
        top = outermost(name)
        jobs = [j for s in top for j in inclusive_jobs(s)]
        eng = _engine(jobs, stages, owner)
        busy = eng["executorRunTime"] / 1000.0
        m[f"{name}.shuffle_bytes"] = eng["shuffleWriteBytes"]
        m[f"{name}.spill_bytes"] = eng["memoryBytesSpilled"] + eng["diskBytesSpilled"]
        m[f"{name}.executor_run_s"] = busy
        m[f"{name}.wait_s"] = sum(dur(s) for s in top) - busy / cores
    loads = outermost("base.load")
    m["base.load_self_s"] = sum(dur(s) - sum(dur(c) for c in children[s["id"]]) for s in loads)
    m["base.load_self_jobs"] = float(sum(len(by_group.get(s["id"], [])) for s in loads))
    written = [j for name in ("spark_catalog.write", "spark_catalog.commit") for s in outermost(name) for j in inclusive_jobs(s)]
    eng = _engine(written, stages, owner)
    m["spark_catalog.rows_written"] = eng["outputRecords"]
    m["spark_catalog.bytes_written"] = eng["outputBytes"]
    offered = probes.get("offered", 0)
    m["spark_catalog.write_yield"] = eng["outputRecords"] / offered if offered else 0.0
    ops = outermost("op")
    m["op.self_s"] = sum(dur(s) - sum(dur(c) for c in children[s["id"]]) for s in ops)
    m["trace.spans_per_op"] = float(len(spans))
    return m


def _stream_metrics(progress: list, run_id: str, jobs: list[dict], stages: dict, owner: dict, cores: int) -> list[dict]:
    """Per micro-batch metrics from the query's progress and its jobs
    (job group = run id; the batch id is in the job description)."""
    per_batch: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        if j.get("jobGroup") != run_id:
            continue
        desc = j.get("description") or ""
        for line in desc.splitlines():
            if line.startswith("batch = "):
                per_batch[int(line.split("=")[1])].append(j)
    out = []
    for p in progress:
        d = p.durationMs
        eng = _engine(per_batch.get(p.batchId, []), stages, owner)
        add_batch = d.get("addBatch", 0) / 1000.0
        busy = eng["executorRunTime"] / 1000.0
        out.append(
            {
                "stream.add_batch_s": add_batch,
                "stream.query_planning_s": d.get("queryPlanning", 0) / 1000.0,
                "stream.wal_commit_s": d.get("walCommit", 0) / 1000.0,
                "stream.trigger_s": d.get("triggerExecution", 0) / 1000.0,
                "stream.add_batch.shuffle_bytes": eng["shuffleWriteBytes"],
                "stream.add_batch.spill_bytes": eng["memoryBytesSpilled"] + eng["diskBytesSpilled"],
                "stream.add_batch.executor_run_s": busy,
                "stream.add_batch.wait_s": add_batch - busy / cores,
            }
        )
    return out


def layer_metrics(
    tracer: Tracer, traced: list[tuple[int, dict]], untraced_samples: list[float], ref_s: list[float]
) -> dict:
    """Median over traced ops of every per-layer metric, plus the
    tracing overhead against the untraced ops of the same run, their
    median wall time and that of the reference round."""
    jobs, stages = tracer.engine_data()
    owner = stage_owner(jobs)
    by_group: dict[str, list[dict]] = defaultdict(list)
    for j in jobs:
        by_group[j.get("jobGroup")].append(j)
    spans_by_op: dict[int, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        spans_by_op[s["op"]].append(s)

    rows: list[dict[str, float]] = []
    traced_samples: list[float] = []
    for op, unit in traced:
        traced_samples.extend(unit["samples"])
        base = _op_metrics(spans_by_op[op], by_group, stages, owner, tracer.cores, unit.get("probes", {}))
        base.update(unit.get("counts", {}))
        stream = unit.get("stream") or {}
        if stream:
            batches = _stream_metrics(stream["progress"], stream["run_id"], jobs, stages, owner, tracer.cores)
            rows.extend({**base, **b} for b in batches)
        else:
            rows.append(base)

    units = per_layer_units()
    out = {}
    for name, unit in units.items():
        vals = [r.get(name, 0.0) for r in rows]
        out[name] = {"value": float(statistics.median(vals)) if vals else 0.0, "unit": unit}
    t_p50 = statistics.median(traced_samples) if traced_samples else 0.0
    u_p50 = statistics.median(untraced_samples) if untraced_samples else 0.0
    out["op.p50_s"]["value"] = u_p50
    out["op.reference_s"]["value"] = float(statistics.median(ref_s)) if ref_s else 0.0
    out["trace.op_p50_s"]["value"] = t_p50
    out["trace.overhead_s"]["value"] = t_p50 - u_p50
    out["trace.overhead_frac"]["value"] = (t_p50 - u_p50) / u_p50 if u_p50 else 0.0
    return out
