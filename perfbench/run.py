"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload as a closed loop with one client (ops back to back on
the main thread, ``local[N]`` with N = the CPUs this process may use),
checks every op's output, and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from spans around the library calls, with the
tracing overhead (traced and untraced ops alternate).  Each op is
bracketed by a fixed library-free Spark round (the reference), so op
time can be given in units of it.  Every file the
run writes lives under ``.perfbench_tmp/`` (removed at exit) and
``.perfbench_out/`` (the span log) in the working directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_ref_ratio": "ratio",
    "store_bytes_per_input_byte": "ratio",
    "driver_peak_rss_mb": "MB",
    "dedup_recall": "frac",
    "unique_kept_frac": "frac",
}


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``/proc/stat`` cpu line."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory_mb() -> int:
    """A quarter of physical RAM, at most 3 GiB."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):
        phys = 4096
    return max(1024, min(3072, phys // 4))


def start_session(tmp: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    java_tmp = os.path.join(tmp, "java")
    os.makedirs(java_tmp)
    # every JVM the session starts (launcher and driver): temp files in the
    # run's directory, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={java_tmp}") if o
    )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.local.dir", os.path.join(tmp, "local"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        # keep every job and stage of the run in the status store
        builder = builder.config("spark.ui.retainedJobs", "100000").config(
            "spark.ui.retainedStages", "100000"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(tmp, "checkpoint"))
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def count_offered(tracer):
    """Probe for ``spark_catalog.write_yield``: distinct rows offered to
    the sink's ``_write_new_rows(table, new_rows, columns)``."""

    def hook(args, kwargs):
        new_rows = kwargs["new_rows"] if "new_rows" in kwargs else args[2]
        tracer.probes["offered"] += new_rows.count()

    return hook


def reference_s(spark, tmp: str) -> float:
    """Wall time of a fixed library-free Spark round: write a small
    parquet table, read it back, aggregate, join and collect."""
    from pyspark.sql import functions as F

    path = os.path.join(tmp, "reference")
    t0 = time.perf_counter()
    df = spark.range(0, 20_000, 1, 4).select(
        "id", (F.col("id") % 97).alias("k"), F.col("id").cast("string").alias("s")
    )
    df.write.mode("overwrite").parquet(path)
    r = spark.read.parquet(path)
    r.join(r.groupBy("k").count(), "k").agg(F.sum("count"), F.countDistinct("s")).collect()
    return time.perf_counter() - t0


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description="sql_autoloader_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # the library and the benchmark import from the checkout; Python
    # workers started by Spark inherit PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    import sql_autoloader_spark  # noqa: F401  (fail fast without the library)
    from spans import Tracer, layer_metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]

    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    # keep every file Spark, the JVM and Python write inside the run's
    # directory (SPARK_LOCAL_DIRS would override spark.local.dir)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    steal0 = steal_ticks()
    cores = cpus()
    spark = wl = gen = None
    try:
        phases = {"imports_s": time.perf_counter() - T_START}
        gen = workload.start_inputs(tmp, args.seed)
        spark = start_session(tmp, cores, bool(args.trace))
        phases["session_s"] = time.perf_counter() - T_START - sum(phases.values())
        tracer = Tracer(spark, cores)
        wl = workload(spark, tmp, args.seed, tracer, gen)
        wl.setup()
        phases["inputs_s"] = time.perf_counter() - T_START - sum(phases.values())
        # one untimed warm-up op: JIT, codegen caches, Python workers;
        # and one of the reference round
        wl.warm()
        reference_s(spark, tmp)
        phases["warm_s"] = time.perf_counter() - T_START - sum(phases.values())
        setup_s = time.perf_counter() - T_START

        if args.trace:
            tracer.install()
            tracer.before["spark_catalog.write"] = count_offered(tracer)
        units, traced = [], []
        t_loop = time.perf_counter()
        i = 0
        while True:
            is_traced = bool(args.trace) and i % 2 == 1
            ref_before = reference_s(spark, tmp)
            tracer.op = i if is_traced else None
            tracer.probes = {"offered": 0}
            t_unit = time.perf_counter()
            try:
                u = wl.unit(i)
            except Exception:  # a failed op is counted, not fatal
                print(f"op {i} failed:", file=sys.stderr)
                traceback.print_exc()
                u = {"ok": False, "samples": []}
            tracer.op = None
            u["unit_s"] = time.perf_counter() - t_unit
            u["ref_s"] = (ref_before + reference_s(spark, tmp)) / 2
            if is_traced:
                u["counts"] = wl.layer_counts()
                u["probes"] = tracer.probes
                u["stream"] = dict(wl.last)
                traced.append((i, u))
            units.append(u)
            i += 1
            if time.perf_counter() - t_loop >= args.seconds and (not args.trace or i >= 2):
                break
        if args.trace:
            tracer.uninstall()

        samples = [s for u in units for s in u["samples"]]
        attempted = sum(max(1, len(u["samples"])) for u in units)
        failed = sum(max(1, len(u["samples"])) for u in units if not u["ok"])
        steal1 = steal_ticks()
        steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        good = [u for u in units if u["ok"]] or units
        refs = [u["ref_s"] for u in units]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "setup_s": round(setup_s, 3),
            "setup_phases_s": {k: round(v, 3) for k, v in phases.items()},
            "op_samples": len(samples),
            "op_s": [round(s, 4) for s in samples],
            "unit_s": [round(u["unit_s"], 3) for u in units],
            "ref_s": [round(r, 4) for r in refs],
            "check": [u["check"] for u in units if "check" in u],
            "steal_pct": round(steal_pct, 3),
            "shares": wl.shares,
            "flush_policy": "no fsync; page cache",
        }
        if args.trace:
            os.makedirs(os.path.join(os.getcwd(), ".perfbench_out"), exist_ok=True)
            tracer.write(
                os.path.join(os.getcwd(), ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl")
            )
            untraced = [s for n, u in enumerate(units) if n % 2 == 0 for s in u["samples"]]
            metrics = layer_metrics(tracer, traced, untraced, refs)
        else:
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            values = {
                "setup_s": setup_s,
                "op_ref_ratio": median([s / u["ref_s"] for u in units for s in u["samples"]]),
                "store_bytes_per_input_byte": median(
                    [u["store_bytes"] / u["input_bytes"] for u in good if "store_bytes" in u]
                ),
                "driver_peak_rss_mb": rss_mb,
                "dedup_recall": median([u["recall"] for u in good if "recall" in u]),
                "unique_kept_frac": median([u["kept"] for u in good if "kept" in u]),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        print(json.dumps(detail))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
