"""SIGKILL crash-recovery proof for the streaming autoload.

The graceful restart-from-checkpoint path is covered in
tests/test_streaming.py; these tests prove the stronger claim the
module docstring makes (streaming/pipeline.py: "checkpoint-replay
after failure is safe"): a driver process HARD-KILLED mid-micro-batch
— after staging, before the sink's commit point — converges exactly
to the batch oracle when a fresh process restarts the stream from the
same checkpoint.  foreachBatch is at-least-once, so the crashed batch
is REPLAYED in full; the sinks' idempotent insert (anti-join /
EXCEPT against existing rows) plus their crash hygiene (the managed
catalog's open-time orphan sweep, the PG sink's autocommit staging +
``sweep_staging``) must turn the replay into exactly-once table
content: no duplicate rows, no lost rows, no leftover garbage.

Each test runs two subprocess drivers (own SparkSession each,
~20-30 s JVM start — deliberately among the slowest tests, like
tests/test_cross_process.py):

1. the KILL driver streams batch 0 cleanly, then arms a SIGKILL at
   the precise injection point (managed catalog: inside
   ``_CommitJournal.commit`` — appends staged and moved in, journal
   rename NOT landed; PostgreSQL: after ``_stage_frame`` returns —
   staging COPY complete, merge INSERT not issued) and dies inside
   batch 1;
2. the RECOVER driver reopens the same warehouse + checkpoint,
   observes the crash leftovers (invisible token rows / an orphan
   staging table), restarts the stream (replays batch 1, then
   processes a new batch 2) and reports final content.

Children run in their own process group (``start_new_session``) so a
self-SIGKILLed Python driver's orphaned JVM can be reaped with one
``killpg`` — otherwise leaked executors from killed runs pile up on
the host.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from sql_autoloader_spark.connectors.pgwire import EmbeddedPostgres

REPO = str(Path(__file__).resolve().parent.parent)

_PRELUDE = """
import json, os, signal, sys
from pyspark.sql import SparkSession

mode = sys.argv[1]
root = sys.argv[2]

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.warehouse.dir", f"{root}/wh_{mode}")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

src = f"{root}/src"
ckpt = f"{root}/ckpt"


def add_source(tag, rows):
    spark.createDataFrame(rows, "brand string, model string").coalesce(
        1
    ).write.parquet(f"{src}/{tag}")


def run_stream(db):
    from sql_autoloader_spark.streaming import autoload_stream

    stream = (
        spark.readStream.schema("brand string, model string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = autoload_stream(db, stream, checkpoint_dir=ckpt)
    assert q.awaitTermination(240)
"""

_CATALOG_CHILD = _PRELUDE + """
from sql_autoloader_spark.connectors import spark_catalog as sc_mod
from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

spark.sql(f"CREATE DATABASE IF NOT EXISTS crashdb LOCATION '{root}/crashdb'")
db = SparkConnector(spark, database="crashdb")

if mode == "kill":
    db.execute_ddl(
        '''
        CREATE TABLE cr_brand (id INTEGER PRIMARY KEY, brand TEXT UNIQUE);
        CREATE TABLE cr_car (
            id INTEGER PRIMARY KEY,
            model TEXT UNIQUE,
            brand_id INTEGER REFERENCES cr_brand (id));
        '''
    )
    add_source("f1", [("Toyota", "Corolla"), ("Ford", "Focus")])
    run_stream(db)  # batch 0 commits cleanly
    print("PHASE1 " + json.dumps({
        "cars": db._read_table("cr_car").count(),
        "commits": len(db.commit_history()),
    }), flush=True)

    # die at THE commit point: batch 1's rows are fully appended
    # (token-tagged, invisible) but the atomic journal rename never
    # lands — the worst-possible crash instant for the manifest
    # protocol
    def die(self, token, **kwargs):
        os.kill(os.getpid(), signal.SIGKILL)

    sc_mod._CommitJournal.commit = die
    add_source("f2", [("Toyota", "Yaris"), ("Honda", "Civic")])
    run_stream(db)  # SIGKILLs itself inside batch 1
    print("SURVIVED", flush=True)  # must never print
else:
    # open-time recovery sweeps the crashed token's physical rows;
    # batch 1 was never visible
    pre_cars = db._read_table("cr_car").count()
    add_source("f3", [("Honda", "Jazz")])
    run_stream(db)  # replays batch 1, then processes batch 2
    brand = db._read_table("cr_brand")
    car = db._read_table("cr_car")
    flat = sorted(
        (r["brand"], r["model"])
        for r in car.join(brand, car["brand_id"] == brand["id"])
        .select("brand", "model")
        .collect()
    )
    print("RESULT " + json.dumps({
        "pre_cars": pre_cars,
        "brands": brand.count(),
        "cars": car.count(),
        # physical parquet rows, hidden commit column included: proves
        # the crashed token's files were actually swept (no invisible
        # garbage survives the recovery)
        "raw_brand_rows": spark.read.parquet(db._table_location("cr_brand")).count(),
        "raw_car_rows": spark.read.parquet(db._table_location("cr_car")).count(),
        "flat": flat,
        "commits": len(db.commit_history()),
    }), flush=True)
    spark.stop()
"""

_POSTGRES_CHILD = _PRELUDE + """
import sql_autoloader_spark.connectors.postgres as pg_mod
from sql_autoloader_spark.connectors.postgres import PostgresConnector

host, port = sys.argv[3], int(sys.argv[4])
db = PostgresConnector(
    spark, host=host, port=port, database="crashpg",
    copy_threshold=0,  # every write takes staging-COPY + server merge
)

def staging_tables():
    return sorted(
        r["table_name"]
        for r in db._rows(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = '_al_staging'"
        )
    )

if mode == "kill":
    db.execute_ddl(
        '''
        CREATE TABLE pc_brand (
            id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
            brand text UNIQUE);
        CREATE TABLE pc_car (
            id bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
            model text UNIQUE,
            brand_id bigint REFERENCES pc_brand (id));
        '''
    )
    add_source("f1", [("Toyota", "Corolla"), ("Ford", "Focus")])
    run_stream(db)  # batch 0 commits cleanly
    (cars,) = db.client.query("SELECT count(*) FROM pc_car").rows[0]
    print("PHASE1 " + json.dumps({"cars": cars}), flush=True)

    # die between the staging COPY and the merge INSERT: the unlogged
    # staging table is fully populated (autocommit executor
    # connections) but nothing merged; the driver transaction dies
    # with the connection and the server rolls it back
    orig = pg_mod.PostgresConnector._stage_frame

    def staged_then_die(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        os.kill(os.getpid(), signal.SIGKILL)
        return out

    pg_mod.PostgresConnector._stage_frame = staged_then_die
    add_source("f2", [("Toyota", "Yaris"), ("Honda", "Civic")])
    run_stream(db)  # SIGKILLs itself inside batch 1
    print("SURVIVED", flush=True)  # must never print
else:
    orphans_before = staging_tables()  # the crashed COPY's leftover
    add_source("f3", [("Honda", "Jazz")])
    run_stream(db)  # must not be blocked by the orphan; replays batch 1
    (brands,) = db.client.query("SELECT count(*) FROM pc_brand").rows[0]
    (cars,) = db.client.query("SELECT count(*) FROM pc_car").rows[0]
    flat = sorted(
        tuple(r)
        for r in db.client.query(
            "SELECT b.brand, c.model FROM pc_car c"
            " JOIN pc_brand b ON c.brand_id = b.id"
        ).rows
    )
    swept = db.sweep_staging()
    orphans_after = staging_tables()
    print("RESULT " + json.dumps({
        "orphans_before": orphans_before,
        "brands": brands,
        "cars": cars,
        "flat": flat,
        "swept": swept,
        "orphans_after": orphans_after,
    }), flush=True)
    db.close()
    spark.stop()
"""

EXPECTED_FLAT = sorted(
    [
        ["Toyota", "Corolla"],
        ["Ford", "Focus"],
        ["Toyota", "Yaris"],
        ["Honda", "Civic"],
        ["Honda", "Jazz"],
    ]
)


def _run_child(
    script_path: Path, args: list[str], *, timeout: int = 600
) -> subprocess.CompletedProcess:
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    child = subprocess.Popen(  # noqa: S603 - our own script
        [sys.executable, str(script_path), *args],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env=env,
        start_new_session=True,  # own process group: killpg reaps the JVM
    )
    try:
        stdout, stderr = child.communicate(timeout=timeout)
    finally:
        try:
            os.killpg(child.pid, signal.SIGKILL)  # reap the orphaned JVM
        except ProcessLookupError:
            pass
    return subprocess.CompletedProcess(
        child.args, child.returncode, stdout, stderr
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")
    ]
    assert lines, f"no RESULT:\n{proc.stdout}\n{proc.stderr[-4000:]}"
    return json.loads(lines[0][len("RESULT ") :])


def _assert_killed_mid_batch(proc: subprocess.CompletedProcess) -> None:
    assert proc.returncode == -signal.SIGKILL, (
        f"kill child exited {proc.returncode}:\n"
        f"{proc.stdout}\n{proc.stderr[-4000:]}"
    )
    assert "PHASE1" in proc.stdout, proc.stdout  # batch 0 landed first
    assert "SURVIVED" not in proc.stdout  # died inside batch 1


# -- concurrent scenario execution (round 16) ---------------------------------
#
# Every test in this module drives subprocess drivers (fresh JVMs,
# ~20-30 s each); run sequentially the module dominated the whole
# suite's wall time.  The SCENARIOS are mutually independent — each
# owns its tmp root, warehouse, checkpoint, and (where applicable)
# embedded PG server — while WITHIN a scenario the kill phase still
# strictly precedes the recover phase.  The module fixture below runs
# all scenario choreographies concurrently (one thread each, the
# guide §2.6 overlap-independent-jobs shape applied to test JVMs) and
# each test keeps ITS OWN assertions over its scenario's captured
# output — coverage identical, wall time collapses to the slowest
# single scenario.


def _catalog_scenario(tmp: Path) -> dict:
    script = tmp / "cat_child.py"
    script.write_text(_CATALOG_CHILD)
    root = str(tmp / "shared")
    os.makedirs(root)
    killed = _run_child(script, ["kill", root])
    recovered = _run_child(script, ["recover", root])
    return {"killed": killed, "recovered": recovered, "root": root}


def _postgres_scenario(tmp: Path) -> dict | None:
    if not EmbeddedPostgres.available():
        return None
    script = tmp / "pg_child.py"
    script.write_text(_POSTGRES_CHILD)
    root = str(tmp / "shared")
    os.makedirs(root)
    # the server lives in THIS process, outside the children's process
    # groups — it survives the SIGKILL like a real warehouse would
    with EmbeddedPostgres(tcp=True) as server:
        server.createdb("crashpg")
        args = [root, server.host, str(server.port)]
        killed = _run_child(script, ["kill", *args])
        recovered = _run_child(script, ["recover", *args])
    return {"killed": killed, "recovered": recovered, "root": root}


def _fuzzy_scenario(tmp: Path) -> dict:
    script = tmp / "fuzzy_child.py"
    script.write_text(_FUZZY_CHILD)
    root = str(tmp / "shared")
    os.makedirs(root)
    killed = _run_child(script, ["kill", root])
    # snapshot the mid-crash filesystem state BEFORE recovery mutates it
    corpus = f"{root}/corpus"
    corpus_listing = os.listdir(corpus) if os.path.isdir(corpus) else []
    recovered = _run_child(script, ["recover", root])
    return {
        "killed": killed,
        "recovered": recovered,
        "root": root,
        "corpus_listing": corpus_listing,
    }


def _rewrite_scenario(tmp: Path) -> dict:
    script = tmp / "rewrite_child.py"
    script.write_text(_REWRITE_CHILD)
    root = str(tmp / "shared")
    os.makedirs(root)
    killed = _run_child(script, ["kill", root])
    staging_mid = os.path.isdir(f"{root}/rwdb/cmp_t__recovery_staging")
    recovered = _run_child(script, ["recover", root])
    return {
        "killed": killed,
        "recovered": recovered,
        "root": root,
        "staging_mid": staging_mid,
    }


def _spawn_role(
    script: Path, role: str, db_location: str, barrier: Path
) -> subprocess.Popen:
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    return subprocess.Popen(  # noqa: S603 - our own script
        [sys.executable, str(script), role, db_location, str(barrier)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env=env,
        start_new_session=True,
    )


def _race_pair(
    script: Path,
    roles: tuple[str, str],
    db_location: str,
    barrier: Path,
) -> dict:
    """Barrier-synchronized two-child race; returns per-role outputs."""
    import time as _time

    children = {role: _spawn_role(script, role, db_location, barrier) for role in roles}
    try:
        deadline = _time.time() + 900
        while _time.time() < deadline:
            if all((barrier / f"ready_{r}").exists() for r in roles):
                break
            _time.sleep(0.1)
        else:
            # surface the children's own stderr — a crash inside
            # SparkConnector.__init__ is diagnosable only from there
            diag = []
            for role, child in children.items():
                child.kill()
                c_out, c_err = child.communicate(timeout=60)
                diag.append(
                    f"--- {role} (rc={child.returncode}) stdout ---\n"
                    f"{c_out[-2000:]}\n--- {role} stderr ---\n"
                    f"{c_err[-4000:]}"
                )
            msg = "children never became ready\n" + "\n".join(diag)
            raise AssertionError(msg)
        (barrier / "go").touch()
        out: dict = {}
        for role, child in children.items():
            c_out, c_err = child.communicate(timeout=1200)
            out[role] = {
                "returncode": child.returncode,
                "stdout": c_out,
                "stderr": c_err,
            }
        return out
    finally:
        for child in children.values():
            try:
                os.killpg(child.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _racing_scenario(spark, tmp: Path) -> dict:  # noqa: ANN001
    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    db_location = str(tmp / "rwdb.db")
    barrier = tmp / "barrier"
    barrier.mkdir()
    # migrations are single-writer: DDL + persisted metadata exist first
    spark.sql(f"CREATE DATABASE IF NOT EXISTS rwrace LOCATION '{db_location}'")
    ddl_conn = SparkConnector(spark, database="rwrace")
    ddl_conn.execute_ddl(
        "CREATE TABLE rw_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE);"
    )
    script = tmp / "racer_child.py"
    script.write_text(_RACER_CHILD)
    out = _race_pair(script, ("victim", "survivor"), db_location, barrier)
    return {"db_location": db_location, **out}


def _open_scenario(spark, tmp: Path) -> dict:  # noqa: ANN001
    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    db_location = str(tmp / "codb.db")
    barrier = tmp / "barrier"
    barrier.mkdir()
    # several tables persisted up front: each one is a separate
    # persist call in the adopt loop, widening the collision window
    spark.sql(f"CREATE DATABASE IF NOT EXISTS coparent LOCATION '{db_location}'")
    ddl_conn = SparkConnector(spark, database="coparent")
    for i in range(6):
        ddl_conn.execute_ddl(
            f"CREATE TABLE co_t{i} (id INTEGER PRIMARY KEY, name TEXT);"
        )
    with ddl_conn:
        ddl_conn.insert(
            spark.createDataFrame([("a",), ("b",)], ["name"]), table="co_t0"
        )
    script = tmp / "opener_child.py"
    script.write_text(_OPENER_CHILD)
    out = _race_pair(script, ("left", "right"), db_location, barrier)
    return {"db_location": db_location, **out}


@pytest.fixture(scope="module")
def crash_runs(spark, tmp_path_factory) -> dict:  # noqa: ANN001
    """All six scenarios' subprocess choreography, run concurrently.

    A scenario that raises is captured and re-raised by ITS test only
    (a shared fixture error would otherwise fail the whole module)."""
    scenarios = {
        "catalog": lambda: _catalog_scenario(
            tmp_path_factory.mktemp("crash_catalog")
        ),
        "postgres": lambda: _postgres_scenario(
            tmp_path_factory.mktemp("crash_pg")
        ),
        "fuzzy": lambda: _fuzzy_scenario(tmp_path_factory.mktemp("crash_fuzzy")),
        "rewrite": lambda: _rewrite_scenario(
            tmp_path_factory.mktemp("crash_rewrite")
        ),
        "racing": lambda: _racing_scenario(
            spark, tmp_path_factory.mktemp("crash_racing")
        ),
        "open": lambda: _open_scenario(
            spark, tmp_path_factory.mktemp("crash_open")
        ),
    }

    def guarded(fn):  # noqa: ANN001, ANN202
        try:
            return fn()
        except BaseException as exc:  # noqa: BLE001 — owned by the test
            return {"error": exc}

    with ThreadPoolExecutor(max_workers=len(scenarios)) as pool:
        futures = {k: pool.submit(guarded, fn) for k, fn in scenarios.items()}
        return {k: f.result() for k, f in futures.items()}


def _scenario(crash_runs: dict, name: str) -> dict:
    sc = crash_runs[name]
    if sc is not None and "error" in sc:
        raise sc["error"]
    return sc


@pytest.mark.slow
def test_sigkill_mid_commit_managed_catalog_converges(crash_runs) -> None:  # noqa: ANN001
    """Managed catalog: SIGKILL at the journal-flip point, restart from
    the same checkpoint → exactly the batch-oracle content, physically
    (the crashed token's invisible rows are swept, the replay lands
    once)."""
    sc = _scenario(crash_runs, "catalog")
    killed = sc["killed"]
    _assert_killed_mid_batch(killed)
    # the journal must show ONLY batch 0's commit (the flip never landed)
    phase1 = json.loads(
        next(
            ln for ln in killed.stdout.splitlines() if ln.startswith("PHASE1")
        )[len("PHASE1 ") :]
    )
    assert phase1 == {"cars": 2, "commits": 1}

    recovered = sc["recovered"]
    assert recovered.returncode == 0, (
        f"{recovered.stdout}\n{recovered.stderr[-4000:]}"
    )
    res = _result(recovered)
    assert res["pre_cars"] == 2  # crashed batch was never visible
    assert res["brands"] == 3
    assert res["cars"] == 5
    # no invisible orphan rows survive recovery + replay
    assert res["raw_brand_rows"] == 3
    assert res["raw_car_rows"] == 5
    assert sorted(map(tuple, res["flat"])) == sorted(map(tuple, EXPECTED_FLAT))
    # batch 0 + replayed batch 1 + batch 2 = 3 journal commits, no more
    assert res["commits"] == 3


@pytest.mark.slow
def test_sigkill_between_copy_and_merge_postgres_converges(crash_runs) -> None:  # noqa: ANN001
    """Live-PG sink: SIGKILL after the staging COPY, before the merge.
    The orphan staging table must not block the restarted stream
    (random staging names, autocommit schema creation), the replay must
    converge to the batch oracle, and ``sweep_staging`` must reclaim
    the orphan — the multi-writer staging contract (OPERATIONS.md)."""
    sc = _scenario(crash_runs, "postgres")
    if sc is None:
        pytest.skip("PostgreSQL server binaries not available")

    _assert_killed_mid_batch(sc["killed"])

    recovered = sc["recovered"]
    assert recovered.returncode == 0, (
        f"{recovered.stdout}\n{recovered.stderr[-4000:]}"
    )
    res = _result(recovered)
    # the crash left its staging orphan; the restarted stream ran
    # anyway (not blocked), then the sweep reclaimed exactly it
    assert len(res["orphans_before"]) >= 1
    assert res["swept"] == len(res["orphans_before"])
    assert res["orphans_after"] == []
    assert res["brands"] == 3
    assert res["cars"] == 5
    assert sorted(map(tuple, res["flat"])) == sorted(
        map(tuple, EXPECTED_FLAT)
    )


_FUZZY_CHILD = """
import json, os, signal, sys
from pyspark.sql import SparkSession

mode = sys.argv[1]
root = sys.argv[2]

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.warehouse.dir", f"{root}/wh_{mode}")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from sql_autoloader_spark.streaming import fuzzy_dedup_stream

src = f"{root}/docs"
store = f"{root}/store"
out = f"{root}/corpus"
ckpt = f"{root}/fckpt"
commits = f"{store}__commits"

BASE = "the quick brown fox jumps over the lazy dog again and again "


def add_source(tag, rows):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(f"{src}/{tag}")


def run_stream():
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = fuzzy_dedup_stream(
        stream,
        id_col="doc_id",
        text_col="text",
        store_path=store,
        out_path=out,
        checkpoint_dir=ckpt,
    )
    assert q.awaitTermination(240)


def admitted():
    ids = [r["doc_id"] for r in spark.read.parquet(out).collect()]
    return sorted(ids)


if mode == "kill":
    add_source("f1", [
        (1, BASE * 3),
        (2, "completely different words describing spark catalyst " * 4),
        (3, "a third body of text with its own vocabulary entirely " * 4),
    ])
    run_stream()  # batch 0 admits 1, 2, 3 and commits
    print("PHASE1 " + json.dumps({"admitted": admitted()}), flush=True)

    # die at the WORST instant of the per-batch commit protocol: the
    # corpus partition is written and the store keys are appended
    # (token uncommitted), but the marker append never lands
    from pyspark.sql.readwriter import DataFrameWriter

    orig_parquet = DataFrameWriter.parquet

    def marker_kill(self, path, *args, **kwargs):
        if path == commits:
            os.kill(os.getpid(), signal.SIGKILL)
        return orig_parquet(self, path, *args, **kwargs)

    DataFrameWriter.parquet = marker_kill
    add_source("f2", [
        (11, BASE * 3),  # near-dup of doc 1 -> must drop
        (12, "fresh unrelated content entirely about streaming state " * 4),
    ])
    run_stream()  # SIGKILLs itself inside batch 1, pre-marker
    print("SURVIVED", flush=True)  # must never print
else:
    add_source("f3", [
        # near-dup of doc 12 (admitted by the REPLAYED batch 1): must
        # DROP, proving the replay's store append is visible to batch 2
        (21, "fresh unrelated content entirely about streaming state " * 4),
        (22, "a brand new final document closing out the corpus test " * 4),
    ])
    run_stream()  # replays batch 1 (recomputed from committed state), then batch 2
    counts = {}
    for r in spark.read.parquet(out).collect():
        counts[r["doc_id"]] = counts.get(r["doc_id"], 0) + 1
    print("RESULT " + json.dumps({
        "admitted": admitted(),
        "max_multiplicity": max(counts.values()),
        "n_commits": spark.read.parquet(commits).count(),
    }), flush=True)
    spark.stop()
"""


@pytest.mark.slow
def test_sigkill_before_commit_marker_fuzzy_dedup_converges(crash_runs) -> None:  # noqa: ANN001
    """Streaming near-dup admission: SIGKILL after BOTH sink writes
    (corpus partition + store keys) but before the commit marker — the
    worst instant of the per-batch commit protocol.  The replayed batch
    must overwrite its own half-written corpus partition (no duplicate
    rows), decide admission from committed store keys only (the crashed
    attempt's uncommitted token is invisible), and leave the corpus at
    exactly the deterministic admission set.  Complements the in-process
    fake-crash test (tests/test_streaming.py) with a REAL process
    kill driven through the public fuzzy_dedup_stream surface."""
    sc = _scenario(crash_runs, "fuzzy")
    killed = sc["killed"]
    _assert_killed_mid_batch(killed)
    phase1 = json.loads(
        next(
            ln for ln in killed.stdout.splitlines() if ln.startswith("PHASE1")
        )[len("PHASE1 ") :]
    )
    assert phase1 == {"admitted": [1, 2, 3]}
    # the crash left the uncommitted batch-1 corpus partition in place
    # (filesystem snapshot captured between the kill and the recovery)
    crashed_rows = [
        p
        for p in sc["corpus_listing"]
        if p.startswith("__batch=") and p.endswith("_1")
    ]
    assert crashed_rows, sc["corpus_listing"]

    recovered = sc["recovered"]
    assert recovered.returncode == 0, (
        f"{recovered.stdout}\n{recovered.stderr[-4000:]}"
    )
    res = _result(recovered)
    # batch 0 {1,2,3} + replayed batch 1 {12} (11 near-dups doc 1) +
    # batch 2 {22} — doc 21 DROPS as a near-dup of the REPLAYED doc 12,
    # proving the replay's store append became visible to later batches
    assert res["admitted"] == [1, 2, 3, 12, 22]
    assert res["max_multiplicity"] == 1  # the replay overwrote, not appended
    assert res["n_commits"] == 3  # one marker per batch, crashed attempt none


_REWRITE_CHILD = """
import json, os, signal, sys
from pyspark.sql import SparkSession

mode = sys.argv[1]
root = sys.argv[2]

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.warehouse.dir", f"{root}/wh_{mode}")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from sql_autoloader_spark.connectors import spark_catalog as sc_mod
from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

spark.sql(f"CREATE DATABASE IF NOT EXISTS rwdb LOCATION '{root}/rwdb'")
db = SparkConnector(spark, database="rwdb")

if mode == "kill":
    db.execute_ddl(
        "CREATE TABLE cmp_t (id INTEGER PRIMARY KEY, name TEXT UNIQUE);"
    )
    with db:
        db.insert(
            spark.createDataFrame(
                [(f"n{i:03d}",) for i in range(100)], "name string"
            ),
            table="cmp_t",
        )
    print("PHASE1 " + json.dumps(
        {"rows": db._read_table("cmp_t").count()}
    ), flush=True)

    # die inside _overwrite_table at the worst instant: the staging
    # copy is complete but the target has been dropped and its
    # location cleared (_apply_layout is the first call after the
    # clear, before the final write)
    orig = sc_mod.SparkConnector._apply_layout

    def die(self, writer, table):
        if table == "cmp_t":
            os.kill(os.getpid(), signal.SIGKILL)
        return orig(self, writer, table)

    sc_mod.SparkConnector._apply_layout = die
    db.compact_table("cmp_t")  # SIGKILLs itself mid-rewrite
    print("SURVIVED", flush=True)  # must never print
else:
    try:
        before = db._read_table("cmp_t").count()
    except Exception:  # the destroyed target may not even scan
        before = -1
    restored = db.recover_staging("cmp_t")
    rows = db._read_table("cmp_t").collect()
    names = sorted(r["name"] for r in rows)
    print("RESULT " + json.dumps({
        "before": before,
        "restored": restored,
        "n": len(names),
        "first": names[0],
        "last": names[-1],
        "distinct_ids": len({r["id"] for r in rows}),
    }), flush=True)
    spark.stop()
"""


@pytest.mark.slow
def test_sigkill_mid_rewrite_recovers_from_staging_cross_process(
    crash_runs,  # noqa: ANN001
) -> None:
    """A compaction rewrite SIGKILLed at its worst instant — staging
    copy complete, target dropped and its location cleared — must be
    recoverable by a FRESH driver process via ``recover_staging``
    (in-session recovery is covered in tests/test_catalog_persistence;
    this is the cross-process form, which additionally exercises the
    round-12 ``_overwrite_table`` fix: the restore itself rewrites an
    ADOPTED external-location table)."""
    sc = _scenario(crash_runs, "rewrite")
    root = sc["root"]
    killed = sc["killed"]
    _assert_killed_mid_batch(killed)
    # the staging copy is the only surviving content (snapshot taken
    # between the kill and the recovery)
    assert sc["staging_mid"]

    recovered = sc["recovered"]
    assert recovered.returncode == 0, (
        f"{recovered.stdout}\n{recovered.stderr[-4000:]}"
    )
    res = _result(recovered)
    assert res["before"] in (-1, 0)  # the target really was destroyed
    assert res["restored"] == 100
    assert (res["n"], res["distinct_ids"]) == (100, 100)
    assert (res["first"], res["last"]) == ("n000", "n099")
    # the staging copy is consumed by the restore
    assert not os.path.exists(f"{root}/rwdb/cmp_t__recovery_staging")


_RACER_CHILD = """
import json, os, signal, sys, time
from pyspark.sql import SparkSession

from sql_autoloader_spark.connectors import spark_catalog as sc_mod
from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

role = sys.argv[1]          # "victim" | "survivor"
db_location = sys.argv[2]
barrier = sys.argv[3]

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.warehouse.dir", f"{barrier}/wh_{role}")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
spark.sql(f"CREATE DATABASE IF NOT EXISTS rwdb LOCATION '{db_location}'")

# BOTH writers open before the race starts (the documented open-time
# contract: _recover_orphans must not run while commits are in flight)
conn = SparkConnector(spark, database="rwdb")

open(f"{barrier}/ready_{role}", "w").close()
deadline = time.time() + 1200
while not os.path.exists(f"{barrier}/go"):
    if time.time() > deadline:
        sys.exit(3)
    time.sleep(0.05)


def put(name):
    with conn:
        conn.insert(
            spark.createDataFrame([(name,)], ["name"]), table="rw_t"
        )


if role == "victim":
    put("victim-0")  # a clean commit first: the protocol works at all
    print("PHASE1", flush=True)

    # die the instant the link(2) claim LANDS: the commit file is
    # published (readers will adopt it) but the writer's bookkeeping —
    # tmp-file delete, in-memory registration, view refresh — is lost
    orig = sc_mod._CommitJournal._claim

    def claim_then_die(self, tmp_name, dest_name):
        ok = orig(self, tmp_name, dest_name)
        if ok:
            os.kill(os.getpid(), signal.SIGKILL)
        return ok

    sc_mod._CommitJournal._claim = claim_then_die
    put("victim-1")  # SIGKILLs itself inside _CommitJournal.commit
    print("SURVIVED", flush=True)  # must never print
else:
    ids = []
    for i in range(8):
        put(f"surv-{i}")
        ids.append(conn.commit_history()[-1])
    print("RESULT " + json.dumps({"claimed": ids}), flush=True)
    spark.stop()
"""


@pytest.mark.slow
def test_sigkill_one_of_two_racing_writers_mid_claim(
    spark,  # noqa: ANN001
    crash_runs,  # noqa: ANN001
) -> None:
    """Two driver processes commit concurrently to ONE warehouse; one is
    SIGKILLed the instant its link(2) claim lands — commit file
    published, bookkeeping (tmp delete, registration) lost.  Pins the
    three multi-writer-under-crash claims:

    - the SURVIVOR keeps committing through and past the kill, every
      claim under a distinct id;
    - RECOVERY (a fresh connector) ADOPTS the dead writer's landed
      commit — its rows are visible, its cid is in the history — and
      sweeps the stale tmp claim file the kill left behind;
    - ``vacuum_commits`` folds the dead claim's token like any other:
      no row of the killed-but-published commit is ever collected.
    """
    from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

    sc = _scenario(crash_runs, "racing")
    db_location = sc["db_location"]
    v_out, v_err = sc["victim"]["stdout"], sc["victim"]["stderr"]
    s_out, s_err = sc["survivor"]["stdout"], sc["survivor"]["stderr"]

    # the victim really died BY SIGKILL inside its second commit
    assert sc["victim"]["returncode"] == -signal.SIGKILL, (
        f"{v_out}\n{v_err[-3000:]}"
    )
    assert "PHASE1" in v_out and "SURVIVED" not in v_out, v_out
    # the survivor was never disturbed: 8 commits, distinct ids, rc 0
    assert sc["survivor"]["returncode"] == 0, f"{s_out}\n{s_err[-3000:]}"
    line = [ln for ln in s_out.splitlines() if ln.startswith("RESULT ")]
    assert line, f"no RESULT:\n{s_out}\n{s_err[-2000:]}"
    claimed = json.loads(line[-1][len("RESULT ") :])["claimed"]
    assert len(claimed) == len(set(claimed)) == 8

    # the kill instant left physical evidence: the published commit file
    # AND the stale tmp claim file for the SAME token
    jdir = Path(db_location) / "_sql_autoloader_commits"
    tmps = list(jdir.glob("tmp-*"))
    assert len(tmps) == 1, sorted(p.name for p in jdir.iterdir())
    dead_token = int(tmps[0].name[len("tmp-") :])
    published = {
        int(f.name[: -len(".commit")]): int(f.read_text().strip())
        for f in jdir.glob("*.commit")
    }
    assert dead_token in published.values()  # the claim DID land
    assert len(published) == 10  # 1 clean + 1 killed + 8 survivor

    # RECOVERY: a fresh connector adopts the dead writer's landed commit
    fresh = SparkConnector(spark, database="rwrace")
    rows = sorted(r["name"] for r in fresh._read_table("rw_t").collect())
    expected = sorted(
        ["victim-0", "victim-1", *[f"surv-{i}" for i in range(8)]]
    )
    assert rows == expected  # adopted, nothing swept, nothing doubled
    history = fresh.commit_history()
    assert len(history) == len(set(history)) == 10
    assert not list(jdir.glob("tmp-*"))  # stale claim file swept at open

    # vacuum folds the killed-but-published token like any other commit
    fresh.vacuum_commits(retain_last=1)
    rows_after = sorted(
        r["name"] for r in fresh._read_table("rw_t").collect()
    )
    assert rows_after == expected  # never collects the in-flight token
    assert len(fresh.commit_history()) == 1

_OPENER_CHILD = """
import os, sys, time

from pyspark.sql import SparkSession

from sql_autoloader_spark.connectors.spark_catalog import SparkConnector

role = sys.argv[1]
db_location = sys.argv[2]
barrier = sys.argv[3]

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.warehouse.dir", f"{barrier}/wh_{role}")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
spark.sql(f"CREATE DATABASE IF NOT EXISTS codb LOCATION '{db_location}'")

# barrier BEFORE the connector: the opens under test live INSIDE
# SparkConnector.__init__ (each adopts every persisted table from its
# sidecar JSON), so both processes must enter it together
open(f"{barrier}/ready_{role}", "w").close()
deadline = time.time() + 1200
while not os.path.exists(f"{barrier}/go"):
    if time.time() > deadline:
        sys.exit(3)
    time.sleep(0.02)

conn = SparkConnector(spark, database="codb")
# the adopted catalog is fully usable: every persisted table is
# introspectable and readable through the normal path
names = sorted(conn.schema.graph.nodes)
counts = [conn._read_table(t).count() for t in names]
print("OPENED " + ",".join(names) + " " + ",".join(map(str, counts)),
      flush=True)
spark.stop()
"""


@pytest.mark.slow
def test_concurrent_open_same_warehouse(
    crash_runs,  # noqa: ANN001
) -> None:
    """Two driver processes OPEN the same warehouse simultaneously.

    Both run ``_load_tables`` over the same persisted tables.  Opening
    only reads each table's sidecar JSON, so the two opens share no
    write.  This test pins that two simultaneous opens both succeed,
    both see every table, and leave every sidecar intact.
    """
    sc = _scenario(crash_runs, "open")
    db_location = sc["db_location"]
    l_out, l_err = sc["left"]["stdout"], sc["left"]["stderr"]
    r_out, r_err = sc["right"]["stdout"], sc["right"]["stderr"]

    assert sc["left"]["returncode"] == 0, f"{l_out}\n{l_err[-4000:]}"
    assert sc["right"]["returncode"] == 0, f"{r_out}\n{r_err[-4000:]}"
    expected = "OPENED " + ",".join(f"co_t{i}" for i in range(6))
    for out, err in ((l_out, l_err), (r_out, r_err)):
        line = [ln for ln in out.splitlines() if ln.startswith("OPENED ")]
        assert line, f"no OPENED line:\n{out}\n{err[-2000:]}"
        got_names, got_counts = line[-1][len("OPENED ") :].rsplit(" ", 1)
        assert "OPENED " + got_names == expected, line[-1]
        assert got_counts == "2,0,0,0,0,0", line[-1]

    # no lingering metadata tmps from either open (both lost-race
    # tolerant AND tidy), and every table's metadata JSON intact
    meta = Path(db_location) / "_sql_autoloader_meta"
    leftovers = [p.name for p in meta.iterdir() if ".json.tmp" in p.name]
    assert not leftovers, leftovers
    for i in range(6):
        assert json.loads((meta / f"co_t{i}.json").read_text())["meta_version"]
