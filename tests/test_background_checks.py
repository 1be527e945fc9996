"""``load``'s background merge checks.

Without the fast compare (``exact=False``, a custom or filtered compare,
``compare=False``) and with duplication disallowed, each keyed step's
merge-invariant check runs on one worker thread beside the next step and
``load`` awaits the verdicts at its end.  These tests pin that the
checks really leave the caller's thread, that a failed check keeps its
per-table error identity (and wins over any later error of the load),
that no thread outlives ``load``, that the workers' jobs carry the
caller's job group and session tags, and the one decision record per
call.
"""

from __future__ import annotations

import logging
import threading

import pytest
from pyspark.sql import SparkSession

from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
from sql_autoloader_spark.exceptions import InsertingDataFailedError
from sql_autoloader_spark.ops import dataframe_ops as ops

#: three keyed tables in a chain (a <- b <- c) under a plain fact f
CHAIN_DDL = """
CREATE TABLE {p}_a (id INTEGER PRIMARY KEY, a TEXT UNIQUE NOT NULL);
CREATE TABLE {p}_b (
    id INTEGER PRIMARY KEY,
    b TEXT UNIQUE NOT NULL,
    w INT,
    a_id INTEGER REFERENCES {p}_a (id)
);
CREATE TABLE {p}_c (
    id INTEGER PRIMARY KEY,
    c TEXT UNIQUE NOT NULL,
    b_id INTEGER REFERENCES {p}_b (id)
);
CREATE TABLE {p}_f (
    id INTEGER PRIMARY KEY,
    f TEXT UNIQUE NOT NULL,
    c_id INTEGER REFERENCES {p}_c (id)
);
"""
CHAIN_COLS = "a string, b string, w int, c string, f string"


def _chain(spark: SparkSession, prefix: str) -> SparkConnector:
    """A managed-catalog chain holding one committed row per table; a
    second load of ``("a1", "b1", 99, ...)`` then hits ``b``'s UNIQUE
    constraint, so step 2's merge finds a NULL id."""
    db = SparkConnector(spark, database=f"{prefix}db")
    db.execute_ddl(CHAIN_DDL.format(p=prefix))
    with db:
        db.load(spark.createDataFrame([("a1", "b1", 1, "c1", "f1")], CHAIN_COLS))
    return db


def _rows(db: SparkConnector, table: str) -> set[tuple]:
    return {tuple(r) for r in db._read_table(table).collect()}


def test_load_runs_merge_checks_off_the_caller_thread(
    spark: SparkSession, monkeypatch: pytest.MonkeyPatch
) -> None:
    db = SparkConnector(spark)
    db.execute_ddl(CHAIN_DDL.format(p="thr"))
    seen: list[int] = []
    real = ops.check_merge_invariants

    def recording(*args, **kwargs):  # noqa: ANN002, ANN003, ANN202
        seen.append(threading.get_ident())
        return real(*args, **kwargs)

    monkeypatch.setattr(ops, "check_merge_invariants", recording)
    threads = threading.active_count()
    data = spark.createDataFrame(
        [("a1", "b1", 1, "c1", "f1"), ("a1", "b2", 2, "c2", "f2")], CHAIN_COLS
    )
    with db:
        db.load(data, exact=False)
    assert len(seen) == 3  # one check per keyed step, none skipped
    assert threading.get_ident() not in seen
    assert threading.active_count() == threads
    assert db._read_table("thr_f").count() == 2


def test_failed_background_check_names_its_table_and_rolls_back(
    spark: SparkSession, monkeypatch: pytest.MonkeyPatch
) -> None:
    db = _chain(spark, "bge")
    before = {t: _rows(db, f"bge_{t}") for t in "abcf"}
    written: list[str] = []
    real = SparkConnector._write_new_rows

    def recording(self, table, *args, **kwargs):  # noqa: ANN001, ANN002, ANN003, ANN202
        written.append(table)
        return real(self, table, *args, **kwargs)

    monkeypatch.setattr(SparkConnector, "_write_new_rows", recording)
    threads = threading.active_count()
    conflict = spark.createDataFrame([("a1", "b1", 99, "c2", "f2")], CHAIN_COLS)
    with pytest.raises(InsertingDataFailedError, match="'bge_b'"), db:
        db.load(conflict, exact=False)
    # the steps after the failing one wrote before its verdict arrived
    assert "bge_c" in written
    assert threading.active_count() == threads
    monkeypatch.undo()
    for conn in (db, SparkConnector(spark, database="bgedb")):
        assert {t: _rows(conn, f"bge_{t}") for t in "abcf"} == before


def test_failed_background_check_wins_over_a_later_write_error(
    spark: SparkSession, monkeypatch: pytest.MonkeyPatch
) -> None:
    db = _chain(spark, "bgw")
    real = SparkConnector._write_new_rows

    def failing(self, table, *args, **kwargs):  # noqa: ANN001, ANN002, ANN003, ANN202
        if table == "bgw_c":
            msg = "simulated write failure"
            raise RuntimeError(msg)
        return real(self, table, *args, **kwargs)

    monkeypatch.setattr(SparkConnector, "_write_new_rows", failing)
    threads = threading.active_count()
    conflict = spark.createDataFrame([("a1", "b1", 99, "c2", "f2")], CHAIN_COLS)
    with pytest.raises(InsertingDataFailedError, match="'bgw_b'") as err, db:
        db.load(conflict, exact=False)
    assert isinstance(err.value.__context__, RuntimeError)
    assert threading.active_count() == threads


def test_background_fan_out_still_raises(spark: SparkSession) -> None:
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE fo_a (id INTEGER PRIMARY KEY, naam TEXT, waarde INT);
        CREATE TABLE fo_b (
            id INTEGER PRIMARY KEY,
            opm TEXT,
            a_id INTEGER REFERENCES fo_a (id)
        );
        """
    )
    with db:
        db.load(
            spark.createDataFrame(
                [("x", 1, "o1"), ("x", 2, "o2")],
                "naam string, waarde int, opm string",
            )
        )
    threads = threading.active_count()
    # 'x' now names two fo_a rows: the key merge fans the row out
    fan_out = spark.createDataFrame([("x", "o3")], "naam string, opm string")
    duplicated = "Rows were duplicated when joining on ids."
    with pytest.raises(AssertionError, match=duplicated), db:
        db.load(fan_out, exact=False)
    assert threading.active_count() == threads


def test_background_jobs_carry_the_callers_group_and_tags(
    spark: SparkSession,
) -> None:
    """Every job a load and its commit start — on the caller's thread,
    the check worker or a commit worker — is in the caller's job group
    and carries its session tag, so cancelling either cancels them."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def job_tags() -> dict[int, list[str]]:
        out = {}
        jobs = store.jobsList(None).iterator()
        while jobs.hasNext():
            job = jobs.next()
            tags = job.jobTags()
            out[job.jobId()] = [tags.apply(i) for i in range(tags.size())]
        return out

    db = SparkConnector(spark, database="attrdb")
    db.execute_ddl(CHAIN_DDL.format(p="attr"))
    data = spark.createDataFrame(
        [("a1", "b1", 1, "c1", "f1"), ("a2", "b2", 2, "c2", "f2")], CHAIN_COLS
    )
    before = set(job_tags())
    sc.setJobGroup("g13", "background attribution")
    spark.addTag("t13")
    try:
        with db:
            db.load(data, exact=False)
    finally:
        spark.removeTag("t13")
        sc._jsc.clearJobGroup()
    started = {j: t for j, t in job_tags().items() if j not in before}
    assert started
    assert set(started) <= set(sc.statusTracker().getJobIdsForGroup("g13"))
    untagged = [
        j for j, tags in started.items() if not any(t.endswith("-t13") for t in tags)
    ]
    assert not untagged
    assert db._read_table("attr_f").count() == 2


def test_load_logs_one_merge_check_decision(
    spark: SparkSession, caplog: pytest.LogCaptureFixture
) -> None:
    db = SparkConnector(spark)
    db.execute_ddl(CHAIN_DDL.format(p="dec"))
    data = spark.createDataFrame([("a1", "b1", 1, "c1", "f1")], CHAIN_COLS)

    def record(**kwargs) -> tuple[str, int]:  # noqa: ANN003
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="sql_autoloader_spark"), db:
            db.load(data, **kwargs)
        recs = [r for r in caplog.records if getattr(r, "op", None) == "load"]
        assert len(recs) == 1, kwargs
        return recs[0].decision, recs[0].n_steps

    assert record() == ("deferred", 3)
    assert record(exact=False) == ("background", 3)
    assert record(compare=False) == ("background", 3)
    assert record(allow_duplication=True) == ("eager", 3)
