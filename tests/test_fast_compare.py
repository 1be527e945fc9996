"""The checksum fast-path compare (ops.fast_set_equal) and its use by
``load`` (deferred merge invariants).

The fast path replaces the all-columns groupBy shuffle of the exact
compare with ONE streaming aggregate; these tests pin (a) the checksum's
discrimination properties, including the null-position case a bare
``xxhash64`` would collide on, and (b) that ``load``'s happy path takes
it while failure attribution still matches the eager path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
from sql_autoloader_spark.exceptions import (
    CompareNoExactMatchError,
    InsertingDataFailedError,
)
from sql_autoloader_spark.ops import dataframe_ops as ops


def _df(spark: SparkSession, rows, schema="a string, b string"):
    return spark.createDataFrame(rows, schema)


def test_fast_set_equal_true_on_equal_sets(spark: SparkSession) -> None:
    rows = [("x", "1"), ("y", None), (None, "z")]
    assert ops.fast_set_equal(
        _df(spark, rows), _df(spark, list(reversed(rows)))
    )


def test_fast_set_equal_false_on_extra_row(spark: SparkSession) -> None:
    rows = [("x", "1"), ("y", "2")]
    assert not ops.fast_set_equal(
        _df(spark, rows), _df(spark, [*rows, ("z", "3")])
    )


def test_fast_set_equal_false_on_null_position_swap(
    spark: SparkSession,
) -> None:
    """(NULL, 'x') vs ('x', NULL) — identical under bare xxhash64 (null
    inputs are skipped), distinguished by the interleaved null flags."""
    assert not ops.fast_set_equal(
        _df(spark, [(None, "x")]), _df(spark, [("x", None)])
    )


def test_hash_channels_are_independent(spark: SparkSession) -> None:
    """h2 must be a fresh hash of the ROW CONTENTS, not a re-mix of h1:
    any h2 = f(h1) collides whenever h1 does, silently cutting the
    documented ~2^-128 false-pass bound to ~2^-64.  Pin that h2 differs
    from the old derived form xxhash64(seed, h1) on sample rows."""
    from pyspark.sql import functions as F

    frame = _df(spark, [("x", "1"), (None, "z"), ("y", None)])
    h1, h2 = ops._row_hash_channels(frame, frame.columns)
    derived = F.xxhash64(F.lit(-7046029254386353131), h1)
    rows = frame.select(
        h1.alias("h1"), h2.alias("h2"), derived.alias("old")
    ).collect()
    assert all(r["h2"] != r["old"] for r in rows)
    # and the channels still disagree with each other (sanity)
    assert all(r["h1"] != r["h2"] for r in rows)


def test_fast_set_equal_false_on_empty_db(spark: SparkSession) -> None:
    empty = _df(spark, [("a", "b")]).limit(0)
    assert not ops.fast_set_equal(_df(spark, [("a", "b")]), empty)
    # and equal-empty still fails (the compare treats "no results" as an
    # error, so the fast path must not claim success)
    assert not ops.fast_set_equal(empty, empty)


def test_fast_set_equal_false_on_duplicate_multiset(
    spark: SparkSession,
) -> None:
    """Sets equal but multisets differ (a duplicated db row): counts
    mismatch, so the fast path defers to the exact grouped compare."""
    assert not ops.fast_set_equal(
        _df(spark, [("x", "1"), ("y", "2")]),
        _df(spark, [("x", "1"), ("y", "2"), ("y", "2")]),
    )


def test_load_happy_path_uses_fast_compare(
    spark: SparkSession, monkeypatch: pytest.MonkeyPatch
) -> None:
    calls: list[bool] = []
    orig = ops.fast_set_equal

    def spy(data, db, **kw):  # noqa: ANN001, ANN202
        result = orig(data, db, **kw)
        calls.append(result)
        return result

    monkeypatch.setattr(ops, "fast_set_equal", spy)
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE fc_dim (id INTEGER PRIMARY KEY, name TEXT UNIQUE);
        CREATE TABLE fc_fact (dim_id INTEGER REFERENCES fc_dim (id), v BIGINT);
        """
    )
    with db:
        db.load(_df(spark, [("a", 1), ("b", 2)], "name string, v bigint"))
    assert calls == [True]


def test_fast_compare_writes_no_session_conf(
    spark: SparkSession,
    monkeypatch: pytest.MonkeyPatch,
    conf_writes: list,
) -> None:
    """The fast exact compare of a small frame (≤ 10k rows) leaves the
    session conf alone, whether called directly or by ``load``; a
    connector's construction and small load write only the small-append
    pin's planning toggle."""
    data = _df(spark, [(str(i), str(i % 7)) for i in range(200)])
    conf_writes.clear()
    assert (
        ops.validate_load_compare(data, data, fast=True, exact=True)
        is ops.FAST_VERIFIED
    )
    assert conf_writes == []

    during: list[list] = []
    orig = ops.validate_load_compare

    def spy(data, db_data, **kw):  # noqa: ANN001, ANN202
        assert kw["fast"] and kw["exact"]
        start = len(conf_writes)
        result = orig(data, db_data, **kw)
        during.append(conf_writes[start:])
        return result

    monkeypatch.setattr(ops, "validate_load_compare", spy)
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE fc3_dim (id INTEGER PRIMARY KEY, name TEXT UNIQUE);
        CREATE TABLE fc3_fact (dim_id INTEGER REFERENCES fc3_dim (id), v BIGINT);
        """
    )
    with db:
        db.load(_df(spark, [("a", 1), ("b", 2)], "name string, v bigint"))
    assert during == [[]]

    # construction plus one small load on a fresh session: the only
    # writes are the small-append pin's planning toggle and its restore
    fresh = spark.newSession()
    conf_writes.clear()
    db = SparkConnector(fresh)
    db.execute_ddl(
        """
        CREATE TABLE fc4_dim (id INTEGER PRIMARY KEY, name TEXT UNIQUE);
        CREATE TABLE fc4_fact (dim_id INTEGER REFERENCES fc4_dim (id), v BIGINT);
        """
    )
    with db:
        db.load(_df(fresh, [("a", 1), ("b", 2)], "name string, v bigint"))
    pin_keys = {"spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"}
    assert conf_writes
    assert {method for method, _ in conf_writes} == {"set"}
    assert {key for _, key in conf_writes} == pin_keys
    assert len(conf_writes) % 4 == 0  # set both, restore both, per pin


def test_load_conflict_error_identity_under_deferral(
    spark: SparkSession,
) -> None:
    """Two payload rows sharing a unique key: the eager path raised
    InsertingDataFailedError from the per-step merge — the deferred path
    must raise the SAME error (checksum mismatch → per-step re-check)."""
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE fc2_dim (
            id INTEGER PRIMARY KEY, name TEXT UNIQUE, color TEXT
        );
        CREATE TABLE fc2_fact (dim_id INTEGER REFERENCES fc2_dim (id), v BIGINT);
        """
    )
    data = _df(
        spark,
        [("apple", "red", 1), ("apple", "green", 2)],
        "name string, color string, v bigint",
    )
    with pytest.raises(InsertingDataFailedError, match="fc2_dim"), db:
        db.load(data)


def test_load_exact_mismatch_still_raises_after_fast_path(
    spark: SparkSession,
) -> None:
    """Pre-existing db rows not in the payload: exact compare must fail
    exactly as before (fast mismatch → grouped classification)."""
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE fc3_dim (id INTEGER PRIMARY KEY, name TEXT UNIQUE);
        CREATE TABLE fc3_fact (dim_id INTEGER REFERENCES fc3_dim (id), v BIGINT);
        """
    )
    with db:
        db.load(_df(spark, [("a", 1), ("b", 2)], "name string, v bigint"))
    with pytest.raises(CompareNoExactMatchError), db:
        db.load(_df(spark, [("a", 1)], "name string, v bigint"))


def test_load_reconstruction_exposed_from_fast_path(
    spark: SparkSession,
) -> None:
    db = SparkConnector(spark)
    db.expose_reconstruction = True
    db.execute_ddl(
        """
        CREATE TABLE fc4_dim (id INTEGER PRIMARY KEY, name TEXT UNIQUE);
        CREATE TABLE fc4_fact (dim_id INTEGER REFERENCES fc4_dim (id), v BIGINT);
        """
    )
    rows = [("a", 1), ("b", 2), ("b", 3)]
    with db:
        db.load(_df(spark, rows, "name string, v bigint"))
    got = {tuple(r) for r in db.last_reconstruction.collect()}
    assert got == set(rows)
