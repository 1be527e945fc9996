"""Port of /root/reference/tests/test_dataframe_operations.py and
tests/test_connector.py:34-40 — data-plane operator unit tests, restated
over PySpark frames.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from sql_autoloader_spark.exceptions import (
    CompareMissingRowsError,
    CompareNoExactMatchError,
    MissingKeysAfterMergeError,
)
from sql_autoloader_spark.ops import dataframe_ops as ops


def df_of(spark: SparkSession, rows: list[dict], schema: str):
    return spark.createDataFrame(rows, schema=schema)


# --- preprocess / postprocess ------------------------------------------------


def test_preprocess_renames_and_dedups(spark: SparkSession) -> None:
    data = df_of(
        spark,
        [{"x": 1, "y": "a"}, {"x": 1, "y": "a"}, {"x": 2, "y": "b"}],
        "x int, y string",
    )
    out = ops.preprocess(data, {"x": "a_id"})
    assert sorted(out.columns) == ["a_id", "y"]
    assert out.count() == 2


def test_preprocess_postprocess_roundtrip(spark: SparkSession) -> None:
    """preprocess∘postprocess == identity on names (reference
    tests/test_connector.py:34-40)."""
    data = df_of(spark, [{"aa": 1, "bb": 2}], "aa int, bb int")
    columns = {"aa": "one", "bb": "two"}
    there = ops.preprocess(data, columns)
    back = ops.postprocess(there, columns)
    assert sorted(back.columns) == ["aa", "bb"]


def test_postprocess_skips_absent(spark: SparkSession) -> None:
    data = df_of(spark, [{"one": 1}], "one int")
    out = ops.postprocess(data, {"aa": "one", "bb": "two"})
    assert out.columns == ["aa"]


# --- has_nulls ---------------------------------------------------------------


def test_has_nulls(spark: SparkSession) -> None:
    no_nulls = df_of(spark, [{"a": 1, "b": "x"}], "a int, b string")
    with_nulls = df_of(
        spark, [{"a": 1, "b": None}, {"a": 2, "b": "y"}], "a int, b string"
    )
    empty = spark.createDataFrame([], "a int")
    assert not ops.has_nulls(no_nulls)
    assert ops.has_nulls(with_nulls)
    assert ops.has_nulls(empty)  # empty counts as has-nulls (reference :12-16)


# --- distinct_rows -----------------------------------------------------------


def test_distinct_rows(spark: SparkSession) -> None:
    data = df_of(
        spark,
        [
            {"a": 1, "b": "x", "c": 1.0},
            {"a": 1, "b": "x", "c": 2.0},
            {"a": 2, "b": "y", "c": 3.0},
        ],
        "a int, b string, c double",
    )
    out = ops.distinct_rows(data, ["a", "b"])
    assert out.columns == ["a", "b"]
    assert out.count() == 2
    with pytest.raises(AssertionError):
        ops.distinct_rows(data, ["a", "nope"])


# --- match_dtypes ------------------------------------------------------------


def test_match_dtypes(spark: SparkSession) -> None:
    user = df_of(spark, [{"a": 1, "b": 2.5}], "a int, b double")
    db = df_of(spark, [{"a": "1", "b": "2.5"}], "a string, b string")
    out = ops.match_dtypes(db, user)
    assert dict(out.dtypes) == {"a": "int", "b": "double"}
    assert out.first().asDict() == {"a": 1, "b": 2.5}


def test_match_dtypes_utc_wall_clock_ignores_session_timezone(
    spark: SparkSession,
) -> None:
    """With ``utc_wall_clock``, TIMESTAMP <-> TIMESTAMP_NTZ/DATE/text
    alignment reads and writes UTC wall clocks under any session
    timezone — also in New York's fall-back and spring-forward hours,
    where a session-zone cast is ambiguous or shifts the clock."""
    import datetime as dt

    from pyspark.sql import functions as F

    utc = dt.timezone.utc
    instants = [
        dt.datetime(2021, 11, 7, 5, 30, tzinfo=utc),  # 01:30 EDT
        dt.datetime(2021, 11, 7, 6, 30, tzinfo=utc),  # 01:30 EST
        dt.datetime(2021, 3, 14, 2, 30, 0, 125000, tzinfo=utc),
    ]
    tz = "spark.sql.session.timeZone"
    ny = spark.newSession()
    ny.conf.set(tz, "America/New_York")
    rows = [(m, m.replace(tzinfo=None)) for m in instants]
    frame = ny.createDataFrame(rows, "ts timestamp, wall timestamp_ntz")
    like = frame.select(
        F.col("wall").alias("ts"),
        F.col("ts").alias("wall"),
        F.col("ts").alias("day"),
        F.lit("").alias("text"),
    )
    # db side: stored instants and wall clocks, the other way round
    db = frame.select(
        "ts",
        "wall",
        F.col("wall").cast("date").alias("day"),
        F.col("ts").alias("text"),
    )
    out = ops.match_dtypes(db, like, utc_wall_clock=True)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "timestamp_ntz", "timestamp", "timestamp", "string"
    ]
    got = out.select(
        "ts",
        F.unix_micros("wall").alias("wall"),
        F.unix_micros("day").alias("day"),
        "text",
    ).collect()
    expected = [
        (
            m.replace(tzinfo=None),
            int(m.timestamp()) * 1_000_000 + m.microsecond,
            int(dt.datetime.combine(m.date(), dt.time(), utc).timestamp())
            * 1_000_000,
            m.strftime("%Y-%m-%d %H:%M:%S")
            + (f".{m.microsecond:06d}".rstrip("0") if m.microsecond else ""),
        )
        for m in instants
    ]
    assert [tuple(r) for r in got] == expected


# --- merge_ids ---------------------------------------------------------------


def test_merge_ids_basic(spark: SparkSession) -> None:
    data = df_of(
        spark, [{"a": "one", "b": "x"}, {"a": "two", "b": "y"}], "a string, b string"
    )
    fetch = df_of(
        spark, [{"a_id": 1, "a": "one"}, {"a_id": 2, "a": "two"}],
        "a_id long, a string",
    )
    out = ops.merge_ids(data, fetch, "a_id", "a")
    rows = {(r["a"], r["a_id"]) for r in out.collect()}
    assert rows == {("one", 1), ("two", 2)}


def test_merge_ids_null_safe(spark: SparkSession) -> None:
    """NULL == NULL in the merge join (reference :350-364)."""
    data = df_of(spark, [{"a": None}, {"a": "x"}], "a string")
    fetch = df_of(
        spark, [{"a_id": 1, "a": None}, {"a_id": 2, "a": "x"}],
        "a_id long, a string",
    )
    out = ops.merge_ids(data, fetch, "a_id", "a")
    rows = {(r["a"], r["a_id"]) for r in out.collect()}
    assert rows == {(None, 1), ("x", 2)}


def test_merge_ids_duplication(spark: SparkSession) -> None:
    data = df_of(spark, [{"a": "one"}], "a string")
    fetch = df_of(
        spark, [{"a_id": 1, "a": "one"}, {"a_id": 2, "a": "one"}],
        "a_id long, a string",
    )
    with pytest.raises(AssertionError, match="duplicated"):
        ops.merge_ids(data, fetch, "a_id", "a")
    out = ops.merge_ids(data, fetch, "a_id", "a", allow_duplication=True)
    assert out.count() == 2


def test_merge_ids_missing_keys(spark: SparkSession) -> None:
    data = df_of(spark, [{"a": "one"}, {"a": "ghost"}], "a string")
    fetch = df_of(spark, [{"a_id": 1, "a": "one"}], "a_id long, a string")
    with pytest.raises(MissingKeysAfterMergeError):
        ops.merge_ids(data, fetch, "a_id", "a")


def test_merge_ids_alias_missing(spark: SparkSession) -> None:
    data = df_of(spark, [{"a": "one"}], "a string")
    fetch = df_of(spark, [{"a": "one"}], "a string")
    with pytest.raises(AssertionError, match="alias"):
        ops.merge_ids(data, fetch, "a_id", "a")


# --- compare -----------------------------------------------------------------


def test_compare_exact_match(spark: SparkSession) -> None:
    data = df_of(spark, [{"a": 1}, {"a": 2}, {"a": 2}], "a int")
    db = df_of(spark, [{"a": 2}, {"a": 1}, {"a": 1}], "a int")
    ops.compare(data, db, exact=True)  # set semantics: dups ignored


def test_compare_exact_mismatch(spark: SparkSession) -> None:
    data = df_of(spark, [{"a": 1}], "a int")
    db = df_of(spark, [{"a": 1}, {"a": 2}], "a int")
    with pytest.raises(CompareNoExactMatchError):
        ops.compare(data, db, exact=True)


def test_compare_subset(spark: SparkSession) -> None:
    data = df_of(spark, [{"a": 1}], "a int")
    db = df_of(spark, [{"a": 1}, {"a": 2}], "a int")
    ops.compare(data, db, exact=False)

    missing = df_of(spark, [{"a": 3}], "a int")
    with pytest.raises(CompareMissingRowsError):
        ops.compare(missing, db, exact=False)


def test_compare_subset_drops_null_rows(spark: SparkSession) -> None:
    """exact=False drops data rows containing nulls first (reference :33-34)."""
    data = df_of(spark, [{"a": 1, "b": None}, {"a": 2, "b": "x"}], "a int, b string")
    db = df_of(spark, [{"a": 2, "b": "x"}], "a int, b string")
    ops.compare(data, db, exact=False)


def test_compare_null_safe(spark: SparkSession) -> None:
    """NULLs compare equal across the two sides."""
    data = df_of(spark, [{"a": None}, {"a": "x"}], "a string")
    db = df_of(spark, [{"a": "x"}, {"a": None}], "a string")
    ops.compare(data, db, exact=True)


# --- validate_load_compare (the fused single-job lifecycle validation) -------


def test_validate_load_compare_ok(spark: SparkSession) -> None:
    data = df_of(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": None}], "a int, b string")
    db = df_of(spark, [{"a": 2, "b": None}, {"a": 1, "b": "x"}], "a int, b string")
    ops.validate_load_compare(data, db, exact=True)
    ops.validate_load_compare(data, db, exact=False)


def test_validate_load_compare_empty_db(spark: SparkSession) -> None:
    data = df_of(spark, [{"a": 1}], "a int")
    db = spark.createDataFrame([], "a int")
    with pytest.raises(AssertionError, match="no results"):
        ops.validate_load_compare(data, db, exact=True)


def test_validate_load_compare_fewer_rows(spark: SparkSession) -> None:
    """Null-free data with more raw rows than the db read must fail fast."""
    data = df_of(spark, [{"a": 1}, {"a": 2}, {"a": 3}], "a int")
    db = df_of(spark, [{"a": 1}, {"a": 2}], "a int")
    with pytest.raises(AssertionError, match="fewer rows"):
        ops.validate_load_compare(data, db, exact=True)


def test_validate_load_compare_nulls_relax_count(spark: SparkSession) -> None:
    """Data containing nulls skips the raw-count sanity check (reference
    connector.py:351-358) but exact compare still applies."""
    data = df_of(
        spark, [{"a": 1, "b": None}, {"a": 2, "b": "x"}, {"a": 3, "b": "y"}],
        "a int, b string",
    )
    db = df_of(
        spark, [{"a": 1, "b": None}, {"a": 2, "b": "x"}, {"a": 3, "b": "y"}],
        "a int, b string",
    )
    ops.validate_load_compare(data, db, exact=True)


def test_validate_load_compare_exact_mismatch(spark: SparkSession) -> None:
    data = df_of(spark, [{"a": 1}, {"a": 2}], "a int")
    db = df_of(spark, [{"a": 1}, {"a": 3}], "a int")
    with pytest.raises(CompareNoExactMatchError):
        ops.validate_load_compare(data, db, exact=True)


def test_validate_load_compare_subset_ignores_null_rows(
    spark: SparkSession,
) -> None:
    """exact=False: data rows containing nulls are exempt from the subset
    requirement, non-null rows are not."""
    data = df_of(
        spark, [{"a": 1, "b": None}, {"a": 2, "b": "x"}], "a int, b string"
    )
    db = df_of(spark, [{"a": 2, "b": "x"}, {"a": 9, "b": "z"}], "a int, b string")
    ops.validate_load_compare(data, db, exact=False)

    bad = df_of(
        spark, [{"a": 1, "b": None}, {"a": 5, "b": "q"}], "a int, b string"
    )
    with pytest.raises(CompareMissingRowsError):
        ops.validate_load_compare(bad, db, exact=False)


# --- local_frame (driver rows as a JVM LocalRelation) ------------------------


def test_local_frame_is_local_relation_and_writes_no_conf(
    spark: SparkSession, conf_writes: list
) -> None:
    """List and pandas inputs both land as a ``LocalRelation`` cast to the
    declared schema, without touching the session conf."""
    import pandas as pd

    schema = "k bigint, payload binary, small int"
    rows = [(1, b"\x00\x01", 7), (2, b"", 8)]
    conf_writes.clear()
    frames = [
        ops.local_frame(spark, rows, schema),
        ops.local_frame(spark, pd.DataFrame(rows), schema),
    ]
    assert conf_writes == []
    for frame in frames:
        assert frame.schema.simpleString() == (
            "struct<k:bigint,payload:binary,small:int>"
        )
        plan = frame._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan
        assert sorted(tuple(r) for r in frame.collect()) == [
            (1, bytearray(b"\x00\x01"), 7),
            (2, bytearray(b""), 8),
        ]
    assert ops.local_frame(spark, [], schema).count() == 0
    assert ops.local_frame(spark, pd.DataFrame(), schema).count() == 0
