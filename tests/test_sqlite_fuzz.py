"""Property-based fuzz of the SQLite sink's write layer against a live
database file — the SQLite mirror of tests/test_postgres_fuzz.py.

The round-10 bool bug (sqlite stores bools as INTEGER 0/1, so a bool
column defeated the idempotency pre-filter) was found by review, not
fuzz; this closes that gap for the whole type lattice.  Hypothesis
drives mixed-type payloads (int / float incl. inf and -0.0 / Decimal /
text / bool / datetime / date / bytes / NULL, with deliberate
duplicates) through the public ``insert`` surface (which composes the
payload dedup, the bind canonicalization, the in-database idempotent
write, AND the post-insert subset verification) and checks three
contracts:

1. double-write idempotency against an in-database oracle: the
   filtered table's count after writing the payload TWICE equals
   ``SELECT count(DISTINCT *)`` of the same payload inserted raw —
   SQLite's own value equality, so divergence in either direction
   (filter too lax → growth, too aggressive → data loss) fails;
2. stored-form equality judged by the engine: the filtered table and
   the raw oracle hold the same rows (``EXCEPT`` both ways is empty),
   so the payload lands exactly as SQLite stores it (the
   representation round trip — bool→INTEGER, Decimal→canonical
   text/REAL, datetime→TEXT — takes the target's own affinity);
3. NaN rejection: SQLite silently coerces NaN to NULL (a row the
   filter could never re-match — every reload would grow the table),
   so the sink must reject it typed BEFORE anything is written.

Found by this fuzz while writing it (fixed in the same round):
``decimal.Decimal`` payloads crashed ``executemany`` with an untyped
``ProgrammingError`` (sqlite3 has no Decimal adapter) — now bound as
``canonical_number`` text; and NaN previously mapped to a ``"__nan__"``
sentinel that could never match the NULL SQLite actually stores.
Round 12 (also found here): >15-significant-digit Decimals in NUMERIC
columns are stored as lossy REALs by SQLite's affinity rule — the sink
now lands the payload in a temp table with the target's affinities and
lets SQLite's ``EXCEPT`` decide which rows are already stored.

``SPARK_GRAFT_FUZZ_EXAMPLES`` scales the budget (default 25 for CI;
a 250-example hunt ran clean after the round-12 fixes).
"""

from __future__ import annotations

import datetime
import decimal
import os
import tempfile

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import SparkSession

from sql_autoloader_spark.connectors.sqlite import (
    SQLiteConnector,
    UnstorableValueError,
    _bind_cell,
)

SPARK_SCHEMA = (
    "i long, d double, n decimal(20,6), s string, b boolean,"
    " ts timestamp, dt date, by binary"
)
COLS = ["i", "d", "n", "s", "b", "ts", "dt", "by"]
DDL = (
    "(i INTEGER, d REAL, n NUMERIC(20,6), s TEXT, b BOOLEAN,"
    " ts TIMESTAMP, dt DATE, by BLOB)"
)

_cell = {
    "i": st.integers(min_value=-(2**62), max_value=2**62),
    # inf and -0.0 stay in (REAL corner cases); NaN is excluded from
    # the ROUND-TRIP strategy because the contract REJECTS it typed —
    # that branch has its own test below
    "d": st.floats(allow_nan=False, allow_infinity=True),
    "n": st.decimals(
        allow_nan=False, allow_infinity=False, places=6
    ).filter(lambda v: abs(v) < decimal.Decimal("1e12")),
    # NUL excluded (text affinity truncation hazards are not this
    # fuzz's subject); lone surrogates excluded because Spark's
    # Python→JVM boundary replaces them with U+FFFD before any sink
    # ever sees them
    "s": st.text(
        alphabet=st.characters(
            exclude_characters="\x00", exclude_categories=("Cs",)
        ),
        max_size=20,
    ),
    "b": st.booleans(),
    "ts": st.datetimes(
        min_value=datetime.datetime(1970, 1, 2),
        max_value=datetime.datetime(2200, 1, 1),
    ),
    "dt": st.dates(
        min_value=datetime.date(1, 1, 1),
        max_value=datetime.date(9999, 12, 31),
    ),
    "by": st.binary(max_size=16),
}

_row = st.tuples(*(st.one_of(st.none(), _cell[c]) for c in COLS))

#: payloads deliberately include duplicates: draw rows WITH replacement
#: from a small pool so the idempotency filter actually arbitrates
_payload = st.lists(_row, min_size=1, max_size=10).flatmap(
    lambda pool: st.lists(
        st.sampled_from(pool), min_size=1, max_size=15
    )
)


@pytest.fixture(scope="module")
def fuzz_db(spark: SparkSession):  # noqa: ANN201
    path = os.path.join(tempfile.mkdtemp(), "fuzz.db")
    db = SQLiteConnector(spark, path)
    db.execute_ddl(
        f"CREATE TABLE filtered {DDL}; CREATE TABLE raw {DDL}"
    )
    yield db
    db.close()


@settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "12")),
    deadline=None,
)
# the round-10 bool class and the -0.0/0.0 collapse, pinned
@example(
    payload=[
        (1, -0.0, None, None, True, None, None, None),
        (1, 0.0, None, None, True, None, None, None),
    ]
)
# Decimal trailing-zero scale vs canonical form
@example(
    payload=[
        (None, None, decimal.Decimal("1.500000"), None, None, None, None, None),
        (None, None, decimal.Decimal("1.5"), None, None, None, None, None),
    ]
)
# round 12 (found by this fuzz): >15-significant-digit Decimal in a
# NUMERIC column — SQLite's affinity rule converts the bound text to
# REAL (lossy past digit 15), so a value-only norm never re-matched
# the stored row and every reload grew the table
@example(
    payload=[
        (
            None,
            None,
            decimal.Decimal("301447796541.849291"),
            None,
            None,
            None,
            None,
            None,
        ),
    ]
    * 2
)
@given(payload=_payload)
def test_double_write_matches_sqlite_distinct(
    fuzz_db, payload  # noqa: ANN001
) -> None:
    db = fuzz_db
    con = db.connection
    con.execute("DELETE FROM filtered")
    con.execute("DELETE FROM raw")

    frame = db.spark.createDataFrame(payload, SPARK_SCHEMA)
    # the sink collects Spark's representation of the payload, not the
    # raw python tuples — the oracle must bind THAT
    spark_rows = [tuple(r[c] for c in COLS) for r in frame.collect()]

    db.insert(frame, table="filtered")
    db.insert(frame, table="filtered")

    # oracle: raw inserts through the same binding, SQLite's own
    # value-equality dedup
    con.executemany(
        "INSERT INTO raw VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
        [tuple(_bind_cell(v) for v in row) for row in spark_rows],
    )
    (expected,) = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT * FROM raw)"
    ).fetchone()
    (got,) = con.execute("SELECT count(*) FROM filtered").fetchone()
    assert got == expected, payload

    # stored-form equality judged by SQLite itself: representation
    # changes (bool→INTEGER, Decimal→canonical text/REAL, datetime→TEXT,
    # a >15-digit Decimal in a NUMERIC column stored as the lossy REAL)
    # must land the same rows as the raw oracle, in both directions
    for left, right in (("filtered", "raw"), ("raw", "filtered")):
        extra = con.execute(
            f"SELECT * FROM {left} EXCEPT SELECT * FROM {right}"
        ).fetchall()
        assert extra == [], (left, right, payload)


def test_nan_rejected_before_any_write(fuzz_db) -> None:  # noqa: ANN001
    """SQLite coerces NaN to NULL on bind — silent mangling the filter
    could never re-match — so the sink rejects the payload typed with
    the table untouched (the whole bound list is built before
    executemany, so a late NaN row cannot leave earlier rows behind)."""
    db = fuzz_db
    con = db.connection
    con.execute("DELETE FROM filtered")
    frame = db.spark.createDataFrame(
        [
            (1, 2.5, None, "fine", None, None, None, None),
            (2, float("nan"), None, "bad", None, None, None, None),
        ],
        SPARK_SCHEMA,
    )
    with pytest.raises(UnstorableValueError) as err:
        db.insert(frame, table="filtered")
    assert "NaN" in str(err.value)
    (count,) = con.execute("SELECT count(*) FROM filtered").fetchone()
    assert count == 0
    # NaN Decimal takes the same contract
    with pytest.raises(UnstorableValueError):
        _bind_cell(decimal.Decimal("NaN"))
