"""Port of /root/reference/tests/test_sqlite_connector.py integration
tests against :class:`SparkConnector` (the native Spark-catalog sink).
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
from sql_autoloader_spark.exceptions import (
    EmptySchemaError,
    InsertingDataFailedError,
)

CAR_SCHEMA = """
CREATE TABLE eigenaar (id INTEGER PRIMARY KEY, naam TEXT UNIQUE NOT NULL);

CREATE TABLE merk (id INTEGER PRIMARY KEY, naam TEXT UNIQUE NOT NULL);

CREATE TABLE voertuig_type (id INTEGER PRIMARY KEY, naam TEXT UNIQUE NOT NULL);

CREATE TABLE dealer (id INTEGER PRIMARY KEY, naam TEXT UNIQUE NOT NULL);

CREATE TABLE voertuig (
  id INTEGER PRIMARY KEY,
  type_id INTEGER REFERENCES voertuig_type (id),
  merk_id INTEGER REFERENCES merk (id),
  UNIQUE (type_id, merk_id)
);

CREATE TABLE merk_dealer (
  id INTEGER PRIMARY KEY,
  merk_id INTEGER REFERENCES merk (id),
  dealer_id INTEGER REFERENCES dealer (id),
  UNIQUE (merk_id, dealer_id)
);

CREATE TABLE voertuig_eigenaar (
  eigenaar_id INTEGER REFERENCES eigenaar (id),
  voertuig_id INTEGER REFERENCES voertuig (id),
  UNIQUE (voertuig_id, eigenaar_id)
);

CREATE TABLE aankoop (
  id INTEGER PRIMARY KEY,
  voertuig_id INTEGER REFERENCES voertuig (id),
  merk_dealer_id INTEGER REFERENCES merk_dealer (id),
  datum TEXT,
  UNIQUE (voertuig_id, merk_dealer_id, datum)
);
"""


def rowset(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def test_insert_and_retrieve(spark: SparkSession) -> None:
    """Reference tests/test_sqlite_connector.py:52-93."""
    ddl = """
    CREATE TABLE a (id INTEGER PRIMARY KEY, a TEXT UNIQUE NOT NULL);
    CREATE TABLE b (a_id INTEGER REFERENCES a (id), b TEXT UNIQUE NOT NULL);
    """
    data = spark.createDataFrame(
        [("one", "een"), ("two", "twee"), ("three", "drie")],
        "a string, b string",
    )
    db = SparkConnector(spark)
    db.execute_ddl(ddl)
    with db:
        replaced = db.insert_and_retrieve_ids(data, table="a", alias="a_id")
        assert "a_id" in replaced.columns
        assert "a" not in replaced.columns

        renamed = db.insert_and_retrieve_ids(
            data, table="a", alias="a_id", columns={"a": "weg", "b": "a"}
        )
        assert "a_id" in renamed.columns
        assert "b" not in renamed.columns

        retrieved = db.insert_and_retrieve_ids(
            data, table="a", alias="a_id", replace=False
        )
        assert "a_id" in retrieved.columns
        assert "a" in retrieved.columns


def test_empty_schema(spark: SparkSession) -> None:
    with SparkConnector(spark) as db:
        assert db.schema_is_empty()


def test_failed_insert_raises(spark: SparkSession) -> None:
    """Uniqueness conflict (reference :104-127): same natural key, new
    payload — must refuse and raise InsertingDataFailedError."""
    ddl = """
    CREATE TABLE a (
        id INTEGER PRIMARY KEY,
        naam TEXT UNIQUE NOT NULL,
        waarde INT NOT NULL
    );
    """
    first = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "naam string, waarde long"
    )
    second = spark.createDataFrame(
        [("a", 4), ("b", 5), ("c", 6)], "naam string, waarde long"
    )
    db = SparkConnector(spark)
    db.execute_ddl(ddl)
    with db:
        db.load(first)
    assert not db.schema_is_empty()
    with pytest.raises(InsertingDataFailedError), db:
        db.load(second)
    # rollback: the failed load leaves the table at its committed content
    assert db._read_table("a").count() == 3


def test_intra_payload_unique_conflict(spark: SparkSession) -> None:
    """Two payload rows sharing a UNIQUE key but differing elsewhere:
    INSERT OR IGNORE lands only one, so the post-insert check must raise
    InsertingDataFailedError — even on a freshly created (empty) table —
    and rollback must leave the table empty."""
    ddl = """
    CREATE TABLE a (
        id INTEGER PRIMARY KEY,
        naam TEXT UNIQUE,
        waarde INT
    );
    """
    conflicted = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "naam string, waarde long"
    )
    db = SparkConnector(spark)
    db.execute_ddl(ddl)
    with pytest.raises(InsertingDataFailedError), db:
        db.load(conflicted)
    assert db._read_table("a").count() == 0

    # NULL keys are exempt: SQL UNIQUE treats NULLs as distinct, so two
    # null-keyed rows with different payloads both insert.
    nulls = spark.createDataFrame(
        [(None, 1), (None, 2), ("c", 3)], "naam string, waarde long"
    )
    with db:
        db.load(nulls)
    assert db._read_table("a").count() == 3


def test_basic_integration(spark: SparkSession) -> None:
    """Golden car-sales round-trip (reference :130-234)."""
    data = spark.createDataFrame(
        [
            ("Luc", "fiets", "Batavus", "Kees Klappertand", "2024-03-01"),
            ("Dave", "auto", "Renault", "Zoest Occasions", "2021-06-25"),
            ("Erwin", "auto", "Toyota", "Zoest Occasions", "2022-10-13"),
            ("Erwin", "motor", "Kawasaki", "Berts Tweewielers", "2020-02-03"),
        ],
        "eigenaar string, soort_voertuig string, merk string,"
        " dealer string, aankoop string",
    )
    columns = {
        "eigenaar": "eigenaar.naam",
        "soort_voertuig": "voertuig_type.naam",
        "merk": "merk.naam",
        "dealer": "dealer.naam",
        "aankoop": "datum",
    }
    db = SparkConnector(spark)
    with pytest.raises(EmptySchemaError):
        db.load(data, columns=columns)

    db.execute_ddl(CAR_SCHEMA)
    with db:
        db.load(data, columns=columns)

    compare_query = """
    SELECT
      eigenaar.naam as eigenaar,
      voertuig_type.naam as soort_voertuig,
      merk.naam as merk,
      dealer.naam as dealer,
      aankoop.datum as aankoop
    FROM
      eigenaar
      LEFT JOIN voertuig_eigenaar ON voertuig_eigenaar.eigenaar_id = eigenaar.id
      LEFT JOIN voertuig ON voertuig_eigenaar.voertuig_id = voertuig.id
      LEFT JOIN voertuig_type ON voertuig.type_id = voertuig_type.id
      LEFT JOIN merk ON voertuig.merk_id = merk.id
      LEFT JOIN merk_dealer ON merk_dealer.merk_id = merk.id
      LEFT JOIN dealer ON merk_dealer.dealer_id = dealer.id
      LEFT JOIN aankoop ON aankoop.voertuig_id = voertuig.id
    """
    db_data = spark.sql(compare_query)
    assert rowset(db_data) == rowset(data)


def test_missing_integration(spark: SparkSession) -> None:
    """Round-trip with missing values — exercises eqNullSafe end-to-end
    (reference :237-285)."""
    ddl = """
    CREATE TABLE a (id INTEGER PRIMARY KEY, a_num TEXT UNIQUE NOT NULL);
    CREATE TABLE b (
        a_id INTEGER REFERENCES a (id),
        b_num TEXT NOT NULL,
        UNIQUE (a_id, b_num)
    );
    CREATE TABLE c (
        a_id INTEGER REFERENCES a (id),
        naam TEXT NOT NULL,
        UNIQUE (a_id, naam)
    );
    """
    data = spark.createDataFrame(
        [
            ("A1", "B1", "ab1"),
            ("A2", "B3", "ab3"),
            ("A3", "B4", None),
            ("A4", None, "ab4"),
            ("A5", None, None),
        ],
        "a_num string, b_num string, naam string",
    )
    db = SparkConnector(spark)
    db.execute_ddl(ddl)
    with db:
        db.load(data)

    query = """
    SELECT a.a_num as a_num, b.b_num as b_num, c.naam as naam
    FROM a
    LEFT JOIN b ON b.a_id = a.id
    LEFT JOIN c ON c.a_id = a.id
    """
    assert rowset(spark.sql(query)) == rowset(data)


def test_idempotent_reload(spark: SparkSession) -> None:
    """Loading the same frame twice must not grow any table."""
    data = spark.createDataFrame(
        [("Luc", "fiets", "Batavus", "Kees", "2024-03-01")],
        "eigenaar string, soort_voertuig string, merk string,"
        " dealer string, aankoop string",
    )
    columns = {
        "eigenaar": "eigenaar.naam",
        "soort_voertuig": "voertuig_type.naam",
        "merk": "merk.naam",
        "dealer": "dealer.naam",
        "aankoop": "datum",
    }
    db = SparkConnector(spark)
    db.execute_ddl(CAR_SCHEMA)
    with db:
        db.load(data, columns=columns)
    counts = {t: db._read_table(t).count() for t in db._meta}
    with db:
        db.load(data, columns=columns)
    assert counts == {t: db._read_table(t).count() for t in db._meta}


def test_dtype_adapters_roundtrip(spark: SparkSession) -> None:
    """Custom-dtype passthrough (reference allow_custom_dtypes,
    sqlite_connector.py:156-193): an array column stored as JSON TEXT
    round-trips through load + retrieve as the user type."""
    from pyspark.sql import functions as F

    ddl = """
    CREATE TABLE a (id INTEGER PRIMARY KEY, a TEXT UNIQUE NOT NULL);
    CREATE TABLE b (a_id INTEGER REFERENCES a (id), tags TEXT);
    """
    data = spark.createDataFrame(
        [("one", [1, 2]), ("two", [3])], "a string, tags array<int>"
    )
    db = SparkConnector(
        spark,
        dtype_adapters={
            "tags": (
                F.to_json,
                lambda c: F.from_json(c, "array<int>"),
            )
        },
    )
    db.execute_ddl(ddl)
    with db:
        db.load(data, compare=False)

    stored = db._read_table_raw("b").select("tags").first()[0]
    assert isinstance(stored, str) and stored.startswith("[")  # JSON text
    decoded = {
        tuple(r["tags"]) for r in db._read_table("b").select("tags").collect()
    }
    assert decoded == {(1, 2), (3,)}


def test_failed_insert_and_retrieve_raises(spark: SparkSession) -> None:
    """Uniqueness conflict on a KEYED table (insert-and-retrieve path):
    with the subset check folded into the key merge, the conflict must
    still surface as InsertingDataFailedError, and rollback must hold."""
    ddl = """
    CREATE TABLE a (
        id INTEGER PRIMARY KEY,
        naam TEXT UNIQUE NOT NULL,
        waarde INT NOT NULL
    );
    CREATE TABLE b (
        a_id INTEGER REFERENCES a (id),
        opm TEXT NOT NULL,
        UNIQUE (a_id, opm)
    );
    """
    first = spark.createDataFrame(
        [("x", 1, "een"), ("y", 2, "twee")],
        "naam string, waarde long, opm string",
    )
    second = spark.createDataFrame(
        [("x", 99, "drie")], "naam string, waarde long, opm string"
    )
    db = SparkConnector(spark)
    db.execute_ddl(ddl)
    with db:
        db.load(first)
    with pytest.raises(InsertingDataFailedError), db:
        db.load(second)
    assert db._read_table("a").count() == 2
    assert db._read_table("b").count() == 2


def test_load_delegates_plain_insert_checks_to_compare(
    spark: SparkSession, monkeypatch: pytest.MonkeyPatch
) -> None:
    """A ``load`` with the generated compare enabled must never run the
    per-insert subset check (``ops.compare``): the merge steps fold it
    into the key-merge invariant and the plain inserts delegate to the
    final reconstruction compare — one fewer full-table scan per table."""
    from sql_autoloader_spark.ops import dataframe_ops as ops

    calls: list[str] = []
    orig = ops.compare

    def spy(*args, **kwargs):
        calls.append("compare")
        return orig(*args, **kwargs)

    monkeypatch.setattr(ops, "compare", spy)
    ddl = """
    CREATE TABLE a (id INTEGER PRIMARY KEY, naam TEXT UNIQUE);
    CREATE TABLE b (
        a_id INTEGER REFERENCES a (id),
        opm TEXT
    );
    """
    data = spark.createDataFrame(
        [("x", "een"), ("y", "twee")], "naam string, opm string"
    )
    db = SparkConnector(spark)
    db.execute_ddl(ddl)
    with db:
        db.load(data)
    assert calls == [], "per-insert subset check ran despite delegation"
    # compare=False restores the per-insert check for plain inserts
    data2 = spark.createDataFrame([("z", "drie")], "naam string, opm string")
    with db:
        db.load(data2, compare=False)
    assert calls == ["compare"]


def test_load_plain_insert_conflict_surfaces_through_compare(
    spark: SparkSession,
) -> None:
    """A uniqueness conflict on a PLAIN-insert table (no key retrieval
    follows) must still raise InsertingDataFailedError when its subset
    check is delegated to the final compare, and rollback must hold."""
    ddl = """
    CREATE TABLE a (
        id INTEGER PRIMARY KEY,
        naam TEXT UNIQUE NOT NULL,
        waarde INT NOT NULL
    );
    """
    first = spark.createDataFrame(
        [("a", 1), ("b", 2)], "naam string, waarde long"
    )
    conflicting = spark.createDataFrame(
        [("a", 99)], "naam string, waarde long"
    )
    db = SparkConnector(spark)
    db.execute_ddl(ddl)
    with db:
        db.load(first)
    with pytest.raises(InsertingDataFailedError), db:
        db.load(conflicting)
    assert db._read_table("a").count() == 2


def test_load_with_where_filtered_compare(spark: SparkSession) -> None:
    """E4 `where` passthrough (reference schema.py:463-464,576 +
    connector.py:344-345): when the target tables already hold earlier
    loads, an exact compare of a new incremental load only succeeds with
    a WHERE narrowing the reconstruction to the new slice."""
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE w_brand (id INTEGER PRIMARY KEY, brand TEXT UNIQUE);
        CREATE TABLE w_car (
            id INTEGER PRIMARY KEY,
            brand_id INTEGER REFERENCES w_brand (id),
            model TEXT UNIQUE
        );
        """
    )
    first = spark.createDataFrame(
        [("audi", "a4")], "brand string, model string"
    )
    second = spark.createDataFrame(
        [("bmw", "i3")], "brand string, model string"
    )
    with db:
        db.load(first)

    from sql_autoloader_spark.exceptions import CompareNoExactMatchError

    with pytest.raises(CompareNoExactMatchError):
        with db:
            db.load(second, exact=True)

    # narrowed to its own slice, the exact compare passes (reference
    # convention: the caller passes the full clause incl. the WHERE
    # keyword, columns prefixed with their table — README.md:169)
    with db:
        db.load(second, where="WHERE w_brand.brand = 'bmw'", exact=True)
    assert spark.table("w_brand").count() == 2
    assert spark.table("w_car").count() == 2


def test_load_with_user_compare_query(spark: SparkSession) -> None:
    """E4 user-supplied query passthrough (reference connector.py:343):
    a hand-written reconstruction replaces the generated one."""
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE u_brand (id INTEGER PRIMARY KEY, brand TEXT UNIQUE);
        CREATE TABLE u_car (
            id INTEGER PRIMARY KEY,
            brand_id INTEGER REFERENCES u_brand (id),
            model TEXT UNIQUE
        );
        """
    )
    data = spark.createDataFrame(
        [("audi", "a4"), ("bmw", "i3")], "brand string, model string"
    )
    query = (
        "SELECT u_brand.brand AS brand, u_car.model AS model "
        "FROM u_car LEFT JOIN u_brand ON u_car.brand_id = u_brand.id"
    )
    with db:
        db.load(data, compare_query=query)
    assert spark.table("u_car").count() == 2


def test_distributed_rank_ids_match_window_path(spark: SparkSession) -> None:
    """Forcing the distributed (range-partitioned) surrogate ranking must
    produce byte-identical tables to the single-partition window path:
    dense 1-based ids ordered by the natural key."""
    ddl = """
    CREATE TABLE rk_dim (id INTEGER PRIMARY KEY, word TEXT UNIQUE);
    CREATE TABLE rk_fact (word_id INTEGER REFERENCES rk_dim (id), n BIGINT);
    """
    data = spark.range(500).selectExpr(
        "concat('w', lpad(cast(id % 97 as string), 3, '0')) as word",
        "id as n",
    )

    def load_with(max_window: int):
        db = SparkConnector(spark)
        db.max_window_rows = max_window
        db.execute_ddl(ddl)
        with db:
            db.load(data)
        dim = sorted(map(tuple, spark.table("rk_dim").collect()))
        fact = sorted(map(tuple, spark.table("rk_fact").collect()))
        return dim, fact

    window_dim, window_fact = load_with(10_000_000)  # single-partition window
    dist_dim, dist_fact = load_with(0)  # distributed ranking for everything

    assert window_dim == dist_dim
    assert window_fact == dist_fact
    # dense 1-based ids, ordered by the natural key
    ids = [row[0] for row in sorted(window_dim, key=lambda r: r[1])]
    assert ids == list(range(1, 98))


def test_distributed_rank_continues_after_existing_rows(
    spark: SparkSession,
) -> None:
    """Incremental load on the distributed path: new members get ids
    continuing past max(existing) via the fused (lineage-side) max scan."""
    db = SparkConnector(spark)
    db.max_window_rows = 0
    db.execute_ddl(
        "CREATE TABLE rk2_dim (id INTEGER PRIMARY KEY, word TEXT UNIQUE);"
    )
    first = spark.createDataFrame([("a",), ("b",)], ["word"])
    second = spark.createDataFrame([("b",), ("c",), ("d",)], ["word"])
    with db:
        db.load(first)
    with db:
        # exact compare would flag the stale member 'a' from load 1
        db.load(second, compare=False)
    rows = sorted(map(tuple, spark.table("rk2_dim").collect()))
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_expose_reconstruction_matches_compare_query(
    spark: SparkSession,
) -> None:
    """``expose_reconstruction`` pins the compare aggregate's validated
    reconstruction and exposes it as ``last_reconstruction`` — it must
    equal the generated compare query's distinct result and stay usable
    after ``load`` releases its internal caches."""
    db = SparkConnector(spark)
    db.expose_reconstruction = True
    db.execute_ddl(
        """
        CREATE TABLE xr_dim (id INTEGER PRIMARY KEY, word TEXT UNIQUE);
        CREATE TABLE xr_fact (
            n BIGINT,
            word_id INTEGER REFERENCES xr_dim (id)
        );
        """
    )
    data = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b"), (3, None)], ["n", "word"]
    )
    with db:
        db.load(data)
    rec = db.last_reconstruction
    assert rec is not None
    assert sorted(rec.columns) == ["n", "word"]
    query = db.schema.get_compare_query(["n", "word"], quote="`")
    assert rowset(rec) == rowset(spark.sql(query).select("n", "word"))
    # a second load on a fresh connector re-points the attribute
    db2 = SparkConnector(spark)
    assert db2.last_reconstruction is None


def test_append_pin_policy(spark: SparkSession) -> None:
    """Fact-path appends (no surrogate ranking, no anti-join, no unique
    window) must stay LAZY plans — pinning one materializes a second
    full copy of the fact, an entire extra write of the biggest table at
    scale.  Keyed/constrained appends must stay pinned so their windows
    and anti-joins never re-run per read."""
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE pp_dim (id INTEGER PRIMARY KEY, word TEXT UNIQUE);
        CREATE TABLE pp_fact (
            n BIGINT,
            word_id INTEGER REFERENCES pp_dim (id)
        );
        """
    )
    data = spark.createDataFrame([(1, "a"), (2, "b")], ["n", "word"])
    db.__enter__()
    try:
        db.load(data)
        def _is_pinned(frame) -> bool:
            text = frame._jdf.queryExecution().analyzed().toString()
            return text.splitlines()[0].startswith("LogicalRDD")

        (dim_append,) = db._appends["pp_dim"]
        (fact_append,) = db._appends["pp_fact"]
        assert _is_pinned(dim_append), "surrogate-keyed append must be pinned"
        assert not _is_pinned(fact_append), (
            "pure-projection fact append must stay a lazy plan"
        )
        # the lazy append still reads back correctly pre- and post-commit
        assert db._read_table("pp_fact").count() == 2
    finally:
        db.__exit__(None, None, None)
    assert spark.table("pp_fact").count() == 2
