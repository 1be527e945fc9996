"""Schema evolution: ALTER TABLE ADD COLUMN and DROP TABLE through
``execute_ddl`` — the catalog-sink analogue of the reference's raw-DDL
cursor passthrough + re-introspection (connector.py:167-173)."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
from sql_autoloader_spark.exceptions import InvalidTableError


def test_alter_add_column_in_memory(spark: SparkSession) -> None:
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE ev_dim (id INTEGER PRIMARY KEY, word TEXT UNIQUE);
        CREATE TABLE ev_fact (n BIGINT, word_id INTEGER REFERENCES ev_dim (id));
        """
    )
    with db:
        db.load(spark.createDataFrame([(1, "a")], "n long, word string"))

    db.execute_ddl("ALTER TABLE ev_fact ADD COLUMN note TEXT")
    # old rows read NULL in the new column
    rows = spark.table("ev_fact").collect()
    assert all(r["note"] is None for r in rows)
    # the planner sees the new column: a load carrying it lands values
    with db:
        db.load(
            spark.createDataFrame(
                [(2, "b", "fresh")], "n long, word string, note string"
            ),
            exact=False,
        )
    notes = {r["n"]: r["note"] for r in spark.table("ev_fact").collect()}
    assert notes == {1: None, 2: "fresh"}


def test_alter_add_column_managed_mode(spark: SparkSession) -> None:
    db = SparkConnector(spark, database="evolvetest")
    db.execute_ddl(
        "CREATE TABLE em_doc (doc_id BIGINT, body TEXT);"
    )
    with db:
        db.load(
            spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, body string")
        )
    db.execute_ddl("ALTER TABLE em_doc ADD lang TEXT")
    assert {r["lang"] for r in spark.table("em_doc").collect()} == {None}
    with db:
        db.load(
            spark.createDataFrame(
                [(3, "z", "en")], "doc_id long, body string, lang string"
            ),
            exact=False,
        )
    got = {r["doc_id"]: r["lang"] for r in spark.table("em_doc").collect()}
    assert got == {1: None, 2: None, 3: "en"}
    # a reopened connector sees the widened schema from the sidecar JSON
    db2 = SparkConnector(spark, database="evolvetest")
    assert ("lang", "STRING") in db2._meta["em_doc"].column_types


def test_alter_add_reference_column(spark: SparkSession) -> None:
    db = SparkConnector(spark)
    db.execute_ddl(
        """
        CREATE TABLE ar_dim (id INTEGER PRIMARY KEY, tag TEXT UNIQUE);
        CREATE TABLE ar_fact (n BIGINT);
        """
    )
    db.execute_ddl(
        "ALTER TABLE ar_fact ADD COLUMN tag_id INTEGER REFERENCES ar_dim (id)"
    )
    assert ("tag_id", "ar_dim", "id") in db._meta["ar_fact"].references
    # the schema graph now routes a star load through the new FK
    with db:
        db.load(spark.createDataFrame([(1, "t1")], "n long, tag string"))
    assert spark.table("ar_dim").count() == 1
    fact = spark.table("ar_fact").collect()
    assert [(r["n"], r["tag_id"]) for r in fact] == [(1, 1)]


def test_alter_rejects_pk_and_duplicates(spark: SparkSession) -> None:
    db = SparkConnector(spark)
    db.execute_ddl("CREATE TABLE rj_t (a BIGINT);")
    with pytest.raises(InvalidTableError, match="PRIMARY KEY"):
        db.execute_ddl("ALTER TABLE rj_t ADD COLUMN id INTEGER PRIMARY KEY")
    with pytest.raises(InvalidTableError, match="already exists"):
        db.execute_ddl("ALTER TABLE rj_t ADD COLUMN a BIGINT")
    with pytest.raises(InvalidTableError, match="unknown table"):
        db.execute_ddl("ALTER TABLE nope ADD COLUMN x BIGINT")


def test_drop_table(spark: SparkSession) -> None:
    db = SparkConnector(spark)
    db.execute_ddl("CREATE TABLE dr_a (x BIGINT); CREATE TABLE dr_b (y BIGINT);")
    db.execute_ddl("DROP TABLE dr_b")
    assert "dr_b" not in db._meta
    assert not spark.catalog.tableExists("dr_b")
    db.execute_ddl("DROP TABLE IF EXISTS dr_b")  # no-op
    with pytest.raises(InvalidTableError, match="unknown table"):
        db.execute_ddl("DROP TABLE dr_b")
    assert "dr_a" in db._meta


def test_table_changes_across_schema_evolution(spark: SparkSession) -> None:
    """The changes feed across an ALTER ADD boundary serves the CURRENT
    (widened) schema: pre-evolution commits read NULL for the new
    column, post-evolution commits carry their values, and both sides
    keep their correct _commit_id — a consumer replaying the whole feed
    sees one stable schema, never a per-range one."""
    db = SparkConnector(spark, database="evolvecdc")
    db.execute_ddl("CREATE TABLE ec_doc (doc_id BIGINT, body TEXT);")
    with db:
        db.load(
            spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, body string")
        )
    db.execute_ddl("ALTER TABLE ec_doc ADD lang TEXT")
    with db:
        db.load(
            spark.createDataFrame(
                [(3, "z", "en")], "doc_id long, body string, lang string"
            ),
            exact=False,
        )
    c1, c2 = db.commit_history()
    feed = db.table_changes("ec_doc", 0).collect()
    assert {f.name for f in db.table_changes("ec_doc", 0).schema} == {
        "doc_id", "body", "lang", "_commit_id", "_change_type",
    }
    got = {r["doc_id"]: (r["_commit_id"], r["lang"]) for r in feed}
    assert got == {1: (c1, None), 2: (c1, None), 3: (c2, "en")}
    # the incremental tail sees only the widened commit
    tail = db.table_changes("ec_doc", c1).collect()
    assert [(r["doc_id"], r["lang"]) for r in tail] == [(3, "en")]
