"""Shared Spark fixture: one local session for the whole test run."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark(tmp_path_factory: pytest.TempPathFactory) -> SparkSession:
    warehouse = tmp_path_factory.mktemp("warehouse")
    session = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.warehouse.dir", str(warehouse))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("sql_autoloader_spark-tests")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture
def conf_writes(monkeypatch: pytest.MonkeyPatch) -> list[tuple[str, str]]:
    """Every ``RuntimeConfig.set``/``unset`` made while the test runs, as
    ``(method, key)`` pairs; clear the list before the calls under test."""
    from pyspark.sql.conf import RuntimeConfig

    calls: list[tuple[str, str]] = []
    orig_set, orig_unset = RuntimeConfig.set, RuntimeConfig.unset

    def record_set(self, key, value):  # noqa: ANN001, ANN202
        calls.append(("set", key))
        return orig_set(self, key, value)

    def record_unset(self, key):  # noqa: ANN001, ANN202
        calls.append(("unset", key))
        return orig_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", record_set)
    monkeypatch.setattr(RuntimeConfig, "unset", record_unset)
    return calls
