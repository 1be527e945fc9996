"""Every top-level public ``def``/``class`` of the package is reached,
and each connector's constructor options are pinned.

A name counts as reached when it occurs (as a whole word) anywhere in
the package, ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` or
``tests/`` other than at its own definition.  The check is by name
only, so an operator twin with no caller fails here instead of
lingering as a second implementation to keep in step.
"""

from __future__ import annotations

import ast
import inspect
import re
from collections import Counter
from pathlib import Path

from sql_autoloader_spark.connectors.jdbc import JDBCConnector
from sql_autoloader_spark.connectors.postgres import PostgresConnector
from sql_autoloader_spark.connectors.spark_catalog import SparkConnector
from sql_autoloader_spark.connectors.sqlite import SQLiteConnector

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "sql_autoloader_spark"

#: names kept only for parity with the reference loader's public API,
#: with no caller of their own in this repository
ALLOWED: frozenset[str] = frozenset()


def _sources() -> list[Path]:
    files = [
        *PACKAGE.rglob("*.py"),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
    ]
    return [f for f in files if f.is_file()]


def _public_definitions() -> list[tuple[str, str]]:
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                out.append((node.name, str(path.relative_to(ROOT))))
    return out


def test_every_public_definition_is_reached() -> None:
    words = Counter(
        w
        for f in _sources()
        for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", f.read_text())
    )
    defs = _public_definitions()
    assert defs, "no public definitions found — wrong package path?"
    stale = ALLOWED - {name for name, _ in defs}
    assert not stale, f"ALLOWED names no longer defined: {sorted(stale)}"
    defined = Counter(name for name, _ in defs)
    unreached = sorted(
        f"{where}: {name}"
        for name, where in defs
        if words[name] <= defined[name] and name not in ALLOWED
    )
    assert not unreached, (
        "public definitions with no use anywhere — delete them, or list "
        "them in ALLOWED with the reason they stay:\n"
        + "\n".join(unreached)
    )


#: every constructor parameter of each connector: a new option (a user
#: setting that picks a code path) needs a visible edit here
CONNECTOR_OPTIONS: dict[str, tuple[str, ...]] = {
    "SparkConnector": (
        "spark",
        "database",
        "dtype_adapters",
        "partition_by",
        "bucket_by",
        "broadcast_dims",
        "recover",
    ),
    "PostgresConnector": (
        "spark",
        "client",
        "sock_dir",
        "host",
        "port",
        "user",
        "database",
        "password",
        "tls",
        "tls_ca",
        "tls_verify_hostname",
        "copy_threshold",
        "copy_connections",
        "read_copy_bytes",
        "snapshot_exports",
    ),
    "SQLiteConnector": ("spark", "db_path", "allow_custom_dtypes"),
    "JDBCConnector": (
        "spark",
        "url",
        "dialect",
        "properties",
        "unique_constraints",
        "num_partitions",
    ),
}


def test_connector_options_are_pinned() -> None:
    found = {
        cls.__name__: tuple(inspect.signature(cls.__init__).parameters)[1:]
        for cls in (
            SparkConnector,
            PostgresConnector,
            SQLiteConnector,
            JDBCConnector,
        )
    }
    assert found == CONNECTOR_OPTIONS
