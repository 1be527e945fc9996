"""A small CREATE TABLE parser for the Spark-catalog sink.

The reference lets users run raw DDL through the DB cursor and then
re-introspect (/root/reference/sql_autoloader/connector.py:167-173,
README.md:116-135).  Spark's catalog has no PK/FK/UNIQUE constraints, so
this parser extracts them from the same DDL text and the connector stores
them as sidecar JSON — the Spark-native substitute for
``pragma_foreign_key_list`` / ``information_schema`` introspection
(reference sqlite_connector.py:84-147, postgres_connector.py:67-157).

Supported grammar (the subset the reference's own tests exercise):
column defs with PRIMARY KEY / UNIQUE / NOT NULL / DEFAULT / CHECK /
REFERENCES t (col) [ON DELETE/UPDATE ...], plus table-level UNIQUE (...),
PRIMARY KEY (...), FOREIGN KEY (...) REFERENCES t (...).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from sql_autoloader_spark.exceptions import InvalidTableError

_TYPE_MAP: list[tuple[re.Pattern[str], str]] = [
    (re.compile(r"^(INTEGER|INT|BIGINT|SMALLINT|TINYINT|SERIAL|BIGSERIAL)\b", re.I), "BIGINT"),
    (re.compile(r"^(TEXT|VARCHAR|CHAR|CHARACTER|CLOB|STRING)\b", re.I), "STRING"),
    (re.compile(r"^(REAL|FLOAT|DOUBLE|NUMERIC|DECIMAL)\b", re.I), "DOUBLE"),
    (re.compile(r"^(TIMESTAMP|DATETIME)\b", re.I), "TIMESTAMP"),
    (re.compile(r"^DATE\b", re.I), "DATE"),
    (re.compile(r"^(BOOLEAN|BOOL)\b", re.I), "BOOLEAN"),
    (re.compile(r"^(BLOB|BYTEA|BINARY)\b", re.I), "BINARY"),
]

_CREATE_RE = re.compile(
    # trailing table options after the closing paren (WITHOUT ROWID,
    # STRICT, engine storage clauses) are tolerated and ignored — they
    # carry no schema structure this parser extracts
    r"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\"'`]?(?P<name>\w+)[\"'`]?\s*\((?P<body>.*)\)\s*(?P<opts>[^()]*)$",
    re.I | re.S,
)
_CREATE_PREFIX_RE = re.compile(r"^\s*CREATE\s+TABLE\b", re.I)
_CONSTRAINT_NAME_RE = re.compile(r"^CONSTRAINT\s+[\"'`]?\w+[\"'`]?\s+", re.I)
_REFERENCES_RE = re.compile(
    r"REFERENCES\s+[\"'`]?(?P<table>\w+)[\"'`]?\s*\(\s*[\"'`]?(?P<column>\w+)[\"'`]?\s*\)",
    re.I,
)
_FOREIGN_KEY_RE = re.compile(r"^FOREIGN\s+KEY\s*\(\s*(?P<cols>[^)]*)\)", re.I)
_TABLE_UNIQUE_RE = re.compile(r"^UNIQUE\s*\(\s*(?P<cols>[^)]*)\)", re.I)
_TABLE_PK_RE = re.compile(r"^PRIMARY\s+KEY\s*\(\s*(?P<cols>[^)]*)\)", re.I)


@dataclass
class ParsedTable:
    """Everything the connector needs to create + register one table."""

    name: str
    # (column_name, spark_type) in declaration order, primary key included
    column_types: list[tuple[str, str]] = field(default_factory=list)
    primary_key: str = ""
    foreign_keys: list[str] = field(default_factory=list)
    payload_columns: list[str] = field(default_factory=list)
    unique_constraints: list[list[str]] = field(default_factory=list)
    # (from_key, to_table, to_key)
    references: list[tuple[str, str, str]] = field(default_factory=list)
    # columns declared NOT NULL — rows violating them are silently
    # skipped on insert, matching INSERT OR IGNORE constraint behavior
    not_null: list[str] = field(default_factory=list)


def _split_top_level(body: str) -> list[str]:
    """Split a CREATE TABLE body on commas not nested inside parentheses
    and not inside quoted literals/identifiers (a comma in a DEFAULT
    string must not fabricate a phantom column)."""
    items: list[str] = []
    depth, current, quote = 0, [], None
    for ch in body:
        if quote is not None:
            if ch == quote:
                quote = None
            current.append(ch)
            continue
        if ch in ("'", '"', "`"):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(current).strip())
            current = []
        else:
            current.append(ch)
    last = "".join(current).strip()
    if last:
        items.append(last)
    return [i for i in items if i]


def split_statements(script: str) -> list[str]:
    """Split a SQL script on statement-separating semicolons, honoring
    quoted literals/identifiers (doubled-quote escapes simply re-enter
    the quoted state)."""
    statements: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    for ch in script:
        if quote is None and ch in ("'", '"', "`"):
            quote = ch
        elif quote is not None and ch == quote:
            quote = None
        elif quote is None and ch == ";":
            statements.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    statements.append("".join(buf))
    return statements


def _spark_type(sql_type: str) -> str:
    for pattern, spark in _TYPE_MAP:
        if pattern.match(sql_type):
            return spark
    return "STRING"


def _names(csv: str) -> list[str]:
    return [c.strip().strip('"`\'') for c in csv.split(",") if c.strip()]


def parse_create_table(statement: str) -> ParsedTable | None:
    """Parse one CREATE TABLE statement; None if it is something else."""
    match = _CREATE_RE.match(statement.strip())
    if match is None:
        return None

    parsed = ParsedTable(name=match.group("name"))
    body = match.group("body")

    for raw_item in _split_top_level(body):
        # a named constraint (CONSTRAINT x FOREIGN KEY/UNIQUE/PRIMARY
        # KEY/CHECK ...) is the same constraint — strip the name and
        # parse the clause instead of silently discarding it
        item = _CONSTRAINT_NAME_RE.sub("", raw_item)
        upper = item.upper()

        if mu := _TABLE_UNIQUE_RE.match(item):
            parsed.unique_constraints.append(_names(mu.group("cols")))
            continue
        if mp := _TABLE_PK_RE.match(item):
            cols = _names(mp.group("cols"))
            if len(cols) != 1:
                msg = (
                    f"table '{parsed.name}' declares a composite primary "
                    f"key {cols}; only single-column keys are supported "
                    "(matching the reference's single-PK model)."
                )
                raise InvalidTableError(msg)
            parsed.primary_key = cols[0]
            continue
        if mf := _FOREIGN_KEY_RE.match(item):
            cols = _names(mf.group("cols"))
            ref = _REFERENCES_RE.search(item)
            if len(cols) != 1:
                msg = (
                    f"table '{parsed.name}' declares a composite foreign "
                    f"key {cols}; only single-column references are "
                    "supported (matching the reference's model)."
                )
                raise InvalidTableError(msg)
            if ref:
                parsed.foreign_keys.append(cols[0])
                parsed.references.append(
                    (cols[0], ref.group("table"), ref.group("column"))
                )
            continue
        if upper.startswith("CHECK"):
            continue

        # a plain column definition: <name> <type> <modifiers...>
        tokens = item.split(None, 1)
        col = tokens[0].strip('"`\'')
        rest = tokens[1] if len(tokens) > 1 else ""
        spark_type = _spark_type(rest.strip())
        parsed.column_types.append((col, spark_type))

        is_pk = bool(re.search(r"\bPRIMARY\s+KEY\b", rest, re.I))
        if re.search(r"\bNOT\s+NULL\b", rest, re.I):
            parsed.not_null.append(col)
        ref = _REFERENCES_RE.search(rest)
        if is_pk:
            parsed.primary_key = col
        if ref is not None:
            # legal even combined with PRIMARY KEY (column is both)
            parsed.foreign_keys.append(col)
            parsed.references.append((col, ref.group("table"), ref.group("column")))
        if not is_pk and ref is None:
            if re.search(r"\bUNIQUE\b", rest, re.I):
                parsed.unique_constraints.append([col])
            parsed.payload_columns.append(col)

    # a column that turned out to be the PK, or was promoted to an FK by a
    # table-level FOREIGN KEY clause, must not stay in payload columns
    parsed.payload_columns = [
        c
        for c in parsed.payload_columns
        if c != parsed.primary_key and c not in parsed.foreign_keys
    ]
    # PK may have been declared only at table level: ensure it has a type
    if parsed.primary_key and parsed.primary_key not in [
        c for c, _ in parsed.column_types
    ]:
        parsed.column_types.insert(0, (parsed.primary_key, "BIGINT"))

    return parsed


def parse_script(script: str) -> list[ParsedTable]:
    """Parse every CREATE TABLE in a ``;``-separated DDL script.

    Non-CREATE-TABLE statements (indexes, pragmas) are skipped — they
    carry nothing this sink stores.  A statement that *starts* like
    CREATE TABLE but does not parse raises instead of silently creating
    nothing: discovering the missing table at first load, with no
    pointer to the unsupported syntax, is strictly worse than failing
    the DDL call.
    """
    tables = []
    for statement in split_statements(script):
        if not statement.strip():
            continue
        parsed = parse_create_table(statement)
        if parsed is not None:
            tables.append(parsed)
        elif _CREATE_PREFIX_RE.match(statement):
            snippet = " ".join(statement.split())[:120]
            msg = f"Unparseable CREATE TABLE statement: {snippet!r}"
            raise InvalidTableError(msg)
    return tables


@dataclass
class AlterAddColumn:
    """One ``ALTER TABLE t ADD [COLUMN] name TYPE [modifiers]`` action."""

    table: str
    column: str
    spark_type: str
    not_null: bool = False
    unique: bool = False
    #: (to_table, to_key) when the new column carries REFERENCES
    reference: tuple[str, str] | None = None


@dataclass
class DropTable:
    """One ``DROP TABLE [IF EXISTS] t`` action."""

    table: str
    if_exists: bool = False


_ALTER_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+[\"'`]?(?P<name>\w+)[\"'`]?\s+ADD\s+"
    r"(?:COLUMN\s+)?(?P<coldef>.+?)\s*$",
    re.I | re.S,
)
_ALTER_PREFIX_RE = re.compile(r"^\s*ALTER\s+TABLE\b", re.I)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ife>IF\s+EXISTS\s+)?[\"'`]?(?P<name>\w+)[\"'`]?\s*$",
    re.I,
)
_DROP_PREFIX_RE = re.compile(r"^\s*DROP\s+TABLE\b", re.I)


def parse_alter_add(statement: str) -> AlterAddColumn | None:
    """Parse ``ALTER TABLE ... ADD COLUMN``; None if something else.

    The reference executes arbitrary DDL through the DB cursor and
    re-introspects (connector.py:167-173); ADD COLUMN is the schema
    evolution a live pipeline actually performs.  An added PRIMARY KEY
    is rejected — existing rows cannot be retro-keyed.
    """
    match = _ALTER_ADD_RE.match(statement)
    if match is None:
        return None
    item = _CONSTRAINT_NAME_RE.sub("", match.group("coldef").strip())
    tokens = item.split(None, 1)
    col = tokens[0].strip("\"`'")
    rest = tokens[1] if len(tokens) > 1 else ""
    if re.search(r"\bPRIMARY\s+KEY\b", rest, re.I):
        msg = (
            f"ALTER TABLE {match.group('name')}: adding a PRIMARY KEY "
            "column is not supported (existing rows cannot be keyed)."
        )
        raise InvalidTableError(msg)
    ref = _REFERENCES_RE.search(rest)
    return AlterAddColumn(
        table=match.group("name"),
        column=col,
        spark_type=_spark_type(rest.strip()),
        not_null=bool(re.search(r"\bNOT\s+NULL\b", rest, re.I)),
        unique=bool(re.search(r"\bUNIQUE\b", rest, re.I)),
        reference=(ref.group("table"), ref.group("column")) if ref else None,
    )


def parse_drop_table(statement: str) -> DropTable | None:
    match = _DROP_RE.match(statement)
    if match is None:
        return None
    return DropTable(
        table=match.group("name"), if_exists=bool(match.group("ife"))
    )


def parse_script_actions(
    script: str,
) -> list[ParsedTable | AlterAddColumn | DropTable]:
    """Parse a DDL script into ordered actions: CREATE TABLE, ALTER
    TABLE ADD COLUMN, DROP TABLE.

    Other statements (indexes, pragmas) are skipped; a statement that
    *starts* like a supported action but does not parse raises instead
    of silently doing nothing (same contract as :func:`parse_script`).
    """
    actions: list[ParsedTable | AlterAddColumn | DropTable] = []
    for statement in split_statements(script):
        if not statement.strip():
            continue
        if (created := parse_create_table(statement)) is not None:
            actions.append(created)
            continue
        if _CREATE_PREFIX_RE.match(statement):
            snippet = " ".join(statement.split())[:120]
            msg = f"Unparseable CREATE TABLE statement: {snippet!r}"
            raise InvalidTableError(msg)
        if (added := parse_alter_add(statement)) is not None:
            actions.append(added)
            continue
        if _ALTER_PREFIX_RE.match(statement):
            snippet = " ".join(statement.split())[:120]
            msg = (
                f"Unsupported ALTER TABLE statement: {snippet!r} "
                "(only ADD COLUMN is supported)."
            )
            raise InvalidTableError(msg)
        if (dropped := parse_drop_table(statement)) is not None:
            actions.append(dropped)
            continue
        if _DROP_PREFIX_RE.match(statement):
            snippet = " ".join(statement.split())[:120]
            msg = f"Unparseable DROP TABLE statement: {snippet!r}"
            raise InvalidTableError(msg)
    return actions
