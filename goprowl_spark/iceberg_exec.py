"""Execute the emitted Iceberg SQL against a DuckDB mirror.

The sandbox carries no Iceberg runtime jar, so ``SnapshotCatalog``
implements the snapshot contract over parquet+manifest and EMITS the exact
Iceberg statements the production swap would run (``tables.iceberg_*_sql``,
golden-pinned in tests/test_tables.py). This module closes the remaining
gap between "the SQL looks right" and "the SQL does the same thing": every
emitted statement class is translated to its DuckDB-ANSI equivalent and
executed against a mirror database, and tests/test_iceberg_exec.py asserts
the mirror's end state equals SnapshotCatalog's for the same operations.

Two deliberate disciplines:

* **Narrow translation.** Only the exact statement shapes the generators
  emit are accepted; any other SQL raises ``ValueError``. Drift between an
  emitter and this executor is loud, never silently mistranslated.
* **Semantics, not syntax.** DuckDB (1.0) lacks ``MERGE INTO`` and
  ``INSERT OVERWRITE``; each is rewritten to the ANSI sequence with the
  identical end state under the emitters' contracts (``MERGE ... UPDATE
  SET * / INSERT *`` with unique source keys ≡ delete-matching + insert-
  all; un-partitioned ``INSERT OVERWRITE`` ≡ delete-all + insert — the
  catalog only ever overwrites whole logical tables, never a partition
  subset, see SnapshotCatalog.commit).

Statement classes (all from goprowl_spark/tables.py):
  CREATE TABLE IF NOT EXISTS ... USING iceberg [PARTITIONED BY] TBLPROPERTIES
  MERGE INTO t USING u ON t.k = u.k WHEN MATCHED ... WHEN NOT MATCHED ...
  DELETE FROM t WHERE k IN (SELECT k FROM src)
  INSERT INTO t SELECT * FROM src
  INSERT OVERWRITE t SELECT * FROM src
  INSERT OVERWRITE t (cols) SELECT cols FROM src
  CREATE OR REPLACE VIEW v AS SELECT cols FROM src
  CALL ...rollback_to_snapshot  — no DuckDB analog; raises with guidance
  (time travel is exercised against SnapshotCatalog directly).
"""

from __future__ import annotations

import re

# Spark simpleString scalar -> DuckDB type
_SCALARS = {
    "string": "VARCHAR",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "binary": "BLOB",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at angle-bracket depth 0 (struct/array/map nest)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def spark_type_to_duckdb(t: str) -> str:
    """Spark ``DataType.simpleString()`` -> DuckDB DDL type, recursively:
    ``array<x>`` -> ``x[]``, ``struct<a:x,b:y>`` -> ``STRUCT(a x, b y)``,
    ``map<k,v>`` -> ``MAP(k, v)``; decimals pass through."""
    t = t.strip()
    if t.startswith("array<") and t.endswith(">"):
        return f"{spark_type_to_duckdb(t[6:-1])}[]"
    if t.startswith("struct<") and t.endswith(">"):
        fields = []
        for f in _split_top(t[7:-1]):
            name, _, ft = f.partition(":")
            # quoted: span fields include `offset`, reserved in DuckDB
            fields.append(f'"{name.strip()}" {spark_type_to_duckdb(ft)}')
        return f"STRUCT({', '.join(fields)})"
    if t.startswith("map<") and t.endswith(">"):
        k, v = _split_top(t[4:-1])
        return f"MAP({spark_type_to_duckdb(k)}, {spark_type_to_duckdb(v)})"
    if t.startswith("decimal(") and t.endswith(")"):
        return t.upper()
    try:
        return _SCALARS[t]
    except KeyError:
        raise ValueError(f"unmapped Spark type {t!r}") from None


def _name(qualified: str) -> str:
    """``spark_catalog.goprowl.t`` -> ``goprowl.t`` (the Spark catalog level
    has no DuckDB analog; the Iceberg namespace becomes a DuckDB schema)."""
    parts = qualified.split(".")
    if len(parts) != 3:
        raise ValueError(f"expected catalog.namespace.table, got {qualified!r}")
    return f"{parts[1]}.{parts[2]}"


_CREATE_RE = re.compile(
    r"^CREATE TABLE IF NOT EXISTS (\S+) \(\n(.*)\n\)\n"
    r"USING iceberg(?:\nPARTITIONED BY \([^)]*\))?\n"
    r"TBLPROPERTIES \([^)]*\)$",
    re.S,
)
_MERGE_RE = re.compile(
    r"^MERGE INTO (\S+) t\nUSING (\w+) u\nON t\.(\w+) = u\.(\w+)\n"
    r"WHEN MATCHED THEN UPDATE SET \*\n"
    r"WHEN NOT MATCHED THEN INSERT \*$"
)
_DELETE_RE = re.compile(
    r"^DELETE FROM (\S+)\nWHERE (\w+) IN \(SELECT (\w+) FROM (\w+)\)$"
)
# SELECT *, or a projected entry's replace: one column list on both sides
_INSERT_RE = re.compile(
    r"^INSERT (INTO|OVERWRITE) (\S+)(?: \(([\w, ]+)\)\nSELECT \3|\nSELECT \*) FROM (\w+)$"
)
_VIEW_RE = re.compile(
    r"^CREATE OR REPLACE VIEW (\S+) AS\nSELECT ([\w, ]+) FROM (\S+)$"
)
_ROLLBACK_RE = re.compile(r"^CALL \S+\.system\.rollback_to_snapshot\(")


def to_duckdb_sql(stmt: str) -> list[str]:
    """Translate one emitted Iceberg statement into the DuckDB statement
    sequence with the same end state. Raises ValueError on any statement
    shape the generators do not emit."""
    m = _CREATE_RE.match(stmt)
    if m:
        cols = []
        for col in _split_top(m.group(2).replace("\n", " ")):
            cname, _, ctype = col.strip().partition(" ")
            cols.append(f'"{cname}" {spark_type_to_duckdb(ctype)}')
        # PARTITIONED BY is physical layout on Iceberg; DuckDB tables have
        # no partition clause — correctness is unaffected (the catalog
        # never partition-overwrites; see module docstring)
        return [
            f"CREATE TABLE IF NOT EXISTS {_name(m.group(1))} "
            f"({', '.join(cols)})"
        ]
    m = _MERGE_RE.match(stmt)
    if m:
        target, source, tk, uk = m.groups()
        t = _name(target)
        # UPDATE SET * with a unique-keyed source ≡ replace matched rows
        # wholesale; NOT MATCHED INSERT * adds the rest -> delete matched
        # keys, then insert every source row. The catalog emits MERGE only
        # for an upsert whose source rows are unique by key.
        return [
            f"DELETE FROM {t} WHERE {tk} IN (SELECT {uk} FROM {source})",
            f"INSERT INTO {t} SELECT * FROM {source}",
        ]
    m = _DELETE_RE.match(stmt)
    if m:
        target, key, skey, source = m.groups()
        return [
            f"DELETE FROM {_name(target)} "
            f"WHERE {key} IN (SELECT {skey} FROM {source})"
        ]
    m = _INSERT_RE.match(stmt)
    if m:
        mode, target, cols, source = m.groups()
        t = _name(target)
        # a column list leaves the target's other columns null
        into = f"{t} ({cols}) SELECT {cols}" if cols else f"{t} SELECT *"
        out = [f"INSERT INTO {into} FROM {source}"]
        if mode == "OVERWRITE":
            # whole-table overwrite (the only overwrite the catalog emits)
            out.insert(0, f"DELETE FROM {t}")
        return out
    m = _VIEW_RE.match(stmt)
    if m:
        view, cols, source = m.groups()
        return [
            f"CREATE OR REPLACE VIEW {_name(view)} AS "
            f"SELECT {cols} FROM {_name(source)}"
        ]
    if _ROLLBACK_RE.match(stmt):
        raise ValueError(
            "rollback_to_snapshot is an Iceberg catalog procedure with no "
            "DuckDB analog; time travel is exercised against "
            "SnapshotCatalog.load(snapshot_id=...) directly"
        )
    raise ValueError(f"unrecognized emitted statement:\n{stmt}")


class DuckDBMirror:
    """A DuckDB database standing in for the production Iceberg catalog.

    ``execute`` runs one EMITTED statement (translating it first), binding
    its logical source relations (``staged``, ``updates``) to concrete
    parquet directories — the very files SnapshotCatalog staged — or to
    in-memory rows. Targets referenced before any CREATE TABLE are
    bootstrapped empty from the source's schema, mirroring the
    ``CREATE TABLE IF NOT EXISTS`` DDL a production deploy runs once
    up front (iceberg_create_table_sql)."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("CREATE SCHEMA IF NOT EXISTS goprowl")

    def _bind(self, sources: dict[str, str] | None) -> None:
        for name, path in (sources or {}).items():
            self.con.execute(
                f"CREATE OR REPLACE TEMP VIEW {name} AS "
                f"SELECT * FROM parquet_scan('{path}/*.parquet')"
            )

    def _ensure_target(self, duck_stmts: list[str], source: str) -> None:
        for s in duck_stmts:
            m = re.match(r"(?:DELETE FROM|INSERT INTO) (\S+)", s)
            if m:
                self.con.execute(
                    f"CREATE TABLE IF NOT EXISTS {m.group(1)} AS "
                    f"SELECT * FROM {source} WHERE 1 = 0"
                )
                return

    def execute(self, stmt: str, sources: dict[str, str] | None = None) -> None:
        """Run one emitted Iceberg statement against the mirror.
        ``sources``: logical source name -> parquet directory path."""
        self._bind(sources)
        duck = to_duckdb_sql(stmt)
        src = re.search(r"FROM (\w+)$", duck[-1])
        if src and "." not in src.group(1):
            self._ensure_target(duck, src.group(1))
        for s in duck:
            self.con.execute(s)

    def rows(self, table: str) -> set[tuple]:
        return set(
            tuple(r) for r in self.con.execute(
                f"SELECT * FROM goprowl.{table}"
            ).fetchall()
        )
