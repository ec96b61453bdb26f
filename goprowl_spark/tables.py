"""Snapshot-versioned table catalog — checkpoint/resume for the crawl.

The production design is an Iceberg catalog: one snapshot per crawl round,
``MERGE INTO`` upserts (reference upsert-by-URL semantics:
search/storage/bleve/storage.go:65-91), resume = read any snapshot. The
sandbox image has no Iceberg runtime jar, so this module implements the same
contract over plain parquet + a JSON manifest:

* :meth:`SnapshotCatalog.commit` is the one way to make a snapshot. Each
  table value is a DataFrame, which commit writes under this catalog
  instance's own ``snapshots/<sid>-<writer>/`` directory, or a path the
  caller already staged there (via :meth:`stage_path`). Unchanged tables
  carry over from the parent snapshot by reference (cheap snapshots, like
  Iceberg manifest reuse);
* the commit is optimistic: under a lock file in the root it re-reads the
  manifest, raises ``ValueError`` unless the snapshot's parent is still
  the current one, and only then atomically replaces ``manifest.json``
  (os.replace). A concurrent writer that lost the race gets an error, never
  a silently dropped snapshot, and since staging directories are per
  instance it never overwrote the winner's files. A crash mid-commit leaves
  the previous snapshot intact;
* every manifest table entry has one form, ``{"paths": [...], "columns":
  [...] | null, "deletes": [...]}``: the parquet directories making up the
  table, an optional column projection applied on load, and the table's
  delete log (an entry written before delete logs existed reads as
  ``"deletes": []``);
* the delete log is Iceberg v2's equality deletes (merge-on-read): each
  delete delta is a one-column parquet directory of keys (strings, or
  ``seen_bloom``'s integer ``bucket``), staged in the
  deleting commit's own directory, so its sequence number is that
  commit's ``<sid>``. A data row is dead when its key is in a delete delta
  whose sid is greater than the sid of the directory the row's file sits
  in — a key deleted and re-appended in one commit stays live. Replacing
  a table starts it with an empty log;
* the catalog owns the log's bounds, MAX_DELTAS and MAX_DELETED_KEYS, for
  every writer that deletes (the document store's upserts and deletes, a
  crawl round's ``seen_bloom`` upsert, the crawl's ``expire_urls``):
  :meth:`SnapshotCatalog.room` says whether a write may still log its
  keys, and :meth:`SnapshotCatalog.without` gives the live rows minus
  those keys for the compacting rewrite it does instead;
  :meth:`SnapshotCatalog.remove` makes that choice for a delete or an
  upsert whose keys are on the driver (the store's upsert, whose keys
  are known once its batch is staged, asks ``room`` itself);
* :meth:`load` reads any table at any snapshot → the crawl resumes exactly
  from a checkpoint (north_rule requirement). A table with a delete log is
  read through one filter (see :func:`_live_rows`): no join, no extra
  Spark job; a table without one loads with a bare parquet scan.

Swapping in Iceberg on a real cluster replaces this class with
``spark.table`` / ``MERGE INTO`` calls; all callers go through this
interface. Writing state to storage each round also truncates DataFrame
lineage — mandatory for an iterative algorithm at 10^10 scale.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from goprowl_spark.session import arrow_table, local_df

# The delete log's bounds. A table stays merge-on-read while its manifest
# entry lists at most MAX_DELTAS directories, data deltas plus delete
# deltas: every load lists each of them, and _live_rows opens each delete
# delta on the driver, so a read's fixed cost grows with the count.
MAX_DELTAS = 16
# ... and while its delete log holds at most MAX_DELETED_KEYS keys: every
# load reads the whole log on the driver and plans it as two padded IN hash
# sets, one of keys and one of (file sid, key) pairs — a pair per older
# data directory a key, ~20 us of planning each. A write past either bound
# compacts instead (SnapshotCatalog.room, SnapshotCatalog.without).
MAX_DELETED_KEYS = 4096


class SnapshotCatalog:
    def __init__(
        self, spark: SparkSession, root: str, emit_iceberg_sql: bool = False
    ):
        self.spark = spark
        self.root = root
        # behind this flag every commit also records the Iceberg SQL the
        # production catalog swap would run (see the generators at the
        # bottom of this module); golden-pinned in tests/test_tables.py
        self.emit_iceberg_sql = emit_iceberg_sql
        self.emitted_sql: list[str] = []
        # names this instance's staging directories, so two writers racing
        # for one snapshot id never write into each other's files
        self._writer = uuid.uuid4().hex[:12]
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # ------------------------------------------------------------ manifest

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"current": None, "snapshots": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic pointer swap

    @staticmethod
    def _child_sid(manifest: dict) -> int:
        cur = manifest["current"]
        return 0 if cur is None else int(cur) + 1

    def _entry(
        self, table: str, snapshot_id: int | None
    ) -> tuple[int | None, dict | None]:
        """(sid, the table's manifest entry or None) at ``snapshot_id``
        (default: current)."""
        manifest = self._read_manifest()
        sid = manifest["current"] if snapshot_id is None else snapshot_id
        snap = manifest["snapshots"].get(str(sid), {"tables": {}})
        return sid, snap["tables"].get(table)

    # ------------------------------------------------------------ snapshots

    def latest(self) -> int | None:
        cur = self._read_manifest()["current"]
        return None if cur is None else int(cur)

    def snapshot_ids(self) -> list[int]:
        return sorted(int(s) for s in self._read_manifest()["snapshots"])

    def next_sid(self) -> int:
        return self._child_sid(self._read_manifest())

    def stage_path(self, sid: int, name: str) -> str:
        """Where table ``name`` of snapshot ``sid`` is written — by commit
        for a DataFrame value, or by a caller that stages its own files
        (to interleave its own actions between table writes, e.g.
        collecting Observation metrics after one write feeds the next)."""
        return os.path.join(
            self.root, "snapshots", f"{sid}-{self._writer}", name
        )

    def commit(
        self,
        tables: dict[str, DataFrame | str] | None = None,
        properties: dict | None = None,
        appends: dict[str, DataFrame | str] | None = None,
        projections: dict[str, list[str]] | None = None,
        deletes: dict[str, DataFrame | str] | None = None,
        sid: int | None = None,
    ) -> int:
        """Make snapshot ``sid`` (default: the next one) the current one.

        ``tables`` are replaced whole; ``appends`` add a delta file-set to
        an existing table (Iceberg fast-append analog — the grown table is
        never rewritten, which keeps per-round commit cost O(delta) for
        monotone tables like `seen`); every other table carries over from
        the parent snapshot. A value is a DataFrame, written here to
        ``stage_path(sid, name)`` one after another (measured at local[16],
        concurrent write jobs contend and run slower than back-to-back), or
        the path of files the caller already staged. ``projections``: a
        per-table column list applied on load — lets TWO logical tables
        share ONE physical delta file (the crawl's seen/frontier delta is
        written once per round), the manifest-level equivalent of an
        Iceberg metadata-only view; an append or a replace keeps its table's
        projection, and a projected table's replacement holds only the
        projected columns.

        ``deletes`` add a delete delta — one key column — to an existing
        table's delete log, hiding the rows with those keys in files
        committed before this snapshot (module docstring). One physical
        delta may serve several tables, as a projection's delta does. A
        table that appends and deletes in one commit is an upsert: its
        delete delta holds the appended rows' keys. An append keeps its
        table's log; a replace starts it empty, so a table may not be
        replaced and deleted from in one commit.

        Raises ``ValueError`` — before touching the manifest — when ``sid``
        is no longer the current snapshot's child, i.e. another writer
        committed first, or a delete names a table the snapshot lacks."""
        sid = self.next_sid() if sid is None else sid
        projections = projections or {}
        tables = {n: self._staged(sid, n, v) for n, v in (tables or {}).items()}
        appends = {n: self._staged(sid, n, v) for n, v in (appends or {}).items()}
        deletes = {
            n: self._staged(sid, f"{n}_deletes", v)
            for n, v in (deletes or {}).items()
        }
        for name, path in deletes.items():
            if name in tables:
                raise ValueError(f"{name!r} is replaced and deleted from in one commit")
            if _committed_sid(path) != sid:
                raise ValueError(f"delete delta {path!r} is not staged for snapshot {sid}")
        with open(os.path.join(self.root, ".commit.lock"), "a") as lock:
            # serializes the read-check-swap across catalog instances and
            # processes; released when the file closes
            fcntl.flock(lock, fcntl.LOCK_EX)
            manifest = self._read_manifest()
            expect = self._child_sid(manifest)
            if sid != expect:
                raise ValueError(
                    f"snapshot {sid} lost its parent: another writer "
                    f"committed first, the next snapshot is {expect}"
                )
            parent = manifest["snapshots"].get(str(manifest["current"]))
            entries = dict(parent["tables"]) if parent else {}
            stmts = []
            for values, keep in ((tables, False), (appends, True)):
                for name in sorted(values):
                    old = entries.get(name) or {"paths": [], "columns": None}
                    view = projections.get(name) or old["columns"]
                    entries[name] = {
                        "paths": (old["paths"] if keep else []) + [values[name]],
                        "columns": view,
                        "deletes": old.get("deletes", []) if keep else [],
                    }
                    if name in deletes:
                        continue  # emitted with its delete below
                    # a projected entry's rows live in its base table
                    target = f"{name}_base" if view else name
                    stmts.append(
                        iceberg_append_sql(target)
                        if keep
                        else iceberg_overwrite_sql(target, columns=view)
                    )
                    if view:
                        stmts.append(iceberg_projection_view_sql(name, target, view))
            for name in sorted(deletes):
                old = entries.get(name)
                if old is None:
                    raise ValueError(
                        f"cannot delete from {name!r}: not in snapshot "
                        f"{manifest['current']!r}"
                    )
                entries[name] = {
                    **old, "deletes": old.get("deletes", []) + [deletes[name]]
                }
                if self.emit_iceberg_sql:
                    # a projected entry's rows live in its base table
                    view = projections.get(name)
                    target = f"{name}_base" if old["columns"] else name
                    stmts.extend(
                        _row_delta_sql(target, deletes[name], appends.get(name))
                    )
                    if view:
                        stmts.append(iceberg_projection_view_sql(name, target, view))
            manifest["snapshots"][str(sid)] = {
                "tables": entries,
                "properties": properties or {},
            }
            manifest["current"] = sid
            self._write_manifest(manifest)
        if self.emit_iceberg_sql:
            self.emitted_sql.extend(stmts)
        return sid

    def _staged(self, sid: int, name: str, value: DataFrame | str) -> str:
        if isinstance(value, DataFrame):
            path = self.stage_path(sid, name)
            value.write.mode("overwrite").parquet(path)
            return path
        return value

    def load(
        self,
        table: str,
        snapshot_id: int | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """Read ``table`` at ``snapshot_id`` (default: current). A table
        absent from the snapshot returns an empty DataFrame when ``schema``
        is given (first crawl round bootstraps from empty state). Rows the
        entry's delete log supersedes are filtered out. Entries carrying a
        column projection are selected down on read (column pruning reaches
        the parquet scan)."""
        sid, e = self._entry(table, snapshot_id)
        if e is None:
            if schema is None:
                raise KeyError(f"table {table!r} not in snapshot {sid!r}")
            return local_df(self.spark, [], schema)
        df = self.spark.read.parquet(*e["paths"])
        if e.get("deletes"):
            df = _live_rows(df, e["paths"], e["deletes"])
        return df.select(*e["columns"]) if e["columns"] else df

    def has_table(self, table: str, snapshot_id: int | None = None) -> bool:
        return self._entry(table, snapshot_id)[1] is not None

    def delta_counts(
        self, table: str, snapshot_id: int | None = None
    ) -> tuple[int, int] | None:
        """(directories, deleted keys) of ``table``'s entry: its data and
        delete-delta directories, and the rows of its delete log (a key
        deleted twice counts twice), read from parquet footers. None for
        an absent table."""
        e = self._entry(table, snapshot_id)[1]
        if e is None:
            return None
        deletes = e.get("deletes", [])
        keys = sum(n for p in deletes for _, n in parquet_file_rows(p))
        return len(e["paths"]) + len(deletes), keys

    def room(self, names: list[str], deltas: int, create: bool) -> int | None:
        """How many more deleted keys the log of every table in ``names``
        can take in a commit that adds ``deltas`` directories to each; None
        when that commit would take a table past MAX_DELTAS, or a table is
        absent and the commit cannot ``create`` it. A writer told None, or
        less room than it has keys, compacts through :meth:`without`."""
        room = MAX_DELETED_KEYS
        for name in names:
            counts = self.delta_counts(name)
            if counts is None and not create:
                return None
            dirs, keys = counts or (0, 0)
            if dirs + deltas > MAX_DELTAS:
                return None
            room = min(room, MAX_DELETED_KEYS - keys)
        return room

    def without(
        self, name: str, keys: DataFrame, schema: T.StructType | None = None
    ) -> DataFrame:
        """The live rows of ``name`` (empty of ``schema`` when absent, as
        :meth:`load`) minus those whose key is in ``keys``, a one-column
        frame named for the key. Committed as a replace, this is the
        compaction: one file set and an empty delete log. The rows keep the
        loaded table's column order, which a USING join would otherwise
        lead with the key; the emitted INSERT OVERWRITE … SELECT * is
        positional."""
        live = self.load(name, schema=schema)
        return live.join(keys, keys.columns[0], "left_anti").select(*live.columns)

    def remove(
        self,
        sid: int,
        names: list[str],
        key: T.StructType,
        keys: list,
        schemas: dict[str, T.StructType] | None = None,
        rows: dict[str, DataFrame] | None = None,
    ) -> dict[str, dict]:
        """The ``tables``, ``appends`` and ``deletes`` of snapshot ``sid``'s
        commit that deletes ``keys`` (of the one-column schema ``key``)
        from every table in ``names`` and appends ``rows`` to those it
        names, which stay live (an upsert). While :meth:`room` allows, the
        keys go in one driver-written delete delta the tables share;
        otherwise each table is replaced by :meth:`without` the keys (of
        ``schemas[name]`` when absent) plus its ``rows``: a compaction."""
        rows = rows or {}
        room = self.room(names, 2 if rows else 1, create=False)
        if room is not None and room >= len(keys):
            path = self.stage_path(sid, f"deleted_{key.names[0]}")
            write_local_parquet([(k,) for k in keys], key, path)
            return {"tables": {}, "appends": rows, "deletes": dict.fromkeys(names, path)}
        gone = local_df(self.spark, [(k,) for k in keys], key)
        tables = {n: self.without(n, gone, (schemas or {}).get(n)) for n in names}
        for name, df in rows.items():
            tables[name] = tables[name].unionByName(df.select(*tables[name].columns))
        return {"tables": tables, "appends": {}, "deletes": {}}

    def files(self, table: str, snapshot_id: int | None = None) -> list[str]:
        """The ``*.parquet`` data files of ``table`` at ``snapshot_id``
        (default: current); none for an absent table. A projected table
        lists the files of the whole delta it shares."""
        e = self._entry(table, snapshot_id)[1]
        return [
            os.path.join(p, f)
            for p in (e["paths"] if e else [])
            for f in parquet_data_files(p)
        ]

    def properties(self, snapshot_id: int | None = None) -> dict:
        manifest = self._read_manifest()
        sid = manifest["current"] if snapshot_id is None else snapshot_id
        return manifest["snapshots"].get(str(sid), {}).get("properties", {})


# the <sid> of a path staged by SnapshotCatalog.stage_path; the greedy
# prefix makes it the innermost snapshots/ directory of the path
_SID_PATTERN = ".*/snapshots/([0-9]+)-[0-9a-f]+/"


def _committed_sid(path: str) -> int:
    """The snapshot a staged directory (or a file in one) was committed in:
    the ``<sid>`` of its ``snapshots/<sid>-<writer>/`` directory."""
    m = re.match(_SID_PATTERN, path + "/")
    if m is None:
        raise ValueError(f"{path!r} is not staged under snapshots/<sid>-<writer>/")
    return int(m.group(1))


def _sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _live_rows(df: DataFrame, paths: list[str], deletes: list[str]) -> DataFrame:
    """``df`` (a scan of ``paths``) without the rows the delete log
    ``deletes`` supersedes. The log is read on the driver with pyarrow — no
    Spark job — into key → latest delete sid, then into the ``"<file
    sid>:<key>"`` pairs it hides, and applied as one filter: a hash-set
    ``key IN (...)`` probe first, so a row outside the log pays one lookup;
    only a row inside it reads its file's sid from ``_metadata.file_path``
    and probes the pair set. A string key is matched as it is; an integer
    key (``seen_bloom``'s ``bucket``) is matched as its decimal text, so
    both sets stay string sets and take the same padding.

    The filter is SQL text, parsed in the JVM: a literal per key built
    through py4j costs ~0.5 ms, seconds for a large log."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    file_sids = sorted({_committed_sid(p) for p in paths})  # raises on a file of unknown age
    latest: dict = {}
    for p in deletes:
        for f in parquet_data_files(p):
            keys = pq.ParquetFile(os.path.join(p, f)).read()
            key, key_type = keys.column_names[0], keys.schema.types[0]
            latest.update(dict.fromkeys(map(str, keys.column(0).to_pylist()), _committed_sid(p)))
    if not latest:
        return df
    hidden = {k: [s for s in file_sids if s < d] for k, d in latest.items() if d > file_sids[0]}
    # Spark plans a literal IN over more than inSetConversionThreshold values
    # as a hash set held by reference, so the generated code is the same for
    # every log and a read after a write reuses the compiled stages; an IN
    # over fewer values is compiled per list length. Both lists are padded
    # past the threshold with pairs of a negative sid, which no file has.
    threshold = int(df.sparkSession.conf.get("spark.sql.optimizer.inSetConversionThreshold"))
    pad = [f"-{i}:" for i in range(threshold + 1)]
    pairs = [f"{s}:{k}" for k, sids in hidden.items() for s in sids]
    col = "`" + key.replace("`", "``") + "`"
    if not pa.types.is_string(key_type):
        col = f"CAST({col} AS STRING)"
    return df.where(
        F.expr(
            f"NOT coalesce({col} IN ({', '.join(map(_sql_string, list(hidden) + pad))}) "
            f"AND concat(regexp_extract(_metadata.file_path, '{_SID_PATTERN}', 1), "
            f"':', {col}) IN ({', '.join(map(_sql_string, pairs + pad))}), false)"
        )
    )


def _row_delta_sql(name: str, deleted: str, appended: str | None) -> list[str]:
    """The Iceberg statements for one table's delete delta in a commit,
    with its append, if any. An upsert is ``MERGE INTO`` when the appended
    rows are unique by key (a document, its doc_stats row, a filter shard)
    and cover every deleted key. MERGE rejects a target row that several
    source rows match, and leaves a target row no source row matches, so
    any other upsert (a document's postings, an expiry that deletes a
    shard whose members all expired) is ``DELETE`` then ``INSERT``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = pq.read_schema(
        os.path.join(deleted, parquet_data_files(deleted)[0])
    ).names[0]
    if appended is None:
        return [iceberg_delete_sql(name, key)]
    keys = pq.read_table(appended, columns=[key]).column(0)
    covered = pc.all(pc.is_in(pq.read_table(deleted).column(0), value_set=keys))
    if pc.count_distinct(keys).as_py() == len(keys) and covered.as_py():
        return [iceberg_merge_upsert_sql(name, key)]
    return [iceberg_delete_sql(name, key), iceberg_append_sql(name)]


# ------------------------------------------------------- Iceberg SQL emission
#
# The sandbox has no Iceberg runtime jar, so SnapshotCatalog implements the
# snapshot contract over parquet+manifest. These generators produce the SQL
# a real Iceberg deployment runs for each catalog operation, so the swap is
# mechanical: same call sites, `spark.sql(stmt)` instead of manifest edits.
# The statements are golden-pinned in tests/test_tables.py.

ICEBERG_NAMESPACE = "goprowl"


def _qualified(name: str, catalog: str) -> str:
    return f"{catalog}.{ICEBERG_NAMESPACE}.{name}"


def iceberg_create_table_sql(
    name: str,
    schema: T.StructType,
    partition_by: tuple[str, ...] = (),
    catalog: str = "spark_catalog",
) -> str:
    cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )
    part = (
        f"\nPARTITIONED BY ({', '.join(partition_by)})" if partition_by else ""
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {_qualified(name, catalog)} (\n  {cols}\n)"
        f"\nUSING iceberg{part}"
        "\nTBLPROPERTIES ('format-version' = '2', "
        "'write.distribution-mode' = 'hash', "
        "'write.delete.mode' = 'merge-on-read', "
        "'write.update.mode' = 'merge-on-read', "
        "'write.merge.mode' = 'merge-on-read')"
    )


def iceberg_merge_upsert_sql(
    name: str, key: str, source: str = "updates", catalog: str = "spark_catalog"
) -> str:
    t = _qualified(name, catalog)
    return (
        f"MERGE INTO {t} t\nUSING {source} u\nON t.{key} = u.{key}\n"
        "WHEN MATCHED THEN UPDATE SET *\n"
        "WHEN NOT MATCHED THEN INSERT *"
    )


def iceberg_delete_sql(
    name: str, key: str, source: str = "staged", catalog: str = "spark_catalog"
) -> str:
    """A delete delta: every row whose key the staged delta lists."""
    return (
        f"DELETE FROM {_qualified(name, catalog)}\n"
        f"WHERE {key} IN (SELECT {key} FROM {source})"
    )


def iceberg_append_sql(
    name: str, source: str = "staged", catalog: str = "spark_catalog"
) -> str:
    return f"INSERT INTO {_qualified(name, catalog)}\nSELECT * FROM {source}"


def iceberg_overwrite_sql(
    name: str,
    source: str = "staged",
    catalog: str = "spark_catalog",
    columns: list[str] | None = None,
) -> str:
    """A whole-table replace. With ``columns`` (a projected entry's base
    table, whose staged files hold only the projection) it fills just
    those columns and leaves the base table's others null."""
    cols = ", ".join(columns or ["*"])
    target = _qualified(name, catalog) + (f" ({cols})" if columns else "")
    return f"INSERT OVERWRITE {target}\nSELECT {cols} FROM {source}"


def iceberg_projection_view_sql(
    view: str, source: str, columns: list[str], catalog: str = "spark_catalog"
) -> str:
    """The manifest's projection entry (two logical tables over one physical
    delta) is a metadata-only view on Iceberg."""
    return (
        f"CREATE OR REPLACE VIEW {_qualified(view, catalog)} AS\n"
        f"SELECT {', '.join(columns)} FROM {_qualified(source, catalog)}"
    )


def iceberg_rollback_sql(
    name: str, snapshot_id: int, catalog: str = "spark_catalog"
) -> str:
    """Resume-from-checkpoint = snapshot rollback on Iceberg."""
    return (
        f"CALL {catalog}.system.rollback_to_snapshot"
        f"('{ICEBERG_NAMESPACE}.{name}', {snapshot_id})"
    )


# ---------------------------------------------------------------- local write


def write_local_parquet(rows: list[tuple], schema: T.StructType, path: str) -> None:
    """Write a METADATA-SIZED table (metrics row, lineage counters) as one
    parquet file directly from the driver — no Spark job.

    A 1-row metrics frame or a 50-row lineage frame costs more in job
    scheduling than in IO; at 16 cores the tail of tiny writes was the
    round's largest non-scaling term. The Arrow table comes from
    session.arrow_table — Spark's own type mapping (int32/int64/float64/
    string/bool) and nullability — so the file matches what Spark's
    parquet writer would produce and later `spark.read.parquet` over mixed
    Spark-written + driver-written files of the same table never sees a
    physical-type conflict."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        arrow_table(rows, schema), os.path.join(path, "part-00000.parquet")
    )


def parquet_data_files(path: str) -> list[str]:
    """The data files of a parquet directory, sorted: ``*.parquet`` only,
    so Hadoop's ``.crc`` checksums and ``_SUCCESS`` markers are left out."""
    return sorted(
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    )


def parquet_file_rows(path: str) -> list[tuple[int, int]]:
    """(file_index, num_rows) per data file of a parquet directory, read
    from footers driver-side (no Spark job) — the per-partition lineage of
    a just-written table (one file per write task)."""
    import pyarrow.parquet as pq

    return [
        (i, pq.ParquetFile(os.path.join(path, fname)).metadata.num_rows)
        for i, fname in enumerate(parquet_data_files(path))
    ]
