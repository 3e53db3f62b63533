"""Spark Python Data Source for pi2spark tables (Spark 4's
``pyspark.sql.datasource`` API): ``spark.read.format("pi2spark")``
batch reads, ``spark.readStream.format("pi2spark")`` streaming reads
with snapshot-id offsets, ``df.write.format("pi2spark")`` atomic
append/overwrite, and ``writeStream.format("pi2spark")`` exactly-once
streaming appends — the table becomes a first-class Spark source and
sink a user can hand to any DataFrame/SQL pipeline without importing
this library's scan API.

Batch (``spark.read.format("pi2spark").load(root)``):

* snapshot isolation (``option("snapshot_id", N)`` time-travels);
* file pruning via ``pushFilters`` — supported filters (=, IN, <, <=,
  >, >=, IS NULL / IS NOT NULL on top-level columns) are mapped to
  the manifest's per-file min/max stats, exact null counts, and
  subject blooms, so a selective read
  plans only the surviving files' partitions; every filter is also
  returned to Spark for row-level re-application (stats pruning is
  necessary-not-sufficient);
* schema evolution applied at read time (renames coalesce, added
  columns materialize as NULLs) — same contract as ``Table.scan``.

Streaming: offsets are snapshot ids (``{"snapshot_id": N}``), the
natural exactly-once cursor for a snapshot log — Delta's streaming
source uses table versions the same way. Each micro-batch delivers the
rows of files ADDED by append snapshots in ``(start, end]``. Non-append
snapshots (compact/shred/merge rewrites) fail the stream by default —
their file churn is not append data; ``option("ignore_changes",
"true")`` skips them instead (Delta's ``ignoreChanges``), with the
documented caveat that rewritten rows are NOT re-delivered. The
snapshot ``parent_id`` chain is verified over every consumed range
(the contiguity guard from ``Table.changes``). Trigger sizing:
``option("max_snapshots_per_trigger", N)`` /
``option("max_files_per_trigger", M)`` bound how far each micro-batch
advances (Delta's ``maxFilesPerTrigger``), computed from
snapshot-summary file-count deltas — metadata only. Across restarts
the limit base re-seeds from the first batch's committed range (the
Python source API does not replay the checkpointed offset up front),
so a restarted stream may spend a few empty triggers catching its
base up before resuming normal paced delivery.

100 TB shape: offsets and partition planning are manifest metadata
operations on the driver (no data read); each ``InputPartition``
carries an explicit file list packed to ~``partition_bytes`` and is
read executor-side via pyarrow as Arrow record batches (the zero-copy
path through the Python worker). The native-JVM parquet scan
(``Table.scan``) remains the hot path for this library's own
maintenance jobs; this source is the interoperability and streaming
surface.

Reference parity: the reference exposes its data through Kafka
consumer interceptors (pi2schema's serializer SPI); the lakehouse
analogue of "point your consumer at the topic" is "point
``readStream`` at the table", which is exactly what this module
provides.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from pi2spark.errors import Pi2SparkError

if TYPE_CHECKING:  # pragma: no cover
    from pi2spark.table import ColumnPredicate, DataFile, Table

DEFAULT_PARTITION_BYTES = 128 * 1024 * 1024


@dataclass
class _FilesPartition(InputPartition):
    """One read task: a packed group of data files. Self-contained and
    picklable — the executor-side ``read`` needs nothing but this."""

    root: str
    paths: tuple  # relative data-file paths
    schema_json: str  # logical read schema (StructType.json())
    sources_json: str  # logical column -> physical sources (Table.column_sources())


def _load_table(options) -> "Table":
    from pi2spark.table import Table

    path = options.get("path")
    if not path:
        raise Pi2SparkError(
            "pi2spark source needs a table root: .load('/path/to/table') "
            "or .option('path', ...). Note: catalog tables (CREATE TABLE "
            "... USING pi2spark) are not supported — Spark 4.1 does not "
            "forward a catalog table's options to Python data source "
            "reads; use spark.read.format('pi2spark').load(root)"
            ".createOrReplaceTempView(...) as the SQL surface"
        )
    # SQL DDL (CREATE TABLE ... USING pi2spark) qualifies the location
    # to a URI (file:/x or file:///x) before handing it to the source
    if path.startswith("file:"):
        from urllib.parse import urlparse

        path = urlparse(path).path or path[len("file:"):]
    return Table(path)


def _logical_schema(table: "Table", columns: str | None = None) -> StructType:
    """The table's logical schema (``Table.logical_schema``: metadata
    only, no Spark job, no JVM), projected by ``columns``.

    ``columns`` (comma-separated) projects the schema — Spark 4.1's
    Python source API has no pruneColumns hook, so
    ``option("columns", "a,b")`` is this source's projection pushdown:
    ``schema()`` and the readers honor it consistently, and the
    executor-side parquet reads then touch ONLY those columns' pages
    (plus whatever a pushed filter needs is re-applied by Spark on the
    projected rows, so filters must reference selected columns)."""
    if table.data_schema() is None:
        raise Pi2SparkError(
            f"table at {table.root!r} has no persisted schema yet (no writes)"
        )
    schema = table.logical_schema()
    if not columns:
        return schema
    want = [c.strip() for c in columns.split(",") if c.strip()]
    missing = [c for c in want if c not in schema.fieldNames()]
    if missing:
        raise Pi2SparkError(
            f"option('columns', ...) names unknown column(s) {missing}; "
            f"table has {sorted(schema.fieldNames())}"
        )
    return StructType([schema[c] for c in want])


def _pack_partitions(
    table: "Table", files, partition_bytes: int, columns: str | None = None
) -> list[_FilesPartition]:
    """Read tasks for ``files``, packed to ~``partition_bytes`` each in
    path order; one empty task when there are no files (Spark needs at
    least one partition)."""
    from pi2spark.table import pack_consecutive

    schema_json = _logical_schema(table, columns).json()
    sources_json = json.dumps(table.column_sources())
    packs = pack_consecutive(sorted(files, key=lambda f: f.path), partition_bytes)
    return [
        _FilesPartition(table.root, tuple(f.path for f in pack), schema_json, sources_json)
        for pack in packs or [[]]
    ]


def _read_partition(part: _FilesPartition) -> Iterator:
    """Executor-side: yield Arrow record batches for one file group
    under the logical schema — each file's present sources read, bound
    (``bind_logical``) and cast; a column with no source in the file
    reads as NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from pi2spark.table import bind_logical

    target = to_arrow_schema(StructType.fromJson(json.loads(part.schema_json)))
    sources = json.loads(part.sources_json)
    for rel in part.paths:
        path = os.path.join(part.root, rel)
        # read ONLY the target columns' sources this file carries
        # (footer-level projection: other columns' pages are never
        # decoded — the `columns` option's pushdown, and dropped
        # columns are never read at all)
        physical = set(pq.read_schema(path).names)
        read_cols = sorted({s for f in target for s in sources.get(f.name, ()) if s in physical})
        # with no column to read this still carries the row count
        at = bind_logical(pq.read_table(path, columns=read_cols), sources)
        cols = [
            at[f.name].cast(f.type) if f.name in at.column_names else pa.nulls(at.num_rows, f.type)
            for f in target
        ]
        yield from pa.table(cols, schema=target).to_batches()


def _filters_to_predicates(filters: Sequence[Filter]) -> list["ColumnPredicate"]:
    """Map the pushable subset of Spark filters to stats predicates.
    Only top-level columns; anything unmappable is simply not pruned
    on (every filter is re-applied by Spark regardless)."""
    from pi2spark.table import ColumnPredicate

    preds = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1:
            continue
        col = attr[0]
        if isinstance(f, EqualTo):
            preds.append(ColumnPredicate(col, "eq", f.value))
        elif isinstance(f, In):
            preds.append(ColumnPredicate(col, "in", values=tuple(f.value)))
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            # stats granularity cannot distinguish < from <= (a file
            # whose min equals the bound may still hold matches)
            preds.append(ColumnPredicate(col, "le", f.value))
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            preds.append(ColumnPredicate(col, "ge", f.value))
        elif isinstance(f, IsNull):
            # exact per-file null counts (DataFile.nulls): a file with
            # a recorded count of 0 provably holds no NULL row
            preds.append(ColumnPredicate(col, "isnull"))
        elif isinstance(f, IsNotNull):
            # prunable only when a file is provably all-NULL
            preds.append(ColumnPredicate(col, "notnull"))
    return preds


class Pi2SparkBatchReader(DataSourceReader):
    def __init__(self, options):
        self._options = options
        self._preds: list = []

    def pushFilters(self, filters):  # noqa: N802 — Spark API name
        self._preds = _filters_to_predicates(filters)
        # file-level pruning is necessary-not-sufficient: Spark must
        # still apply every filter row-level, so none are consumed
        return filters

    def partitions(self):
        table = _load_table(self._options)
        snap_opt = self._options.get("snapshot_id")
        _, files = table.plan_files(
            int(snap_opt) if snap_opt is not None else None, self._preds
        )
        pb = int(self._options.get("partition_bytes", DEFAULT_PARTITION_BYTES))
        return _pack_partitions(table, files, pb, self._options.get("columns"))

    def read(self, partition):
        return _read_partition(partition)


class Pi2SparkStreamReader(DataSourceStreamReader):
    """Snapshot-log streaming source. One micro-batch = the files
    appended in ``(start, end]`` snapshots."""

    def __init__(self, options):
        self._options = options
        self._table = _load_table(options)
        self._ignore_changes = str(
            options.get("ignore_changes", "false")
        ).lower() in ("1", "true", "yes")
        # trigger rate limits (Delta's maxFilesPerTrigger analogue):
        # cap how far latestOffset advances past the last batch end.
        # File counts come from snapshot-summary total-files deltas —
        # metadata only, no manifest read at offset time.
        self._max_snaps = int(self._options.get("max_snapshots_per_trigger", 0)) or None
        self._max_files = int(self._options.get("max_files_per_trigger", 0)) or None
        # rate-limit base tracker. Spark may call latestOffset BEFORE
        # initialOffset on the first batch, so the base starts from the
        # configured start (fresh streams are exactly right). After a
        # checkpoint restart the committed offset is not replayed
        # through this reader, so the base starts stale and partitions()
        # re-seeds it from the actual batch range — a capped-from-behind
        # latestOffset still advances ≥1 snapshot per trigger, so the
        # stream self-heals in at most a few (empty) triggers.
        start = self._options.get("starting_snapshot_id")
        self._last_end: int = (
            int(start)
            if start is not None
            else int(self._table.current_snapshot_id() or 0)
        )

    def initialOffset(self):  # noqa: N802
        start = self._options.get("starting_snapshot_id")
        if start is not None:
            off = int(start)
        else:
            # default: only data appended AFTER the stream starts
            # (Delta's default startingVersion=latest semantics)
            off = int(self._table.current_snapshot_id() or 0)
        self._last_end = max(self._last_end, off)
        return {"snapshot_id": off}

    def latestOffset(self):  # noqa: N802
        cur = int(self._table.current_snapshot_id() or 0)
        base = self._last_end
        if cur <= base or (self._max_snaps is None and self._max_files is None):
            if cur > base:
                self._last_end = cur
            return {"snapshot_id": cur}
        snaps = sorted(
            (s for s in self._table.snapshots() if base < s["snapshot_id"] <= cur),
            key=lambda s: s["snapshot_id"],
        )
        prev_total = 0
        if base:
            b = next(
                (s for s in self._table.snapshots() if s["snapshot_id"] == base), None
            )
            if b is None:
                # base expired: let partitions() raise the proper error
                self._last_end = cur
                return {"snapshot_id": cur}
            prev_total = int(b.get("summary", {}).get("total-files", 0))
        capped, files = base, 0
        for i, s in enumerate(snaps):
            tot = int(s.get("summary", {}).get("total-files", 0))
            if s["operation"] == "append":
                files += max(0, tot - prev_total)
            prev_total = tot
            capped = s["snapshot_id"]  # always ≥1 snapshot: progress
            if self._max_snaps is not None and i + 1 >= self._max_snaps:
                break
            if self._max_files is not None and files >= self._max_files:
                break
        self._last_end = capped
        return {"snapshot_id": capped}

    def partitions(self, start, end):
        from pi2spark.table import DataFile

        lo, hi = int(start["snapshot_id"]), int(end["snapshot_id"])
        # re-seed the rate-limit base from the actual batch range
        # (post-restart, `lo` is the checkpoint-committed offset)
        self._last_end = max(self._last_end, lo, hi)
        if hi <= lo:
            return self._pack([])
        snaps = sorted(self._table.snapshots(), key=lambda s: s["snapshot_id"])
        in_range = [s for s in snaps if lo < s["snapshot_id"] <= hi]
        if not in_range:
            return self._pack([])
        # resolve the consumption base: offset 0 = before the first
        # snapshot (full history); otherwise the lo snapshot must still
        # exist, or the range's head was expired from under the stream
        if lo == 0:
            prev_id, prev_paths = None, set()
        else:
            base = next((s for s in snaps if s["snapshot_id"] == lo), None)
            if base is None:
                raise Pi2SparkError(
                    f"streaming offset {lo} refers to an expired snapshot; "
                    "restart the stream with a fresh checkpoint"
                )
            prev_id, prev_paths = lo, self._table.manifest_data_paths(base)
        new_files = []
        for s in in_range:
            # contiguity: an unbroken parent chain over the consumed
            # range, or expired intermediates silently swallow data
            if s.get("parent_id") != prev_id:
                raise Pi2SparkError(
                    f"streaming history is not contiguous at snapshot "
                    f"{s['snapshot_id']} (parent {s.get('parent_id')}, expected "
                    f"{prev_id}) — an intermediate snapshot was expired"
                )
            # ONE manifest listing per snapshot serves both the path-set
            # diff and the DataFile entries (at 10^6-file scale the plan
            # cost is this listing — don't pay it twice)
            entries = self._table._manifest_entries(s)
            cur_paths = {d["path"] for d in entries}
            if s["operation"] == "append":
                added = set(cur_paths) - prev_paths
                new_files.extend(
                    DataFile.from_json(d)
                    for d in sorted(entries, key=lambda d: d["path"])
                    if d["path"] in added
                )
            elif not self._ignore_changes:
                raise Pi2SparkError(
                    f"snapshot {s['snapshot_id']} is a non-append change "
                    f"({s['operation']}); the pi2spark streaming source is "
                    "append-only — set option('ignore_changes', 'true') to "
                    "skip rewrites (rewritten rows are NOT re-delivered)"
                )
            prev_paths, prev_id = cur_paths, s["snapshot_id"]
        return self._pack(new_files)

    def _pack(self, files):
        pb = int(self._options.get("partition_bytes", DEFAULT_PARTITION_BYTES))
        return _pack_partitions(self._table, files, pb, self._options.get("columns"))

    def read(self, partition):
        return _read_partition(partition)

    def commit(self, end):
        pass  # offsets are durable in the table's own snapshot log

    def stop(self):
        pass


@dataclass
class _WrittenFile(WriterCommitMessage):
    """One task's output: its staged data file's manifest entry (stats
    computed in-task — no read-back pass), or None when the task saw no
    rows."""

    file: DataFile | None


class _ArrowFileWriter:
    """Shared executor-side write half of the batch and streaming
    writers: each task streams its Arrow batches into ONE parquet file
    under a staged pass directory (writer-unique uuid names — two
    racing writers can never collide) through ``table.write_data_file``,
    the writer every write path shares, which also computes the file's
    min/max stats + subject blooms in the same task and writes the
    incoming schema as Spark's footer schema. Nothing is visible to
    readers until the driver-side ``commit`` links the staged files
    into a snapshot; ``abort`` just deletes them. This is the same
    two-phase write every table-format sink uses (Iceberg's
    WriterCommitMessage/commit protocol), which makes the whole write
    path safe on plain rename-less object stores.

    Task memory is one Arrow batch at a time (ParquetWriter streams);
    file sizing is controlled by the caller's partitioning, exactly
    like ``Table.write_files``."""

    def __init__(self, root: str, rel_dir: str, stat_cols, bloom_cols, schema: StructType):
        self._root = root
        self._rel_dir = rel_dir
        self._stat_cols = tuple(stat_cols)
        self._bloom_cols = tuple(bloom_cols)
        self._spark_schema = schema

    def write(self, iterator) -> _WrittenFile:
        import uuid

        from pi2spark.table import write_data_file

        rel = os.path.join(self._rel_dir, f"ds-{uuid.uuid4().hex[:16]}.parquet")
        return _WrittenFile(
            write_data_file(
                self._root, rel, iterator, self._stat_cols, self._bloom_cols, self._spark_schema
            )
        )

    def delete_staged(self, messages) -> None:
        for f in _datafiles_from_messages(messages):
            try:
                os.remove(os.path.join(self._root, f.path))
            except OSError:
                pass


def _writer_guard(table: "Table", options, schema: StructType) -> None:
    """Refuse plaintext-PII writes into a protected table: the vanilla
    ``df.write`` path bypasses ``encrypt_table``, so a raw PII column
    in the incoming schema would commit unencrypted subject data next
    to envelopes (the exact failure pi2schema's serializer interceptor
    exists to prevent — SecretKeeper wraps BEFORE the write, not
    after). Encrypted frames carry ``<col>_enc`` instead of ``<col>``
    and pass untouched; ``option("allow_plaintext_pii", "true")``
    opts out for unprotected-by-design columns."""
    if str(options.get("allow_plaintext_pii", "false")).lower() in ("1", "true", "yes"):
        return
    from pi2spark.errors import SchemaNotFoundError

    try:
        spec = table.protection_spec()
    except SchemaNotFoundError:
        return
    names = set(schema.fieldNames())
    leaked = sorted(names & set(spec.pii_columns))
    if leaked:
        raise Pi2SparkError(
            f"write would commit plaintext PII column(s) {leaked} into a "
            "protected table; encrypt first (pi2spark.crypto.encrypt_table) "
            "or set option('allow_plaintext_pii', 'true')"
        )


def _datafiles_from_messages(messages) -> list:
    return [m.file for m in messages or () if m is not None and m.file is not None]


class Pi2SparkBatchWriter(DataSourceArrowWriter):
    """``df.write.format("pi2spark").mode("append"|"overwrite")``.
    Append commits the staged files as an append snapshot through the
    optimistic-retry path (an append's delta re-applies over any
    concurrent winner). Overwrite removes the files of the snapshot
    current AT COMMIT TIME in the same atomic snapshot — replaced data
    stays readable to pinned/time-travel scans until expiry."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        table = _load_table(options)
        _writer_guard(table, options, schema)
        self._root = table.root
        self._overwrite = overwrite
        self._schema_json = schema.json()
        rel_dir, _ = table.new_data_dir("dswrite")
        self._files = _ArrowFileWriter(
            table.root, rel_dir, table.stats_columns(), table.bloom_columns(), schema
        )

    def write(self, iterator):
        return self._files.write(iterator)

    def commit(self, messages):
        from pi2spark.errors import ConcurrentCommitError
        from pi2spark.table import Table

        table = Table(self._root)
        added = _datafiles_from_messages(messages)
        # schema persists BEFORE the snapshot commit — deliberately, and
        # same ordering as Table.write_files: if the commit then fails,
        # the union schema at worst carries a column no data file has
        # (reads materialize NULLs — benign); the opposite order risks a
        # crash window where COMMITTED files carry a column the persisted
        # schema lacks, hiding real data from every schema-applied scan.
        table._persist_schema(StructType.fromJson(json.loads(self._schema_json)))
        if self._overwrite:
            # the removal set must match the version the commit lands
            # on: pin each attempt to the version it planned from
            # (expected_version), or a concurrent append landing between
            # plan and commit would survive the overwrite — the commit's
            # internal check only errors on MISSING removals, not on a
            # parent that gained files. Recompute on every retry.
            for attempt in range(5):
                version = table.current_version()
                snap = table.snapshot() if table.current_snapshot_id() else None
                removed = [f.path for f in snap.files] if snap else []
                try:
                    table.commit(
                        "overwrite",
                        added=added,
                        removed_paths=removed,
                        expected_version=version,
                    )
                    return
                except ConcurrentCommitError:
                    if attempt == 4:
                        raise
        elif added:
            table.commit_with_retry("append", added=added)

    def abort(self, messages):
        self._files.delete_staged(messages)


class Pi2SparkStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("pi2spark")`` — exactly-once appends.
    Each micro-batch's staged files commit as one append snapshot whose
    summary records ``(sink key, batch id)``; a replayed batch (task
    retry after a commit, or a restart re-running the last batch) is
    detected through the same incarnation-scoped guard the
    ``foreachBatch`` table sink uses and its staged files are deleted
    instead of committed — the snapshot log is the idempotence ledger,
    so exactly-once holds across driver crashes with no extra state.
    The sink key comes from ``option("sink_id")`` or, by default, the
    stream's checkpoint incarnation (Spark forwards
    ``checkpointLocation`` to the sink's options)."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        table = _load_table(options)
        _writer_guard(table, options, schema)
        if overwrite:
            raise Pi2SparkError(
                "the pi2spark streaming sink is append-only (outputMode "
                "append); use batch mode('overwrite') for replacement"
            )
        self._root = table.root
        self._schema_json = schema.json()
        self._sink_id = options.get("sink_id")
        self._checkpoint = options.get("checkpointlocation") or ""
        rel_dir, _ = table.new_data_dir("dsstream")
        self._files = _ArrowFileWriter(
            table.root, rel_dir, table.stats_columns(), table.bloom_columns(), schema
        )

    def _qkey(self) -> str:
        from pi2spark.streaming import _stream_incarnation

        base = self._sink_id or "pi2spark-sink"
        return f"{base}#{_stream_incarnation(self._checkpoint)}"

    def write(self, iterator):
        return self._files.write(iterator)

    def commit(self, messages, batchId):  # noqa: N803 — Spark API name
        from pi2spark.streaming import (
            STREAM_BATCH_KEY,
            STREAM_QUERY_KEY,
            _is_replayed_batch,
        )
        from pi2spark.table import Table

        table = Table(self._root)
        qkey = self._qkey()
        if _is_replayed_batch(table, qkey.split("#", 1)[0], qkey, batchId):
            self._files.delete_staged(messages)
            return
        added = _datafiles_from_messages(messages)
        # persist-before-commit: see Pi2SparkBatchWriter.commit
        table._persist_schema(StructType.fromJson(json.loads(self._schema_json)))
        table.commit_with_retry(
            "append",
            added=added,
            summary={STREAM_QUERY_KEY: qkey, STREAM_BATCH_KEY: int(batchId)},
        )

    def abort(self, messages, batchId):  # noqa: N803 — Spark API name
        self._files.delete_staged(messages)


class Pi2SparkDataSource(DataSource):
    """``spark.dataSource.register(Pi2SparkDataSource)`` (or
    ``pi2spark.datasource.register(spark)``), then
    ``spark.read.format("pi2spark").load(root)`` /
    ``df.write.format("pi2spark").save(root)``."""

    @classmethod
    def name(cls):
        return "pi2spark"

    def schema(self):
        return _logical_schema(_load_table(self.options), self.options.get("columns"))

    def reader(self, schema):
        return Pi2SparkBatchReader(self.options)

    def streamReader(self, schema):
        return Pi2SparkStreamReader(self.options)

    def writer(self, schema, overwrite):
        return Pi2SparkBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite):  # noqa: N802 — Spark API name
        return Pi2SparkStreamWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Register the source with a session (idempotent), enabling the
    Python-source filter-pushdown hook our ``pushFilters`` needs
    (off by default in Spark 4.1)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(Pi2SparkDataSource)
