"""Iceberg-shaped snapshot table: Parquet data files + JSON metadata.

No Iceberg/Delta jar exists in this sandbox (SURVEY.md §2 Part B), so
the table format is implemented here with Iceberg's *shape*:

    <root>/
      metadata/
        v{N}.json            table metadata: schema, properties,
                             snapshot log (each snapshot points at a
                             manifest file), current snapshot id
        snap-{id}.json       manifest: data-file entries with per-file
                             row counts, byte sizes, per-column min/max
        version-hint.text    current version N (atomically replaced)
      data/
        <pass-uuid>/part-*.parquet

Semantics (SURVEY.md §2 B1/B2/B5/B6):

- **Snapshot isolation** (B1): a reader resolves its file list from one
  immutable manifest; writers never mutate data files — every
  maintenance pass writes new files and commits a new snapshot via an
  atomic metadata swap (`os.rename` of both the version file and the
  version hint; single-writer assumption documented in SURVEY.md §7).
  A reader holding snapshot N is unaffected by commit N+1.
- **File pruning** (B2): per-file min/max column stats live in the
  manifest; `Table.scan(filters=...)` prunes files on the driver
  *before* Catalyst ever sees them. (Catalyst then does row-group and
  page-level pruning inside the files it is given — both layers apply.)
- **Stats** (B5): collected from Parquet footers (row-group statistics
  via pyarrow) by the task that wrote the file (``write_data_file``),
  so the driver never touches a footer — at 10^12-file ambition it
  must not.
- **Manifest rewrite** (B6): commits record added/removed files and the
  parent snapshot; removed files stay on disk for time travel until
  reference-counted snapshot expiry deletes them (``maintenance.expire``).

The 10^12-file scale story (format v2, the default): a snapshot points
at a **manifest list** — an index of immutable manifest *shards*, each
holding at most ``manifest.shard_size`` file entries plus shard-level
stats (path range, rows, bytes). Commits reuse untouched shards **by
reference**: only shards whose path range overlaps a removed file are
read and rewritten; appends go into fresh shards. So commit cost is
O(affected shards + added files), not O(table files) — Iceberg's
manifest-list → manifest layering. Snapshot expiry reference-counts
shards (shared across snapshots) as well as data files. Format v1
(single-manifest) tables remain readable.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

from pi2spark.errors import (
    ConcurrentCommitError,
    Pi2SparkError,
    SchemaNotFoundError,
    StaleDeltaError,
)

STATS_COLUMNS_PROP = "stats.columns"
DEFAULT_STATS_COLUMNS = ["repo", "path", "lang", "zkey"]
BLOOM_COLUMNS_PROP = "bloom.columns"
DEFAULT_BLOOM_COLUMNS = ["repo"]  # subject column: exact shred targeting
SHARD_SIZE_PROP = "manifest.shard_size"
DEFAULT_SHARD_SIZE = 10_000  # file entries per manifest shard


# ---------------------------------------------------------------------------
# manifest entries
# ---------------------------------------------------------------------------


@dataclass
class DataFile:
    """One data-file entry in a manifest (Iceberg DataFile analogue)."""

    path: str  # relative to table root
    rows: int
    bytes: int
    # col -> [min, max] (JSON-serializable scalars); absent cols unknown
    stats: dict = field(default_factory=dict)
    # col -> base64 bloom bitset (pi2spark.bloom); Iceberg-puffin analogue
    blooms: dict = field(default_factory=dict)
    # col -> exact null count (Iceberg null_value_counts); a column is
    # listed only when every row group reported a null count, so a
    # missing entry means UNKNOWN (pre-upgrade manifests, stat-less
    # writers) and consumers must stay conservative
    nulls: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        d = {"path": self.path, "rows": self.rows, "bytes": self.bytes, "stats": self.stats}
        if self.blooms:
            d["blooms"] = self.blooms
        if self.nulls:
            d["nulls"] = self.nulls
        return d

    @classmethod
    def from_json(cls, d: dict) -> "DataFile":
        return cls(
            path=d["path"],
            rows=d["rows"],
            bytes=d["bytes"],
            stats=d.get("stats", {}),
            blooms=d.get("blooms", {}),
            nulls=d.get("nulls", {}),
        )


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # append | compact | zorder | shred | expire
    files: list[DataFile]
    summary: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# footer stats collection (B5)
# ---------------------------------------------------------------------------


def _footer_stats(
    abs_path: str, stat_cols: Sequence[str], bloom_cols: Sequence[str] = ()
) -> tuple[int, int, dict, dict, dict]:
    """Read one Parquet footer: (rows, bytes, {col: [min,max]},
    {col: bloom_b64}, {col: null_count}). Bloom columns additionally
    read that column's values (projected read — a few KB for the
    subject column). Null counts are exact and recorded only when
    EVERY row group reported one (consumers treat absence as
    unknown — the conservative default for pre-upgrade manifests)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(abs_path)
    meta = pf.metadata
    rows = meta.num_rows
    size = os.path.getsize(abs_path)
    want = set(stat_cols)
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    null_unknown: set = set()
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in want:
                continue
            st = col.statistics
            if st is not None and st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                null_unknown.add(name)
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                mn = mn.decode("utf-8", "replace")
            if isinstance(mx, bytes):
                mx = mx.decode("utf-8", "replace")
            if name not in mins or mn < mins[name]:
                mins[name] = mn
            if name not in maxs or mx > maxs[name]:
                maxs[name] = mx
    stats = {c: [mins[c], maxs[c]] for c in mins if c in maxs}
    nulls = {c: n for c, n in nulls.items() if c not in null_unknown}
    blooms: dict = {}
    present = {meta.row_group(0).column(ci).path_in_schema for ci in range(meta.num_columns)} if meta.num_row_groups else set()
    for c in bloom_cols:
        if c not in present or rows == 0:
            continue
        from pi2spark.bloom import build_bloom

        # reuse the already-open ParquetFile: a second pq.read_table
        # re-opened the file and re-parsed the footer per bloom column
        # (2 opens/file x thousands of files per stats sweep)
        tab = pf.read(columns=[c])
        distinct = tab.column(c).unique().to_pylist()
        blooms[c] = build_bloom([v for v in distinct if v is not None])
    return rows, size, stats, blooms, nulls


def collect_data_files(
    root: str,
    rel_paths: Sequence[str],
    stat_cols: Sequence[str],
    bloom_cols: Sequence[str] = DEFAULT_BLOOM_COLUMNS,
) -> list[DataFile]:
    """Build DataFile entries (footer stats + subject blooms) for files
    written outside this package's writers (e.g. by Spark's own
    ``df.write``) before ``Table.commit`` registers them, on driver
    threads. Every write path here returns its entries from the writing
    task instead (``write_data_file``)."""
    from concurrent.futures import ThreadPoolExecutor

    def one(p: str) -> DataFile:
        return DataFile(p, *_footer_stats(os.path.join(root, p), stat_cols, bloom_cols))

    with ThreadPoolExecutor(max_workers=16) as ex:
        return list(ex.map(one, rel_paths))


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def align_spark_schema(tbl, new_types: dict | None = None, schemas=(), renamed=None):
    """Make Spark's footer schema JSON (when ``tbl`` carries one) list
    exactly ``tbl``'s columns, in order, so a schema-less Spark read of
    the output sees what the file holds. A column keeps its JSON entry
    from ``tbl`` or from one of ``schemas`` (the Arrow schemas of
    concatenated inputs), or takes the entry of the column
    ``renamed[name]`` under its own name; a column none of them knows
    gets the Spark type name ``new_types[name]``, and without one the
    JSON is dropped (Spark then maps the Parquet schema itself)."""
    docs = [s.metadata.get(_SPARK_ROW_METADATA) for s in [tbl.schema, *schemas] if s.metadata]
    docs = list(dict.fromkeys(d for d in docs if d))
    if not docs:
        return tbl
    doc = json.loads(docs[0])
    if len(docs) == 1 and [f["name"] for f in doc["fields"]] == tbl.column_names:
        return tbl
    known: dict = {}
    for d in docs:
        for f in json.loads(d)["fields"]:
            known.setdefault(f["name"], f)
    for new, old in (renamed or {}).items():
        if old in known:
            known.setdefault(new, {**known[old], "name": new})
    new_types = new_types or {}
    meta = dict(tbl.schema.metadata)
    if all(n in known or n in new_types for n in tbl.column_names):
        doc["fields"] = [
            known.get(n) or {"name": n, "type": new_types[n], "nullable": True, "metadata": {}}
            for n in tbl.column_names
        ]
        meta[_SPARK_ROW_METADATA] = json.dumps(doc).encode()
    else:
        del meta[_SPARK_ROW_METADATA]
    return tbl.replace_schema_metadata(meta)


def write_data_file(
    root: str,
    rel_path: str,
    batches: Iterable,
    stat_cols: Sequence[str],
    bloom_cols: Sequence[str] = DEFAULT_BLOOM_COLUMNS,
    spark_schema=None,
) -> DataFile | None:
    """The one data-file writer every write path ends in: stream Arrow
    batches (record batches or tables, one schema) into ONE Parquet file
    at ``rel_path`` and return its manifest entry (``_footer_stats``:
    footer min/max, null counts, subject bloom), all in the calling
    task. Returns None, writing nothing, when every batch is empty.

    - The file is written as ``<path>.inprogress`` and renamed into
      place when complete; a writer that dies leaves only the staged
      name, an uncommitted orphan ``remove_orphans`` reclaims.
    - Every column is written nullable (Spark 4.1's own writer keeps a
      non-nullable column required): a later Arrow rewrite may NULL it
      (the shred tombstone), and pyarrow silently misplaces NULLs
      written into a required column.
    - Snappy compression; dictionary encoding for flat non-floating
      columns only; timestamps as INT64 microseconds (pyarrow's
      nanosecond default is a type Spark cannot read).
    - ``spark_schema`` (the batches' ``StructType``) becomes Spark's
      footer schema, so a schema-less Spark read restores Spark's types
      and field metadata (the envelope marker); without it the first
      batch's schema metadata is written as is.
    - One row group per non-empty batch: a Spark-planned write gets
      batches of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows
      (10,000 in ``get_spark``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    out_abs = os.path.join(root, rel_path)
    tmp = out_abs + ".inprogress"
    writer = None
    try:
        for b in batches:
            if b.num_rows == 0:
                continue
            if writer is None:
                meta = dict(b.schema.metadata or {})
                if spark_schema is not None:
                    meta[_SPARK_ROW_METADATA] = T.StructType(
                        [T.StructField(f.name, f.dataType, True, f.metadata) for f in spark_schema]
                    ).json()
                schema = pa.schema([f.with_nullable(True) for f in b.schema], metadata=meta)
                # dictionary pages only for flat, non-floating columns:
                # ciphertext and embedding floats rarely repeat, and
                # pyarrow, unlike Spark's writer, keeps a dictionary that
                # does not shrink a column (embeddings grew 45% with one)
                flat = [
                    f.name
                    for f in schema
                    if not (pa.types.is_nested(f.type) or pa.types.is_floating(f.type))
                ]
                writer = pq.ParquetWriter(
                    tmp, schema, compression="snappy", coerce_timestamps="us", use_dictionary=flat
                )
            writer.write(b if b.schema.equals(schema) else b.cast(schema))
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return None
    os.rename(tmp, out_abs)
    return DataFile(rel_path, *_footer_stats(out_abs, stat_cols, bloom_cols))


def _write_partition(batches, root, rel_dir, stat_cols, bloom_cols, spark_schema):
    """``mapInArrow`` body of ``Table.write_files``: one task's batches
    into one file named for its partition plus a fresh uuid (unique per
    task attempt), yielding its manifest entry as one JSON row."""
    import pyarrow as pa
    from pyspark import TaskContext

    name = f"part-{TaskContext.get().partitionId():05d}-{uuid.uuid4().hex[:16]}.parquet"
    f = write_data_file(
        root, os.path.join(rel_dir, name), batches, stat_cols, bloom_cols, spark_schema
    )
    if f is not None:
        yield pa.RecordBatch.from_pydict({"entry": [json.dumps(f.to_json())]})


def rewrite_file_groups(
    root: str,
    groups: Sequence[tuple[str, Sequence[str]]],
    spark: SparkSession,
    stat_cols: Sequence[str],
    bloom_cols: Sequence[str] = DEFAULT_BLOOM_COLUMNS,
    sort_col: str | Sequence[str] | None = None,
    transform: Callable | None = None,
) -> list[DataFile]:
    """Order-preserving group writer, the pyarrow planner beside
    ``Table.write_files``'s Spark-planned one: one task per group, each
    task pyarrow-reads its (consecutive) input files and writes ONE
    output file through ``write_data_file``, which returns its stats +
    blooms from the same task — a single shuffle-free Spark job with no
    read-back pass for stats.

    Two task shapes:

    - ``sort_col`` set (the cluster() merge and one-task clustering):
      the task reads its group whole, concatenates it (schemas unify by
      name; missing columns read as NULL), runs ``transform`` once on
      the concatenation, and sorts on ``sort_col`` (one name or a list;
      names the table lacks are skipped). Task memory is the
      decompressed size of one group, so size groups to the compaction
      target (not more).
    - otherwise (the shred rewrite): the task streams the group's row
      groups one at a time through ``transform`` (``pa.Table ->
      pa.Table``) into one writer — row order kept, task memory bounded
      by one row group. A group's inputs must share one schema.

    Every caller's ``transform`` binds its input to the logical schema
    first (``bind_logical``), so outputs carry the logical schema.

    This exists because Spark's scan packing cannot preserve file
    order (FileSourceScan sorts splits by size before binning), which
    the cluster() merge path requires: consecutive zkey-ordered inputs
    must land in the same output file for the per-file ranges to stay
    disjoint. The data plane is pyarrow C++ in the Python worker —
    rows never cross into the JVM; only the manifest entries return.

    Timestamps: files of older versions carry Spark's INT96, which
    pyarrow would read as nanoseconds (overflowing outside 1677–2262);
    inputs are read at microseconds. A group whose rows are all gone
    writes no file (the output list is then shorter than ``groups``).

    ``groups`` is ``[(out_rel_path, [in_rel_paths...]), ...]``."""
    cols = list(stat_cols)
    bcols = list(bloom_cols)
    rootv = root
    sortv = [sort_col] if isinstance(sort_col, str) else list(sort_col or ())

    def work(item):
        out_rel, rels = item
        import pyarrow as pa
        import pyarrow.parquet as pq

        def row_groups():
            for r in rels:
                pf = pq.ParquetFile(os.path.join(rootv, r), coerce_int96_timestamp_unit="us")
                if pf.num_row_groups == 0:
                    yield pf.schema_arrow.empty_table()
                for i in range(pf.num_row_groups):
                    yield pf.read_row_group(i)

        if sortv:
            parts = list(row_groups())
            tbl = pa.concat_tables(parts, promote_options="permissive")
            tbl = align_spark_schema(tbl, schemas=[p.schema for p in parts])
            if transform is not None:
                tbl = transform(tbl)
            keys = [(c, "ascending") for c in sortv if c in tbl.column_names]
            stream = [tbl.sort_by(keys) if keys else tbl]
        else:
            stream = row_groups()
            if transform is not None:
                stream = map(transform, stream)
        return write_data_file(rootv, out_rel, stream, cols, bcols)

    sc = spark.sparkContext
    results = sc.parallelize(list(groups), len(groups)).map(work).collect()
    return [f for f in results if f is not None]


def pack_consecutive(files: Sequence["DataFile"], target_bytes: int) -> list[list["DataFile"]]:
    """Order-preserving first-fit: consecutive files accumulate into a
    group until adding the next would exceed ``target_bytes`` (a group
    always takes at least one file)."""
    out: list[list[DataFile]] = []
    cur: list[DataFile] = []
    cur_bytes = 0
    for f in files:
        if cur and cur_bytes + f.bytes > target_bytes:
            out.append(cur)
            cur, cur_bytes = [], 0
        cur.append(f)
        cur_bytes += f.bytes
    if cur:
        out.append(cur)
    return out


# ---------------------------------------------------------------------------
# pruning predicates (B2)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ColumnPredicate:
    """Conjunctive stats predicate for driver-side file pruning.

    op ∈ {"eq", "in", "le", "ge", "between", "isnull", "notnull"}; a
    file survives when its [min,max] range (or exact null count, for
    the null ops) *may* contain a matching value. Files without stats
    for the column always survive (safe)."""

    column: str
    op: str
    value: object = None
    values: tuple = ()

    @functools.cached_property
    def _bloom_probes(self):
        """The equality values' bloom probes, hashed once per predicate
        rather than once per file it is tested against."""
        from pi2spark.bloom import bloom_probes

        return bloom_probes((self.value,) if self.op == "eq" else self.values)

    def may_match(self, f: DataFile) -> bool:
        if self.op == "isnull":
            # prune only on an exact null count of 0 (absence = unknown)
            return f.nulls.get(self.column) != 0
        if self.op == "notnull":
            # prune only when the column is provably all-NULL
            n = f.nulls.get(self.column)
            return n is None or n < f.rows
        # bloom check first for equality predicates — near-exact
        if self.op in ("eq", "in") and self.column in f.blooms:
            from pi2spark.bloom import bloom_may_contain_probes

            if not bloom_may_contain_probes(f.blooms[self.column], self._bloom_probes):
                return False
        st = f.stats.get(self.column)
        if not st:
            return True
        mn, mx = st
        if self.op == "eq":
            return mn <= self.value <= mx
        if self.op == "in":
            return any(mn <= v <= mx for v in self.values)
        if self.op == "le":
            return mn <= self.value
        if self.op == "ge":
            return mx >= self.value
        if self.op == "between":
            lo, hi = self.value
            return not (mx < lo or mn > hi)
        raise Pi2SparkError(f"unknown predicate op {self.op}")


def _protection_entry(document, dialect: str) -> dict:
    """Normalize a protection schema document to its stored JSON form."""
    if hasattr(document, "json") and not isinstance(document, (str, dict)):
        # Spark StructType (avoid importing pyspark at module scope)
        return {"dialect": dialect, "document": document.json()}
    if isinstance(document, dict):
        return {"dialect": dialect, "document": json.dumps(document)}
    return {"dialect": dialect, "document": document}


# ---------------------------------------------------------------------------
# the table
# ---------------------------------------------------------------------------


def _replay_schema_ops(src: dict[str, list[str]], ops: list[dict]) -> dict[str, list[str]]:
    """Apply schema-evolution ``ops`` to ``src`` (logical column -> the
    columns coalesced into it, highest priority first): a rename moves
    a column to its new name, or onto the new name's sources when both
    exist; an add opens a column with no sources; a drop removes one.
    The one replay of rename/drop semantics that ``column_sources`` and
    ``resolve_columns`` share."""
    for op in ops:
        if op["op"] == "rename":
            old, new = op["from"], op["to"]
            if old in src and new in src:
                src[new] = src[new] + src.pop(old)
            elif old in src:
                src = {(new if k == old else k): v for k, v in src.items()}
        elif op["op"] == "add":
            src.setdefault(op["name"], [])
        elif op["op"] == "drop":
            src.pop(op["name"], None)
    return src


def bind_logical(tbl, sources: dict[str, list[str]]):
    """Bind one Arrow table's physical columns to the logical schema
    (``sources`` is ``Table.column_sources()``): each logical column with
    a source present becomes the first non-NULL of its present sources,
    under its logical name and the first source's type; physical columns
    no logical column reads (dropped ones) leave; logical columns with
    no source present stay absent (readers see them as NULL). Spark's
    footer schema JSON follows (``align_spark_schema``). The one binder
    every Arrow reader and rewrite uses — ``Table.apply_schema_ops`` is
    its Spark twin. Returns ``tbl`` itself when every column is its own
    only source (always, for a table with no schema ops)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    have = set(tbl.column_names)
    present = {c: [s for s in srcs if s in have] for c, srcs in sources.items()}
    present = {c: p for c, p in present.items() if p}
    if len(present) == tbl.num_columns and all(p == [c] for c, p in present.items()):
        return tbl
    arrays, fields = [], []
    for c, p in present.items():
        first = tbl.schema.field(p[0])
        arrays.append(
            tbl[p[0]] if len(p) == 1 else pc.coalesce(*(tbl[s].cast(first.type) for s in p))
        )
        fields.append(first.with_name(c))
    out = pa.Table.from_arrays(arrays, schema=pa.schema(fields, metadata=tbl.schema.metadata))
    return align_spark_schema(out, renamed={c: p[0] for c, p in present.items()})


def ddl_type(ddl: str):
    """The Spark DataType of a primitive DDL type string ("string",
    "bigint", ...), resolved without a JVM; None for any other string
    (complex types parse through a session)."""
    from pyspark.sql import types as T

    return {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "integer": T.IntegerType(),
        "bigint": T.LongType(),
        "long": T.LongType(),
        "smallint": T.ShortType(),
        "tinyint": T.ByteType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "boolean": T.BooleanType(),
        "binary": T.BinaryType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(),
    }.get(ddl.strip().lower())


class Table:
    """Single-writer snapshot table at a filesystem root."""

    def __init__(self, root: str):
        self.root = root
        self._meta_dir = os.path.join(root, "metadata")
        self._data_dir = os.path.join(root, "data")

    # -- creation / loading --

    @classmethod
    def create(
        cls,
        root: str,
        properties: dict | None = None,
        format_version: int = 2,
        protection=None,
        protection_dialect: str = "spark",
    ) -> "Table":
        """``protection``: optional annotated schema document to persist
        in table metadata (A2/A3 end-to-end — the stored-schema-registry
        analogue): a Spark ``StructType`` carrying pi2schema markers, or
        a dialect document (Avro / JSON-Schema / protobuf-descriptor
        dict or JSON string) with ``protection_dialect`` naming it."""
        t = cls(root)
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        meta = {
            "format_version": format_version,
            "table_uuid": str(uuid.uuid4()),
            "properties": properties or {},
            "current_snapshot_id": None,
            "snapshots": [],
        }
        if protection is not None:
            meta["protection"] = _protection_entry(protection, protection_dialect)
        t._write_version(1, meta)
        return t

    def set_protection(self, document, dialect: str = "spark") -> None:
        """Persist (or replace) the annotated schema document in table
        metadata — a metadata-only commit. Readers compile their
        ``ProtectionSpec`` from the stored document
        (``protection_spec()``) instead of re-declaring it in code,
        mirroring the reference's schema-registry lookup
        (``KafkaJsonSchemaProvider.java:47-80``)."""
        version = self.current_version()
        meta = self._metadata(version)
        meta["protection"] = _protection_entry(document, dialect)
        self._write_version(version + 1, meta)

    def protection_spec(self):
        """Compile the stored protection schema (cached per document —
        the A4 metadata cache). Raises ``SchemaNotFoundError`` when the
        table carries no protection metadata."""
        from pi2spark.dialects import compile_document

        prot = self._metadata().get("protection")
        if not prot:
            raise SchemaNotFoundError(
                f"table at {self.root} has no stored protection schema; "
                "create(protection=...) or set_protection() first"
            )
        return compile_document(
            prot["dialect"], prot["document"], os.path.basename(self.root.rstrip("/"))
        )

    @classmethod
    def load(cls, root: str) -> "Table":
        t = cls(root)
        t.current_version()  # raises if absent
        return t

    def current_version(self) -> int:
        hint = os.path.join(self._meta_dir, "version-hint.text")
        with open(hint, "r", encoding="utf-8") as fh:
            v = int(fh.read().strip())
        # Self-heal a stale hint: a writer crashing between linking
        # v{N}.json and renaming version-hint.text would otherwise
        # wedge the table permanently — every later commit recomputes
        # the stale version, hits FileExistsError on the already-linked
        # v{N}.json, and retries forever. Walk forward from the hint
        # (O(1) when healthy, O(gap) after a crash) and advance it.
        repaired = v
        while os.path.exists(os.path.join(self._meta_dir, f"v{repaired + 1}.json")):
            repaired += 1
        if repaired != v:
            htmp = hint + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(htmp, "w", encoding="utf-8") as fh:
                fh.write(str(repaired))
            os.rename(htmp, hint)
        return repaired

    def _metadata(self, version: int | None = None) -> dict:
        v = version if version is not None else self.current_version()
        with open(os.path.join(self._meta_dir, f"v{v}.json"), "r", encoding="utf-8") as fh:
            return json.load(fh)

    @property
    def properties(self) -> dict:
        return self._metadata().get("properties", {})

    def stats_columns(self) -> list[str]:
        return self.properties.get(STATS_COLUMNS_PROP, DEFAULT_STATS_COLUMNS)

    def bloom_columns(self) -> list[str]:
        return self.properties.get(BLOOM_COLUMNS_PROP, DEFAULT_BLOOM_COLUMNS)

    # -- snapshots --

    def snapshots(self) -> list[dict]:
        return self._metadata()["snapshots"]

    def history(self, spark: SparkSession) -> DataFrame:
        """Snapshot history as a DataFrame (Iceberg ``history`` /
        Delta ``DESCRIBE HISTORY`` analogue): one row per snapshot
        with id, parent, commit time, operation, file/row/byte totals,
        whether the snapshot is the current one, and any tags pinning
        it. Metadata-sized by construction — built on the driver from
        the snapshot log, no data files touched."""
        meta = self._metadata()
        cur = meta.get("current_snapshot_id")
        refs = meta.get("refs", {})
        by_snap: dict[int, list[str]] = {}
        for name, ref in refs.items():
            by_snap.setdefault(int(ref["snapshot_id"]), []).append(name)
        rows = [
            (
                int(s["snapshot_id"]),
                None if s.get("parent_id") is None else int(s["parent_id"]),
                int(s["timestamp_ms"]),
                s["operation"],
                int(s.get("summary", {}).get("total-files", 0)),
                int(s.get("summary", {}).get("total-rows", 0)),
                int(s.get("summary", {}).get("total-bytes", 0)),
                s["snapshot_id"] == cur,
                sorted(by_snap.get(int(s["snapshot_id"]), [])),
            )
            for s in meta["snapshots"]
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, timestamp_ms long, "
            "operation string, total_files long, total_rows long, "
            "total_bytes long, is_current boolean, tags array<string>",
        )

    def current_snapshot_id(self) -> int | None:
        return self._metadata()["current_snapshot_id"]

    # -- refs: tags + rollback (B1 extension) --

    def refs(self) -> dict:
        """Named references: ``{name: {"snapshot_id": int, "type":
        "tag"}}`` (Iceberg's refs map, tags only). Tagged snapshots
        are retained by ``expire_snapshots`` regardless of age."""
        return self._metadata().get("refs", {})

    def tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Create or move a named tag pointing at a snapshot."""
        for _ in range(5):
            version = self.current_version()
            meta = self._metadata(version)
            sid = snapshot_id if snapshot_id is not None else meta["current_snapshot_id"]
            if not any(s["snapshot_id"] == sid for s in meta["snapshots"]):
                raise Pi2SparkError(f"snapshot {sid} not found")
            meta.setdefault("refs", {})[name] = {"snapshot_id": sid, "type": "tag"}
            try:
                self._write_version(version + 1, meta)
                return
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(f"tag {name!r} lost 5 version races")

    def drop_tag(self, name: str) -> None:
        for _ in range(5):
            version = self.current_version()
            meta = self._metadata(version)
            if name not in meta.get("refs", {}):
                raise Pi2SparkError(f"tag {name!r} does not exist")
            del meta["refs"][name]
            try:
                self._write_version(version + 1, meta)
                return
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(f"drop_tag {name!r} lost 5 version races")

    def ref_snapshot_id(self, name: str) -> int:
        ref = self.refs().get(name)
        if ref is None:
            raise Pi2SparkError(f"tag {name!r} does not exist")
        return ref["snapshot_id"]

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Roll the table back to an earlier snapshot by committing a
        NEW snapshot that shares the target's manifests **by
        reference** — O(1) metadata, zero data movement, history
        preserved (the rolled-back-over snapshots still time-travel
        until expiry, and expiry's refcounts already handle the shared
        manifests/data files). Safe only because ``commit`` assigns
        max-based snapshot ids: after a rollback the current snapshot
        is no longer the max, and a parent+1 id would collide with an
        existing entry."""
        for _ in range(5):
            version = self.current_version()
            meta = self._metadata(version)
            target = next(
                (s for s in meta["snapshots"] if s["snapshot_id"] == snapshot_id), None
            )
            if target is None:
                raise Pi2SparkError(f"snapshot {snapshot_id} not found (expired?)")
            sid = max(s["snapshot_id"] for s in meta["snapshots"]) + 1
            entry = {
                "snapshot_id": sid,
                "parent_id": meta["current_snapshot_id"],
                "timestamp_ms": int(time.time() * 1000),
                "operation": "rollback",
                "summary": dict(target.get("summary", {}), rollback_to=snapshot_id),
            }
            for key in ("manifest_list", "manifest"):
                if key in target:
                    entry[key] = target[key]
            meta["snapshots"].append(entry)
            meta["current_snapshot_id"] = sid
            try:
                self._write_version(version + 1, meta)
                return self.snapshot(sid)
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError("rollback lost 5 version races")

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Time travel by wall clock: the latest snapshot committed at
        or before ``timestamp_ms`` (Iceberg's ``as-of-timestamp``).
        Raises if the table has no snapshot that old."""
        candidates = [s for s in self.snapshots() if s["timestamp_ms"] <= timestamp_ms]
        if not candidates:
            raise Pi2SparkError(f"no snapshot at or before timestamp {timestamp_ms}")
        best = max(candidates, key=lambda s: (s["timestamp_ms"], s["snapshot_id"]))
        return self.snapshot(best["snapshot_id"])

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot:
        meta = self._metadata()
        sid = snapshot_id if snapshot_id is not None else meta["current_snapshot_id"]
        if sid is None:
            raise Pi2SparkError("table has no snapshots")
        entry = next((s for s in meta["snapshots"] if s["snapshot_id"] == sid), None)
        if entry is None:
            raise Pi2SparkError(f"snapshot {sid} not found (expired?)")
        return Snapshot(
            snapshot_id=sid,
            parent_id=entry.get("parent_id"),
            timestamp_ms=entry["timestamp_ms"],
            operation=entry["operation"],
            files=[DataFile.from_json(d) for d in self._manifest_entries(entry)],
            summary=entry.get("summary", {}),
        )

    # -- manifest layering: v2 manifest-list → shards, v1 single file --

    def _read_meta_json(self, name: str) -> dict:
        with open(os.path.join(self._meta_dir, name), "r", encoding="utf-8") as fh:
            return json.load(fh)

    def _manifest_entries(self, entry: dict) -> list[dict]:
        """All file entries of one snapshot (reads every shard — the
        full listing a scan needs anyway)."""
        if "manifest_list" in entry:
            out: list[dict] = []
            for sh in self._read_meta_json(entry["manifest_list"])["manifests"]:
                out.extend(self._read_meta_json(sh["path"])["files"])
            return out
        return self._read_meta_json(entry["manifest"])["files"]

    def manifest_data_paths(self, entry: dict) -> set[str]:
        """Data-file paths referenced by one snapshot (expiry refcount)."""
        return {d["path"] for d in self._manifest_entries(entry)}

    def manifest_meta_files(self, entry: dict) -> set[str]:
        """Metadata files (manifest list + shards, or the single v1
        manifest) belonging to one snapshot. Shards are SHARED across
        snapshots (commit reuses untouched shards by reference), so
        expiry must refcount these too."""
        if "manifest_list" in entry:
            shards = {
                sh["path"] for sh in self._read_meta_json(entry["manifest_list"])["manifests"]
            }
            return shards | {entry["manifest_list"]}
        return {entry["manifest"]}

    def _write_shard(self, files_json: list[dict]) -> dict:
        """Write one immutable manifest shard; return its index record
        with shard-level stats (path range + totals) so later commits
        can skip reading shards untouched by their removals and compute
        snapshot totals without reading any shard."""
        name = f"manifest-{uuid.uuid4().hex[:12]}.json"
        tmp = os.path.join(self._meta_dir, name + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"files": files_json}, fh)
        os.rename(tmp, os.path.join(self._meta_dir, name))
        paths = [f["path"] for f in files_json]
        return {
            "path": name,
            "n_files": len(files_json),
            "rows": sum(f["rows"] for f in files_json),
            "bytes": sum(f["bytes"] for f in files_json),
            "min_path": min(paths),
            "max_path": max(paths),
        }

    # -- atomic commit (B6) --

    def _write_version(self, version: int, meta: dict) -> None:
        """Atomic metadata swap: temp-write + **hard-link** of
        v{N}.json (link(2) fails with EEXIST if the version exists —
        an atomic create-if-absent, unlike check-then-rename, which
        lets two racing writers both pass the check and the second
        rename silently clobber the first), then rename of
        version-hint.text. An existing v{N}.json means another writer
        won (optimistic concurrency)."""
        vpath = os.path.join(self._meta_dir, f"v{version}.json")
        tmp = vpath + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
        try:
            os.link(tmp, vpath)
        except FileExistsError:
            raise ConcurrentCommitError(f"version {version} already committed") from None
        finally:
            os.remove(tmp)
        hint = os.path.join(self._meta_dir, "version-hint.text")
        htmp = hint + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(htmp, "w", encoding="utf-8") as fh:
            fh.write(str(version))
        os.rename(htmp, hint)

    def commit(
        self,
        operation: str,
        added: Sequence[DataFile],
        removed_paths: Iterable[str] = (),
        summary: dict | None = None,
        expected_version: int | None = None,
    ) -> Snapshot:
        """Commit a new snapshot: parent's files − removed + added.

        Format v2: O(affected shards + added files). Untouched parent
        shards are reused by reference; only shards whose path range
        overlaps a removal are read and rewritten; added files go into
        fresh shards. All new metadata files carry writer-unique names
        (two optimistic writers racing from the same parent both
        compute sid = parent+1 — a fixed name would let the loser
        clobber the winner's committed manifest); nothing becomes
        visible until the version swap, and a losing writer's files are
        removed as orphans."""
        version = self.current_version()
        if expected_version is not None and version != expected_version:
            raise ConcurrentCommitError(
                f"table advanced to v{version}, expected v{expected_version}"
            )
        meta = self._metadata(version)
        parent_id = meta["current_snapshot_id"]
        removed = set(removed_paths)
        # max-based, not parent+1: after a rollback the current
        # snapshot is no longer the max id, and parent+1 would collide
        # with an existing (rolled-back-over) entry
        sid = max((s["snapshot_id"] for s in meta["snapshots"]), default=0) + 1
        new_meta_files: list[str] = []

        if meta.get("format_version", 1) >= 2:
            entry_extra, summ_totals = self._commit_sharded(
                meta, parent_id, sid, list(added), removed, new_meta_files
            )
        else:
            entry_extra, summ_totals = self._commit_single(
                meta, parent_id, sid, list(added), removed, new_meta_files
            )

        summ = dict(summary or {})
        summ.update({"added-files": len(added), "removed-files": len(removed)})
        summ.update(summ_totals)
        entry = {
            "snapshot_id": sid,
            "parent_id": parent_id,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "summary": summ,
        }
        entry.update(entry_extra)
        meta["snapshots"].append(entry)
        meta["current_snapshot_id"] = sid
        try:
            self._write_version(version + 1, meta)
        except ConcurrentCommitError:
            # lost the race: none of our metadata files were linked —
            # remove the orphans (reused parent shards are NOT in this
            # list and stay untouched)
            for name in new_meta_files:
                try:
                    os.remove(os.path.join(self._meta_dir, name))
                except OSError:
                    pass
            raise
        return self.snapshot(sid)

    def commit_with_retry(
        self,
        operation: str,
        added: Sequence[DataFile],
        removed_paths: Iterable[str] = (),
        summary: dict | None = None,
        max_retries: int = 5,
    ) -> Snapshot:
        """Optimistic-concurrency commit loop: on losing a version race,
        re-read the (now newer) table state and re-apply this commit's
        delta on top — valid whenever the commit's file delta is still
        applicable (its removed files must still be live, which holds
        for disjoint maintenance passes, e.g. compaction groups vs an
        append). A delta made inapplicable by the winner (another pass
        rewrote our inputs) surfaces as ``StaleDeltaError`` immediately
        — retrying an inapplicable delta can never succeed; rewrite
        passes catch it and RE-PLAN from the fresh snapshot (see
        ``maintenance.compact`` / ``shred`` conflict re-planning)."""
        removed = list(removed_paths)
        last: Exception | None = None
        for attempt in range(max_retries + 1):
            try:
                return self.commit(operation, added=added, removed_paths=removed, summary=summary)
            except StaleDeltaError:
                raise
            except ConcurrentCommitError as e:
                last = e
                time.sleep(0.05 * attempt)
        raise last  # type: ignore[misc]

    def _commit_single(
        self, meta, parent_id, sid, added, removed, new_meta_files
    ) -> tuple[dict, dict]:
        """v1: one manifest file holding the full listing."""
        if parent_id is not None:
            parent_entry = next(s for s in meta["snapshots"] if s["snapshot_id"] == parent_id)
            parent_files = [DataFile.from_json(d) for d in self._manifest_entries(parent_entry)]
        else:
            parent_files = []
        missing = removed - {f.path for f in parent_files}
        if missing:
            raise StaleDeltaError(
                f"cannot remove files absent from parent snapshot: {missing}"
            )
        files = [f for f in parent_files if f.path not in removed] + list(added)
        manifest_name = f"snap-{sid}-{uuid.uuid4().hex[:8]}.json"
        mtmp = os.path.join(self._meta_dir, manifest_name + f".tmp-{uuid.uuid4().hex[:8]}")
        with open(mtmp, "w", encoding="utf-8") as fh:
            json.dump({"files": [f.to_json() for f in files]}, fh)
        os.rename(mtmp, os.path.join(self._meta_dir, manifest_name))
        new_meta_files.append(manifest_name)
        totals = {
            "total-files": len(files),
            "total-rows": sum(f.rows for f in files),
            "total-bytes": sum(f.bytes for f in files),
        }
        return {"manifest": manifest_name}, totals

    def _commit_sharded(
        self, meta, parent_id, sid, added, removed, new_meta_files
    ) -> tuple[dict, dict]:
        """v2: manifest-list → shards with reuse-by-reference."""
        props = meta.get("properties") or {}
        shard_size = int(props.get(SHARD_SIZE_PROP, DEFAULT_SHARD_SIZE))
        if parent_id is not None:
            parent_entry = next(s for s in meta["snapshots"] if s["snapshot_id"] == parent_id)
            parent_index = self._read_meta_json(parent_entry["manifest_list"])["manifests"]
        else:
            parent_index = []

        # pass 1 (read-only): locate removals using shard path ranges —
        # shards with no overlapping removal are never opened
        rewrite: dict[str, list[dict]] = {}
        found: set[str] = set()
        for sh in parent_index:
            hits = {p for p in removed if sh["min_path"] <= p <= sh["max_path"]}
            if not hits:
                continue
            entries = self._read_meta_json(sh["path"])["files"]
            present = {e["path"] for e in entries}
            found |= present & removed
            rewrite[sh["path"]] = [e for e in entries if e["path"] not in removed]
        missing = removed - found
        if missing:
            raise StaleDeltaError(
                f"cannot remove files absent from parent snapshot: {missing}"
            )

        # pass 2 (write): rewrite affected shards, reuse the rest
        new_index: list[dict] = []
        for sh in parent_index:
            if sh["path"] in rewrite:
                kept = rewrite[sh["path"]]
                if kept:
                    rec = self._write_shard(kept)
                    new_meta_files.append(rec["path"])
                    new_index.append(rec)
            else:
                new_index.append(sh)
        added_json = [f.to_json() for f in added]
        for i in range(0, len(added_json), shard_size):
            rec = self._write_shard(added_json[i : i + shard_size])
            new_meta_files.append(rec["path"])
            new_index.append(rec)

        list_name = f"snaplist-{sid}-{uuid.uuid4().hex[:8]}.json"
        ltmp = os.path.join(self._meta_dir, list_name + f".tmp-{uuid.uuid4().hex[:8]}")
        with open(ltmp, "w", encoding="utf-8") as fh:
            json.dump({"manifests": new_index}, fh)
        os.rename(ltmp, os.path.join(self._meta_dir, list_name))
        new_meta_files.append(list_name)
        totals = {
            "total-files": sum(sh["n_files"] for sh in new_index),
            "total-rows": sum(sh["rows"] for sh in new_index),
            "total-bytes": sum(sh["bytes"] for sh in new_index),
        }
        return {"manifest_list": list_name}, totals

    def scan_incremental(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental append-diff read (Iceberg's incremental scan):
        rows of data files introduced by APPEND snapshots in
        ``(from_snapshot_id, to_snapshot_id]``. Rewrite snapshots
        (compact / cluster / shred / reencrypt / expire) move or
        re-seal existing rows without adding data, so — exactly like
        Iceberg — they contribute nothing to an incremental read; a
        downstream consumer processes each appended row exactly once
        regardless of how much maintenance ran in between.

        Driver cost is O(manifest) set algebra; the read itself is a
        pruned parquet scan of only the new files."""
        meta = self._metadata()
        snaps = sorted(meta["snapshots"], key=lambda s: s["snapshot_id"])
        ids = [s["snapshot_id"] for s in snaps]
        if from_snapshot_id not in ids:
            raise Pi2SparkError(f"snapshot {from_snapshot_id} not found (expired?)")
        to_id = to_snapshot_id if to_snapshot_id is not None else meta["current_snapshot_id"]
        new_files: list[str] = []
        prev_paths = self.manifest_data_paths(
            next(s for s in snaps if s["snapshot_id"] == from_snapshot_id)
        )
        prev_id = from_snapshot_id
        for s in snaps:
            if s["snapshot_id"] <= from_snapshot_id or s["snapshot_id"] > to_id:
                continue
            # contiguity guard (see changes()): an expired intermediate
            # snapshot would fold a rewrite's file churn into the next
            # append's diff and double-deliver moved rows.
            if s.get("parent_id") != prev_id:
                raise Pi2SparkError(
                    f"change history is not contiguous: snapshot {s['snapshot_id']} "
                    f"has parent {s.get('parent_id')}, expected {prev_id} — an "
                    "intermediate snapshot was expired; re-read from a full scan"
                )
            prev_id = s["snapshot_id"]
            cur_paths = self.manifest_data_paths(s)
            if s["operation"] == "append":
                new_files.extend(sorted(cur_paths - prev_paths))
            prev_paths = cur_paths
        if not new_files:
            schema = self.data_schema()
            if schema is None:
                raise Pi2SparkError("cannot scan an empty diff without schema")
            return self.apply_schema_ops(spark.createDataFrame([], schema))
        return self.apply_schema_ops(
            self.reader(spark).parquet(*[os.path.join(self.root, p) for p in new_files])
        )

    # ops whose rewrites preserve logical row identity: compaction and
    # re-clustering move rows between files without changing them, and
    # re-encryption rotates ciphertext for the SAME logical record (the
    # envelope changes, the record does not — a CDC mirror keeps the
    # old ciphertext until the subject is actually forgotten, at which
    # point the shred pass emits real change rows for it).
    CDC_ROW_PRESERVING_OPS = frozenset({"compact", "morton", "hilbert", "reencrypt"})

    def changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        keys: Sequence[str] | None = None,
    ) -> DataFrame:
        """Row-level change feed between two snapshots (Delta CDF /
        Iceberg changelog-scan shape), computed purely from manifest
        file diffs — the table never writes change files at commit
        time, so CDC costs nothing on the write path.

        Output = the table's logical columns (minus the ``zkey`` layout
        column) plus ``_change_type`` (``insert`` / ``delete`` /
        ``update_preimage`` / ``update_postimage``),
        ``_commit_snapshot_id`` and ``_commit_timestamp_ms`` — Delta
        CDF's column contract.

        Per snapshot in ``(from, to]``:

        * ``append`` — added files' rows stream out as ``insert`` (a
          pruned scan of ONLY the new files, same as
          ``scan_incremental``).
        * row-preserving maintenance (``CDC_ROW_PRESERVING_OPS``) —
          skipped entirely: compaction/clustering move rows between
          files and re-encryption rotates ciphertext in place, none of
          which changes a logical record.
        * ``merge`` — keyed diff using the merge's own ``on`` keys
          (recorded in the commit summary): removed-file rows vs
          added-file rows full-diff into ``delete`` / ``insert`` /
          ``update_preimage``+``update_postimage`` pairs (payload
          compared by a JSON row hash). Carried-over rows (same key,
          same payload — the copy-on-write survivors sharing a
          rewritten file) are netted out, exactly like Iceberg's
          net-changes changelog.
        * anything else (``shred``, ``rollback``, unknown ops) — an
          UNKEYED multiset diff: ``delete`` rows = old − new
          (``exceptAll``), ``insert`` rows = new − old. A shred's
          tombstoned row therefore renders as a delete+insert pair
          (the Debezium convention when no primary key is known);
          pass ``keys=...`` to pair them into updates when the caller
          knows a row-unique key.

        100 TB shape: each snapshot's diff reads only that commit's
        added/removed files (manifest set algebra on the driver, O(
        snapshots × shard index)); the keyed diff is two pruned scans
        joined on the merge keys — broadcast or shuffle as Catalyst
        picks — and the unkeyed diff is ``exceptAll`` (a single
        hash-aggregate shuffle on the JVM). Nothing is collected to
        the driver.

        Reference semantics: pi2schema keeps no history at all (Kafka
        topics are the log); this is the lakehouse-side equivalent a
        downstream consumer needs to mirror a maintained table
        incrementally — GDPR-relevant because a FORGET's shred emits
        change rows the mirror must apply to purge its own copy."""
        from pyspark.sql import functions as F

        meta = self._metadata()
        snaps = sorted(meta["snapshots"], key=lambda s: s["snapshot_id"])
        ids = [s["snapshot_id"] for s in snaps]
        if from_snapshot_id not in ids:
            raise Pi2SparkError(f"snapshot {from_snapshot_id} not found (expired?)")
        to_id = to_snapshot_id if to_snapshot_id is not None else meta["current_snapshot_id"]

        def _rows(paths: list[str]) -> DataFrame:
            df = self.apply_schema_ops(
                self.reader(spark).parquet(*[os.path.join(self.root, p) for p in paths])
            )
            return df.drop("zkey") if "zkey" in df.columns else df

        def _tagged(df: DataFrame, ctype: str, s: dict) -> DataFrame:
            return (
                df.withColumn("_change_type", F.lit(ctype))
                .withColumn("_commit_snapshot_id", F.lit(int(s["snapshot_id"])))
                .withColumn("_commit_timestamp_ms", F.lit(int(s["timestamp_ms"])))
            )

        parts: list[DataFrame] = []
        prev_paths = self.manifest_data_paths(
            next(s for s in snaps if s["snapshot_id"] == from_snapshot_id)
        )
        prev_id = from_snapshot_id
        for s in snaps:
            if s["snapshot_id"] <= from_snapshot_id or s["snapshot_id"] > to_id:
                continue
            # history must be CONTIGUOUS over the consumed range: if an
            # intermediate snapshot was expired, the gap's file diff
            # would be attributed to the wrong operation (an expired
            # merge under an 'append' label would silently drop its
            # deletes from the feed). Refuse loudly — Delta CDF's
            # "change data was removed" behavior — so the consumer
            # re-bootstraps instead of diverging. Rollback entries keep
            # the chain intact (their parent is the pre-rollback head).
            if s.get("parent_id") != prev_id:
                raise Pi2SparkError(
                    f"change history is not contiguous: snapshot {s['snapshot_id']} "
                    f"has parent {s.get('parent_id')}, expected {prev_id} — an "
                    "intermediate snapshot was expired; re-bootstrap the consumer"
                )
            prev_id = s["snapshot_id"]
            cur_paths = self.manifest_data_paths(s)
            added = sorted(cur_paths - prev_paths)
            removed = sorted(prev_paths - cur_paths)
            prev_paths = cur_paths
            op = s["operation"]
            if op in self.CDC_ROW_PRESERVING_OPS or (not added and not removed):
                continue
            if op == "append":
                parts.append(_tagged(_rows(added), "insert", s))
                continue
            old = _rows(removed) if removed else None
            new = _rows(added) if added else None
            snap_keys = list(s["summary"].get("on") or keys or [])
            if old is None:
                parts.append(_tagged(new, "insert", s))
            elif new is None:
                parts.append(_tagged(old, "delete", s))
            elif snap_keys and all(k in old.columns for k in snap_keys):
                payload = [c for c in old.columns if c not in snap_keys]
                h = F.sha2(F.to_json(F.struct(*payload)), 256)
                oh, nh = old.withColumn("__h", h), new.withColumn("__h", h)
                changed = (
                    oh.select(*snap_keys, "__h")
                    .join(nh.select(*snap_keys, F.col("__h").alias("__h2")), snap_keys)
                    .filter(F.col("__h") != F.col("__h2"))
                    .select(*snap_keys)
                )
                parts += [
                    _tagged(old.join(new.select(*snap_keys), snap_keys, "left_anti"), "delete", s),
                    _tagged(new.join(old.select(*snap_keys), snap_keys, "left_anti"), "insert", s),
                    _tagged(old.join(changed, snap_keys, "left_semi"), "update_preimage", s),
                    _tagged(new.join(changed, snap_keys, "left_semi"), "update_postimage", s),
                ]
            else:
                parts += [
                    _tagged(old.exceptAll(new), "delete", s),
                    _tagged(new.exceptAll(old), "insert", s),
                ]
        if not parts:
            schema = self.data_schema()
            if schema is None:
                raise Pi2SparkError("cannot compute changes on an empty table without schema")
            empty = self.apply_schema_ops(spark.createDataFrame([], schema))
            if "zkey" in empty.columns:
                empty = empty.drop("zkey")
            return _tagged(empty, "insert", {"snapshot_id": 0, "timestamp_ms": 0}).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- write path --

    def new_data_dir(self, tag: str) -> tuple[str, str]:
        """Fresh data subdirectory for one pass: (relative, absolute)."""
        rel = os.path.join("data", f"{tag}-{uuid.uuid4().hex[:12]}")
        absd = os.path.join(self.root, rel)
        os.makedirs(absd, exist_ok=True)
        return rel, absd

    def _schema_lock(self):
        """Tiny mutual-exclusion lock for schema.json updates
        (O_CREAT|O_EXCL create-if-absent — the portable atomic
        primitive on both POSIX and object-store-gateway filesystems).
        The critical section is a sub-millisecond read-merge-rename;
        stale locks (a writer that died inside it) are broken after
        10 s so a crash cannot wedge the table."""
        import contextlib

        lock = os.path.join(self._meta_dir, "schema.json.lock")

        @contextlib.contextmanager
        def _held():
            deadline = time.time() + 30.0
            while True:
                try:
                    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.close(fd)
                    break
                except FileExistsError:
                    try:
                        if time.time() - os.path.getmtime(lock) > 10.0:
                            os.remove(lock)  # stale: holder died mid-update
                            continue
                    except OSError:
                        continue  # raced the holder's release; retry
                    if time.time() > deadline:
                        raise Pi2SparkError(f"timed out waiting for {lock}") from None
                    time.sleep(0.005)
            try:
                yield
            finally:
                try:
                    os.remove(lock)
                except OSError:
                    pass

        return _held()

    def _persist_schema(self, schema) -> None:
        """Record the data-file schema in table metadata (write-once
        per distinct schema, atomic rename). Iceberg keeps the schema
        in metadata for the same reason: every internal read can pass
        it to the reader explicitly, skipping the footer-read schema-
        inference JOB Spark otherwise runs per ``spark.read.parquet``
        — a parallelism-independent fixed cost paid by every pass.
        Schema changes here are additive only (``zkey`` appears after
        the first clustering).

        The read-merge-rename runs under ``_schema_lock``: two
        concurrent writers each adding a DIFFERENT new column (a
        streaming micro-batch append racing a maintenance pass — a
        supported scenario) would otherwise both read the old schema
        and the last rename would silently drop the other writer's
        field from the persisted union, after which schema-applied
        reads drop that column's data."""
        import json as _json

        path = os.path.join(self._meta_dir, "schema.json")
        with self._schema_lock():
            if os.path.exists(path):
                # merge by field name (UNION): an append after a
                # clustering pass writes files without ``zkey``, but the
                # stored schema must keep it — otherwise readers would
                # silently drop the column from the clustered files.
                # Existing field types win.
                from pyspark.sql.types import StructType

                with open(path, "r", encoding="utf-8") as fh:
                    existing = StructType.fromJson(_json.load(fh))
                known = {f.name for f in existing.fields}
                extra = [f for f in schema.fields if f.name not in known]
                if not extra:
                    return
                merged = StructType(existing.fields + extra)
                payload = merged.json()
            else:
                payload = schema.json()
            tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(payload)
            os.rename(tmp, path)

    def data_schema(self):
        """The persisted data-file schema (StructType), or None for a
        pre-write table."""
        path = os.path.join(self._meta_dir, "schema.json")
        if not os.path.exists(path):
            return None
        import json as _json

        from pyspark.sql.types import StructType

        with open(path, "r", encoding="utf-8") as fh:
            return StructType.fromJson(_json.load(fh))

    def reader(self, spark: SparkSession):
        """DataFrameReader with the table schema pre-applied when
        known — no schema-inference job."""
        schema = self.data_schema()
        return spark.read.schema(schema) if schema is not None else spark.read

    # -- schema evolution (add / rename with protection migration) --

    def schema_ops(self) -> list[dict]:
        """Ordered schema-evolution operations recorded in table
        metadata (``add_column`` / ``rename_column`` /
        ``drop_column``)."""
        return self._metadata().get("schema_ops", [])

    def apply_schema_ops(self, df: DataFrame) -> DataFrame:
        """Project a physically-read DataFrame to the CURRENT logical
        schema in one ``select``. Data files are never rewritten by
        evolution (Iceberg's rule): a file written before
        ``rename_column(old, new)`` still carries ``old`` physically, one
        written after carries ``new``, and the physical union schema
        holds both. Each logical column is the coalesce of its
        ``column_sources`` the frame has, or a typed NULL when it has
        none, so the projection is valid for every snapshot (time travel
        included). Every rewrite writes this logical schema: the
        Spark-planned ones through this projection, the Arrow ones
        through its twin ``bind_logical``."""
        if not self.schema_ops():
            return df
        from pyspark.sql import functions as F

        sources = self.column_sources()
        have = set(df.columns)
        cols = []
        for f in self.logical_schema():
            present = [F.col(s) for s in sources.get(f.name, ()) if s in have]
            if not present:
                col = F.lit(None).cast(f.dataType)
            else:
                col = present[0] if len(present) == 1 else F.coalesce(*present)
            cols.append(col.alias(f.name))
        return df.select(*cols)

    def column_sources(self) -> dict[str, list[str]]:
        """Logical column -> the physical union-schema columns that hold
        its values, highest priority first (a rename's new name before
        its old one): the one replay of the schema ops. A data file
        carries some subset of them; its logical value is the first
        non-NULL. Every reader and rewrite binds through it
        (``apply_schema_ops``, ``bind_logical``, the ``pi2spark``
        source)."""
        schema = self.data_schema()
        src = {f.name: [f.name] for f in schema.fields} if schema is not None else {}
        return _replay_schema_ops(src, self.schema_ops())

    def logical_schema(self):
        """The logical schema as a StructType, from metadata alone (no
        JVM): each ``column_sources`` column takes the union-schema
        field of its first source under its logical name, or — with no
        source — the type its ``add_column`` recorded. Every field is
        nullable."""
        from pyspark.sql import types as T

        schema = self.data_schema()
        union = {f.name: f for f in schema.fields} if schema is not None else {}
        ops = self.schema_ops()
        added = {}
        for i, op in enumerate(ops):
            if op["op"] == "add":
                # follow the added name through the later ops
                for now in _replay_schema_ops({op["name"]: []}, ops[i + 1:]):
                    added[now] = op["type"]
        fields = []
        for name, srcs in _replay_schema_ops({n: [n] for n in union}, ops).items():
            if srcs:
                f = union[srcs[0]]
                fields.append(T.StructField(name, f.dataType, True, f.metadata))
            else:
                ddl = added[name]
                fields.append(T.StructField(name, ddl_type(ddl) or T._parse_datatype_string(ddl), True))
        return T.StructType(fields)

    def resolve_columns(self, names: Sequence[str], since: int = 0) -> list[str | None]:
        """Today's logical names of ``names`` as they stood after the
        first ``since`` schema ops: each later rename is followed, and a
        later drop resolves its column to None. Lets a record made under
        an older schema (a layout's ``cluster_columns``) name the
        current columns."""
        now = _replay_schema_ops({n: [n] for n in names}, self.schema_ops()[since:])
        by_source = {s: logical for logical, sources in now.items() for s in sources}
        return [by_source.get(n) for n in names]

    def _check_new_name(self, name: str) -> None:
        """Refuse ``name`` for a new column when the physical union
        schema carries it or any schema op named it: without per-field
        ids (Iceberg's fix) a reused name would bind old files' bytes
        (a dropped column's values, or a renamed-away column's)."""
        schema = self.data_schema()
        named = {op.get(k) for op in self.schema_ops() for k in ("name", "from", "to")}
        if name in named or (schema is not None and name in schema.fieldNames()):
            raise Pi2SparkError(
                f"column {name!r} exists, or an earlier schema change used the name"
            )

    def add_column(self, name: str, dtype: str, pii: bool = False) -> None:
        """Add a nullable column to the logical schema (metadata-only —
        no data file is touched; existing rows read as NULL via the
        explicit reader schema). ``dtype`` is a Spark DDL type string
        ("string", "bigint", ...). ``pii=True`` additionally marks the
        column as personal data in the stored protection document so
        the compiled spec protects it from the first write (spark
        dialect only). ``dtype`` may also be a DataType instance."""
        from pyspark.sql import types as T
        from pyspark.sql.types import StructField, StructType

        self._check_new_name(name)
        if isinstance(dtype, T.DataType):
            dt = dtype
        else:
            # complex DDL (arrays/structs) parses through the active
            # session's DDL parser
            dt = ddl_type(dtype) or T._parse_datatype_string(dtype)
        version = self.current_version()
        meta = self._metadata(version)
        meta.setdefault("schema_ops", []).append(
            {"op": "add", "name": name, "type": dt.simpleString()}
        )
        if pii:
            prot = meta.get("protection")
            if not prot or prot.get("dialect") != "spark":
                raise Pi2SparkError(
                    "pii=True requires a spark-dialect protection document; "
                    "use set_protection() for other dialects"
                )
            import json as _json

            from pi2spark.spec import PERSONAL_DATA_KEY

            doc = StructType.fromJson(_json.loads(prot["document"]))
            doc = StructType(
                doc.fields + [StructField(name, dt, True, {PERSONAL_DATA_KEY: True})]
            )
            meta["protection"] = {"dialect": "spark", "document": doc.json()}
        self._write_version(version + 1, meta)
        # physical union schema gains the field so the explicit reader
        # schema surfaces it (as NULL) for every existing file
        schema = self.data_schema()
        if schema is not None:
            self._persist_schema(StructType(schema.fields + [StructField(name, dt, True)]))

    def rename_column(self, old: str, new: str) -> None:
        """Rename a column in the logical schema (metadata-only). Data
        files are NOT rewritten: reads coalesce the physical old/new
        columns into the logical name (``apply_schema_ops``), so every
        snapshot — including pre-rename time travel — scans under the
        evolved schema.

        Protection-spec migration: a renamed subject/PII column is
        renamed inside the stored protection document (markers
        preserved), so ``protection_spec()`` keeps compiling and the
        crypto swap binds to the new name. A renamed PII column's
        ENVELOPE binding survives two ways: the envelope column is
        logically renamed with it (``<old>_enc`` → ``<new>_enc``, so
        the naming convention holds), and envelopes inside pre-rename
        files still carry the ``pi2schema-envelope-for`` field metadata
        (written by encrypt_table) as a fallback marker. Stats/bloom
        property lists gain the new name (old entries are harmless —
        absent columns are skipped at collection; old files keep their
        stats under the old name and simply stop pruning, exactly
        Iceberg's behavior for renamed partition sources)."""
        names = self.column_sources()
        version = self.current_version()
        meta = self._metadata(version)
        # an encrypted table's PII column exists only in the protection
        # document (encrypt_table swapped it for <col>_enc on disk):
        # renaming it is still legal — the rename binds at decrypt time
        prot_names: set[str] = set()
        prot0 = meta.get("protection")
        if prot0 and prot0.get("dialect") == "spark":
            import json as _json

            from pyspark.sql.types import StructType as _ST

            prot_names = {f.name for f in _ST.fromJson(_json.loads(prot0["document"])).fields}
        if old not in names and old not in prot_names:
            raise Pi2SparkError(f"column {old!r} does not exist")
        if new in prot_names:
            raise Pi2SparkError(f"column {new!r} already exists")
        self._check_new_name(new)
        ops = meta.setdefault("schema_ops", [])
        ops.append({"op": "rename", "from": old, "to": new})

        prot = meta.get("protection")
        if prot:
            if prot.get("dialect") != "spark":
                raise Pi2SparkError(
                    f"cannot auto-migrate a {prot.get('dialect')!r}-dialect "
                    "protection document on rename; call set_protection() with "
                    "the updated document first"
                )
            import json as _json

            from pyspark.sql.types import StructField, StructType

            from pi2spark.spec import PERSONAL_DATA_KEY

            doc = StructType.fromJson(_json.loads(prot["document"]))
            was_pii = False
            fields = []
            for f in doc.fields:
                if f.name == old:
                    was_pii = bool((f.metadata or {}).get(PERSONAL_DATA_KEY))
                    fields.append(StructField(new, f.dataType, f.nullable, f.metadata))
                else:
                    fields.append(f)
            meta["protection"] = {
                "dialect": "spark",
                "document": StructType(fields).json(),
            }
            if was_pii:
                # keep the envelope naming convention intact: the
                # envelope column rides along logically
                self._check_new_name(f"{new}_enc")
                ops.append({"op": "rename", "from": f"{old}_enc", "to": f"{new}_enc"})

        props = meta.setdefault("properties", {})
        for key in (STATS_COLUMNS_PROP, BLOOM_COLUMNS_PROP):
            cols = props.get(
                key,
                DEFAULT_STATS_COLUMNS if key == STATS_COLUMNS_PROP else DEFAULT_BLOOM_COLUMNS,
            )
            if old in cols and new not in cols:
                props[key] = list(cols) + [new]
        self._write_version(version + 1, meta)

    def drop_column(self, name: str) -> None:
        """Drop a column from the logical schema (metadata-only — no
        file is rewritten; reads stop projecting it). The subject
        column cannot be dropped while a protection document exists
        (every crypto path binds to it). Dropping a PII column removes
        it from the protection document and logically drops its
        envelope column (``<name>_enc``) with it. A dropped name can
        never be re-added (``add_column`` rejects it): without
        per-field ids — Iceberg's solution — a re-add would resurrect
        pre-drop values from old files."""
        names = self.column_sources()
        version = self.current_version()
        meta = self._metadata(version)
        prot = meta.get("protection")
        prot_names: set[str] = set()
        doc = None
        if prot and prot.get("dialect") == "spark":
            import json as _json

            from pyspark.sql.types import StructType as _ST

            doc = _ST.fromJson(_json.loads(prot["document"]))
            prot_names = {f.name for f in doc.fields}
        if name not in names and name not in prot_names:
            raise Pi2SparkError(f"column {name!r} does not exist")
        if prot:
            spec = self.protection_spec()
            if name == spec.subject_column:
                raise Pi2SparkError(
                    f"cannot drop subject column {name!r} while protected"
                )
            if name in spec.pii_columns:
                if doc is None:
                    raise Pi2SparkError(
                        "drop of a PII column requires a spark-dialect "
                        "protection document (use set_protection to migrate)"
                    )
                meta["protection"] = {
                    "dialect": "spark",
                    "document": type(doc)(
                        [f for f in doc.fields if f.name != name]
                    ).json(),
                }
        ops = meta.setdefault("schema_ops", [])
        ops.append({"op": "drop", "name": name})
        if prot and name in prot_names and f"{name}_enc" in names:
            ops.append({"op": "drop", "name": f"{name}_enc"})
        self._write_version(version + 1, meta)

    def write_files(
        self,
        df: DataFrame,
        spark: SparkSession,
        tag: str,
        stat_cols: Sequence[str] | None = None,
    ) -> list[DataFile]:
        """Write a DataFrame as data files under a fresh pass directory
        and return their manifest entries, in one Spark job: each task
        streams its partition's Arrow batches (``mapInArrow``) through
        ``write_data_file`` and returns one manifest row — no Hadoop
        commit protocol, no directory listing, no stats read-back.

        One output file per NON-EMPTY partition, so callers control file
        sizing via their partitioning (scan packing, repartition,
        coalesce); an empty frame writes no file. ``df.schema`` is
        persisted (``_persist_schema``) before the job and written as
        every file's Spark footer schema. File names are unique per task
        attempt: the output of a failed or retried attempt is never in
        the returned entries, and stays on disk as an uncommitted orphan
        until ``maintenance.remove_orphans`` reclaims it. ``spark`` is
        unused (the frame carries its session)."""
        self._persist_schema(df.schema)
        rel_dir, _ = self.new_data_dir(tag)
        sink = functools.partial(
            _write_partition,
            root=self.root,
            rel_dir=rel_dir,
            stat_cols=list(stat_cols if stat_cols is not None else self.stats_columns()),
            bloom_cols=self.bloom_columns(),
            spark_schema=df.schema,
        )
        rows = df.mapInArrow(sink, "entry string").collect()
        return sorted((DataFile.from_json(json.loads(r.entry)) for r in rows), key=lambda f: f.path)

    def append(
        self,
        df: DataFrame,
        spark: SparkSession,
        summary: dict | None = None,
        retry: bool = False,
    ) -> Snapshot:
        """``retry=True`` routes through ``commit_with_retry`` — an
        append removes no files, so its delta re-applies cleanly over
        any concurrent winner (the standard disjoint-append case)."""
        files = self.write_files(df, spark, tag="append")
        if retry:
            return self.commit_with_retry("append", added=files, summary=summary)
        return self.commit("append", added=files, summary=summary)

    # -- read path (B1 snapshot isolation + B2 pruning) --

    def plan_files(
        self,
        snapshot_id: int | None = None,
        filters: Sequence[ColumnPredicate] = (),
    ) -> tuple[Snapshot, list[DataFile]]:
        snap = self.snapshot(snapshot_id)
        files = snap.files
        for pred in filters:
            files = [f for f in files if pred.may_match(f)]
        return snap, files

    def scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        filters: Sequence[ColumnPredicate] = (),
        columns: Sequence[str] | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Snapshot-isolated scan with driver-side file pruning.

        Stats predicates prune files here; the same predicates should
        also be applied as DataFrame filters by the caller for row-level
        filtering (stats pruning is necessary-not-sufficient).
        ``as_of_ms`` time-travels to the latest snapshot committed at
        or before that wall-clock instant."""
        if as_of_ms is not None:
            if snapshot_id is not None:
                raise Pi2SparkError("pass snapshot_id OR as_of_ms, not both")
            snapshot_id = self.snapshot_as_of(as_of_ms).snapshot_id
        snap, files = self.plan_files(snapshot_id, filters)
        if not files:
            schema = self.data_schema()
            if schema is not None:
                df = spark.createDataFrame([], schema)
            else:
                # empty relation with the table schema: scan any one parent file
                all_files = snap.files
                if not all_files:
                    raise Pi2SparkError("cannot scan an empty table without schema")
                df = spark.read.parquet(os.path.join(self.root, all_files[0].path)).limit(0)
        else:
            df = self.reader(spark).parquet(*[os.path.join(self.root, f.path) for f in files])
        df = self.apply_schema_ops(df)
        if columns:
            df = df.select(*columns)
        return df
