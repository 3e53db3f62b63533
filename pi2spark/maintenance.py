"""Maintenance passes: compaction, Z-order clustering, MERGE-shred,
snapshot expiry (SURVEY.md §2 B3/B4/B7/B8/B9/B10).

Execution model
---------------
Every rewrite pass runs in **waves** through one driver
(``_rewrite_files_in_waves``): one shuffle-free Spark job per wave,
one ledger task per wave, with one of two planners feeding ONE file
writer (``table.write_data_file``: each task writes its file and
returns its manifest entry — footer stats + bloom — so no pass reads
stats back).

- **Spark scan planning** (compact, delete/update, merge_into,
  reencrypt): one scan over all of the wave's files, with **Spark's
  own scan packing doing the bin planning** —
  ``spark.sql.files.maxPartitionBytes`` is set to the target file size
  (and ``openCostInBytes`` to 0) for the duration of the job, so the
  FileSourceScan packs small files into ~target-size partitions
  (greedy by size, the same first-fit idea as Iceberg's binpack) and
  ``Table.write_files`` emits exactly one ~target-size file per
  partition. An oversized input splits across partitions (parquet is
  splittable) and simply yields several right-sized outputs.
  Ciphertext moves opaquely (crypto is NOT re-run — the envelope
  column is just bytes to these passes).
- **Consecutive pyarrow groups** (shred; the cluster merge path; a
  cluster whose input makes one output file): one pyarrow task per
  output file (``rewrite_file_groups``), with no SQL plan. Shred
  rewrites each affected file 1:1 (same rows, same order, same zkey
  range), streaming its row groups through the tombstone; the merge
  packs consecutive zkey-ordered files and re-sorts them; the
  one-file cluster keys its concatenated inputs and sorts them.

The Spark planner's shape is the third iteration, chosen by
measurement: round 2 ran one Spark job per bin from a driver thread
pool (fixed ~0.3 s/job driver cost → parallelism-independent floor,
2→8-core efficiency 0.37); a union-of-coalesced-branches wave fixed
the job floor but paid ~110 ms of py4j reader construction per
branch plus O(branches²) union analysis on the driver. One reader
per wave pays the listing ONCE (JVM-parallel), builds one plan, and
leaves the driver idle while executors stream data.

Z-order is the only pass with a shuffle, and only when its input
makes more than one output file: a single range-repartition on the
cluster key with a tiebreaker column so mega-repo ties split across
partitions (AQE-aware range partitioning, BASELINE.json:north_star).
The steady-state incremental pass — an append backlog under 1.5x the
target — is one pyarrow task with no shuffle.

Every pass takes a ``pass_id`` and writes a ``PassLedger`` (B10):
killed mid-pass → rerun with the same id skips completed waves and
commits exactly the same snapshot content.

Scale notes (10^12-file ambition): ``wave_files`` (default 10^4)
bounds the path list handed to one reader; a 10^6-file backlog runs
as ~100 jobs, each fully distributed and shuffle-free.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pi2spark.checkpoint import PassLedger
from pi2spark.errors import (
    AmbiguousMergeSourceError,
    MissingCryptoMaterialsError,
    Pi2SparkError,
    StaleDeltaError,
)
from pi2spark.table import (
    ColumnPredicate,
    DataFile,
    Table,
    align_spark_schema,
    bind_logical,
    collect_data_files,  # noqa: F401 — importable here by name for tracing callers
    pack_consecutive,
    rewrite_file_groups,
)
from pi2spark.zorder import (
    check_cluster_key,
    column_boundaries,
    column_boundaries_from_stats,
    curve_keys,
    sample_bounds,
    with_cluster_key,
)

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024
DEFAULT_WAVE_FILES = 10_000  # input files per rewrite wave (one Spark job each)


@dataclass
class PassResult:
    operation: str
    pass_id: str
    snapshot_id: int | None
    rewritten_files: int
    added_files: int
    rewritten_bytes: int
    seconds: float
    skipped: bool = False
    details: dict = field(default_factory=dict)


def _new_pass_id(prefix: str) -> str:
    return f"{prefix}-{uuid.uuid4().hex[:10]}"


_PACKER_SESSIONS: dict = {}


def _packer_session(spark: SparkSession, target_bytes: int):
    """Isolated child session for the packing scan+write: the scan
    overrides must not leak into queries planned concurrently on the
    caller's session (a streaming micro-batch via append_stream /
    forget_stream explicitly may race a maintenance pass).
    ``newSession()`` shares the SparkContext (executors, broadcasts,
    cache) but owns its SQLConf, so the overrides are invisible outside
    the pass. Cached per (context, target) — SessionState construction
    is a fixed driver cost we must not re-pay every pass.

    Packing confs: maxPartitionBytes bounds the pack, openCost=0 packs
    by real size, and minPartitionNum=1 disables the bytes-per-core
    split (Spark's default floor of defaultParallelism partitions would
    shred the pack back into core-count pieces and defeat the
    file-sizing goal)."""
    # applicationId (not id()): a stopped context's object address can
    # be recycled by CPython, which would hand back a child session
    # bound to a dead context after a restart
    key = (spark.sparkContext.applicationId, target_bytes)
    packer = _PACKER_SESSIONS.get(key)
    if packer is None:
        packer = spark.newSession()
        for k, v in {
            "spark.sql.files.maxPartitionBytes": str(target_bytes),
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.files.minPartitionNum": "1",
        }.items():
            packer.conf.set(k, v)
        _PACKER_SESSIONS[key] = packer
    return packer


def _rewrite_files_in_waves(
    table: Table,
    spark: SparkSession,
    ledger,
    files: list[DataFile],
    tag: str,
    target_bytes: int | None,
    transform=None,
    sort_col: str | None = None,
    wave_files: int = DEFAULT_WAVE_FILES,
    task_prefix: str = "",
    arrow: bool = False,
    task_name: str = "wave-",
) -> list[dict]:
    """Rewrite data files in waves of at most ``wave_files`` inputs, one
    shuffle-free Spark job per wave, with one of two planners (see
    module docstring); either way each write task returns its output's
    stats:

    - Spark (default): one scan over the wave's files under the logical
      schema, packed into ~``target_bytes`` partitions
      (maxPartitionBytes = target, openCost = 0); the optional
      ``transform`` (DataFrame -> DataFrame, over the logical schema)
      and the per-partition ``sort_col`` sort are narrow, and
      ``Table.write_files`` writes one file per non-empty partition and
      persists the logical schema, so rewritten files migrate to it.
    - ``arrow=True``: the order-preserving group writer
      (``rewrite_file_groups``), one Python task per output file.
      Files pack consecutively up to ``target_bytes`` and re-sort on
      ``sort_col`` (the cluster merge), or, with ``target_bytes=None``,
      each file is its own group streamed through ``transform``
      (``pa.Table -> pa.Table`` per row group — the 1:1 shred).

    Resume granularity is the wave: the ledger records one task per
    wave (``<task_prefix><task_name><wave:05d>``) with the wave's
    inputs/outputs; a rerun with the same pass_id skips completed
    waves. A wave never splits a group."""
    if arrow and target_bytes is not None:
        groups = pack_consecutive(files, target_bytes)
    else:
        groups = [[f] for f in files]
    waves: list[list[list[DataFile]]] = []
    n_in = 0
    for g in groups:
        if not waves or n_in + len(g) > wave_files:
            waves.append([])
            n_in = 0
        waves[-1].append(g)
        n_in += len(g)
    stat_cols = table.stats_columns()
    bloom_cols = table.bloom_columns()
    packer = None if arrow else _packer_session(spark, target_bytes)
    results: list[dict] = []
    for w, wave in enumerate(waves):
        task_id = f"{task_prefix}{task_name}{w:05d}"
        prior = ledger.task_result(task_id)
        if prior:
            results.append(prior)
            continue
        s = time.time()
        inputs = [f for g in wave for f in g]
        if arrow:
            rel_dir, _ = table.new_data_dir(f"{tag}-w{w:05d}")
            added = rewrite_file_groups(
                table.root,
                [
                    (os.path.join(rel_dir, f"part-{i:05d}.parquet"), [f.path for f in g])
                    for i, g in enumerate(wave)
                ],
                spark,
                stat_cols,
                bloom_cols=bloom_cols,
                sort_col=sort_col,
                transform=transform,
            )
        else:
            # upgrade to the logical schema (no-op without evolution
            # ops): transforms reference logical names, and rewritten
            # files thereby migrate to the current schema — Iceberg's
            # rewrite behavior
            df = table.apply_schema_ops(
                table.reader(packer).parquet(*[os.path.join(table.root, f.path) for f in inputs])
            )
            if transform is not None:
                df = transform(df)
            if sort_col is not None and sort_col in df.columns:
                # restore key order inside each packed partition (the
                # pack concatenates sorted inputs; one in-memory sort
                # per ~target-size partition re-merges them)
                df = df.sortWithinPartitions(sort_col)
            added = table.write_files(df, packer, tag=f"{tag}-w{w:05d}", stat_cols=stat_cols)
        result = {
            "inputs": [f.path for f in inputs],
            "outputs": [a.to_json() for a in added],
            "rows": sum(a.rows for a in added),
            "bytes_in": sum(f.bytes for f in inputs),
        }
        ledger.record_task(
            task_id, result, metrics={"seconds": time.time() - s, "n_files": len(inputs)}
        )
        results.append(result)
    return results


# ---------------------------------------------------------------------------
# B3 — compaction (bin planning delegated to Spark's scan packing —
# see module docstring; the explicit FFD planner this replaced lives
# in git history)
# ---------------------------------------------------------------------------


def _drop_attempt_outputs(
    table: Table,
    added: list[DataFile],
    ledger: PassLedger | None = None,
    task_prefix: str = "",
) -> None:
    """Best-effort removal of a re-planned attempt's orphaned outputs
    (never committed — ``remove_orphans`` reclaims any survivor).
    When a ledger is given, the attempt's task lineage is durably
    RETRACTED too: wave results pointing at the deleted files must not
    survive, or a crash-replay of the same pass_id would resume from
    them and commit manifest entries for files that no longer exist."""
    for a in added:
        try:
            os.remove(os.path.join(table.root, a.path))
        except OSError:
            pass
    if ledger is not None:
        ledger.invalidate_tasks(task_prefix)


def _run_with_replans(
    table: Table,
    ledger: PassLedger,
    operation: str,
    max_replans: int,
    attempt_fn,
):
    """The conflict re-planning protocol shared by every rewrite pass
    (compact / shred / merge_into / reencrypt): plan an attempt from
    the CURRENT snapshot, try to commit its delta, and on
    ``StaleDeltaError`` (a racing pass rewrote this attempt's inputs —
    the delta can never apply) drop the attempt's orphaned outputs,
    durably retract its ledger lineage, and re-plan from the fresh
    snapshot, up to ``max_replans`` times.

    ``attempt_fn(attempt, task_prefix)`` returns either a finished
    ``PassResult`` (nothing to do — the skip short-circuit) or a tuple
    ``(added, removed_paths, summary, finish)`` where
    ``finish(new_snap) -> PassResult`` builds the success result and
    may also append extra ledger records. Disjoint version races (the
    winner touched OTHER files) never reach this level —
    ``commit_with_retry`` re-applies the delta internally."""
    last_err: Exception | None = None
    for attempt in range(max_replans + 1):
        prefix = f"a{attempt}-" if attempt else ""
        planned = attempt_fn(attempt, prefix)
        if isinstance(planned, PassResult):
            return planned
        added, removed, summary, finish = planned
        try:
            new_snap = table.commit_with_retry(
                operation, added=added, removed_paths=removed, summary=summary
            )
        except StaleDeltaError as e:
            last_err = e
            _drop_attempt_outputs(table, added, ledger, prefix)
            continue
        return finish(new_snap)
    raise last_err  # type: ignore[misc]


def compact(
    table: Table,
    spark: SparkSession,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    concurrency: int | None = None,  # noqa: ARG001 — ignored; accepted for old callers
    pass_id: str | None = None,
    wave_files: int = DEFAULT_WAVE_FILES,
    small_ratio: float = 0.75,
    max_replans: int = 3,
) -> PassResult:
    """Rewrite small files into ~target-size files. No shuffle, no
    crypto: one Spark job per wave, scan packing forms the bins,
    ciphertext is opaque payload (see ``_rewrite_files_in_waves``).
    Only files under ``small_ratio × target`` are rewritten (a
    near-target file is a rename with no benefit); a single leftover
    small file is likewise left alone.

    Conflict re-planning: the commit runs through ``commit_with_retry``
    (a pure version race with a disjoint winner — e.g. a streaming
    append — re-applies the delta and succeeds). When the winner
    REWROTE this pass's inputs (``StaleDeltaError`` — e.g. a racing
    shred targeted the same files), retrying can never succeed: the
    pass drops the attempt's orphaned outputs and RE-PLANS from the
    fresh snapshot — re-selecting the surviving small files and
    re-running the waves — up to ``max_replans`` times. Both racing
    passes commit; rows are never lost or duplicated (the re-plan reads
    the winner's files, so a shred's tombstones survive compaction)."""
    t0 = time.time()
    pass_id = pass_id or _new_pass_id("compact")
    ledger = PassLedger(table.root, pass_id)
    if ledger.committed:
        return PassResult("compact", pass_id, ledger.committed["snapshot_id"], 0, 0, 0, 0.0, skipped=True)

    def _attempt(attempt: int, prefix: str):
        snap = table.snapshot()
        small = [f for f in snap.files if f.bytes < target_file_bytes * small_ratio]
        small.sort(key=lambda f: f.path)
        if len(small) < 2:
            return PassResult("compact", pass_id, snap.snapshot_id, 0, 0, 0, time.time() - t0, skipped=True)

        results = _rewrite_files_in_waves(
            table,
            spark,
            ledger,
            small,
            f"compact-{pass_id}",
            target_bytes=target_file_bytes,
            wave_files=wave_files,
            task_prefix=prefix,
        )
        removed = [p for r in results for p in r["inputs"]]
        added = [DataFile.from_json(d) for r in results for d in r["outputs"]]

        def finish(new_snap):
            ledger.record_commit(new_snap.snapshot_id, {"waves": len(results)})
            return PassResult(
                "compact",
                pass_id,
                new_snap.snapshot_id,
                rewritten_files=len(removed),
                added_files=len(added),
                rewritten_bytes=sum(r["bytes_in"] for r in results),
                seconds=time.time() - t0,
                details={"waves": len(results), "replans": attempt},
            )

        summary = {"pass_id": pass_id, "waves": len(results), "replans": attempt}
        return added, removed, summary, finish

    return _run_with_replans(table, ledger, "compact", max_replans, _attempt)


# ---------------------------------------------------------------------------
# B4 — Z-order / Hilbert clustering rewrite
# ---------------------------------------------------------------------------


def _cluster_provenance(table: Table) -> dict | None:
    """Most recent snapshot summary carrying ``cluster_columns`` — the
    table's layout provenance record — or None for a never-clustered
    table."""
    for s in reversed(table.snapshots()):
        summ = s.get("summary", {})
        if "cluster_columns" in summ:
            return summ
    return None


def _cluster_provenance_matches(table: Table, columns: list, curve: str, bits: int) -> str | None:
    """The merge path may only reuse an existing zkey layout when the
    REQUESTED clustering parameters match the ones that produced it —
    otherwise `cluster(columns=('lang',), curve='hilbert')` on a
    morton-(repo,lang,path) table would silently repack the old keys
    and record a clustering that never happened. Provenance is the
    most recent snapshot summary carrying ``cluster_columns``; no
    provenance → be conservative, take the shuffle path.

    Returns the provenance's ``zkey_gen`` (the boundary-generation id
    minted by the full clustering pass that defined the current key
    space) when the merge path may run, else None. Three conservative
    gates beyond column/curve equality:

    - a legacy summary with no recorded ``bits`` is a MISMATCH (the
      layout may be keyed at a different zkey resolution);
    - a summary with no ``zkey_gen`` is a MISMATCH: it was committed by
      an *incremental* clustering, whose fresh-boundary files mint a
      DIFFERENT key space than the older files — two generations can
      have coincidentally non-overlapping [min,max] zkey ranges, and
      merging them would record a clustering whose row order does not
      reflect column-value order (ADVICE r4, maintenance.py:349);
    - everything else (compact/shred/reencrypt preserving zkey order)
      inherits the generation unchanged, so the gate stays open."""
    summ = _cluster_provenance(table)
    if summ is None:
        return None
    ok = (
        # compared under today's names: a rename since the record
        # leaves the layout (and its key space) intact
        table.resolve_columns(summ["cluster_columns"], summ.get("schema_ops", 0)) == columns
        and summ.get("curve") == curve
        and summ.get("bits") == bits
        and summ.get("zkey_gen") is not None
    )
    return summ.get("zkey_gen") if ok else None


def cluster(
    table: Table,
    spark: SparkSession,
    columns=("repo", "lang", "path"),
    curve: str = "morton",
    bits: int = 16,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    pass_id: str | None = None,
    sample_rows: int = 20_000,
    incremental: bool = False,
    boundaries_from_stats: bool = True,
    merge_if_sorted: bool = True,
    max_replans: int = 3,
) -> PassResult:
    """Clustering rewrite on the space-filling-curve key.

    AT MOST one shuffle, chosen by input size (``n_files``, the input's
    manifest bytes over ``target_file_bytes``, rounded):

    - already range-partitioned on zkey (several files with disjoint
      zkey ranges and matching provenance): the no-shuffle merge path
      (see the body);
    - ``n_files == 1`` (input under 1.5x the target): ONE pyarrow task
      reads and concatenates the inputs, takes each column's boundaries
      from at most ``sample_rows`` of its own rows, keys them with the
      key UDF's kernel, sorts on ``(zkey, tiebreak)`` and writes one
      file with its stats (``_cluster_in_one_task``) — one Spark job,
      no exchange, no read-back. ``boundaries_from_stats`` does not
      apply;
    - otherwise ``repartitionByRange(n, zkey, commit)`` — the range
      partitioner samples the key (AQE-aware), and the ``commit``
      tiebreaker splits mega-repo duplicate keys across partitions
      instead of hot-spotting one reducer (B9 skew handling). Then
      ``sortWithinPartitions(zkey)`` and one output file per partition.

    Per-file min/max on the clustered columns become tight, which is
    what makes stats pruning (B2) and shred file-targeting (B8) cheap.

    ``incremental=True`` rewrites ONLY files not yet clustered
    (detected by absent ``zkey`` stats — i.e. appends since the last
    clustering pass), leaving sorted files untouched by reference. At
    100 TB this is the steady-state mode: pass cost tracks the append
    rate, not the table size. The new files get their own key space
    (fresh sample boundaries); stats pruning is unaffected because
    predicates prune on the raw column min/max, not on zkey."""
    t0 = time.time()
    pass_id = pass_id or _new_pass_id("zorder")
    ledger = PassLedger(table.root, pass_id)
    if ledger.committed:
        return PassResult(curve, pass_id, ledger.committed["snapshot_id"], 0, 0, 0, 0.0, skipped=True)

    def _attempt(attempt: int, prefix: str):
        return _cluster_attempt(
            table, spark, columns, curve, bits, target_file_bytes, pass_id,
            sample_rows, incremental, boundaries_from_stats, merge_if_sorted,
            ledger, t0, attempt, prefix,
        )

    return _run_with_replans(table, ledger, curve, max_replans, _attempt)


def _cluster_attempt(
    table, spark, columns, curve, bits, target_file_bytes, pass_id,
    sample_rows, incremental, boundaries_from_stats, merge_if_sorted,
    ledger, t0, attempt, prefix,
):
    """One re-plannable clustering attempt over the CURRENT snapshot
    (the conflict re-planning protocol — see ``_run_with_replans``).
    Returns a skip ``PassResult`` or the protocol's commit tuple."""
    snap = table.snapshot()
    in_files = snap.files
    if incremental:
        # a file is "already clustered" only if it has REAL zkey stats —
        # an all-null zkey column (e.g. a compaction that packed
        # pre-cluster appends after the schema gained zkey) must still
        # be rewritten
        in_files = [
            f for f in in_files
            if "zkey" not in f.stats or f.stats["zkey"][0] is None
        ]
    if not in_files:
        return PassResult(curve, pass_id, snap.snapshot_id, 0, 0, 0, 0.0, skipped=True)
    total_bytes = sum(f.bytes for f in in_files)
    n_files = max(1, round(total_bytes / target_file_bytes))

    # -- no-shuffle merge path (bucketed-by-zkey layout reuse, r3
    # judge ask #9). If every input file carries real zkey stats and
    # the files' [min,max] zkey ranges are pairwise non-overlapping
    # (the exact layout a previous cluster() pass produced), the table
    # IS already range-partitioned on the curve key: re-clustering —
    # re-packing to a new target size, or after shred/compact preserved
    # the order — needs NO range exchange. Read the files in zkey order
    # with scan packing, restore order within each packed partition,
    # write. Zero shuffles; every clustering invariant (global zkey
    # order across files, tight per-file stats) is preserved by
    # construction. Boundary-equal ranges (max[i] == min[i+1]) are
    # fine: they come from the tiebreaker splitting mega-keys.
    zstats = [f.stats.get("zkey") for f in in_files]
    zgen = _cluster_provenance_matches(table, list(columns), curve, bits)
    if (
        merge_if_sorted
        and len(in_files) > 1
        and all(z and z[0] is not None and z[1] is not None for z in zstats)
        and zgen is not None
    ):
        ordered = sorted(in_files, key=lambda f: (f.stats["zkey"][0], f.path))
        if all(
            ordered[i].stats["zkey"][1] <= ordered[i + 1].stats["zkey"][0]
            for i in range(len(ordered) - 1)
        ):
            # Spark's scan packing cannot preserve file order (it
            # sorts splits by size), so the merge uses the
            # order-preserving group writer: consecutive packing +
            # one pyarrow task per output file, stats in-task —
            # zero shuffles, zero read-back, in bounded waves.
            results = _rewrite_files_in_waves(
                table,
                spark,
                ledger,
                ordered,
                f"{curve}-merge-{pass_id}",
                target_bytes=target_file_bytes,
                sort_col="zkey",
                transform=functools.partial(bind_logical, sources=_arrow_sources(table)),
                wave_files=DEFAULT_WAVE_FILES,
                task_prefix=prefix,
                arrow=True,
                task_name="merge-w",
            )
            removed = [p for r in results for p in r["inputs"]]
            added = [DataFile.from_json(d) for r in results for d in r["outputs"]]
            summary = {
                "pass_id": pass_id,
                "cluster_columns": list(columns),
                "schema_ops": len(table.schema_ops()),
                "curve": curve,
                "bits": bits,
                "mode": "merge",
                # a merge re-packs existing keys: the boundary
                # generation is inherited unchanged
                "zkey_gen": zgen,
                "replans": attempt,
            }

            def finish_merge(new_snap):
                ledger.record_commit(new_snap.snapshot_id)
                return PassResult(
                    curve,
                    pass_id,
                    new_snap.snapshot_id,
                    rewritten_files=len(in_files),
                    added_files=len(added),
                    rewritten_bytes=total_bytes,
                    seconds=time.time() - t0,
                    details={"mode": "merge-no-shuffle", "n_files": len(added), "replans": attempt},
                )

            return added, removed, summary, finish_merge

    task_id = f"{prefix}rewrite"
    prior = ledger.task_result(task_id)
    if prior:
        added = [DataFile.from_json(d) for d in prior["outputs"]]
    else:
        if n_files == 1:
            added = _cluster_in_one_task(
                table, spark, in_files, columns, curve, bits, sample_rows, f"{curve}-{pass_id}"
            )
        else:
            added = _cluster_with_shuffle(
                table, spark, in_files, n_files, columns, curve, bits, sample_rows,
                boundaries_from_stats, f"{curve}-{pass_id}",
            )
        ledger.record_task(
            task_id,
            {
                "inputs": [f.path for f in in_files],
                "outputs": [a.to_json() for a in added],
                "rows": sum(a.rows for a in added),
                "bytes_in": total_bytes,
            },
            metrics={"seconds": time.time() - t0, "n_files": n_files},
        )
    # boundary-generation id: a FULL clustering (every live file went
    # through one set of boundaries) mints a new generation = pass_id;
    # an incremental pass gives its fresh files their OWN key space, so
    # the table now mixes generations and the merge path must stay
    # closed (zkey_gen omitted → _cluster_provenance_matches rejects)
    # until the next full clustering re-unifies it.
    is_full = len(in_files) == len(snap.files)
    summ = {
        "pass_id": pass_id,
        "cluster_columns": list(columns),
        # the number of schema ops the columns are named under: later
        # renames resolve through Table.resolve_columns
        "schema_ops": len(table.schema_ops()),
        "curve": curve,
        "bits": bits,
        "incremental": incremental,
        "replans": attempt,
    }
    if is_full:
        summ["zkey_gen"] = pass_id

    def finish_rewrite(new_snap):
        ledger.record_commit(new_snap.snapshot_id)
        return PassResult(
            curve,
            pass_id,
            new_snap.snapshot_id,
            rewritten_files=len(in_files),
            added_files=len(added),
            rewritten_bytes=total_bytes,
            seconds=time.time() - t0,
            details={
                "mode": "one-task" if n_files == 1 else "shuffle",
                "n_files": n_files,
                "incremental": incremental,
                "replans": attempt,
            },
        )

    return added, [f.path for f in in_files], summ, finish_rewrite


def _cluster_with_shuffle(
    table, spark, in_files, n_files, columns, curve, bits, sample_rows,
    boundaries_from_stats, tag,
) -> list[DataFile]:
    """Cluster ``in_files`` into ``n_files`` outputs through one range
    shuffle: boundaries (manifest stats, else a sample job), the key
    UDF, ``repartitionByRange(n_files, zkey, tiebreak)``, a sort within
    each partition and ``Table.write_files``."""
    df = table.apply_schema_ops(
        table.reader(spark).parquet(*[os.path.join(table.root, f.path) for f in in_files])
    )
    # boundaries from MANIFEST stats when every input file carries
    # them — zero Spark jobs (the sample job was this pass's
    # parallelism-independent fixed cost); sample only as fallback
    boundaries = (
        column_boundaries_from_stats(in_files, list(columns), bits=bits)
        if boundaries_from_stats
        else None
    )
    if boundaries is None:
        # bound the sampling scan to <=32 evenly spaced input files:
        # boundaries only need approximate quantiles, and an even
        # stride over the file list is representative whether the
        # table is unclustered (every file spans everything) or
        # partially clustered (stride covers the key space). Keeps
        # the fallback's fixed cost flat as the file count grows.
        if len(in_files) > 32:
            stride = len(in_files) / 32.0
            subset = [in_files[int(i * stride)] for i in range(32)]
            sample_src = table.apply_schema_ops(
                table.reader(spark).parquet(
                    *[os.path.join(table.root, f.path) for f in subset]
                )
            )
            subset_rows = sum(f.rows for f in subset)
        else:
            sample_src, subset_rows = df, sum(f.rows for f in in_files)
        boundaries = column_boundaries(
            sample_src,
            list(columns),
            bits=bits,
            sample_rows=sample_rows,
            total_rows=subset_rows,  # manifest knows; no count job
        )
    bc = spark.sparkContext.broadcast(boundaries)
    try:
        keyed = with_cluster_key(df, columns, bits=bits, curve=curve, boundaries=boundaries, broadcast=bc)
        # NO persist of the keyed frame. repartitionByRange runs an
        # internal sampling job over its input, so the zkey UDF
        # executes twice. That job is NOT pruned to the key columns:
        # Spark samples the exchange's full child (``rddForSampling``),
        # a full-width scan plus the key UDF — on an erase relayout it
        # took about as long as the map stage writing the shuffle
        # itself. Persisting the whole keyed table (round 1 did,
        # DISK_ONLY) instead serialized the entire table through one
        # shared disk three times and capped the pass's core-scaling
        # at the disk, not the CPU.
        tiebreak = "commit" if "commit" in df.columns else columns[-1]
        clustered = keyed.repartitionByRange(n_files, F.col("zkey"), F.col(tiebreak)).sortWithinPartitions("zkey")
        return table.write_files(clustered, spark, tag=tag)
    finally:
        # each broadcast keeps a file in the driver's temp dir until
        # destroyed; a long-running maintain() loop must not grow it
        bc.destroy()


def _with_curve_key(tbl, columns, sources, curve, bits, sample_rows):
    """The one-task clustering transform on one concatenated group:

    - the group binds to the logical schema first (``bind_logical``), so
      a group mixing both sides of a rename writes one column whose
      stats and bloom cover every row;
    - ``zkey`` := ``zorder.curve_keys`` over the cluster columns,
      bucketed on boundaries (``zorder.sample_bounds``) taken from at
      most ``sample_rows`` evenly spaced rows of the group. It replaces
      an existing ``zkey`` column. Keys are computed in batches, so only
      one batch of values is ever in pandas form."""
    import numpy as np
    import pyarrow as pa

    tbl = bind_logical(tbl, sources)
    n = tbl.num_rows
    values = [tbl[c] if c in tbl.column_names else pa.nulls(n, pa.string()) for c in columns]
    if n > sample_rows:
        pick = np.linspace(0, n - 1, sample_rows).astype(np.int64)
        bounds = {c: sample_bounds(v.take(pick).to_pandas(), bits) for c, v in zip(columns, values)}
    else:
        bounds = {c: sample_bounds(v.to_pandas(), bits) for c, v in zip(columns, values)}
    step = 1 << 16
    zkey = pa.chunked_array(
        [
            curve_keys(bounds, [v.slice(lo, step).to_pandas() for v in values], columns, bits, curve)
            for lo in range(0, n, step)
        ],
        type=pa.int64(),
    )
    return _put_column(tbl, "zkey", zkey, "long")


def _cluster_in_one_task(table, spark, in_files, columns, curve, bits, sample_rows, tag) -> list[DataFile]:
    """Cluster inputs that make ONE output file in one pyarrow task
    (``rewrite_file_groups`` with a single group): it concatenates the
    inputs, keys them (``_with_curve_key``), sorts on ``(zkey,
    tiebreak)``, writes the file and returns its manifest entry. One
    Spark job: no sample job, no exchange, no stats read-back.

    The output is written under the logical schema (``bind_logical``);
    the tiebreak is ``commit`` when the table has it, else the last
    cluster column."""
    columns = list(columns)
    check_cluster_key(columns, bits, curve)
    sources = _arrow_sources(table)
    missing = [c for c in columns if c not in sources]
    if missing:
        raise Pi2SparkError(f"cluster columns {missing} are not in the table schema")
    tiebreak = "commit" if "commit" in sources else columns[-1]
    if table.data_schema() is not None:
        table._persist_schema(T.StructType([T.StructField("zkey", T.LongType())]))
    rel_dir, _ = table.new_data_dir(tag)
    return rewrite_file_groups(
        table.root,
        [(os.path.join(rel_dir, "part-00000.parquet"), [f.path for f in in_files])],
        spark,
        table.stats_columns(),
        bloom_cols=table.bloom_columns(),
        sort_col=["zkey", tiebreak],
        transform=functools.partial(
            _with_curve_key, columns=columns, sources=sources, curve=curve, bits=bits,
            sample_rows=sample_rows,
        ),
    )


# ---------------------------------------------------------------------------
# B8 — MERGE INTO crypto-shred erasure
# ---------------------------------------------------------------------------


def _arrow_sources(table: Table) -> dict[str, list[str]]:
    """``Table.column_sources()`` for an Arrow rewrite, whose outputs
    are bound to the logical schema (``bind_logical``). Under schema
    ops the logical schema first joins the persisted union schema, so
    the reader schema has every name an output carries (a renamed
    column's new one)."""
    if table.schema_ops():
        table._persist_schema(table.logical_schema())
    return table.column_sources()


def _put_column(tbl, name, values, spark_type: str):
    """Set column ``name`` in place, or append it (also to Spark's
    footer schema JSON, for schema-less reads)."""
    import pyarrow as pa

    if name in tbl.column_names:
        i = tbl.schema.get_field_index(name)
        return tbl.set_column(i, tbl.schema.field(i).with_type(values.type), values)
    return align_spark_schema(
        tbl.append_column(pa.field(name, values.type), values), {name: spark_type}
    )


def _tombstone(tbl, subjects, sources, subject_column, envelope_columns):
    """The shred tombstone on one Arrow row group of one data file,
    after binding it to the logical schema (``bind_logical`` with
    ``sources``: a file written before a rename gains the new names,
    and dropped columns leave it):

    - ``hit := subject IN subjects`` (a NULL subject is not a hit);
    - every envelope column present → NULL where ``hit``;
    - ``shredded := coalesce(shredded, false) OR hit`` on every row
      when the table has the flag; a file without it gains it."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = bind_logical(tbl, sources)
    if subject_column in tbl.column_names:
        subj = tbl[subject_column]
        hit = pc.is_in(subj, value_set=pa.array(subjects, type=subj.type))
    else:
        hit = pa.repeat(False, tbl.num_rows)
    for c in envelope_columns:
        if c in tbl.column_names:
            i = tbl.schema.get_field_index(c)
            env = tbl[c]
            tbl = tbl.set_column(
                i, tbl.schema.field(i), pc.if_else(hit, pa.scalar(None, env.type), env)
            )
    if "shredded" in sources:
        cur = tbl["shredded"] if "shredded" in tbl.column_names else None
        flag = hit if cur is None else pc.or_(pc.fill_null(cur, False), hit)
        tbl = _put_column(tbl, "shredded", flag, "boolean")
    return tbl


def shred(
    table: Table,
    spark: SparkSession,
    subjects,
    subject_column: str = "repo",
    envelope_columns=("content_enc",),
    concurrency: int | None = None,  # noqa: ARG001 — ignored; accepted for old callers
    pass_id: str | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,  # noqa: ARG001 — rewrite is 1:1
    wave_files: int = DEFAULT_WAVE_FILES,
    max_replans: int = 3,
) -> PassResult:
    """MERGE-INTO-style erasure: rewrite **only** the data files whose
    stats may contain a forgotten subject, tombstoning that subject's
    rows (envelope → NULL, shredded → true; see ``_tombstone``). All
    other files are untouched manifest entries. The caller must already
    have FORGOTTEN the subject's key (``KeyRegistry.forget``) — key
    deletion is what makes the ciphertext unrecoverable; this pass
    removes the bytes.

    The rewrite is 1:1: each affected file becomes exactly one output
    with the same rows in the same order (so the same zkey range —
    the clustering layout and the merge path's provenance stay valid),
    written by its own pyarrow task that streams the file's row groups
    through the tombstone and returns the output's manifest entry
    (footer stats + subject bloom). One shuffle-free Spark job per wave
    of ``wave_files`` files, no Spark SQL plan, no stats read-back;
    task memory is bounded by one row group. Oversized files are not
    split and small ones not merged — that is ``compact``'s job — so
    ``target_file_bytes`` is ignored. Rewritten files are bound to the
    logical schema (``bind_logical``): renamed columns take their new
    names and dropped columns leave the file.

    Conflict re-planning (same protocol as ``compact``): a disjoint
    version race re-applies through ``commit_with_retry``; a winner
    that rewrote this pass's inputs (``StaleDeltaError`` — e.g. a
    racing compaction packed the victim's files) triggers a re-plan
    from the fresh snapshot. Re-targeting is CORRECTNESS here, not just
    liveness: the victim's rows now live in the winner's output files,
    and only a re-planned stats/bloom scan finds them all."""
    t0 = time.time()
    subjects = sorted(set(subjects))
    pass_id = pass_id or _new_pass_id("shred")
    ledger = PassLedger(table.root, pass_id)
    if ledger.committed:
        return PassResult("shred", pass_id, ledger.committed["snapshot_id"], 0, 0, 0, 0.0, skipped=True)
    if not subjects:
        return PassResult("shred", pass_id, table.current_snapshot_id(), 0, 0, 0, 0.0, skipped=True)

    pred = ColumnPredicate(subject_column, "in", values=tuple(subjects))

    def _attempt(attempt: int, prefix: str):
        snap = table.snapshot()
        affected = [f for f in snap.files if pred.may_match(f)]
        if not affected:
            return PassResult("shred", pass_id, snap.snapshot_id, 0, 0, 0, time.time() - t0, skipped=True)
        sources = _arrow_sources(table)
        if subject_column not in sources:
            raise Pi2SparkError(f"subject column {subject_column!r} is not in the table schema")
        tombstone = functools.partial(
            _tombstone,
            subjects=subjects,
            sources=sources,
            subject_column=subject_column,
            envelope_columns=list(envelope_columns),
        )
        results = _rewrite_files_in_waves(
            table,
            spark,
            ledger,
            sorted(affected, key=lambda f: f.path),
            f"shred-{pass_id}",
            target_bytes=None,
            transform=tombstone,
            wave_files=wave_files,
            task_prefix=prefix,
            arrow=True,
        )
        removed = [p for r in results for p in r["inputs"]]
        added = [DataFile.from_json(d) for r in results for d in r["outputs"]]

        def finish(new_snap):
            ledger.record_commit(new_snap.snapshot_id)
            return PassResult(
                "shred",
                pass_id,
                new_snap.snapshot_id,
                rewritten_files=len(affected),
                added_files=len(added),
                rewritten_bytes=sum(f.bytes for f in affected),
                seconds=time.time() - t0,
                details={
                    "affected_files": len(affected),
                    "total_files": len(snap.files),
                    "replans": attempt,
                },
            )

        summary = {
            "pass_id": pass_id,
            "subjects": subjects,
            "affected_files": len(affected),
            "replans": attempt,
        }
        return added, removed, summary, finish

    return _run_with_replans(table, ledger, "shred", max_replans, _attempt)


def merge_into(
    table: Table,
    spark: SparkSession,
    source: DataFrame,
    on,
    when_matched: str = "update",
    when_not_matched: str = "insert",
    pass_id: str | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    wave_files: int = DEFAULT_WAVE_FILES,
    max_replans: int = 3,
    broadcast_key_cap: int = 500_000,
    matched_condition=None,
    assignments: dict | None = None,
) -> PassResult:
    """Generic key-based MERGE INTO (upsert/delete) — the general form
    of the shred pass's MERGE shape (SURVEY.md §2 B8): copy-on-write
    rewrite of ONLY the data files whose stats/blooms may contain a
    source key; every other file stays an untouched manifest entry.

    Semantics (Delta/Iceberg MERGE subset, keyed):
      * ``on`` — key column(s); the source must be key-unique
        (``AmbiguousMergeSourceError`` otherwise — Delta's
        multiple-matches rule) and key columns must be non-null.
      * ``when_matched`` — ``"update"`` (target row's payload columns
        replaced by the source's; columns absent from the source keep
        their target values) or ``"delete"``.
      * ``when_not_matched`` — ``"insert"`` (source rows matching no
        target row append, absent columns NULL) or ``"skip"``.
      * ``matched_condition`` — optional row-level guard on the match
        (Delta's ``WHEN MATCHED AND <cond>``): a Column or SQL string
        over the joined row, target columns by name and source payload
        columns as ``src_<col>`` (e.g. ``"src_price <> price"``). A
        key-matched row failing the condition is left untouched — and,
        having matched on key, is NOT insert-eligible either.
      * ``assignments`` — optional custom SET for ``"update"``:
        column → Column/SQL expression over the same joined-row
        namespace (e.g. ``{"qty": "qty + src_qty"}``); default replaces
        each payload column with the source's value.

    100 TB shape: source keys are counted with one agg job (never an
    unbounded collect). Small key sets (≤ ``broadcast_key_cap``,
    single key column) prune files near-exactly through the existing
    stats+bloom "in" predicate and rewrite affected files in
    shuffle-free scan-packed waves with a broadcast merge join — the
    shred execution shape. Larger sources fall back to range pruning
    (key min/max from the same agg) and a single shuffled rewrite job
    (Spark/AQE plans the join strategy and handles skew). Inserts are
    found with an anti-join against the AFFECTED files' keys only —
    sound because a file the pruner skipped provably contains no
    source key.

    Conflict re-planning is shred's protocol: a concurrent winner that
    rewrote this pass's inputs (``StaleDeltaError``) drops the
    attempt's orphaned outputs and re-plans from the fresh snapshot —
    re-pruning is correctness, not liveness, because matched rows may
    now live in the winner's outputs."""
    t0 = time.time()
    keys = [on] if isinstance(on, str) else list(on)
    if when_matched not in ("update", "delete"):
        raise Pi2SparkError(f"when_matched must be update|delete, got {when_matched!r}")
    if when_not_matched not in ("insert", "skip"):
        raise Pi2SparkError(
            f"when_not_matched must be insert|skip, got {when_not_matched!r}"
        )
    pass_id = pass_id or _new_pass_id("merge")
    ledger = PassLedger(table.root, pass_id)
    if ledger.committed:
        return PassResult(
            "merge", pass_id, ledger.committed["snapshot_id"], 0, 0, 0, 0.0, skipped=True
        )

    # one agg job: source cardinality + key-uniqueness + per-key range
    agg_exprs = [
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("__nd"),
    ]
    for k in keys:
        agg_exprs += [F.min(k).alias(f"__mn_{k}"), F.max(k).alias(f"__mx_{k}")]
    stats = source.agg(*agg_exprs).first()
    n_src = stats["__n"]
    if n_src == 0:
        return PassResult(
            "merge", pass_id, table.current_snapshot_id(), 0, 0, 0,
            time.time() - t0, skipped=True,
        )
    if stats["__nd"] != n_src:
        raise AmbiguousMergeSourceError(
            f"merge source has {n_src - stats['__nd']} duplicate or NULL key rows on {keys}"
        )

    # near-exact pruning path: collect the key set when it is small —
    # the limit bounds the driver transfer even against a huge source
    key_rows = None
    if n_src <= broadcast_key_cap and len(keys) == 1:
        key_rows = [
            r[0]
            for r in source.select(keys[0])
            .distinct()
            .limit(broadcast_key_cap + 1)
            .collect()
        ]
        if len(key_rows) > broadcast_key_cap:  # source grew under us
            key_rows = None
    if key_rows is not None:
        preds = [ColumnPredicate(keys[0], "in", values=tuple(key_rows))]
    else:
        preds = [
            ColumnPredicate(k, "between", value=(stats[f"__mn_{k}"], stats[f"__mx_{k}"]))
            for k in keys
        ]

    payload_src_cols = [c for c in source.columns if c not in keys]
    src_named = source.select(
        *keys, *[F.col(c).alias(f"__src_{c}") for c in payload_src_cols]
    ).withColumn("__m", F.lit(True))
    broadcastable = key_rows is not None

    if assignments is not None and when_matched != "update":
        raise Pi2SparkError("merge assignments require when_matched='update'")

    def combine(df: DataFrame) -> DataFrame:
        right = F.broadcast(src_named) if broadcastable else src_named
        out = df.join(right, on=keys, how="left")
        # user-facing source namespace for conditions/assignments
        for c in payload_src_cols:
            out = out.withColumn(f"src_{c}", F.col(f"__src_{c}"))
        hit = F.coalesce(F.col("__m"), F.lit(False))
        if matched_condition is not None:
            cond = (
                F.expr(matched_condition)
                if isinstance(matched_condition, str)
                else matched_condition
            )
            hit = hit & F.coalesce(cond, F.lit(False))
        if when_matched == "delete":
            return out.filter(~hit).select(*df.columns)
        if assignments is not None:
            # all SET expressions see the PRE-update row (SQL MERGE
            # semantics): stage every value before assigning any
            for c, expr in assignments.items():
                if c in keys or c not in df.columns:
                    raise Pi2SparkError(
                        f"merge assignment target {c!r} must be a non-key table column"
                    )
                val = F.expr(expr) if isinstance(expr, str) else expr
                out = out.withColumn(f"__set_{c}", val)
            for c in assignments:
                out = out.withColumn(
                    c, F.when(hit, F.col(f"__set_{c}")).otherwise(F.col(c))
                )
            return out.select(*df.columns)
        for c in payload_src_cols:
            if c in df.columns:
                out = out.withColumn(
                    c, F.when(hit, F.col(f"__src_{c}")).otherwise(F.col(c))
                )
        return out.select(*df.columns)

    def _read_affected(affected):
        return table.apply_schema_ops(
            table.reader(spark).parquet(
                *[os.path.join(table.root, f.path) for f in affected]
            )
        )

    def _attempt(attempt: int, prefix: str):
        try:
            snap = table.snapshot()
        except Pi2SparkError:
            snap = None  # merging into an empty table: pure insert
        tgt_files = snap.files if snap is not None else []
        affected = [f for f in tgt_files if all(p.may_match(f) for p in preds)]

        if affected and broadcastable:
            results = _rewrite_files_in_waves(
                table, spark, ledger,
                sorted(affected, key=lambda f: f.path),
                f"merge-{pass_id}", target_bytes=target_file_bytes,
                transform=combine, sort_col="zkey", wave_files=wave_files,
                task_prefix=prefix,
            )
            removed = [p for r in results for p in r["inputs"]]
            added = [DataFile.from_json(d) for r in results for d in r["outputs"]]
        elif affected:
            # big-source path: one shuffled rewrite job over the
            # affected files, sized to ~target-file outputs
            merged = combine(_read_affected(affected))
            n_out = max(1, int(sum(f.bytes for f in affected) / target_file_bytes))
            if "zkey" in merged.columns:
                merged = merged.repartitionByRange(n_out, "zkey").sortWithinPartitions("zkey")
            else:
                merged = merged.repartition(n_out)
            added = table.write_files(merged, spark, tag=f"merge-{pass_id}-{prefix}big")
            removed = [f.path for f in affected]
        else:
            removed, added = [], []

        if when_not_matched == "insert":
            if affected:
                inserts_src = source.join(
                    _read_affected(affected).select(*keys), on=keys, how="left_anti"
                )
            else:
                inserts_src = source
            # project onto the table's logical schema: absent columns NULL
            if tgt_files:
                tgt_schema = table.scan(spark).limit(0).schema
            else:
                tgt_schema = source.schema
            # keep field metadata: the envelope marker must reach the footer
            sel = [
                (F.col(fld.name) if fld.name in inserts_src.columns else F.lit(None))
                .cast(fld.dataType)
                .alias(fld.name, metadata=fld.metadata)
                for fld in tgt_schema
            ]
            # output sizing from the table's own bytes/row (source row
            # width is unknown until written); bounded either way
            if tgt_files:
                bpr = sum(f.bytes for f in tgt_files) / max(1, sum(f.rows for f in tgt_files))
            else:
                bpr = 256.0
            n_ins = max(1, min(64, int(n_src * bpr / target_file_bytes) + 1))
            # an all-matched source leaves every partition empty: no file
            added = added + table.write_files(
                inserts_src.select(*sel).repartition(n_ins),
                spark,
                tag=f"merge-{pass_id}-{prefix}ins",
            )

        def finish(new_snap):
            ledger.record_commit(new_snap.snapshot_id)
            return PassResult(
                "merge", pass_id, new_snap.snapshot_id,
                rewritten_files=len(affected), added_files=len(added),
                rewritten_bytes=sum(f.bytes for f in affected),
                seconds=time.time() - t0,
                details={
                    "affected_files": len(affected),
                    "total_files": len(tgt_files),
                    "broadcast_path": broadcastable,
                    "replans": attempt,
                },
            )

        summary = {
            "pass_id": pass_id,
            "on": keys,
            "when_matched": when_matched,
            "when_not_matched": when_not_matched,
            "conditional": matched_condition is not None,
            "custom_assignments": sorted(assignments) if assignments else [],
            "n_source_rows": int(n_src),
            "affected_files": len(affected),
            "replans": attempt,
        }
        return added, removed, summary, finish

    return _run_with_replans(table, ledger, "merge", max_replans, _attempt)


# ---------------------------------------------------------------------------
# predicate DELETE / UPDATE (B8 family — copy-on-write row surgery by
# stats predicate rather than by key)
# ---------------------------------------------------------------------------


def _predicate_expr(pred: ColumnPredicate):
    """Row-level Column expression equivalent of a stats predicate —
    the same condition the pruner evaluated against file [min,max]
    ranges, applied to rows (stats pruning is necessary-not-
    sufficient, so every pass re-applies it row-level)."""
    c = F.col(pred.column)
    if pred.op == "isnull":
        return c.isNull()
    if pred.op == "notnull":
        return c.isNotNull()
    if pred.op == "eq":
        return c == F.lit(pred.value)
    if pred.op == "in":
        return c.isin(list(pred.values))
    if pred.op == "le":
        return c <= F.lit(pred.value)
    if pred.op == "ge":
        return c >= F.lit(pred.value)
    if pred.op == "between":
        lo, hi = pred.value
        return (c >= F.lit(lo)) & (c <= F.lit(hi))
    raise Pi2SparkError(f"unknown predicate op {pred.op}")


def _stats_prove_all_match(pred: ColumnPredicate, f: DataFile) -> bool:
    """True only when the file's footer stats PROVE every row matches
    ``pred`` — the soundness condition for a metadata-only whole-file
    delete (Delta/Iceberg's file-granularity DELETE).

    Requires an exact null count of 0 for the column (a NULL row never
    matches a comparison, so any null — or an unknown count from a
    pre-upgrade manifest — disqualifies the proof). Parquet writers may
    truncate string bounds, but truncation is one-sided (stored min ≤
    true min, stored max ≥ true max), so every containment test below
    stays sound under truncation."""
    if pred.op == "isnull":
        return f.nulls.get(pred.column) == f.rows  # provably all-NULL
    if pred.op == "notnull":
        return f.nulls.get(pred.column) == 0
    st = f.stats.get(pred.column)
    if not st or st[0] is None or st[1] is None:
        return False
    if f.nulls.get(pred.column) != 0:
        return False
    mn, mx = st
    if pred.op == "eq":
        return mn == mx == pred.value
    if pred.op == "in":
        return mn == mx and mn in pred.values
    if pred.op == "le":
        return mx <= pred.value
    if pred.op == "ge":
        return mn >= pred.value
    if pred.op == "between":
        lo, hi = pred.value
        return lo <= mn and mx <= hi
    raise Pi2SparkError(f"unknown predicate op {pred.op}")


def _where_expr(predicates, extra_condition):
    cond = None
    for p in predicates:
        e = _predicate_expr(p)
        cond = e if cond is None else (cond & e)
    if extra_condition is not None:
        e = F.expr(extra_condition) if isinstance(extra_condition, str) else extra_condition
        cond = e if cond is None else (cond & e)
    if cond is None:
        raise Pi2SparkError("delete/update requires predicates or an extra condition")
    return cond


def delete_where(
    table: Table,
    spark: SparkSession,
    predicates,
    extra_condition=None,
    pass_id: str | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    wave_files: int = DEFAULT_WAVE_FILES,
    max_replans: int = 3,
) -> PassResult:
    """``DELETE FROM table WHERE ...`` as a copy-on-write maintenance
    pass (the predicate form of the shred/MERGE rewrite family, B8).

    ``predicates`` is a conjunction of ``ColumnPredicate``s; they drive
    file pruning AND are re-applied row-level. ``extra_condition`` (a
    Column or SQL string) ANDs an arbitrary row-level condition that
    cannot prune — e.g. ``length(path) > 80``.

    Three file classes per attempt, planned from manifest stats alone:
      * untouched — stats prove no row can match (pruned);
      * whole-delete — stats prove EVERY row matches
        (``_stats_prove_all_match``, only without ``extra_condition``):
        dropped from the manifest with no read or rewrite — Delta's
        file-granularity delete, the 100 TB fast path for partition-
        aligned deletes;
      * rewrite — the boundary files, rewritten in scan-packed waves
        keeping only non-matching rows; a packed partition left with
        no rows writes no file.

    Conflict re-planning and ledger resume are the shared rewrite
    protocol (``_run_with_replans``); like the other passes, the
    rewrite is crypto-opaque (envelope bytes move untouched)."""
    t0 = time.time()
    preds = list(predicates)
    cond = _where_expr(preds, extra_condition)
    pass_id = pass_id or _new_pass_id("delete")
    ledger = PassLedger(table.root, pass_id)
    if ledger.committed:
        return PassResult(
            "delete", pass_id, ledger.committed["snapshot_id"], 0, 0, 0, 0.0, skipped=True
        )

    def keep(df: DataFrame) -> DataFrame:
        # NULL-safe: rows where cond is NULL did not match -> kept
        return df.filter(~F.coalesce(cond, F.lit(False)))

    def _attempt(attempt: int, prefix: str):
        snap = table.snapshot()
        affected = [f for f in snap.files if all(p.may_match(f) for p in preds)]
        if not affected:
            return PassResult(
                "delete", pass_id, snap.snapshot_id, 0, 0, 0, time.time() - t0, skipped=True
            )
        whole = (
            [f for f in affected if all(_stats_prove_all_match(p, f) for p in preds)]
            if extra_condition is None and preds
            else []
        )
        whole_set = {f.path for f in whole}
        rewrite = [f for f in affected if f.path not in whole_set]

        added: list[DataFile] = []
        removed = [f.path for f in whole]
        if rewrite:
            results = _rewrite_files_in_waves(
                table,
                spark,
                ledger,
                sorted(rewrite, key=lambda f: f.path),
                f"delete-{pass_id}",
                target_bytes=target_file_bytes,
                transform=keep,
                sort_col="zkey",
                wave_files=wave_files,
                task_prefix=prefix,
            )
            removed += [p for r in results for p in r["inputs"]]
            # a partition whose rows all matched writes no file
            added = [DataFile.from_json(d) for r in results for d in r["outputs"]]

        def finish(new_snap):
            ledger.record_commit(new_snap.snapshot_id)
            return PassResult(
                "delete",
                pass_id,
                new_snap.snapshot_id,
                rewritten_files=len(rewrite),
                added_files=len(added),
                rewritten_bytes=sum(f.bytes for f in rewrite),
                seconds=time.time() - t0,
                details={
                    "affected_files": len(affected),
                    "whole_file_deletes": len(whole),
                    "total_files": len(snap.files),
                    # every affected row either survives into `added`
                    # or was deleted (whole-file inputs contribute all
                    # their rows — nothing of theirs is in `added`)
                    "deleted_rows": sum(f.rows for f in affected)
                    - sum(a.rows for a in added),
                    "replans": attempt,
                },
            )

        summary = {
            "pass_id": pass_id,
            "predicates": [
                {"column": p.column, "op": p.op, "value": p.value, "values": list(p.values)}
                for p in preds
            ],
            "affected_files": len(affected),
            "whole_file_deletes": len(whole),
            "replans": attempt,
        }
        return added, removed, summary, finish

    return _run_with_replans(table, ledger, "delete", max_replans, _attempt)


def update_where(
    table: Table,
    spark: SparkSession,
    predicates,
    assignments: dict,
    extra_condition=None,
    pass_id: str | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    wave_files: int = DEFAULT_WAVE_FILES,
    max_replans: int = 3,
) -> PassResult:
    """``UPDATE table SET col = expr WHERE ...`` as a copy-on-write
    pass: rewrite ONLY the files whose stats may contain a matching
    row, applying each assignment to matching rows and leaving every
    other row (and every other file) byte-identical.

    ``assignments`` maps column name → Column or SQL expression string
    evaluated against the pre-update row. Protected columns are
    refused: a PII column exists at rest only as its envelope, so a
    plaintext assignment through this path would bypass encryption —
    update PII via decrypt → transform → ``encrypt_table`` → MERGE
    instead. The subject column is likewise refused (rebinding rows to
    a different subject must re-seal the envelope under the new
    subject's key — reencrypt's job, not a projection's)."""
    t0 = time.time()
    preds = list(predicates)
    cond = _where_expr(preds, extra_condition)
    if not assignments:
        raise Pi2SparkError("update_where requires at least one assignment")
    from pi2spark.errors import SchemaNotFoundError

    protected: set = set()
    try:
        spec = table.protection_spec()
        protected |= set(spec.pii_columns) | {spec.subject_column} | {
            spec.envelope_column(c) for c in spec.pii_columns
        }
    except SchemaNotFoundError:
        pass  # no stored protection doc — fall through to schema markers
    # even without a stored protection document, envelope columns are
    # identifiable from the persisted data schema's field metadata
    # (ENVELOPE_FOR_KEY is written by encrypt_table and survives
    # parquet) — assigning to one bypasses crypto just the same
    schema = table.data_schema()
    if schema is not None:
        from pi2spark.crypto import ENVELOPE_FOR_KEY

        for f in schema.fields:
            md = f.metadata or {}
            if ENVELOPE_FOR_KEY in md:
                protected.add(f.name)
                protected.add(md[ENVELOPE_FOR_KEY])
    bad = sorted(set(assignments) & protected)
    if bad:
        raise Pi2SparkError(
            f"update_where cannot assign protected column(s) {bad}: PII moves "
            "through decrypt/encrypt_table or reencrypt, never a plain projection"
        )
    pass_id = pass_id or _new_pass_id("update")
    ledger = PassLedger(table.root, pass_id)
    if ledger.committed:
        return PassResult(
            "update", pass_id, ledger.committed["snapshot_id"], 0, 0, 0, 0.0, skipped=True
        )

    def apply(df: DataFrame) -> DataFrame:
        hit = F.coalesce(cond, F.lit(False))
        out = df
        # all SET expressions see the PRE-update row (SQL UPDATE
        # semantics): stage every value before assigning any
        for name, expr in assignments.items():
            if name not in df.columns:
                raise Pi2SparkError(f"update_where: no such column {name!r}")
            val = F.expr(expr) if isinstance(expr, str) else expr
            out = out.withColumn(f"__set_{name}", val)
        for name in assignments:
            out = out.withColumn(
                name, F.when(hit, F.col(f"__set_{name}")).otherwise(F.col(name))
            )
        return out.select(*df.columns)

    def _attempt(attempt: int, prefix: str):
        snap = table.snapshot()
        affected = [f for f in snap.files if all(p.may_match(f) for p in preds)]
        if not affected:
            return PassResult(
                "update", pass_id, snap.snapshot_id, 0, 0, 0, time.time() - t0, skipped=True
            )
        results = _rewrite_files_in_waves(
            table,
            spark,
            ledger,
            sorted(affected, key=lambda f: f.path),
            f"update-{pass_id}",
            target_bytes=target_file_bytes,
            transform=apply,
            sort_col="zkey",
            wave_files=wave_files,
            task_prefix=prefix,
        )
        removed = [p for r in results for p in r["inputs"]]
        added = [DataFile.from_json(d) for r in results for d in r["outputs"]]

        def finish(new_snap):
            ledger.record_commit(new_snap.snapshot_id)
            return PassResult(
                "update",
                pass_id,
                new_snap.snapshot_id,
                rewritten_files=len(affected),
                added_files=len(added),
                rewritten_bytes=sum(f.bytes for f in affected),
                seconds=time.time() - t0,
                details={
                    "affected_files": len(affected),
                    "total_files": len(snap.files),
                    "replans": attempt,
                },
            )

        summary = {
            "pass_id": pass_id,
            "assignments": sorted(assignments),
            "affected_files": len(affected),
            "replans": attempt,
        }
        return added, removed, summary, finish

    return _run_with_replans(table, ledger, "update", max_replans, _attempt)


def reencrypt(
    table: Table,
    spark: SparkSession,
    keys_versioned,
    subjects,
    subject_column: str = "repo",
    envelope_columns=("content_enc",),
    pass_id: str | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    wave_files: int = DEFAULT_WAVE_FILES,
    max_replans: int = 3,
) -> PassResult:
    """Key-rotation rewrite (A-side versioning — the reference's own
    TODO, MostRecentMaterialsProvider.java:39-46): rewrite only the
    data files whose stats/blooms may contain a rotated subject,
    re-sealing that subject's envelopes under the LATEST material
    (``crypto.make_reencrypt_udf``); all other files stay untouched
    manifest entries, all other rows pass through byte-identical.
    Execution shape is exactly shred's: bloom-targeted inputs,
    scan-packed waves, a narrow per-batch UDF, no shuffle — and the
    same conflict re-planning (a racing pass that rewrote this pass's
    inputs triggers a fresh-snapshot re-target; see ``shred``).

    ``keys_versioned`` must come from ``KeyRegistry.key_map_versioned``
    (plain dict or broadcast) — old materials decrypt, the latest one
    encrypts. After this pass commits, ``retire_old_materials``
    destroys the old key bytes, making any leaked pre-rotation
    ciphertext (e.g. an expired snapshot's files) unrecoverable."""
    from pi2spark.crypto import make_reencrypt_udf

    t0 = time.time()
    subjects = sorted(set(subjects))
    pass_id = pass_id or _new_pass_id("reencrypt")
    ledger = PassLedger(table.root, pass_id)
    if ledger.committed:
        return PassResult("reencrypt", pass_id, ledger.committed["snapshot_id"], 0, 0, 0, 0.0, skipped=True)
    if not subjects:
        return PassResult("reencrypt", pass_id, table.current_snapshot_id(), 0, 0, 0, 0.0, skipped=True)

    pred = ColumnPredicate(subject_column, "in", values=tuple(subjects))
    udf = make_reencrypt_udf(keys_versioned, subjects)

    def reseal(df: DataFrame) -> DataFrame:
        # NULL envelopes (shredded rows) stay NULL structs; the field
        # metadata (the envelope marker) stays on the column
        return df.select(
            *[
                F.when(F.col(c).isNull(), F.lit(None).cast(f.dataType))
                .otherwise(udf(F.col(c)))
                .alias(c, metadata=f.metadata)
                if c in envelope_columns
                else F.col(c)
                for c, f in zip(df.columns, df.schema.fields)
            ]
        )

    def _attempt(attempt: int, prefix: str):
        snap = table.snapshot()
        affected = [f for f in snap.files if pred.may_match(f)]
        if not affected:
            return PassResult("reencrypt", pass_id, snap.snapshot_id, 0, 0, 0, time.time() - t0, skipped=True)

        results = _rewrite_files_in_waves(
            table,
            spark,
            ledger,
            sorted(affected, key=lambda f: f.path),
            f"reencrypt-{pass_id}",
            target_bytes=target_file_bytes,
            transform=reseal,
            sort_col="zkey",
            wave_files=wave_files,
            task_prefix=prefix,
        )
        removed = [p for r in results for p in r["inputs"]]
        added = [DataFile.from_json(d) for r in results for d in r["outputs"]]

        def finish(new_snap):
            ledger.record_commit(new_snap.snapshot_id)
            return PassResult(
                "reencrypt",
                pass_id,
                new_snap.snapshot_id,
                rewritten_files=len(affected),
                added_files=len(added),
                rewritten_bytes=sum(f.bytes for f in affected),
                seconds=time.time() - t0,
                details={
                    "affected_files": len(affected),
                    "total_files": len(snap.files),
                    "replans": attempt,
                },
            )

        summary = {
            "pass_id": pass_id,
            "subjects": subjects,
            "affected_files": len(affected),
            "replans": attempt,
        }
        return added, removed, summary, finish

    return _run_with_replans(table, ledger, "reencrypt", max_replans, _attempt)


def rotate_many_and_reencrypt(
    table: Table,
    spark: SparkSession,
    registry,
    subject_ids,
    retire: bool = True,
    pass_id: str | None = None,
    **kw,
) -> PassResult:
    """Rotate N subjects in ONE rewrite pass: mint a material per
    subject, then a single ``reencrypt`` over the UNION of affected
    files, then retire per subject. A file holding rows of k rotating
    subjects is rewritten once, not k times — the difference between
    O(files) and O(files × subjects) when a rotation policy cycles a
    whole cohort (e.g. scheduled annual rotation).

    Resume-safe: the minted material ids are written to the pass
    ledger BEFORE any file is rewritten, and a rerun with the same
    ``pass_id`` reuses them instead of rotating again. Otherwise a
    resume would mint fresh materials, replay ledger-cached waves
    sealed under the previous ones, and the final retire would destroy
    the only keys those rows were sealed under — silent, permanent
    data loss. Retire also checks each recorded material is still the
    registry's latest before redacting anything."""
    from pi2spark.crypto import broadcast_keys

    subjects = sorted(set(subject_ids))
    if not subjects:
        return PassResult("reencrypt", pass_id or _new_pass_id("reencrypt"), table.current_snapshot_id(), 0, 0, 0, 0.0, skipped=True)
    pass_id = pass_id or _new_pass_id("reencrypt")
    ledger = PassLedger(table.root, pass_id)
    # a ledger of the earlier single-subject flow holds one mint under
    # "rotated_mid" without its subject: resumable only as a
    # one-subject cohort (any other cohort fails the check below)
    legacy = ledger.meta("rotated_mid")
    minted = ledger.meta("rotated_mids") or ({subjects[0]: legacy} if legacy else {})
    if minted and set(minted) != set(subjects):
        # a resume must replay the SAME cohort: cached waves were
        # computed against the recorded subject set, and mixing them
        # with a different set would partially re-seal the wrong rows
        raise MissingCryptoMaterialsError(
            f"resume of pass {pass_id!r}: cohort changed "
            f"({sorted(minted)} -> {subjects}); use a fresh pass id"
        )
    for s in subjects:
        if s not in minted:
            minted[s] = registry.rotate(s).material_id
        elif registry.latest_material_id(s) != minted[s]:
            raise MissingCryptoMaterialsError(
                f"resume of pass {pass_id!r}: recorded material for {s!r} is no "
                "longer the latest; run a fresh rotation pass instead of resuming"
            )
    ledger.record_meta("rotated_mids", minted)
    keys = broadcast_keys(spark, registry.key_map_versioned())
    res = reencrypt(table, spark, keys, subjects, pass_id=pass_id, **kw)
    if retire:
        # ALWAYS attempt retirement (idempotent: no-op below 2
        # materials). A resume after a crash between the reencrypt
        # commit and retire sees res.skipped=True — gating on it would
        # leave the old key bytes live forever. A skip because no
        # files were affected is also safe to retire through: no
        # current-snapshot ciphertext references the old material, and
        # destroying pre-rotation ciphertext is retire's contract.
        for s in subjects:
            if registry.latest_material_id(s) == minted[s]:
                registry.retire_old_materials(s)
    return res


def rotate_and_reencrypt(
    table: Table,
    spark: SparkSession,
    registry,
    subject_id: str,
    retire: bool = True,
    **kw,
) -> PassResult:
    """The complete key-rotation flow for one subject: ROTATE (new
    material), reencrypt the subject's files under it, then (by
    default) RETIRE the old materials — physically redacting their key
    bytes from the command log, so only ciphertext sealed under the new
    key remains readable anywhere. A one-subject cohort of
    ``rotate_many_and_reencrypt``, with the same resume-safety."""
    return rotate_many_and_reencrypt(table, spark, registry, [subject_id], retire=retire, **kw)


def maintain(
    table: Table,
    spark: SparkSession,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    small_file_threshold: int = 16,
    cluster_backlog_threshold: int = 8,
    keep_last_snapshots: int = 3,
    curve: str | None = None,
    small_ratio: float = 0.75,
    cluster_columns=None,
    cluster_bits: int | None = None,
) -> dict:
    """One steady-state maintenance cycle — the idempotent unit a
    scheduler runs continuously against a live table:

    1. compact when ≥ ``small_file_threshold`` files sit below
       ``small_ratio`` × target (append churn),
    2. incrementally cluster when ≥ ``cluster_backlog_threshold``
       files lack zkey stats (appends since the last clustering —
       pass cost tracks the append rate, not table size),
    3. expire snapshots beyond ``keep_last_snapshots``.

    Each trigger reads ONLY the manifest (O(files) driver work, no
    Spark job), so a no-op cycle costs microseconds — safe to run
    every few minutes at any scale. Returns which passes ran and
    their results.

    Clustering parameters (``curve`` / ``cluster_columns`` /
    ``cluster_bits``) default to the table's OWN layout provenance —
    the most recent snapshot summary carrying ``cluster_columns`` — so
    the steady-state scheduler preserves a custom layout instead of
    silently re-clustering appends under module defaults (which would
    overwrite the table's layout contract and defeat the merge path's
    provenance gate). The recorded columns are followed through later
    renames; a dropped one raises ``Pi2SparkError`` naming it. Module
    defaults apply only to a never-clustered table; explicit arguments
    always win."""
    prov = _cluster_provenance(table) or {}
    if curve is None:
        curve = prov.get("curve", "morton")
    if cluster_columns is None:
        recorded = prov.get("cluster_columns", ["repo", "lang", "path"])
        # a record without its schema-op count (older writers) resolves
        # through every op
        cluster_columns = table.resolve_columns(recorded, prov.get("schema_ops", 0))
        dropped = [c for c, now in zip(recorded, cluster_columns) if now is None]
        if dropped:
            raise Pi2SparkError(
                f"cluster columns {dropped} of the table's layout were dropped; "
                "pass cluster_columns= to maintain() to choose a new layout"
            )
    if cluster_bits is None:
        cluster_bits = prov.get("bits", 16)
    out: dict = {}
    files = table.snapshot().files
    # CLUSTER FIRST: compacting a mix of clustered small files and
    # fresh (zkey-less) appends would produce files whose zkey stats
    # are non-null (parquet stats ignore nulls), permanently hiding
    # the appended rows from the backlog detector. Clustering the
    # backlog first gives every row real zkey stats; compaction then
    # only ever merges clustered files.
    backlog = [
        f for f in files if "zkey" not in f.stats or f.stats["zkey"][0] is None
    ]
    # count OR bytes OR fraction triggers: many unclustered files, a
    # target-file's worth of unsorted data, or a mostly-unclustered
    # table each deserve the pass; a small tail rides until the count
    # threshold (hysteresis against re-clustering every append)
    backlog_bytes = sum(f.bytes for f in backlog)
    total_bytes_all = sum(f.bytes for f in files) or 1
    small = [f for f in files if f.bytes < target_file_bytes * small_ratio]
    compact_due = len(small) >= small_file_threshold
    if backlog and (
        len(backlog) >= cluster_backlog_threshold
        or backlog_bytes >= target_file_bytes
        or backlog_bytes / total_bytes_all >= 0.5
        # an imminent compaction also forces the backlog through
        # clustering first — compacting unclustered appends together
        # with clustered files would give the output REAL zkey stats
        # (parquet stats ignore nulls) and hide those rows from this
        # detector forever
        or compact_due
    ):
        out["cluster"] = cluster(
            table,
            spark,
            columns=tuple(cluster_columns),
            curve=curve,
            bits=cluster_bits,
            target_file_bytes=target_file_bytes,
            incremental=len(backlog) < len(files),
        )
        files = table.snapshot().files
        small = [f for f in files if f.bytes < target_file_bytes * small_ratio]
        compact_due = len(small) >= small_file_threshold
    if compact_due:
        out["compact"] = compact(
            table, spark, target_file_bytes=target_file_bytes, small_ratio=small_ratio
        )
    if len(table.snapshots()) > keep_last_snapshots:
        out["expire"] = expire_snapshots(table, keep_last=keep_last_snapshots)
    return out


def forget_and_shred(table: Table, spark: SparkSession, registry, subject_id: str, **kw) -> PassResult:
    """The complete right-to-be-forgotten flow: FORGET command (key
    deletion — completes the reference's unimplemented branch,
    KafkaSecretKeyStore.java:247-250) followed by the MERGE-shred
    rewrite of affected files."""
    registry.forget(subject_id)
    return shred(table, spark, [subject_id], **kw)


# ---------------------------------------------------------------------------
# B7 — reference-counted snapshot expiry
# ---------------------------------------------------------------------------


DEFAULT_DISTRIBUTE_EXPIRE_THRESHOLD = 200_000  # manifest entries


def _snapshot_manifest_files(table: Table, snaps: list[dict]) -> list[str]:
    """Deduped manifest-file names (v2 shards or v1 manifests) holding
    the data-file entries of the given snapshot entries. Driver cost is
    O(shards) — 10^-4 of the file count at the default shard size."""
    out: set[str] = set()
    for s in snaps:
        if "manifest_list" in s:
            for sh in table._read_meta_json(s["manifest_list"])["manifests"]:
                out.add(sh["path"])
        else:
            out.add(s["manifest"])
    return sorted(out)


def _manifest_paths_df(spark: SparkSession, meta_dir: str, manifest_files: list[str]):
    """Data-file paths of the given manifest files as a DataFrame —
    each executor task opens its slice of shard JSONs, so no full file
    listing ever materializes on the driver (the shared-storage
    assumption all lakehouse metadata work rests on)."""
    sc = spark.sparkContext

    def part(names):
        import json as _json

        for name in names:
            with open(os.path.join(meta_dir, name), "r", encoding="utf-8") as fh:
                for f in _json.load(fh)["files"]:
                    yield (f["path"],)

    n_slices = max(1, min(len(manifest_files), sc.defaultParallelism * 2))
    return spark.createDataFrame(
        sc.parallelize(manifest_files, n_slices).mapPartitions(part), "path string"
    )


def _estimated_entries(snaps: list[dict]) -> int:
    return sum(int(s.get("summary", {}).get("total-files", 0)) for s in snaps)


def expire_snapshots(
    table: Table,
    keep_last: int = 1,
    older_than_ms: int | None = None,
    spark: SparkSession | None = None,
    distribute_threshold: int = DEFAULT_DISTRIBUTE_EXPIRE_THRESHOLD,
) -> dict:
    """Expire old snapshots and delete data files whose reference count
    across *retained* snapshots is zero.

    Refcounting is a set-difference over manifest entries. Below
    ``distribute_threshold`` estimated entries (or with no ``spark``
    handle) it folds on the driver; above it, the fold runs as a
    DataFrame anti-join over manifest rows read executor-side
    (``expired EXCEPT retained`` on path) — the driver only ever
    streams the final DELETABLE list (``toLocalIterator``), never the
    full listing, which is what survives a 10^12-file table. Both paths
    produce identical deletions (tests/test_round5.py)."""
    version = table.current_version()
    meta = table._metadata(version)
    snaps = meta["snapshots"]
    current_id = meta["current_snapshot_id"]
    retained, expired = [], []
    tagged = {r["snapshot_id"] for r in meta.get("refs", {}).values()}
    for i, s in enumerate(snaps):
        # Iceberg-like retention: always keep the current snapshot, the
        # newest `keep_last`, and any TAGGED snapshot (refs pin their
        # targets); with a time cutoff, additionally keep everything
        # at/after the cutoff.
        keep = (
            s["snapshot_id"] == current_id
            or i >= len(snaps) - keep_last
            or s["snapshot_id"] in tagged
        )
        if older_than_ms is not None and s["timestamp_ms"] >= older_than_ms:
            keep = True
        (retained if keep else expired).append(s)
    if not expired:
        return {"expired_snapshots": 0, "deleted_files": 0}

    distribute = (
        spark is not None and _estimated_entries(retained + expired) >= distribute_threshold
    )

    # manifest shards are shared across snapshots (commit reuses
    # untouched shards by reference): refcount them like data files.
    # This stays driver-side in BOTH modes — shard count is file count
    # / shard_size, four orders of magnitude smaller.
    referenced_meta: set = set()
    for s in retained:
        referenced_meta |= table.manifest_meta_files(s)
    deletable_meta: set = set()
    for s in expired:
        deletable_meta |= table.manifest_meta_files(s) - referenced_meta

    if distribute:
        exp_manifests = _snapshot_manifest_files(table, expired)
        ret_manifests = _snapshot_manifest_files(table, retained)
        # shards referenced by a retained snapshot cannot contribute a
        # deletable path (every path in them is retained): pruning them
        # from the expired read halves the scan in the common case
        ret_set = set(ret_manifests)
        exp_only = [m for m in exp_manifests if m not in ret_set]
        deletable_df = (
            _manifest_paths_df(spark, table._meta_dir, exp_only)
            .distinct()
            .join(
                _manifest_paths_df(spark, table._meta_dir, ret_manifests),
                "path",
                "left_anti",
            )
        )
    else:
        referenced = set()
        for s in retained:
            referenced |= table.manifest_data_paths(s)
        deletable = set()
        for s in expired:
            deletable |= table.manifest_data_paths(s) - referenced

    # Metadata-first (Iceberg's expire ordering): commit the trimmed
    # snapshot list BEFORE touching any data file. A crash after this
    # commit leaves unreferenced files on disk — re-running expiry (or
    # any orphan sweep) cleans them up; the reverse order could delete
    # files still referenced by the *committed* metadata, breaking time
    # travel to snapshots the table still lists.
    meta["snapshots"] = retained
    table._write_version(version + 1, meta)

    # Best-effort physical cleanup; idempotent and re-runnable. In
    # distributed mode the deletable list streams in from the executors
    # (``toLocalIterator``), which still read the expired shard JSONs:
    # those are deleted last.
    if distribute:
        n_deleted = _unlink_all(
            os.path.join(table.root, r.path) for r in deletable_df.toLocalIterator()
        )
    else:
        n_deleted = _unlink_all(os.path.join(table.root, rel) for rel in sorted(deletable))
    _unlink_all(os.path.join(table._meta_dir, name) for name in sorted(deletable_meta))
    return {
        "expired_snapshots": len(expired),
        "deleted_files": n_deleted,
        "retained_snapshots": len(retained),
        "distributed": distribute,
    }


def remove_orphans(
    table: Table,
    older_than_ms: int | None = None,
    spark: SparkSession | None = None,
    distribute_threshold: int = DEFAULT_DISTRIBUTE_EXPIRE_THRESHOLD,
) -> dict:
    """Delete data files not referenced by ANY snapshot of the current
    metadata (Iceberg's remove_orphan_files).

    The complement of metadata-first expiry: a crash after the expire
    commit (or an aborted write pass) leaves unreferenced files on
    disk; this sweep reclaims them. The ``older_than_ms`` cutoff
    (default: 3 hours ago) protects files being written by an
    in-flight, not-yet-committed pass — never sweep with a cutoff
    younger than your longest-running pass.

    Scale shape mirrors ``expire_snapshots``: below
    ``distribute_threshold`` estimated entries (or with no ``spark``)
    the walk + set-membership runs on the driver; above it, the
    LISTING distributes (one executor task walks one pass directory —
    the directory layout is one subdir per write pass, so the fan-out
    is natural), the reference set is a manifest-row DataFrame, and
    orphans surface via anti-join with the mtime guard applied
    executor-side. The driver only streams the deletable list."""
    cutoff_ms = older_than_ms if older_than_ms is not None else int(time.time() * 1000) - 3 * 3600 * 1000
    data_root = os.path.join(table.root, "data")
    snaps = table.snapshots()
    distribute = spark is not None and _estimated_entries(snaps) >= distribute_threshold

    if distribute:
        manifest_files = _snapshot_manifest_files(table, snaps)
        referenced_df = _manifest_paths_df(spark, table._meta_dir, manifest_files).distinct()
        pass_dirs = sorted(
            os.path.join(data_root, d)
            for d in os.listdir(data_root)
            if os.path.isdir(os.path.join(data_root, d))
        ) or [data_root]
        sc = spark.sparkContext
        rootv = table.root
        cutoffv = cutoff_ms

        def list_part(dirs):
            for d in dirs:
                for dirpath, _dn, filenames in os.walk(d):
                    for name in filenames:
                        abs_p = os.path.join(dirpath, name)
                        try:
                            mtime_ms = os.path.getmtime(abs_p) * 1000
                        except OSError:
                            continue  # deleted under us
                        if mtime_ms >= cutoffv:
                            continue  # possibly an in-flight write
                        yield (os.path.relpath(abs_p, rootv),)

        n_slices = max(1, min(len(pass_dirs), sc.defaultParallelism * 2))
        listing_df = spark.createDataFrame(
            sc.parallelize(pass_dirs, n_slices).mapPartitions(list_part), "path string"
        )
        orphans_df = listing_df.join(referenced_df, "path", "left_anti")
        deleted = _unlink_all(
            os.path.join(table.root, r.path) for r in orphans_df.toLocalIterator()
        )
        return {"deleted": deleted, "distributed": True}

    referenced: set[str] = set()
    for s in snaps:
        referenced |= table.manifest_data_paths(s)
    orphans = [
        abs_p
        for dirpath, _dirnames, filenames in os.walk(data_root)
        for abs_p in (os.path.join(dirpath, name) for name in filenames)
        if os.path.relpath(abs_p, table.root) not in referenced
        # younger than the cutoff: possibly an in-flight write
        and os.path.getmtime(abs_p) * 1000 < cutoff_ms
    ]
    deleted = _unlink_all(orphans)
    return {"deleted": deleted, "referenced": len(referenced), "distributed": False}


def _unlink_all(paths) -> int:
    """Delete ``paths`` (any iterable, a streamed one included) with 32
    unlinks in flight, skipping files already gone; returns how many
    paths it was given. Each unlink is one blocking round trip (an HTTP
    DELETE on object stores, an intermittently stalling syscall on a
    local disk), so overlapping them is what absorbs the stalls."""
    from concurrent.futures import ThreadPoolExecutor

    def rm(p: str) -> None:
        if os.path.exists(p):
            os.remove(p)

    with ThreadPoolExecutor(max_workers=32) as ex:
        return sum(1 for _ in ex.map(rm, paths))
