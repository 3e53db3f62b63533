"""Span recorder and the timing wrappers the traced run installs.

Spans are recorded from the benchmark's own process, around calls into
each pi2spark module's public functions. Wrappers patch the module and
class attributes the library calls through (for example
``pi2spark.maintenance.collect_data_files``), so a call made from inside
another wrapped function becomes a child span. Everything stays in
memory until the run ends.

A span is ``[name, start, end, parent, op_id]``; ``op_id`` is the timed
operation the span belongs to (``None`` outside operations). Counters
are keyed by ``(op_type, name)``.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans and counters. With ``enabled=False`` only the
    operation records are kept (what the untraced run needs to time
    its operations and attribute committed bytes)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.ops: list[dict] = []
        self.counts: dict = defaultdict(float)
        self._stack: list[int] = []
        self._op: dict | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None,
               self._op["id"] if self._op else None]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, op_type: str):
        """One operation: its wall time (``perf_counter`` for the
        duration, epoch ms for matching Spark event-log timestamps)
        and, when enabled, a root span ``op.<type>``."""
        rec = {"id": len(self.ops), "type": op_type, "ok": False}
        self.ops.append(rec)
        self._op = rec
        rec["epoch0"] = time.time()
        rec["t0"] = time.perf_counter()
        try:
            with self.span(f"op.{op_type}"):
                yield rec
            rec["ok"] = True
        finally:
            rec["t1"] = time.perf_counter()
            rec["epoch1"] = time.time()
            rec["wall"] = rec["t1"] - rec["t0"]
            self._op = None

    def count(self, name: str, value: float = 1.0) -> None:
        if self._op is not None:
            self.counts[(self._op["type"], name)] += value

    # -- analysis --

    def self_times(self) -> dict:
        """``{(op_type, span_name): self seconds}`` over spans inside
        operations. Self time is the span's duration minus its direct
        children's durations (spans are strictly nested: one thread)."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict = defaultdict(float)
        for i, (name, t0, t1, _, op_id) in enumerate(self.spans):
            if op_id is not None:
                out[(self.ops[op_id]["type"], name)] += (t1 - t0) - child[i]
        return out


def _wrap(tracer: Tracer, owner, attr: str, span: str, after=None, undo=None):
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(span):
            result = orig(*args, **kwargs)
        if after is not None:
            after(tracer, args, kwargs, result)
        return result

    setattr(owner, attr, wrapper)
    undo.append((owner, attr, orig))


def _count_commit_bytes(tracer, args, kwargs, result):
    added = kwargs.get("added", args[2] if len(args) > 2 else ())
    tracer.count("table.committed_bytes", sum(f.bytes for f in added))
    tracer.count("table.commits")


def install_commit_counter(tracer: Tracer) -> list:
    """Counts committed data-file bytes per operation type; the only
    hook the untraced run installs (``write_amp`` needs it)."""
    from pi2spark import table

    undo: list = []
    _wrap(tracer, table.Table, "commit", "table.commit", _count_commit_bytes, undo)
    return undo


def install_spans(tracer: Tracer) -> list:
    """Wrap every public function whose layer the benchmark reports.
    Returns the undo list for ``uninstall``."""
    from pi2spark import checkpoint, crypto, errors, maintenance, registry, session, table, verify

    undo = install_commit_counter(tracer)

    def sweep(tr, args, kwargs, result):
        tr.count("table.stats_sweep_files", len(result))

    def plan(tr, args, kwargs, result):
        snap, files = result
        if kwargs.get("filters", args[2] if len(args) > 2 else ()):
            tr.count("table.plans")
            tr.count("table.files_planned", len(files))
            tr.count("table.files_in_snapshot", len(snap.files))

    def pass_result(tr, args, kwargs, res):
        if res.skipped:
            return
        tr.count("maintenance.rewritten_bytes", res.rewritten_bytes)
        tr.count("maintenance.rewritten_files", res.rewritten_files)
        tr.count("maintenance.added_files", res.added_files)
        tr.count("maintenance.replans", res.details.get("replans", 0))
        if "affected_files" in res.details:
            tr.count("maintenance.shred_affected_files", res.details["affected_files"])
            tr.count("maintenance.shred_total_files", res.details["total_files"])

    def expired(tr, args, kwargs, res):
        tr.count("maintenance.expired_files", res.get("deleted_files", 0))

    def ledger_record(tr, args, kwargs, res):
        tr.count("checkpoint.records")

    orig_commit = table.Table.commit

    @functools.wraps(orig_commit)
    def commit_counting_races(*args, **kwargs):
        try:
            return orig_commit(*args, **kwargs)
        except errors.ConcurrentCommitError:
            tracer.count("table.commit_retries")
            raise

    table.Table.commit = commit_counting_races
    undo.append((table.Table, "commit", orig_commit))

    targets = [
        (session, "get_spark", "session.get_spark", None),
        (registry.KeyRegistry, "register_all", "registry.register", None),
        (registry.KeyRegistry, "forget", "registry.forget", None),
        (registry.KeyRegistry, "key_map", "registry.key_map", None),
        (crypto, "broadcast_keys", "crypto.broadcast_keys", None),
        (crypto, "encrypt_table", "crypto.encrypt_table", None),
        (crypto, "decrypt_table", "crypto.decrypt_table", None),
        (table.Table, "append", "table.append", None),
        (table.Table, "write_files", "table.write_files", None),
        (table.Table, "snapshot", "table.snapshot", lambda tr, a, k, r: tr.count("table.snapshot_calls")),
        (table.Table, "plan_files", "table.plan", plan),
        (table.Table, "scan", "table.scan", None),
        (table, "collect_data_files", "table.stats_sweep", sweep),
        (maintenance, "collect_data_files", "table.stats_sweep", sweep),
        (maintenance, "rewrite_file_groups", "table.rewrite_groups", None),
        (maintenance, "maintain", "maintenance.maintain", None),
        (maintenance, "forget_and_shred", "maintenance.forget_and_shred", None),
        (maintenance, "cluster", "maintenance.cluster", pass_result),
        (maintenance, "compact", "maintenance.compact", pass_result),
        (maintenance, "shred", "maintenance.shred", pass_result),
        (maintenance, "expire_snapshots", "maintenance.expire", expired),
        (maintenance, "column_boundaries_from_stats", "zorder.boundaries", None),
        (maintenance, "column_boundaries", "zorder.boundaries", None),
        (checkpoint.PassLedger, "record_task", "checkpoint.record", ledger_record),
        (checkpoint.PassLedger, "record_meta", "checkpoint.record", ledger_record),
        (checkpoint.PassLedger, "record_commit", "checkpoint.record", ledger_record),
        (checkpoint.PassLedger, "invalidate_tasks", "checkpoint.record", ledger_record),
        (verify, "content_digest", "verify.digest", None),
    ]
    for owner, attr, span, after in targets:
        _wrap(tracer, owner, attr, span, after, undo)
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)
