"""spark-submit entry point for the maintenance engine.

The north rule (BASELINE.json:14) requires the engine to run via
``spark-submit --py-files`` on a multi-executor cluster. Package and
launch:

    python tools/make_pyfiles.py                 # -> dist/pi2spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/pi2spark.zip \\
        pi2spark/cli.py <command> --table /path/to/table [options]

Commands (one maintenance pass each — composable from a scheduler):

    init      create a table
    ingest    synthesize + encrypt-append (demo/bench ingestion);
              stores the protection schema in table metadata on first run
    compact   bin-packing small-file compaction (B3)
    cluster   Z-order / Hilbert clustering rewrite (B4);
              --incremental rewrites only not-yet-clustered files
    shred     FORGET subjects + MERGE-shred their rows (B8 + A19 FORGET)
    rotate    ROTATE subjects' keys + re-encrypt their rows under the
              new material, then retire (destroy) the old key bytes
    expire    reference-counted snapshot expiry (B7)
    orphans   delete data files referenced by no snapshot (age-guarded)
    verify    decrypted scan digest (B11 invariant surface);
              --keyed uses the join-based key distribution
    status    snapshot log + file counts

All passes accept ``--pass-id`` for checkpoint resume (B10): rerunning
a killed pass with the same id skips completed rewrite groups.
"""

from __future__ import annotations

import argparse
import json
import sys


def _coerce(v: str):
    """CLI predicate value: int, then float, else string."""
    for cast in (int, float):
        try:
            return cast(v)
        except ValueError:
            continue
    return v


def _parse_where(where: str):
    """Comma-joined conjunction of stats predicates:
    ``col=v`` (eq), ``col=a|b|c`` (IN), ``col<=v``, ``col>=v``,
    ``col=lo..hi`` (BETWEEN)."""
    from pi2spark.table import ColumnPredicate

    preds = []
    for term in filter(None, (s.strip() for s in where.split(","))):
        if "<=" in term:
            col, v = term.split("<=", 1)
            preds.append(ColumnPredicate(col.strip(), "le", _coerce(v.strip())))
        elif ">=" in term:
            col, v = term.split(">=", 1)
            preds.append(ColumnPredicate(col.strip(), "ge", _coerce(v.strip())))
        elif "=" in term:
            col, v = term.split("=", 1)
            col, v = col.strip(), v.strip()
            if ".." in v:
                lo, hi = v.split("..", 1)
                preds.append(
                    ColumnPredicate(col, "between", (_coerce(lo), _coerce(hi)))
                )
            elif "|" in v:
                preds.append(
                    ColumnPredicate(
                        col, "in", values=tuple(_coerce(x) for x in v.split("|"))
                    )
                )
            else:
                preds.append(ColumnPredicate(col, "eq", _coerce(v)))
        else:
            raise SystemExit(f"cannot parse --where term {term!r}")
    return preds


def _spark(args):
    # under spark-submit the session master/conf come from the submit
    # command; builder.getOrCreate() attaches to it
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.appName(f"pi2spark-{args.command}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if args.local_cores:
        b = b.master(f"local[{args.local_cores}]").config(
            "spark.sql.shuffle.partitions", str(args.local_cores)
        )
    return b.getOrCreate()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="pi2spark", description=__doc__)
    p.add_argument("command", choices=[
        "init", "ingest", "compact", "cluster", "shred", "rotate", "expire",
        "orphans", "verify", "status", "maintain", "delete", "update",
    ])
    p.add_argument("--table", required=True, help="table root directory")
    p.add_argument("--registry", help="KMS command-log path (default <table>/../kms.jsonl)")
    p.add_argument("--pass-id", default=None, help="resume a previous pass")
    p.add_argument("--target-file-mb", type=int, default=128)
    p.add_argument("--curve", choices=["morton", "hilbert"], default="morton")
    p.add_argument("--cluster-columns", default="repo,lang,path")
    p.add_argument("--bits", type=int, default=16)
    p.add_argument("--subjects", default="", help="comma-separated subjects to shred")
    p.add_argument("--keep-last", type=int, default=1)
    p.add_argument("--rows", type=int, default=100_000, help="ingest: rows to synthesize")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--incremental", action="store_true",
                   help="cluster: rewrite only files not yet clustered")
    p.add_argument("--older-than-hours", type=float, default=3.0,
                   help="orphans: only delete files older than this")
    p.add_argument("--keyed", action="store_true",
                   help="verify: distribute keys via join instead of broadcast")
    p.add_argument("--local-cores", type=int, default=0,
                   help="run on local[N] instead of the submitted master")
    p.add_argument("--where", default="",
                   help="delete/update: comma-joined stats predicates — "
                        "col=v, col=a|b (IN), col<=v, col>=v, col=lo..hi (BETWEEN)")
    p.add_argument("--condition", default=None,
                   help="delete/update: extra row-level SQL condition (no pruning)")
    p.add_argument("--set", action="append", default=None, metavar="COL=EXPR",
                   help="update: SET assignment, repeatable; EXPR is SQL over the pre-update row")
    args = p.parse_args(argv)

    import os

    from pi2spark.table import Table

    registry_path = args.registry or os.path.join(os.path.dirname(args.table.rstrip("/")), "kms.jsonl")
    target = args.target_file_mb << 20
    out: dict = {"command": args.command, "table": args.table}

    if args.command == "init":
        Table.create(args.table)
        out["created"] = True
        print(json.dumps(out))
        return 0

    t = Table.load(args.table)

    if args.command == "status":
        meta = t._metadata()
        out["current_snapshot_id"] = meta["current_snapshot_id"]
        out["snapshots"] = [
            {k: s[k] for k in ("snapshot_id", "operation", "timestamp_ms")} | s.get("summary", {})
            for s in meta["snapshots"]
        ]
        print(json.dumps(out))
        return 0

    if args.command == "expire":
        from pi2spark.maintenance import expire_snapshots

        out.update(expire_snapshots(t, keep_last=args.keep_last))
        print(json.dumps(out))
        return 0

    if args.command == "orphans":
        import time as _time

        from pi2spark.maintenance import remove_orphans

        cutoff = int((_time.time() - args.older_than_hours * 3600) * 1000)
        out.update(remove_orphans(t, older_than_ms=cutoff))
        print(json.dumps(out))
        return 0

    spark = _spark(args)
    from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
    from pi2spark.errors import SchemaNotFoundError
    from pi2spark.registry import KeyRegistry
    from pi2spark.spec import ProtectionSpec, annotate_schema

    # the stored schema document is authoritative (A2/A3); the canonical
    # source-files spec is the pre-first-ingest fallback
    try:
        spec = t.protection_spec()
    except SchemaNotFoundError:
        spec = ProtectionSpec.for_source_files()
    reg = KeyRegistry(registry_path)

    if args.command == "ingest":
        from pi2spark.synth import synthesize_source_files

        plain = synthesize_source_files(spark, args.rows, seed=args.seed).cache()
        reg.register_from_df(plain.select("repo").distinct())
        keys = broadcast_keys(spark, reg.key_map())
        try:
            t.protection_spec()
        except SchemaNotFoundError:
            t.set_protection(
                annotate_schema(plain.schema, spec.subject_column, spec.pii_columns)
            )
        snap = t.append(encrypt_table(plain, spec, keys), spark)
        out.update({"snapshot_id": snap.snapshot_id, "rows": snap.summary["total-rows"]})
    elif args.command == "maintain":
        # one steady-state cycle — the idempotent unit a scheduler
        # (cron/Airflow) runs continuously; clustering params default
        # to the table's own layout provenance, so no layout flags are
        # needed (or wanted) here
        from pi2spark.maintenance import maintain

        res = maintain(
            t, spark, target_file_bytes=target, keep_last_snapshots=args.keep_last
        )
        out.update(
            {
                k: (v.__dict__ | {"details": v.details} if hasattr(v, "details") else v)
                for k, v in res.items()
            }
        )
    elif args.command == "compact":
        from pi2spark.maintenance import compact

        r = compact(t, spark, target_file_bytes=target, pass_id=args.pass_id)
        out.update(r.__dict__ | {"details": r.details})
    elif args.command == "cluster":
        from pi2spark.maintenance import cluster

        r = cluster(t, spark, columns=tuple(args.cluster_columns.split(",")),
                    curve=args.curve, bits=args.bits,
                    target_file_bytes=target, pass_id=args.pass_id,
                    incremental=args.incremental)
        out.update(r.__dict__ | {"details": r.details})
    elif args.command == "shred":
        from pi2spark.maintenance import shred

        subjects = [s for s in args.subjects.split(",") if s]
        if not subjects:
            print("error: --subjects required for shred", file=sys.stderr)
            return 2
        for s in subjects:
            reg.forget(s)
        r = shred(t, spark, subjects, target_file_bytes=target, pass_id=args.pass_id)
        out.update(r.__dict__ | {"details": r.details})
    elif args.command == "rotate":
        from pi2spark.maintenance import rotate_many_and_reencrypt

        subjects = sorted({s for s in args.subjects.split(",") if s})
        if not subjects:
            print("error: --subjects required for rotate", file=sys.stderr)
            return 2
        # ONE pass for the whole cohort: each affected file is
        # rewritten once even when it holds several rotating subjects;
        # a supplied --pass-id resumes the cohort pass (the minted
        # material ids are in its ledger, keyed by subject — list
        # order is irrelevant)
        r = rotate_many_and_reencrypt(
            t, spark, reg, subjects, target_file_bytes=target, pass_id=args.pass_id
        )
        out.update(r.__dict__ | {"details": r.details, "subjects": subjects})
    elif args.command == "delete":
        from pi2spark.maintenance import delete_where

        preds = _parse_where(args.where)
        if not preds and not args.condition:
            print("error: delete needs --where and/or --condition", file=sys.stderr)
            return 2
        r = delete_where(t, spark, preds, extra_condition=args.condition,
                         target_file_bytes=target, pass_id=args.pass_id)
        out.update(r.__dict__ | {"details": r.details})
    elif args.command == "update":
        from pi2spark.maintenance import update_where

        preds = _parse_where(args.where)
        if not args.set:
            print("error: update needs at least one --set COL=EXPR", file=sys.stderr)
            return 2
        assignments = {}
        for a in args.set:
            if "=" not in a:
                print(f"error: bad --set {a!r} (want COL=EXPR)", file=sys.stderr)
                return 2
            c, e = a.split("=", 1)
            assignments[c.strip()] = e.strip()
        r = update_where(t, spark, preds, assignments,
                         extra_condition=args.condition,
                         target_file_bytes=target, pass_id=args.pass_id)
        out.update(r.__dict__ | {"details": r.details})
    elif args.command == "verify":
        from pi2spark.verify import content_digest

        keys = reg.key_df(spark) if args.keyed else broadcast_keys(spark, reg.key_map())
        scan = decrypt_table(t.scan(spark), spec, keys)
        out["scan_digest"] = content_digest(scan)
        out["rows"] = int(out["scan_digest"].rsplit("-", 1)[1])
        out["key_distribution"] = "join" if args.keyed else "broadcast"

    print(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
