"""pi2spark benchmark: closed-loop, single-client churn and erase workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload churn --seed 1 --seconds 18 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see perfbench/README.md). The last line of standard
output is one JSON object ``{correct, attempted, failed, metrics}``.
Exits 1 when a correctness gate fails, 2 when the environment is
refused, and before printing any result when pi2spark is not
importable.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 2
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"
# Spark unified memory: (heap - 300 MiB reserved) * memory.fraction 0.6,
# half of which is execution memory when storage does not borrow it
EXEC_MEM_BYTES = int(((2 << 30) - (300 << 20)) * 0.6 * 0.5)
HEADROOM_BYTES = {"default": 2 << 30, "tiny": 256 << 20}
FS_MAGIC = {0x01021994: "tmpfs", 0xEF53: "ext4", 0x58465342: "xfs",
            0x9123683E: "btrfs", 0x794C7630: "overlayfs"}
MAX_WARMUP_CYCLES = 6
OP_TYPES = ("append", "maintain", "read", "erase", "relayout", "scan")

E2E_UNITS = {"setup_s": "s", "write_s": "s", "read_s": "s", "cycle_s": "s",
             "mb_s": "MB/s", "write_amp": "B/B", "space_amp": "B/B"}
SPAN_LAYERS = (
    "session.get_spark", "synth.generate", "registry.register", "registry.forget",
    "registry.key_map", "crypto.broadcast_keys", "crypto.encrypt_table",
    "crypto.decrypt_table", "table.append", "table.write_files", "table.stats_sweep",
    "table.commit", "table.snapshot", "table.plan", "table.scan", "table.rewrite_groups",
    "maintenance.maintain", "maintenance.forget_and_shred", "maintenance.cluster",
    "maintenance.compact", "maintenance.expire", "maintenance.shred", "zorder.boundaries",
    "checkpoint.record", "verify.digest", "spark.collect",
)
COUNTERS = (
    "table.stats_sweep_files", "table.commits", "table.commit_retries",
    "table.committed_bytes", "table.snapshot_calls", "maintenance.rewritten_bytes",
    "maintenance.rewritten_files", "maintenance.added_files", "maintenance.replans",
    "maintenance.expired_files", "checkpoint.records",
)
SPARK_FIELDS = ("jobs", "stages", "tasks", "job_s", "task_s", "shuffle_bytes", "spill_bytes", "gc_s")


def per_layer_units() -> dict:
    """Every per-layer metric name with its unit, in output order."""
    units = {f"{s}_s": "s" for s in SPAN_LAYERS}
    units["bench.glue_s"] = "s"
    units.update({c: ("B" if c.endswith("bytes") else "count") for c in COUNTERS})
    units.update({"crypto.encrypt_s": "s", "crypto.encrypt_mb_s": "MB/s",
                  "crypto.decrypt_s": "s", "crypto.decrypt_mb_s": "MB/s",
                  "table.files_planned": "count", "table.prune_frac": "ratio",
                  "maintenance.shred_affected_frac": "ratio"})
    for op in OP_TYPES:
        units[f"op.{op}.wall_s"] = "s"
        units[f"op.{op}.self_sum_s"] = "s"
        for f in SPARK_FIELDS:
            units[f"spark.{op}.{f}"] = "B" if f.endswith("bytes") else ("s" if f.endswith("_s") else "count")
        units[f"driver.{op}.gap_s"] = "s"
    return units


def fs_type(path: str) -> str:
    buf = ctypes.create_string_buffer(256)  # struct statfs; f_type is its first long
    if ctypes.CDLL(None, use_errno=True).statfs(path.encode(), buf) != 0:
        return "unknown"
    magic = ctypes.c_long.from_buffer(buf).value & 0xFFFFFFFF
    return FS_MAGIC.get(magic, hex(magic))


class Refused(Exception):
    """The host lacks the headroom the benchmark needs."""


def pin_environment(work: str, size: str) -> dict:
    """Pin cores, driver memory and every scratch location inside the
    work directory; refuse to run without disk and memory headroom."""
    free = shutil.disk_usage(work).free
    if free < HEADROOM_BYTES[size]:
        raise Refused(f"refused: {free} B free under {work}, need {HEADROOM_BYTES[size]}")
    avail = os.sysconf("SC_AVPHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    if avail < (3 << 30):
        raise Refused(f"refused: {avail} B of memory available, need {3 << 30}")
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["PI2SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PI2SPARK_LOCAL_DIR"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (spark-submit's launcher too): no
    # hsperfdata files and no temporary files outside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "cores": CORES,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "PI2SPARK_DRIVER_MEM": DRIVER_MEM,
        "PI2SPARK_LOCAL_DIR": local,
        "table_root": work,
        "work_fs": fs_type(work),
        "work_free_bytes": free,
        "exec_mem_bytes": EXEC_MEM_BYTES,
        "flush_policy": "library fsyncs registry rewrites and ledger records; "
                        "free on tmpfs, a device flush elsewhere; unchanged by the benchmark",
        "java_tmpdir": tmp,
    }


def start_spark(tracer, work: str, trace: bool):
    from pi2spark import session

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        evlog = os.path.join(work, "eventlog")
        os.makedirs(evlog)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{evlog}",
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    with tracer.op("session"):
        spark = session.get_spark("pi2spark-perfbench", cores=CORES,
                                  shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def calibrate() -> float:
    """Seconds for a fixed pure-Python plus hashing kernel: the host's
    current speed, sampled between cycles."""
    import hashlib
    t0 = time.perf_counter()
    x = 0
    for k in range(200_000):
        x += k * k
    hashlib.sha256(b"x" * (4 << 20)).digest()
    return time.perf_counter() - t0


def percentile_note(xs: list[float]) -> str:
    """Median plus the highest of p90/p99 with at least ten samples
    beyond it, and the sample count."""
    n = len(xs)
    note = f"median={statistics.median(xs):.4f} mean={statistics.mean(xs):.4f} n={n}" if xs else "n=0"
    for p in (0.99, 0.9):
        if n * (1 - p) >= 10:
            q = statistics.quantiles(xs, n=100)[int(p * 100) - 1]
            return note + f" p{int(p * 100)}={q:.4f}"
    return note + " (no percentile with >=10 samples beyond it)"


def end_to_end(w, setup_s: float, space_amp: float) -> dict:
    med = statistics.median
    write_total = sum(sum(w.samples.get(k, [])) for k in w.write_ops)
    return {
        "setup_s": setup_s,
        "write_s": med(w.samples[w.write_ops[0]]),
        "read_s": med(w.samples["read"]),
        "cycle_s": med(w.cycle_walls),
        "mb_s": w.user_mb / write_total if write_total else 0.0,
        "write_amp": w.write_amp(),
        "space_amp": space_amp,
    }


def per_layer(w, tracer, spark_stats: dict) -> dict:
    timed = [o for o in tracer.ops if o["type"] in OP_TYPES and o["ok"]]
    cycles = max(w.cycles, 1)
    selfs = tracer.self_times()
    out = {name: 0.0 for name in per_layer_units()}

    def total(name, types=OP_TYPES):
        return sum(v for (typ, n), v in selfs.items() if n == name and typ in types)

    def count(name):
        return sum(v for (typ, n), v in tracer.counts.items() if n == name and typ in OP_TYPES)

    for s in SPAN_LAYERS:
        out[f"{s}_s"] = total(s) / cycles
    out["bench.glue_s"] = sum(total(f"op.{t}", (t,)) for t in OP_TYPES) / cycles
    for c in COUNTERS:
        out[c] = count(c) / cycles
    n_setup = sum(1 for o in tracer.ops if o["type"] == "setup")
    out["session.get_spark_s"] = total("session.get_spark", ("session",))
    for s in ("synth.generate", "registry.register"):
        out[f"{s}_s"] = total(s, ("setup",)) / n_setup
    for kind in ("encrypt", "decrypt"):
        probes = [o["wall"] for o in tracer.ops if o["type"] == f"probe.{kind}"]
        if probes:
            out[f"crypto.{kind}_s"] = statistics.mean(probes)
            out[f"crypto.{kind}_mb_s"] = w.probe_mb.get(kind, 0.0) / sum(probes)
    plans = count("table.plans")
    if plans:
        out["table.files_planned"] = count("table.files_planned") / plans
        out["table.prune_frac"] = count("table.files_planned") / count("table.files_in_snapshot")
    total_files = count("maintenance.shred_total_files")
    if total_files:
        out["maintenance.shred_affected_frac"] = count("maintenance.shred_affected_files") / total_files
    for op in OP_TYPES:
        ops = [o for o in timed if o["type"] == op]
        if not ops:
            continue
        n = len(ops)
        out[f"op.{op}.wall_s"] = sum(o["wall"] for o in ops) / n
        out[f"op.{op}.self_sum_s"] = sum(v for (typ, _), v in selfs.items() if typ == op) / n
        for f in SPARK_FIELDS:
            out[f"spark.{op}.{f}"] = sum(spark_stats[o["id"]][f] for o in ops) / n
        out[f"driver.{op}.gap_s"] = out[f"op.{op}.wall_s"] - out[f"spark.{op}.job_s"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("churn", "erase"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default")
    ap.add_argument("--fault", choices=("skip-forget",), default=None,
                    help="plant a defect (the gates must catch it)")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    sys.path.insert(0, ROOT)
    try:
        import pi2spark  # noqa: F401
    except ImportError as e:
        print(f"pi2spark is not importable from {ROOT}: {e}", file=sys.stderr)
        return 3
    from perfbench import sparklog
    from perfbench.trace import Tracer, install_commit_counter, install_spans, uninstall
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        try:
            env = pin_environment(work, args.size)
        except Refused as e:
            print(e, file=sys.stderr)
            return 2
        for k, v in env.items():
            print(f"# env {k}={v}")
        sys.stdout.flush()

        tracer = Tracer(enabled=trace)
        undo = install_spans(tracer) if trace else install_commit_counter(tracer)
        spark = start_spark(tracer, work, trace)
        try:
            w = WORKLOADS[args.workload](spark, tracer, args.seed, args.size, work, trace, args.fault)
            setup_walls = w.setup()
            warm0 = time.perf_counter()
            w.run_cycle()
            while not w.warmed() and w.turn < MAX_WARMUP_CYCLES:
                w.run_cycle()
            warm_s = time.perf_counter() - warm0
            session_s = next(o["wall"] for o in tracer.ops if o["type"] == "session")
            setup_s = session_s + statistics.median(setup_walls) + warm_s

            w.measuring = True
            t0 = time.perf_counter()
            cal = []
            while not w.done(time.perf_counter() - t0, args.seconds):
                w.run_cycle()
                cal.append(min(calibrate() for _ in range(3)))
            measured_s = time.perf_counter() - t0
            w.measuring = False

            live = w.live_bytes()
            space_amp = w.root_bytes() / live
            w.final_gates()
            print(f"# run measured_s={measured_s:.3f} cycles={w.cycles} setup_walls="
                  f"{[round(x, 4) for x in setup_walls]} session_s={session_s:.3f} warmup_s={warm_s:.3f}")
            print(f"# host cal_median={statistics.median(cal):.5f} cal_min={min(cal):.5f} cal_max={max(cal):.5f}")
            print(f"# table live_bytes={live} exec_mem_bytes={EXEC_MEM_BYTES} "
                  f"ratio={live / EXEC_MEM_BYTES:.3f}")
            for kind, xs in sorted(w.samples.items()):
                print(f"# {kind}_s {percentile_note(xs)}")
                print(f"# samples {kind} {[round(x, 4) for x in xs]}")
            print(f"# samples cal {[round(x, 4) for x in cal]}")
            for k, v in w.notes().items():
                print(f"# {k}={v:.6g}")
        finally:
            stop_spark(spark)
            uninstall(undo)

        if trace:
            metrics = per_layer(w, tracer, sparklog.op_stats(os.path.join(work, "eventlog"), tracer.ops))
            units = per_layer_units()
        else:
            metrics = end_to_end(w, setup_s, space_amp)
            units = E2E_UNITS
        for name, unit in units.items():
            print(f"# metric {name} = {metrics[name]:.6g} {unit}")
        for err in w.gate_errors:
            print(f"# GATE FAILED: {err}")
        correct = not w.gate_errors
        print(json.dumps({
            "correct": correct,
            "attempted": w.attempted,
            "failed": w.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
