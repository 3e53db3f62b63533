"""The closed-loop, single-client workloads and their gates.

Every workload builds the same base table (seeded
``synthesize_source_files`` rows, encrypted, fully clustered), runs one
warm-up cycle, then repeats its cycle until the run's time is spent.
All pi2spark calls go through module or class attributes so the traced
run's wrappers see them.

A cycle's timed operations:

- ``churn``: ``append`` (encrypted ``Table.append`` of a fresh seeded
  batch), ``maintain`` (one ``maintain()`` cycle), ``read`` (one
  subject point read with decrypt and aggregate);
- ``erase``: ``erase`` (``forget_and_shred`` of one subject, expiry to
  one snapshot, key re-broadcast), ``read`` (a point read of a live
  subject), ``relayout`` (full ``cluster(incremental=False)``,
  alternating hilbert and morton so every pass shuffles, then expiry)
  and ``scan`` (full decrypted scan with ``content_digest``).
"""

from __future__ import annotations

import json
import os
import random
import shutil

from pyspark.errors import PythonException
from pyspark.sql import functions as F

from pi2spark import crypto, maintenance, registry, synth, table, verify
from pi2spark.errors import Pi2SparkError
from pi2spark.spec import ProtectionSpec

MB = 1e6

SIZES = {
    # base_rows * mean row size (about 2.35 KB at max_len 16000) is
    # the base table's plaintext; three churn batches fill one target
    # file, so compaction fires on a fixed period
    "default": dict(base_rows=10_000, max_len=16_000, batch_rows=1_000,
                    target_bytes=8 << 20, setup_reps=3, partitions=4),
    "tiny": dict(base_rows=1_200, max_len=4_000, batch_rows=150,
                 target_bytes=1 << 20, setup_reps=2, partitions=2),
}

MEGA = "org0/megarepo"
SUBJECTS = [MEGA] + [f"org{o}/repo{r}" for o in range(20) for r in range(25)]


def _agg_exprs():
    content = F.col("content")
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length(content)), F.lit(0)).alias("chars"),
        F.coalesce(F.sum(F.crc32(content.cast("binary"))), F.lit(0)).alias("crc"),
    ]


def repo_aggregates(df) -> dict:
    """``{repo: (rows, content chars, sum of crc32(content))}``."""
    return {r["repo"]: (r["n"], r["chars"], r["crc"])
            for r in df.groupBy("repo").agg(*_agg_exprs()).collect()}


class Workload:
    """Shared set-up, operation runner and accounting."""

    name = ""

    def __init__(self, spark, tracer, seed: int, size: str, work: str, trace: bool, fault: str | None):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.cfg = SIZES[size]
        self.work = work
        self.trace = trace
        self.fault = fault
        self.spec = ProtectionSpec.for_source_files()
        self.measuring = False
        self.attempted = 0
        self.failed = 0
        self.turn = 0  # cycles run, warm-up included
        self.cycles = 0  # measured cycles
        self.cycle_walls: list[float] = []  # sum of a measured cycle's op walls
        self.samples: dict[str, list[float]] = {}
        self.gate_errors: list[str] = []
        self.user_mb = 0.0  # plaintext MB the write operations covered
        self.user_bytes = 0  # write_amp denominator (see write_amp)
        self.probe_mb: dict[str, float] = {}
        self.rng = random.Random(seed)

    # -- operations --

    def op(self, kind: str, fn):
        """Run one timed operation. A ``pi2spark.errors`` exception
        counts as a failed op (no latency sample); anything else
        propagates and aborts the run."""
        typ = kind if self.measuring else "warmup"
        sc = self.spark.sparkContext
        try:
            with self.tr.op(typ) as rec:
                if self.trace:
                    sc.setJobGroup(f"{typ}:{rec['id']}", typ)
                result = fn()
        except (Pi2SparkError, PythonException) as e:
            # a pi2spark error raised in an executor arrives wrapped
            if not (isinstance(e, Pi2SparkError) or "pi2spark.errors." in str(e)):
                raise
            if self.measuring:
                self.attempted += 1
                self.failed += 1
            return None
        finally:
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if self.measuring:
            self.attempted += 1
            self.samples.setdefault(kind, []).append(rec["wall"])
        return result

    def probe(self, kind: str, df, mb: float) -> None:
        """Traced runs only: materialise ``df`` into Spark's noop sink
        as its own op type, outside every timed operation."""
        if not (self.trace and self.measuring):
            return
        with self.tr.op(f"probe.{kind}"):
            df.write.format("noop").mode("overwrite").save()
        self.probe_mb[kind] = self.probe_mb.get(kind, 0.0) + mb

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.gate_errors.append(what)

    # -- set-up --

    def build_base(self, rep: int):
        cfg, spark = self.cfg, self.spark
        rep_dir = os.path.join(self.work, f"rep{rep}")
        os.makedirs(rep_dir)
        with self.tr.span("synth.generate"):
            plain = synth.synthesize_source_files(
                spark, cfg["base_rows"], seed=self.seed,
                partitions=cfg["partitions"], max_len=cfg["max_len"],
            ).cache()
            plain.count()
        reg = registry.KeyRegistry(os.path.join(rep_dir, "kms.jsonl"))
        subjects = sorted(r["repo"] for r in plain.select("repo").distinct().collect())
        # every subject the generator can emit, so churn batches never
        # meet an unregistered subject
        reg.register_all(SUBJECTS)
        keys = crypto.broadcast_keys(spark, reg.key_map())
        tbl = table.Table.create(os.path.join(rep_dir, "tbl"))
        tbl.append(crypto.encrypt_table(plain, self.spec, keys), spark)
        maintenance.cluster(tbl, spark, target_file_bytes=cfg["target_bytes"])
        maintenance.expire_snapshots(tbl, keep_last=1)
        return plain, reg, keys, tbl, subjects, rep_dir

    def setup(self) -> list[float]:
        """Build the base table ``setup_reps`` times (each from
        scratch, timed as one ``setup`` op) and keep the last build.
        Returns the per-build walls."""
        prev = None
        for rep in range(self.cfg["setup_reps"]):
            with self.tr.op("setup"):
                built = self.build_base(rep)
            if prev is not None:
                prev[0].unpersist()
                prev[2].unpersist()
                shutil.rmtree(prev[5])
            prev = built
        self.plain, self.reg, self.keys, self.tbl, self.subjects, _ = prev
        self.plain_aggs = repo_aggregates(self.plain)
        self.live = [s for s in self.subjects if s != MEGA]
        self.rng.shuffle(self.live)
        self.table_plain_mb = sum(v[1] for v in self.plain_aggs.values()) / MB
        return [o["wall"] for o in self.tr.ops if o["type"] == "setup"]

    # -- shared operations --

    def point_read(self, subject: str):
        df = self.tbl.scan(
            self.spark, filters=[table.ColumnPredicate("repo", "eq", subject)]
        ).where(F.col("repo") == subject)
        dec = crypto.decrypt_table(df, self.spec, self.keys)
        with self.tr.span("spark.collect"):
            row = dec.agg(*_agg_exprs()).collect()[0]
        return (row["n"], row["chars"], row["crc"])

    def read_and_check(self, subject: str, expected) -> None:
        got = self.op("read", lambda: self.point_read(subject))
        if got is not None:
            self.check(got == expected, f"read {subject}: got {got}, want {expected}")
        if self.trace and self.measuring:
            df = crypto.decrypt_table(
                self.tbl.scan(self.spark, filters=[table.ColumnPredicate("repo", "eq", subject)])
                .where(F.col("repo") == subject), self.spec, self.keys)
            self.probe("decrypt", df, expected[1] / MB)

    def full_digest(self) -> str:
        return verify.content_digest(crypto.decrypt_table(self.tbl.scan(self.spark), self.spec, self.keys))

    # -- end-of-run figures --

    def live_bytes(self) -> int:
        return sum(f.bytes for f in self.tbl.snapshot().files)

    def root_bytes(self) -> int:
        total = 0
        for d, _, names in os.walk(self.tbl.root):
            total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
        return total

    def run_cycle(self) -> None:
        before = sum(map(sum, self.samples.values()))
        self.cycle()
        self.turn += 1
        if self.measuring:
            self.cycles += 1
            self.cycle_walls.append(sum(map(sum, self.samples.values())) - before)

    def warmed(self) -> bool:
        """Whether the warm-up may stop (after one cycle by default)."""
        return True

    def done(self, elapsed: float, seconds: float) -> bool:
        return elapsed >= seconds

    def notes(self) -> dict:
        """Extra figures for the readable output (not gated)."""
        return {}

    def write_amp(self) -> float:
        """Data-file bytes committed by the timed operations over the
        workload's user bytes (``user_bytes``; churn: bytes its
        appends committed)."""
        committed = sum(v for (typ, name), v in self.tr.counts.items()
                        if name == "table.committed_bytes" and typ in self.write_ops)
        user = self.user_bytes or self.tr.counts[("append", "table.committed_bytes")]
        return committed / user if user else 0.0

    def cycle(self) -> None:
        raise NotImplementedError

    def final_gates(self) -> None:
        pass


class Churn(Workload):
    name = "churn"
    write_ops = ("append", "maintain")

    def setup(self):
        walls = super().setup()
        self.expected = dict(self.plain_aggs)
        self.batch_seeds: list[int] = []
        self.last_compacted = False
        return walls

    def cycle(self) -> None:
        cfg, spark = self.cfg, self.spark
        bseed = self.seed * 1_000 + len(self.batch_seeds) + 1
        self.batch_seeds.append(bseed)
        batch = synth.synthesize_source_files(
            spark, cfg["batch_rows"], seed=bseed, partitions=1, max_len=cfg["max_len"]
        ).cache()
        aggs = repo_aggregates(batch)
        for repo, (n, c, h) in aggs.items():
            e = self.expected.get(repo, (0, 0, 0))
            self.expected[repo] = (e[0] + n, e[1] + c, e[2] + h)
        batch_mb = sum(v[1] for v in aggs.values()) / MB
        self.probe("encrypt", crypto.encrypt_table(batch, self.spec, self.keys), batch_mb)
        if self.op("append", lambda: self.tbl.append(crypto.encrypt_table(batch, self.spec, self.keys), spark)):
            if self.measuring:
                self.user_mb += batch_mb
        batch.unpersist()
        out = self.op("maintain", lambda: maintenance.maintain(
            self.tbl, spark, target_file_bytes=cfg["target_bytes"],
            cluster_backlog_threshold=1, small_file_threshold=3,
        ))
        self.last_compacted = bool(out and "compact" in out)
        subject = self.live[self.turn % len(self.live)]
        self.read_and_check(subject, self.expected.get(subject, (0, 0, 0)))

    def notes(self) -> dict:
        spent = sum(self.samples.get("append", [])) + sum(self.samples.get("maintain", []))
        return {"ingest_mb_s": self.user_mb / spent if spent else 0.0}

    def warmed(self) -> bool:
        return self.last_compacted

    def done(self, elapsed: float, seconds: float) -> bool:
        # warm up to a compaction and end on one, so every run covers
        # whole maintenance periods (write_amp and space_amp then do
        # not depend on where in the period the clock ran out)
        return elapsed >= seconds and (self.last_compacted or elapsed >= 2 * seconds)

    def final_gates(self) -> None:
        plain = self.plain
        for bseed in self.batch_seeds:
            plain = plain.unionByName(synth.synthesize_source_files(
                self.spark, self.cfg["batch_rows"], seed=bseed, partitions=1,
                max_len=self.cfg["max_len"]))
        want = verify.content_digest(plain)
        got = self.full_digest()
        self.check(got == want, f"churn final digest {got} != plain digest {want}")


class Erase(Workload):
    name = "erase"
    write_ops = ("erase",)

    def setup(self):
        walls = super().setup()
        self.erased: list[str] = []
        self.subject_bytes = 0  # plaintext bytes of the subjects erased
        self.queue = list(self.live)
        return walls

    def cycle(self) -> None:
        spark, cfg = self.spark, self.cfg
        subject = self.queue.pop()
        skip_forget = self.fault == "skip-forget" and self.measuring and self.cycles == 0

        def erase():
            if skip_forget:
                maintenance.shred(self.tbl, spark, [subject], target_file_bytes=cfg["target_bytes"])
            else:
                maintenance.forget_and_shred(self.tbl, spark, self.reg, subject,
                                             target_file_bytes=cfg["target_bytes"])
            maintenance.expire_snapshots(self.tbl, keep_last=1)
            old, self.keys = self.keys, crypto.broadcast_keys(spark, self.reg.key_map())
            old.unpersist()
            return True

        live_bytes = self.live_bytes()
        if self.op("erase", erase) and self.measuring:
            self.user_mb += self.table_plain_mb
            self.user_bytes += live_bytes
            self.subject_bytes += self.plain_aggs[subject][1]
        self.erased.append(subject)
        other = self.queue[self.turn % len(self.queue)]
        self.read_and_check(other, self.plain_aggs[other])
        curve = ("hilbert", "morton")[self.turn % 2]

        def relayout():
            maintenance.cluster(self.tbl, spark, curve=curve, incremental=False,
                                target_file_bytes=cfg["target_bytes"])
            maintenance.expire_snapshots(self.tbl, keep_last=1)
            return True

        self.op("relayout", relayout)
        digest = self.op("scan", self.full_digest)
        if digest is not None:
            want = verify.content_digest(
                self.plain.withColumn("shredded", F.col("repo").isin(self.erased)))
            self.check(digest == want, f"scan digest {digest} != plain digest with erasures {want}")
        if self.trace and self.measuring:
            self.probe("decrypt", crypto.decrypt_table(self.tbl.scan(spark), self.spec, self.keys),
                       self.table_plain_mb)

    def notes(self) -> dict:
        committed = self.tr.counts[("erase", "table.committed_bytes")]
        return {"erased_subject_bytes": self.subject_bytes,
                "write_amp_per_subject_byte": committed / self.subject_bytes if self.subject_bytes else 0.0}

    def final_gates(self) -> None:
        erased = self.erased
        on_disk = {}
        with open(self.reg._path, "r", encoding="utf-8") as fh:
            for line in fh:
                cmd = json.loads(line)
                if cmd.get("key_b64") is not None:
                    on_disk[cmd["subject_id"]] = True
        for s in erased:
            self.check(self.reg.latest_key(s) is None, f"erase {s}: key still in registry")
            self.check(s not in on_disk, f"erase {s}: key bytes still in the registry log")
        raw = self.tbl.scan(self.spark).where(F.col("repo").isin(erased))
        n_raw = raw.count()
        n_left = raw.where(F.col("content_enc").isNotNull() | ~F.col("shredded")).count()
        want_rows = sum(self.plain_aggs[s][0] for s in erased)
        self.check(n_raw == want_rows, f"erased subjects hold {n_raw} rows, want {want_rows}")
        self.check(n_left == 0, f"{n_left} erased rows still carry ciphertext or shredded=false")
        dec = crypto.decrypt_table(self.tbl.scan(self.spark), self.spec, self.keys)
        bad = dec.where(F.col("repo").isin(erased) & (F.col("content").isNotNull() | ~F.col("shredded"))).count()
        self.check(bad == 0, f"{bad} erased rows do not read back as content NULL, shredded=true")
        keep = ~F.col("repo").isin(erased)
        got = verify.content_digest(dec.where(keep))
        want = verify.content_digest(self.plain.where(keep))
        self.check(got == want, f"digest over other subjects {got} != {want}")
        live = {f.path for f in self.tbl.snapshot().files}
        data_root = os.path.join(self.tbl.root, "data")
        on_fs = {
            os.path.relpath(os.path.join(d, n), self.tbl.root)
            for d, _, names in os.walk(data_root) for n in names if n.endswith(".parquet")
        }
        self.check(on_fs == live, f"{len(on_fs - live)} unreferenced data files left after expiry")


WORKLOADS = {w.name: w for w in (Churn, Erase)}

