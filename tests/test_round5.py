"""Round-5 regression tests for the r4 ADVICE findings:

1. ``maintain()`` preserves a custom clustering layout (columns /
   curve / bits default from the table's own provenance, not module
   defaults).
2. The no-shuffle merge path refuses to merge files from different
   boundary generations (an incremental pass mints its own key space;
   coincidentally disjoint [min,max] zkey ranges must not fake a
   clustering).
3. A legacy provenance summary with no recorded ``bits`` is a
   mismatch (conservative shuffle path), as is one with no
   ``zkey_gen``.
4. ``_persist_schema`` serializes concurrent read-merge-rename so two
   writers adding different columns both survive.
5. ``forget_stream`` processes an oversized FORGET batch in bounded
   chunks — every subject shredded, pass ids deterministic.
"""

import hashlib
import threading

import pytest
from pyspark.sql import functions as F

from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
from pi2spark.registry import KeyRegistry
from pi2spark.spec import ProtectionSpec
from pi2spark.synth import synthesize_source_files
from pi2spark.table import Table

SPEC = ProtectionSpec.for_source_files()


def _mk(spark, lo, hi):
    return spark.createDataFrame(
        [
            (
                f"org{i % 7}/r",
                f"p{i}.py",
                f"{i:040x}",
                "python",
                hashlib.sha256(str(i).encode()).hexdigest() * 8,
            )
            for i in range(lo, hi)
        ],
        "repo string, path string, commit string, lang string, content string",
    )


def test_maintain_preserves_custom_cluster_layout(spark, tmp_path):
    from pi2spark.maintenance import cluster, maintain

    t = Table.create(str(tmp_path / "tbl"))
    for k in range(3):
        t.append(_mk(spark, k * 100, (k + 1) * 100).repartition(4), spark)

    # custom layout: different columns, curve and bit depth
    cluster(t, spark, columns=("lang", "repo"), curve="hilbert", bits=10,
            target_file_bytes=64 << 10)
    t.append(_mk(spark, 300, 500).repartition(4), spark)

    ran = maintain(t, spark, target_file_bytes=64 << 10,
                   small_file_threshold=64, cluster_backlog_threshold=2)
    assert "cluster" in ran
    # the steady-state pass clustered the appends under the TABLE's
    # layout, not the module defaults
    from pi2spark.maintenance import _cluster_provenance

    prov = _cluster_provenance(t)
    assert prov["cluster_columns"] == ["lang", "repo"]
    assert prov["curve"] == "hilbert"
    assert prov["bits"] == 10
    # explicit arguments still win
    ran2 = maintain(t, spark, target_file_bytes=64 << 10,
                    small_file_threshold=64, cluster_backlog_threshold=1,
                    cluster_columns=("repo",), curve="morton", cluster_bits=8)
    if "cluster" in ran2:
        prov2 = _cluster_provenance(t)
        assert prov2["cluster_columns"] == ["repo"]


def test_merge_path_refuses_mixed_generations(spark, tmp_path):
    from pi2spark.maintenance import cluster

    t = Table.create(str(tmp_path / "tbl"))
    t.append(_mk(spark, 0, 300).repartition(6), spark)
    r1 = cluster(t, spark, target_file_bytes=8 << 10, bits=12)
    assert r1.details.get("mode") != "merge-no-shuffle"

    # appends → incremental clustering mints a SECOND key generation
    t.append(_mk(spark, 300, 500).repartition(4), spark)
    r2 = cluster(t, spark, target_file_bytes=8 << 10, bits=12, incremental=True)
    assert not r2.skipped
    # every file now carries real zkey stats, but two generations exist:
    # a re-cluster must take the shuffle path, not the merge path
    assert all(
        "zkey" in f.stats and f.stats["zkey"][0] is not None
        for f in t.snapshot().files
    )
    assert len(t.snapshot().files) > 1
    r3 = cluster(t, spark, target_file_bytes=8 << 10, bits=12)
    assert r3.details.get("mode") != "merge-no-shuffle"
    # ... and that full re-cluster unified the key space: NOW the merge
    # path opens again
    assert len(t.snapshot().files) > 1
    r4 = cluster(t, spark, target_file_bytes=16 << 10, bits=12)
    assert r4.details.get("mode") == "merge-no-shuffle"
    assert t.scan(spark).count() == 500


def test_provenance_gate_requires_bits_and_generation(tmp_path):
    from pi2spark.maintenance import _cluster_provenance_matches

    class _Stub(Table):
        def __init__(self, summ):
            self._summ = summ

        def snapshots(self):
            return [{"summary": self._summ}]

        def schema_ops(self):
            return []  # no schema evolution: recorded names are today's

    base = {"cluster_columns": ["repo", "lang", "path"], "curve": "morton"}
    # legacy summary without bits → conservative mismatch
    assert _cluster_provenance_matches(
        _Stub({**base, "zkey_gen": "g1"}), ["repo", "lang", "path"], "morton", 16
    ) is None
    # incremental summary without zkey_gen → mismatch
    assert _cluster_provenance_matches(
        _Stub({**base, "bits": 16}), ["repo", "lang", "path"], "morton", 16
    ) is None
    # complete provenance → returns the generation id
    assert _cluster_provenance_matches(
        _Stub({**base, "bits": 16, "zkey_gen": "g1"}),
        ["repo", "lang", "path"], "morton", 16,
    ) == "g1"
    # wrong bit depth → mismatch
    assert _cluster_provenance_matches(
        _Stub({**base, "bits": 12, "zkey_gen": "g1"}),
        ["repo", "lang", "path"], "morton", 16,
    ) is None


def test_persist_schema_concurrent_writers(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    t = Table.create(str(tmp_path / "tbl"))
    base = [StructField("repo", StringType()), StructField("path", StringType())]
    schema_a = StructType(base + [StructField("col_a", LongType())])
    schema_b = StructType(base + [StructField("col_b", StringType())])

    errs = []
    barrier = threading.Barrier(2)

    def write(schema):
        try:
            barrier.wait()
            t._persist_schema(schema)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    for _ in range(10):
        th1 = threading.Thread(target=write, args=(schema_a,))
        th2 = threading.Thread(target=write, args=(schema_b,))
        th1.start(); th2.start(); th1.join(); th2.join()
    assert not errs
    names = {f.name for f in t.data_schema().fields}
    # BOTH writers' columns survived the race
    assert {"col_a", "col_b"} <= names


def test_forget_stream_oversized_batch_chunks(spark, tmp_path):
    """A bulk command batch (more FORGETs than max_subjects_per_pass)
    is processed completely in bounded chunks, each with its own
    deterministic ledger-deduped shred pass."""
    import os

    from pi2spark.streaming import forget_stream

    plain = synthesize_source_files(spark, 400, seed=51, partitions=4, max_len=400)
    reg = KeyRegistry(str(tmp_path / "kms.jsonl"))
    reg.register_all(r.repo for r in plain.select("repo").distinct().collect())
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(str(tmp_path / "tbl"))
    t.append(encrypt_table(plain, SPEC, keys), spark)

    subjects = sorted(r.repo for r in plain.select("repo").distinct().collect())
    victims = subjects[: len(subjects) - 2]  # forget all but two
    assert len(victims) > 4
    cmd_src = str(tmp_path / "cmds")
    spark.createDataFrame(
        [(s, "FORGET") for s in victims], "subject_id string, command string"
    ).coalesce(1).write.parquet(cmd_src)
    cmds = spark.readStream.schema("subject_id string, command string").parquet(cmd_src)

    q = forget_stream(
        cmds, t, reg, checkpoint_dir=str(tmp_path / "ck"),
        query_name="bulk-test", max_subjects_per_pass=2,
    )
    q.awaitTermination(240)
    assert q.exception() is None

    # every victim's key destroyed and rows tombstoned
    assert all(reg.latest_key(s) is None for s in victims)
    keys2 = broadcast_keys(spark, reg.key_map())
    scan = decrypt_table(t.scan(spark), SPEC, keys2)
    assert scan.filter(F.col("repo").isin(victims) & ~F.col("shredded")).count() == 0
    survivors = [s for s in subjects if s not in victims]
    assert scan.filter(F.col("repo").isin(survivors) & F.col("shredded")).count() == 0
    # chunked: more than one shred ledger for the batch
    ledgers = [
        n for n in os.listdir(os.path.join(str(tmp_path / "tbl"), "maintenance"))
        if n.startswith("bulk-test-") and "-batch" in n and "-c" in n
    ]
    assert len(ledgers) >= 2

    # replay: same checkpoint → no new snapshots
    before = t.current_snapshot_id()
    cmds2 = spark.readStream.schema("subject_id string, command string").parquet(cmd_src)
    q2 = forget_stream(
        cmds2, t, reg, checkpoint_dir=str(tmp_path / "ck"),
        query_name="bulk-test", max_subjects_per_pass=2,
    )
    q2.awaitTermination(240)
    assert t.current_snapshot_id() == before


def test_racing_compact_and_shred_both_commit(spark, tmp_path, monkeypatch):
    """VERDICT r4 'What's missing' #3: two rewrite passes racing from
    the same parent snapshot. The loser's commit delta is stale (its
    inputs were rewritten by the winner); it must RE-PLAN from the
    fresh snapshot and commit — and the shred's re-plan must re-target
    the winner's output files, or the victim's rows would survive."""
    import pi2spark.maintenance as M
    from pi2spark.verify import content_digest

    plain = synthesize_source_files(spark, 600, seed=61, partitions=6, max_len=800).cache()
    reg = KeyRegistry(str(tmp_path / "kms.jsonl"))
    reg.register_from_df(plain.select("repo").distinct())
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(
        str(tmp_path / "tbl"),
        properties={"stats.columns": ["repo", "lang", "path", "zkey"]},
    )
    t.append(encrypt_table(plain, SPEC, keys), spark)
    victim = plain.agg(F.min("repo")).first()[0]
    expected = content_digest(
        plain.withColumn("shredded", F.col("repo") == victim)
        .withColumn("content", F.when(F.col("repo") == victim, F.lit(None)).otherwise(F.col("content")))
    )
    plain.unpersist()
    reg.forget(victim)

    # deterministic race: after the shred pass finishes its attempt-0
    # waves (planned against the parent snapshot) but BEFORE it
    # commits, a full compaction wins the commit race and rewrites the
    # shred's input files out from under it
    orig = M._rewrite_files_in_waves
    state = {"fired": False}

    def hooked(table, spark_, ledger, files, tag, **kw):
        res = orig(table, spark_, ledger, files, tag, **kw)
        if tag.startswith("shred-") and not state["fired"]:
            state["fired"] = True
            win = M.compact(
                table, spark_, target_file_bytes=1 << 20, pass_id="race-compact"
            )
            assert not win.skipped
        return res

    monkeypatch.setattr(M, "_rewrite_files_in_waves", hooked)
    res = M.shred(
        t, spark, [victim], pass_id="race-shred", target_file_bytes=256 << 10
    )
    assert not res.skipped
    assert res.details["replans"] == 1

    # both passes committed, in order: append, compact (winner), shred
    ops = [s["operation"] for s in t.snapshots()]
    assert ops == ["append", "compact", "shred"]
    # digest invariant: victim tombstoned everywhere (including inside
    # the winner's compacted files), everyone else intact
    keys2 = broadcast_keys(spark, reg.key_map())
    scan = decrypt_table(t.scan(spark), SPEC, keys2)
    assert scan.filter((F.col("repo") == victim) & ~F.col("shredded")).count() == 0
    assert scan.filter((F.col("repo") == victim) & F.col("content").isNotNull()).count() == 0
    assert content_digest(scan) == expected


@pytest.mark.parametrize(
    "target_file_bytes, mode", [(1 << 20, "one-task"), (64 << 10, "shuffle")], ids=["one-task", "shuffle"]
)
def test_racing_cluster_and_shred_both_commit(spark, tmp_path, monkeypatch, target_file_bytes, mode):
    """cluster() joins the conflict re-planning protocol: a shred that
    wins the commit race while a full clustering is mid-flight rewrites
    the clustering's inputs; the clustering must re-plan from the fresh
    (post-shred) snapshot so both passes commit and the victim stays
    tombstoned inside the re-clustered files. Runs on both clustering
    writers: one output file (one pyarrow task) and several (range
    shuffle)."""
    import pi2spark.maintenance as M
    from pi2spark.checkpoint import PassLedger
    from pi2spark.verify import content_digest

    plain = synthesize_source_files(spark, 500, seed=71, partitions=6, max_len=800).cache()
    reg = KeyRegistry(str(tmp_path / "kms.jsonl"))
    reg.register_from_df(plain.select("repo").distinct())
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(
        str(tmp_path / "tbl"),
        properties={"stats.columns": ["repo", "lang", "path", "zkey"]},
    )
    t.append(encrypt_table(plain, SPEC, keys), spark)
    victim = plain.agg(F.min("repo")).first()[0]
    expected = content_digest(
        plain.withColumn("shredded", F.col("repo") == victim)
        .withColumn("content", F.when(F.col("repo") == victim, F.lit(None)).otherwise(F.col("content")))
    )
    plain.unpersist()
    reg.forget(victim)

    # deterministic race: after the clustering attempt writes its
    # output files (planned against the parent snapshot) and records
    # its rewrite task, but BEFORE it commits, the shred wins and
    # rewrites some of its input files
    orig_rt = PassLedger.record_task
    state = {"fired": False}

    def hooked(self, task_id, result, metrics=None):
        orig_rt(self, task_id, result, metrics=metrics)
        if self.pass_id == "race-cluster" and task_id == "rewrite" and not state["fired"]:
            state["fired"] = True
            win = M.shred(t, spark, [victim], pass_id="race-shred2")
            assert not win.skipped

    monkeypatch.setattr(PassLedger, "record_task", hooked)
    res = M.cluster(t, spark, pass_id="race-cluster", target_file_bytes=target_file_bytes)
    assert not res.skipped
    assert res.details["replans"] == 1
    assert res.details["mode"] == mode

    ops = [s["operation"] for s in t.snapshots()]
    assert ops == ["append", "shred", "morton"]
    keys2 = broadcast_keys(spark, reg.key_map())
    scan = decrypt_table(t.scan(spark), SPEC, keys2)
    assert scan.filter((F.col("repo") == victim) & ~F.col("shredded")).count() == 0
    assert scan.filter((F.col("repo") == victim) & F.col("content").isNotNull()).count() == 0
    assert content_digest(scan) == expected
    # the re-planned full clustering still minted a boundary generation
    summ = t.snapshots()[-1]["summary"]
    assert summ.get("zkey_gen") == "race-cluster" and summ["replans"] == 1


def test_distributed_expiry_matches_driver_path(spark, tmp_path):
    """VERDICT r4 'What's missing' #2: above a file-count threshold the
    expiry refcount runs as a Spark anti-join over manifest rows and
    the orphan sweep distributes its listing — both must delete exactly
    the same files as the driver-side fold."""
    import shutil
    import time as _time

    from pi2spark.maintenance import cluster, compact, expire_snapshots, remove_orphans

    def build(root):
        t = Table.create(root, properties={"manifest.shard_size": 4})
        for k in range(3):
            t.append(_mk(spark, k * 100, (k + 1) * 100).repartition(4), spark)
        cluster(t, spark, target_file_bytes=8 << 10, bits=12)
        compact(t, spark, target_file_bytes=64 << 10)
        return t

    t1 = build(str(tmp_path / "t1"))
    shutil.copytree(str(tmp_path / "t1"), str(tmp_path / "t2"))
    t2 = Table.load(str(tmp_path / "t2"))

    r_driver = expire_snapshots(t1, keep_last=1)
    r_dist = expire_snapshots(t2, keep_last=1, spark=spark, distribute_threshold=0)
    assert r_driver["distributed"] is False and r_dist["distributed"] is True
    assert r_dist["deleted_files"] == r_driver["deleted_files"] > 0
    assert r_dist["expired_snapshots"] == r_driver["expired_snapshots"]

    def live_files(root):
        out = set()
        for dirpath, _d, names in __import__("os").walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    out.add(
                        __import__("os").path.relpath(
                            __import__("os").path.join(dirpath, n), root
                        )
                    )
        return out

    assert live_files(str(tmp_path / "t1")) == live_files(str(tmp_path / "t2"))
    assert t1.scan(spark).count() == t2.scan(spark).count() == 300

    # orphan sweep: make identical orphans in both copies, sweep one
    # driver-side and one distributed — same survivors
    for root in (str(tmp_path / "t1"), str(tmp_path / "t2")):
        orphan = __import__("os").path.join(root, "data", "orphan-dir")
        __import__("os").makedirs(orphan, exist_ok=True)
        with open(__import__("os").path.join(orphan, "junk.parquet"), "wb") as fh:
            fh.write(b"not really parquet")
    cutoff = int((_time.time() + 60) * 1000)  # everything is old enough
    o_driver = remove_orphans(t1, older_than_ms=cutoff)
    o_dist = remove_orphans(t2, older_than_ms=cutoff, spark=spark, distribute_threshold=0)
    assert o_driver["distributed"] is False and o_dist["distributed"] is True
    assert o_dist["deleted"] == o_driver["deleted"] >= 1
    assert live_files(str(tmp_path / "t1")) == live_files(str(tmp_path / "t2"))
    assert t1.scan(spark).count() == t2.scan(spark).count() == 300
