"""Maintenance passes: compaction invariance, Z-order invariance +
pruning power, MERGE-shred targeting, snapshot expiry refcounts,
checkpoint resume (FIXTURES.md §4 cases 4/6/7)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
from pi2spark.maintenance import (
    cluster,
    compact,
    expire_snapshots,
    forget_and_shred,

    shred,
)
from pi2spark.registry import KeyRegistry
from pi2spark.spec import ProtectionSpec
from pi2spark.synth import synthesize_source_files
from pi2spark.table import ColumnPredicate, DataFile, Table
from pi2spark.verify import content_digest

SPEC = ProtectionSpec.for_source_files()


@pytest.fixture()
def loaded(spark, tmp_table_root, tmp_path):
    """A table with 1200 rows in 8 small files + registry + baseline digest."""
    plain = synthesize_source_files(spark, 1200, seed=42, partitions=8, max_len=2000).cache()
    reg = KeyRegistry(str(tmp_path / "kms.jsonl"))
    reg.register_all(r.repo for r in plain.select("repo").distinct().collect())
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(tmp_table_root, properties={"stats.columns": ["repo", "lang", "path", "zkey"]})
    t.append(encrypt_table(plain, SPEC, keys), spark)
    baseline = content_digest(plain.withColumn("shredded", F.lit(False)))
    plain.unpersist()
    return t, reg, keys, baseline


def _digest(t, spark, keys):
    return content_digest(decrypt_table(t.scan(spark), SPEC, keys))


def test_compact_output_sizes_track_target(spark, loaded):
    """Scan packing forms the bins: every compacted output file must be
    ~target-size (inputs are merged, none dropped, none duplicated)."""
    t, reg, keys, baseline = loaded
    target = 256 * 1024
    res = compact(t, spark, target_file_bytes=target)
    assert not res.skipped
    snap = t.snapshot()
    sizes = [f.bytes for f in snap.files]
    # parquet re-encoding changes sizes somewhat; allow 2x slack
    assert all(b <= target * 2 for b in sizes)
    assert sum(f.rows for f in snap.files) == 1200
    assert _digest(t, spark, keys) == baseline


def test_compaction_invariance_and_file_count(spark, loaded):
    t, reg, keys, baseline = loaded
    before = len(t.snapshot().files)
    res = compact(t, spark, target_file_bytes=16 * 1024 * 1024)
    after = len(t.snapshot().files)
    assert after < before
    assert res.rewritten_files == before  # all small files got packed
    assert _digest(t, spark, keys) == baseline  # scan multiset unchanged
    # old snapshot still scannable (snapshot isolation)
    assert t.scan(spark, snapshot_id=1).count() == 1200


def test_cluster_invariance_and_pruning(spark, loaded):
    t, reg, keys, baseline = loaded
    res = cluster(t, spark, curve="morton", target_file_bytes=48 * 1024, bits=12)
    assert not res.skipped
    assert _digest(t, spark, keys) == baseline
    snap = t.snapshot()
    assert len(snap.files) >= 8
    # zkey sorted within files: each file's zkey [min,max] ranges should
    # be narrow / mostly disjoint → a rare-repo predicate prunes files
    rare = "org1/repo1"
    _, files = t.plan_files(filters=[ColumnPredicate("repo", "eq", rare)])
    assert len(files) < len(snap.files), "clustering should make repo pruning effective"
    # and the pruned scan still finds every row of that repo
    full = t.scan(spark).filter(F.col("repo") == rare).count()
    pruned = t.scan(spark, filters=[ColumnPredicate("repo", "eq", rare)]).filter(
        F.col("repo") == rare
    ).count()
    assert pruned == full > 0


def test_hilbert_cluster_invariance(spark, loaded):
    t, reg, keys, baseline = loaded
    cluster(t, spark, curve="hilbert", target_file_bytes=256 * 1024, bits=12)
    assert _digest(t, spark, keys) == baseline


def test_shred_rewrites_only_affected_files(spark, loaded):
    t, reg, keys, baseline = loaded
    cluster(t, spark, curve="morton", target_file_bytes=48 * 1024, bits=12)
    # shred a RARE subject (the realistic GDPR case): clustering
    # concentrates its rows into few files, so the MERGE touches a
    # small fraction of the table
    victim = (
        t.scan(spark).groupBy("repo").count().filter(F.col("repo") != "org0/megarepo")
        .orderBy("count", "repo").first()["repo"]
    )
    n_files = len(t.snapshot().files)

    res = forget_and_shred(t, spark, reg, victim)
    assert reg.latest_key(victim) is None
    assert 0 < res.rewritten_files <= n_files
    # clustering means the mega repo is concentrated: not every file touched
    assert res.details["affected_files"] < res.details["total_files"]

    keys2 = broadcast_keys(spark, reg.key_map())
    scan = decrypt_table(t.scan(spark), SPEC, keys2).cache()
    assert scan.filter((F.col("repo") == victim) & ~F.col("shredded")).count() == 0
    assert scan.filter((F.col("repo") == victim) & F.col("content").isNotNull()).count() == 0
    assert scan.filter((F.col("repo") != victim) & F.col("shredded")).count() == 0
    # ciphertext physically gone from current snapshot's files
    snap = t.snapshot()
    import pyarrow.parquet as pq

    for f in snap.files:
        st = f.stats.get("repo")
        if st and st[0] <= victim <= st[1]:
            tab = pq.read_table(os.path.join(t.root, f.path), columns=["repo", "content_enc"])
            pdf = tab.to_pandas()
            hit = pdf[pdf["repo"] == victim]
            assert hit["content_enc"].isna().all()
    scan.unpersist()


def test_shred_noop_when_no_affected_files(spark, loaded):
    t, reg, keys, baseline = loaded
    res = shred(t, spark, ["org-does-not/exist"])
    assert res.skipped


def test_expire_deletes_unreferenced_files(spark, loaded):
    t, reg, keys, baseline = loaded
    snap1_files = {f.path for f in t.snapshot().files}
    compact(t, spark, target_file_bytes=16 * 1024 * 1024)
    cluster(t, spark, curve="morton", target_file_bytes=512 * 1024, bits=12)
    current_files = {f.path for f in t.snapshot().files}

    res = expire_snapshots(t, keep_last=1)
    assert res["expired_snapshots"] == 2
    # files only referenced by expired snapshots are deleted from disk
    for p in snap1_files - current_files:
        assert not os.path.exists(os.path.join(t.root, p))
    for p in current_files:
        assert os.path.exists(os.path.join(t.root, p))
    # expired snapshot no longer scannable; current still correct
    with pytest.raises(Exception):
        t.scan(spark, snapshot_id=1)
    assert _digest(t, spark, keys) == baseline


def test_compaction_resume_after_partial_failure(spark, loaded, monkeypatch):
    """Kill compaction after wave 1 of n; rerun with same pass_id skips
    the completed wave, finishes the rest; scan digest identical
    (FIXTURES.md §4 case 7). wave_files=4 forces multiple waves at
    this file count (resume granularity is the wave)."""
    t, reg, keys, baseline = loaded
    from pi2spark.checkpoint import PassLedger

    # crash while recording wave 2: its outputs exist, nothing committed
    calls = {"n": 0}
    orig = PassLedger.record_task

    def flaky(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash mid-pass")
        return orig(self, *a, **kw)

    monkeypatch.setattr(PassLedger, "record_task", flaky)
    with pytest.raises(RuntimeError):
        compact(t, spark, target_file_bytes=300 * 1024, wave_files=4, pass_id="compact-resume-test")
    monkeypatch.setattr(PassLedger, "record_task", orig)

    # no commit happened: table still at snapshot 1
    assert t.current_snapshot_id() == 1
    res = compact(t, spark, target_file_bytes=300 * 1024, wave_files=4, pass_id="compact-resume-test")
    assert not res.skipped
    assert _digest(t, spark, keys) == baseline
    # rerun after commit is a no-op
    res2 = compact(t, spark, target_file_bytes=300 * 1024, pass_id="compact-resume-test")
    assert res2.skipped


def test_maintain_policy_cycle(spark, tmp_path):
    """The steady-state auto-maintenance unit: cluster-before-compact
    ordering (so appends never hide from the backlog detector), cheap
    no-op convergence, incremental re-arm on fresh appends."""
    import hashlib

    from pi2spark.maintenance import maintain
    from pi2spark.table import Table

    t = Table.create(str(tmp_path / "tbl"))
    mk = lambda lo, hi: spark.createDataFrame(
        [(f"org{i % 7}/r", f"p{i}.py", f"{i:040x}", "python",
          hashlib.sha256(str(i).encode()).hexdigest() * 8)  # incompressible
         for i in range(lo, hi)],
        "repo string, path string, commit string, lang string, content string",
    )
    for k in range(5):
        t.append(mk(k * 100, (k + 1) * 100).repartition(4), spark)
    assert len(t.snapshot().files) == 20

    kw = dict(target_file_bytes=64 << 10, small_file_threshold=8,
              cluster_backlog_threshold=4, keep_last_snapshots=2)
    ran = maintain(t, spark, **kw)
    # cluster runs FIRST (everything is backlog); expire trims history
    assert "cluster" in ran and "expire" in ran
    assert len(t.snapshots()) <= 2
    assert all("zkey" in f.stats and f.stats["zkey"][0] is not None
               for f in t.snapshot().files)
    assert t.scan(spark).count() == 500

    # converged: nothing to do
    ran2 = maintain(t, spark, **kw)
    assert "compact" not in ran2 and "cluster" not in ran2
    assert t.scan(spark).count() == 500

    # fresh appends re-arm the cluster trigger, incrementally
    t.append(mk(500, 700).repartition(4), spark)
    ran3 = maintain(t, spark, **kw)
    assert "cluster" in ran3
    assert ran3["cluster"].details.get("incremental") is True
    assert t.scan(spark).count() == 700
    # nothing escaped the backlog detector: every file has real zkey
    assert all("zkey" in f.stats and f.stats["zkey"][0] is not None
               for f in t.snapshot().files)

    # small-file churn alone (no backlog) triggers a pure compact of
    # already-clustered files
    n_files = len(t.snapshot().files)
    ran4 = maintain(t, spark, target_file_bytes=1 << 20,
                    small_file_threshold=min(n_files, 2),
                    cluster_backlog_threshold=4, keep_last_snapshots=2)
    assert "compact" in ran4 and "cluster" not in ran4
    assert t.scan(spark).count() == 700
