"""Regression tests for the round-1 advisor findings (ADVICE.md):

1. FORGET must physically destroy key material in the on-disk command
   log (crypto-shredding guarantee).
2. A losing concurrent commit must never clobber the winner's
   already-committed manifest.
3. expire_snapshots must commit trimmed metadata BEFORE deleting data
   files (metadata-first, Iceberg ordering).
4. Oversized cluster-key configurations (bits * columns > 63) must be
   rejected instead of silently wrapping.
5. shred must tolerate tables without a 'shredded' lineage column and
   NULL stored flags.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from pi2spark.errors import ConcurrentCommitError, UnconfiguredError
from pi2spark.maintenance import expire_snapshots, shred
from pi2spark.registry import KeyRegistry
from pi2spark.table import DataFile, Table
from pi2spark.zorder import check_cluster_key, with_cluster_key


# ---------------------------------------------------------------------------
# 1. FORGET destroys key material on disk
# ---------------------------------------------------------------------------


def test_forget_redacts_key_material_from_log(tmp_path):
    path = str(tmp_path / "kms.jsonl")
    reg = KeyRegistry(path)
    reg.register_all(["alice", "bob", "carol"])
    bob_key = reg.latest_key("bob")
    assert bob_key is not None

    reg.forget("bob")

    # in-memory: gone
    assert reg.latest_key("bob") is None
    # on-disk: no recoverable key bytes for bob anywhere in the raw file
    raw = open(path, encoding="utf-8").read()
    import base64

    assert base64.b64encode(bob_key).decode("ascii") not in raw
    records = [json.loads(line) for line in raw.splitlines() if line.strip()]
    for r in records:
        if r["subject_id"] == "bob":
            assert r.get("key_b64") is None
    # replay: bob unrecoverable, others intact, audit trail kept
    replay = KeyRegistry(path)
    assert replay.latest_key("bob") is None
    assert replay.latest_key("alice") == reg.latest_key("alice")
    assert "bob" in replay.forgotten_subjects()


def test_reregister_after_forget_gets_fresh_key(tmp_path):
    path = str(tmp_path / "kms.jsonl")
    reg = KeyRegistry(path)
    old = reg.register("dave").key
    reg.forget("dave")
    new = reg.register("dave").key
    assert new != old
    # replay agrees with in-memory state
    assert KeyRegistry(path).latest_key("dave") == new


# ---------------------------------------------------------------------------
# 2. losing commit cannot clobber the winner's manifest
# ---------------------------------------------------------------------------


def _df(path: str) -> DataFile:
    return DataFile(path=path, rows=1, bytes=1)


def test_losing_commit_does_not_clobber_winner_manifest(tmp_path):
    root = str(tmp_path / "tbl")
    t1 = Table.create(root)
    t1.commit("append", added=[_df("data/a.parquet")])

    # Simulate the race: a second writer read the version before the
    # winner's next commit and only discovers the conflict at its own
    # version swap (after it has already written its manifest).
    t2 = Table(root)
    stale_version = t2.current_version()
    winner = t1.commit("append", added=[_df("data/b.parquet")])

    t2.current_version = lambda: stale_version  # stale read, deterministically
    with pytest.raises(ConcurrentCommitError):
        t2.commit("append", added=[_df("data/loser.parquet")])

    # The winner's committed snapshot must be fully intact.
    snap = t1.snapshot(winner.snapshot_id)
    assert {f.path for f in snap.files} == {"data/a.parquet", "data/b.parquet"}
    # And the loser left no orphan metadata (manifest lists or shards).
    on_disk = {
        n
        for n in os.listdir(os.path.join(root, "metadata"))
        if n.startswith(("snap-", "snaplist-", "manifest-"))
    }
    linked = set()
    for s in t1.snapshots():
        linked |= t1.manifest_meta_files(s)
    assert on_disk == linked


# ---------------------------------------------------------------------------
# 3. expire commits metadata before deleting files
# ---------------------------------------------------------------------------


def test_expire_deletes_nothing_if_metadata_commit_fails(tmp_path, monkeypatch):
    root = str(tmp_path / "tbl")
    t = Table.create(root)
    # two snapshots; first holds a file dropped by the second
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    for name in ("old.parquet", "new.parquet"):
        with open(os.path.join(root, "data", name), "wb") as fh:
            fh.write(b"x")
    t.commit("append", added=[_df("data/old.parquet")])
    t.commit("compact", added=[_df("data/new.parquet")], removed_paths=["data/old.parquet"])

    def boom(version, meta):
        raise RuntimeError("simulated crash at metadata commit")

    monkeypatch.setattr(t, "_write_version", boom)
    with pytest.raises(RuntimeError):
        expire_snapshots(t, keep_last=1)
    # metadata commit failed -> no data file may have been deleted
    assert os.path.exists(os.path.join(root, "data", "old.parquet"))
    # time travel to snapshot 1 still works
    assert {f.path for f in t.snapshot(1).files} == {"data/old.parquet"}
    monkeypatch.undo()
    # and the real expiry still works end-to-end afterwards
    out = expire_snapshots(t, keep_last=1)
    assert out["expired_snapshots"] == 1
    assert not os.path.exists(os.path.join(root, "data", "old.parquet"))
    assert os.path.exists(os.path.join(root, "data", "new.parquet"))


# ---------------------------------------------------------------------------
# 4. oversized cluster keys rejected
# ---------------------------------------------------------------------------


def test_cluster_key_width_validation(spark):
    df = spark.range(4).select(
        F.col("id").cast("string").alias("a"),
        F.col("id").cast("string").alias("b"),
        F.col("id").cast("string").alias("c"),
    )
    with pytest.raises(UnconfiguredError):
        with_cluster_key(df, ("a", "b", "c"), bits=22)  # 66 bits > 63
    with pytest.raises(UnconfiguredError):
        check_cluster_key(("a", "b"), bits=32, curve="morton")  # 64 bits
    # 3 x 21 = 63 bits is the legal maximum
    out = with_cluster_key(df, ("a", "b", "c"), bits=21)
    assert out.select("zkey").count() == 4


# ---------------------------------------------------------------------------
# 5. shred without a 'shredded' column / with NULL flags
# ---------------------------------------------------------------------------


def test_shred_table_without_shredded_column(spark, tmp_path):
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("alice", b"cipher-a"), ("bob", b"cipher-b"), ("alice", b"cipher-a2")],
        "repo string, content_enc binary",
    )
    t = Table.create(root, properties={"stats.columns": ["repo"]})
    t.append(df.repartition(1), spark)
    res = shred(t, spark, ["alice"], subject_column="repo")
    assert res.rewritten_files >= 1
    got = t.scan(spark).collect()
    for row in got:
        if row.repo == "alice":
            assert row.content_enc is None
        else:
            assert row.content_enc is not None


def test_shred_null_stored_flags_become_true_on_hit(spark, tmp_path):
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("alice", b"c1", None), ("bob", b"c2", None), ("bob", b"c3", True)],
        "repo string, content_enc binary, shredded boolean",
    )
    t = Table.create(root, properties={"stats.columns": ["repo"]})
    t.append(df.repartition(1), spark)
    shred(t, spark, ["alice"], subject_column="repo")
    rows = {(-1 if r.content_enc is None else 1, r.repo, r.shredded) for r in t.scan(spark).collect()}
    # alice: envelope erased, flag coerced NULL->true
    assert (-1, "alice", True) in rows
    # bob NULL flag survives as NULL (no hit -> untouched semantics: NULL|false = NULL -> coalesced base keeps false)
    bobs = [r for r in t.scan(spark).collect() if r.repo == "bob"]
    assert all(r.content_enc is not None for r in bobs)


def test_commit_with_retry_reapplies_on_race(tmp_path):
    root = str(tmp_path / "tbl")
    t1 = Table.create(root)
    t1.commit("append", added=[_df("data/a.parquet")])

    t2 = Table(root)
    real = t2.current_version
    stale = real()
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        return stale if calls["n"] == 1 else real()

    winner = t1.commit("append", added=[_df("data/b.parquet")])
    t2.current_version = flaky  # first read is stale -> version race
    snap = t2.commit_with_retry("append", added=[_df("data/c.parquet")])
    assert snap.snapshot_id == winner.snapshot_id + 1
    assert {f.path for f in t1.snapshot().files} == {
        "data/a.parquet", "data/b.parquet", "data/c.parquet"
    }


def test_commit_with_retry_concurrent_threads(tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "tbl")
    t = Table.create(root)
    t.commit("append", added=[_df("data/seed.parquet")])

    def append_one(i):
        return Table(root).commit_with_retry(
            "append", added=[_df(f"data/t{i}.parquet")], max_retries=20
        )

    with ThreadPoolExecutor(max_workers=4) as ex:
        snaps = list(ex.map(append_one, range(4)))
    paths = {f.path for f in Table(root).snapshot().files}
    assert paths == {"data/seed.parquet"} | {f"data/t{i}.parquet" for i in range(4)}
    assert len({s.snapshot_id for s in snaps}) == 4


# ---------------------------------------------------------------------------
# round-2 verdict: direct tests for the two error classes previously
# raised only in product code (SubjectIdentifierRetrievalError,
# InvalidEncryptedMessageError)
# ---------------------------------------------------------------------------


def _encrypt_one(spark, rows):
    from pi2spark.crypto import broadcast_keys, encrypt_table
    from pi2spark.spec import ProtectionSpec

    spec = ProtectionSpec(subject_column="repo", pii_columns=("content",))
    reg = KeyRegistry()
    reg.register("org/a")
    keys = broadcast_keys(spark, reg.key_map())
    df = spark.createDataFrame(rows, "repo string, content string")
    return encrypt_table(df, spec, keys), spec, keys


def test_null_subject_with_pii_raises_retrieval_error(spark):
    """A PII value whose subject identifier is NULL cannot be encrypted
    (no key can ever be resolved) — SubjectIdentifierRetrievalError,
    mirroring the reference's SiblingSubjectIdentifierFinder failure."""
    enc, _spec, _keys = _encrypt_one(spark, [(None, "secret stuff")])
    with pytest.raises(Exception, match="SubjectIdentifierRetrievalError"):
        enc.collect()


def test_tampered_ciphertext_raises_invalid_message(spark):
    """Flipping ciphertext bytes must fail GCM authentication and
    surface as InvalidEncryptedMessageError (A24 / InvalidTag path)."""
    from pi2spark.crypto import decrypt_table

    enc, spec, keys = _encrypt_one(spark, [("org/a", "top secret")])
    tampered = enc.withColumn(
        "content_enc",
        F.col("content_enc").withField(
            "data", F.concat(F.col("content_enc.data"), F.lit(b"\x00"))
        ),
    )
    with pytest.raises(Exception, match="InvalidEncryptedMessageError"):
        decrypt_table(tampered, spec, keys).collect()


def test_stale_version_hint_self_heals(tmp_path):
    """A writer crashing between linking v{N}.json and renaming the
    version hint must not wedge the table: current_version walks
    forward past the stale hint, repairs it, and later commits
    succeed (round-2 ADVICE)."""
    t = Table.create(str(tmp_path / "t"))
    f1 = DataFile(path="data/a.parquet", rows=1, bytes=10)
    t.commit("append", added=[f1])  # v2
    t.commit("append", added=[DataFile(path="data/b.parquet", rows=1, bytes=10)])  # v3

    hint = os.path.join(t._meta_dir, "version-hint.text")
    with open(hint, "w", encoding="utf-8") as fh:
        fh.write("1")  # simulate the crash window

    assert t.current_version() == 3  # walked forward
    with open(hint, encoding="utf-8") as fh:
        assert fh.read().strip() == "3"  # hint repaired
    # and a commit on the healed table succeeds without a retry storm
    snap = t.commit("append", added=[DataFile(path="data/c.parquet", rows=1, bytes=10)])
    assert snap.snapshot_id == 3


def test_packing_confs_do_not_leak_to_caller_session(spark, tmp_path):
    """r3 ADVICE-medium: scan-packing overrides (maxPartitionBytes etc.)
    must be invisible to the caller's session — a streaming micro-batch
    planned concurrently must see the normal confs."""
    from pyspark.sql import Row

    from pi2spark.crypto import broadcast_keys, encrypt_table
    from pi2spark.maintenance import _packer_session, compact
    from pi2spark.registry import KeyRegistry
    from pi2spark.spec import ProtectionSpec
    from pi2spark.table import Table

    before = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    packer = _packer_session(spark, 4 << 20)
    assert packer.conf.get("spark.sql.files.maxPartitionBytes") == str(4 << 20)
    assert spark.conf.get("spark.sql.files.maxPartitionBytes", None) == before
    # cached per (context, target): same object back, no rebuild
    assert _packer_session(spark, 4 << 20) is packer
    assert _packer_session(spark, 8 << 20) is not packer

    # end-to-end: a compact pass leaves the caller session's confs alone
    spec = ProtectionSpec.for_source_files()
    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    rows = [Row(repo="o/r", path=f"f{i}.py", commit=f"{i:040x}", lang="py",
                content=f"c{i}") for i in range(50)]
    reg.register("o/r")
    t = Table.create(str(tmp_path / "tbl"))
    t.append(encrypt_table(spark.createDataFrame(rows).repartition(4), spec,
                           broadcast_keys(spark, reg.key_map())), spark)
    compact(t, spark, target_file_bytes=1 << 20)
    assert spark.conf.get("spark.sql.files.maxPartitionBytes", None) == before
