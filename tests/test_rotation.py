"""Key rotation / versioning (A-side — the reference's declared TODO,
MostRecentMaterialsProvider.java:39-46 "no key versioning implemented
yet"; the registry's materials LIST is the seam the reference left for
it). Covers: ROTATE command fold + replay, mixed-version decrypt via
the envelope's material id, legacy (mid-less) try-chain decrypt, the
``maintenance.reencrypt`` bloom-targeted rewrite, and RETIRE's physical
key destruction (pre-rotation ciphertext becomes unrecoverable)."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
from pi2spark.errors import MissingCryptoMaterialsError
from pi2spark.maintenance import reencrypt, rotate_and_reencrypt
from pi2spark.registry import KeyRegistry
from pi2spark.spec import ProtectionSpec
from pi2spark.table import Table
from pi2spark.verify import content_digest

SPEC = ProtectionSpec.for_source_files()


def _df(spark, subjects, tag):
    rows = [
        Row(repo=s, path=f"src/{tag}/f{i}.py", commit=f"{i:039x}{j}", lang="python",
            content=f"content-{tag}-{s}-{i}")
        for j, s in enumerate(subjects)
        for i in range(5)
    ]
    return spark.createDataFrame(rows)


def test_rotate_fold_and_replay(tmp_path):
    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    m1 = reg.register("s1")
    m2 = reg.rotate("s1")
    assert m2.material_id != m1.material_id
    assert reg.latest_key("s1") == m2.key != m1.key
    vers = reg.key_map_versioned()["s1"]
    assert [m for m, _ in vers] == [m1.material_id, m2.material_id]
    # replay from disk agrees (event-sourced determinism)
    reg2 = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    assert reg2.key_map_versioned()["s1"] == vers
    with pytest.raises(KeyError):
        reg.rotate("never-registered")


KEY_FORMS = {
    "map": lambda spark, reg: broadcast_keys(spark, reg.key_map_versioned()),
    "key_df": lambda spark, reg: reg.key_df(spark),
}


@pytest.mark.parametrize(
    "seal_with, open_with",
    [
        ("map", "map"),
        ("key_df", "map"),
        ("key_df", "key_df"),
        # ROADMAP item B: seal with the versioned map, rotate, then
        # open with the key DataFrame
        ("map", "key_df"),
    ],
)
def test_mixed_version_decrypt(spark, tmp_path, seal_with, open_with):
    """Rows written before and after a rotation decrypt side by side,
    whichever way the keys are delivered for sealing and for opening.
    The pre-rotation rows come in two kinds: written with an
    UNVERSIONED map (mid-less kms_id — resolved through the
    newest→oldest try-chain) and written with ``seal_with`` before the
    rotation (stamped with the first material id, which must still
    open after the rotation). The post-rotation rows carry the latest
    material id."""
    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    reg.register_all(["sA", "sB"])
    old = encrypt_table(_df(spark, ["sA", "sB"], "old"), SPEC, broadcast_keys(spark, reg.key_map()))
    old_rows = old.collect()  # materialize before rotating
    first = encrypt_table(_df(spark, ["sA"], "first"), SPEC, KEY_FORMS[seal_with](spark, reg))
    first_rows = first.collect()
    first_mid = reg.key_map_versioned()["sA"][-1][0]
    assert {r.content_enc.kms_id for r in first_rows} == {f"pi2spark-kms#{first_mid}"}
    reg.rotate("sA")
    new = encrypt_table(_df(spark, ["sA"], "new"), SPEC, KEY_FORMS[seal_with](spark, reg))
    # new sA rows are stamped with the latest material id
    mids = {r.content_enc.kms_id for r in new.collect() if r.content_enc.subject_id == "sA"}
    latest_mid = reg.key_map_versioned()["sA"][-1][0]
    assert latest_mid != first_mid
    assert mids == {f"pi2spark-kms#{latest_mid}"}
    both = (
        spark.createDataFrame(old_rows, old.schema)
        .unionByName(spark.createDataFrame(first_rows, first.schema))
        .unionByName(new)
    )
    out = decrypt_table(both, SPEC, KEY_FORMS[open_with](spark, reg), strict=True)
    assert out.filter(F.col("shredded")).count() == 0
    got = {(r.repo, r.path): r.content for r in out.collect()}
    assert got[("sA", "src/old/f0.py")] == "content-old-sA-0"
    assert got[("sA", "src/first/f2.py")] == "content-first-sA-2"
    assert got[("sA", "src/new/f0.py")] == "content-new-sA-0"
    assert got[("sB", "src/old/f1.py")] == "content-old-sB-1"


def test_reencrypt_pass_targets_and_reseals(spark, tmp_path):
    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    subjects = [f"org{i}/r" for i in range(6)]
    reg.register_all(subjects)
    keys = broadcast_keys(spark, reg.key_map())
    plain = _df(spark, subjects, "t")
    t = Table.create(str(tmp_path / "tbl"))
    # one file per subject so bloom/stat pruning has something to skip
    t.append(encrypt_table(plain.repartition(6, "repo"), SPEC, keys), spark)
    baseline = content_digest(decrypt_table(t.scan(spark), SPEC, keys))
    victim = subjects[0]

    res = rotate_and_reencrypt(t, spark, reg, victim, subject_column="repo")
    assert not res.skipped
    # pruning: only the files that may hold the victim were rewritten
    assert res.details["affected_files"] < res.details["total_files"]

    keys2 = broadcast_keys(spark, reg.key_map_versioned())
    scan = t.scan(spark)
    # victim rows are resealed under the latest material id
    latest_mid = reg.key_map_versioned()[victim][-1][0]
    kms_ids = {r.content_enc.kms_id for r in scan.filter(F.col("repo") == victim).collect()}
    assert kms_ids == {f"pi2spark-kms#{latest_mid}"}
    # content identical for everyone (digest includes every subject)
    assert content_digest(decrypt_table(scan, SPEC, keys2)) == baseline
    # retire destroyed the old material: exactly one version remains,
    # and the raw log carries no other key bytes for the victim
    assert len(reg.key_map_versioned()[victim]) == 1
    import json
    with open(str(tmp_path / "cmd.jsonl")) as fh:
        cmds = [json.loads(line) for line in fh if line.strip()]
    live = [c for c in cmds if c["subject_id"] == victim and c.get("key_b64")]
    assert len(live) == 1 and live[0]["material_id"] == latest_mid


def test_retired_material_makes_old_snapshot_unreadable(spark, tmp_path):
    """The point of retire: ciphertext sealed under a retired material
    (e.g. files of an expired-but-leaked snapshot) is permanently
    unrecoverable — same contract as crypto-shred."""
    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    reg.register_all(["sA", "sB"])
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(str(tmp_path / "tbl"))
    t.append(encrypt_table(_df(spark, ["sA", "sB"], "t"), SPEC, keys), spark)
    pre_rotation_snap = t.current_snapshot_id()

    rotate_and_reencrypt(t, spark, reg, "sA", subject_column="repo")
    keys2 = broadcast_keys(spark, reg.key_map_versioned())

    # current snapshot: fully readable
    cur = decrypt_table(t.scan(spark), SPEC, keys2, strict=True)
    assert cur.filter(F.col("shredded")).count() == 0

    # pinned pre-rotation snapshot: sA's envelopes were sealed under the
    # destroyed material — mid-less rows try-chain against the one
    # remaining (new) key, fail authentication, and (non-strict) take
    # the destroyed-material tombstone, exactly like a shredded subject;
    # strict mode still refuses the scan
    old_scan = t.scan(spark, snapshot_id=pre_rotation_snap)
    sA_old = decrypt_table(old_scan, SPEC, keys2).filter(F.col("repo") == "sA").collect()
    assert len(sA_old) == 5 and all(r.shredded and r.content is None for r in sA_old)
    with pytest.raises(Exception, match="MissingCryptoMaterialsError|no surviving material"):
        decrypt_table(old_scan, SPEC, keys2, strict=True).filter(F.col("repo") == "sA").collect()
    # sB untouched by the rotation: still readable in the old snapshot
    ok = decrypt_table(old_scan.filter(F.col("repo") == "sB"), SPEC, keys2, strict=True)
    assert ok.count() == 5


def test_rotated_rows_decrypt_with_unversioned_key_map(spark, tmp_path):
    """r3 ADVICE-high (crypto.py): after `rotate`, a decrypt with the
    UNVERSIONED ``KeyRegistry.key_map()`` — the exact path the CLI's
    `verify` command uses — must read the rotated rows, not tombstone
    them. The embedded material id can never match an anonymous
    single-version entry, so the decryptor attempts the available key
    (GCM auth makes a wrong-key attempt fail exactly, never corrupt)."""
    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    reg.register_all(["sA", "sB"])
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(str(tmp_path / "tbl"))
    t.append(encrypt_table(_df(spark, ["sA", "sB"], "t"), SPEC, keys), spark)
    baseline = content_digest(decrypt_table(t.scan(spark), SPEC, keys))

    rotate_and_reencrypt(t, spark, reg, "sA", subject_column="repo")

    # the post-rotation verify path: unversioned map, strict scan
    keys_un = broadcast_keys(spark, reg.key_map())
    out = decrypt_table(t.scan(spark), SPEC, keys_un, strict=True)
    assert out.filter(F.col("shredded")).count() == 0
    assert content_digest(decrypt_table(t.scan(spark), SPEC, keys_un)) == baseline


def test_rotate_resume_does_not_destroy_material(spark, tmp_path, monkeypatch):
    """r3 ADVICE-high (maintenance.py): a crashed `rotate_and_reencrypt`
    resumed with the same pass_id must NOT mint a second material —
    the ledger records the minted id before any wave runs, the resume
    reuses it, and retire keeps exactly that material. The old code
    rotated again on resume, replayed the cached waves (sealed under
    the first mint), retired everything but the second mint, and
    permanently destroyed the only key the cached rows referenced."""
    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    subjects = ["org0/r", "org1/r"]
    reg.register_all(subjects)
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(str(tmp_path / "tbl"))
    t.append(encrypt_table(_df(spark, subjects, "t").repartition(2, "repo"), SPEC, keys), spark)
    baseline = content_digest(decrypt_table(t.scan(spark), SPEC, keys))
    victim = subjects[0]

    # crash the pass between the wave rewrites and the table commit
    orig_commit = Table.commit
    state = {"crashed": False}

    def crashing_commit(self, op, *a, **k):
        if op == "reencrypt" and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("simulated crash before commit")
        return orig_commit(self, op, *a, **k)

    monkeypatch.setattr(Table, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        rotate_and_reencrypt(t, spark, reg, victim, subject_column="repo", pass_id="rot-crash")
    monkeypatch.setattr(Table, "commit", orig_commit)

    # resume with the SAME pass id: no second mint
    assert len(reg.key_map_versioned()[victim]) == 2  # v1 + the one mint
    res = rotate_and_reencrypt(t, spark, reg, victim, subject_column="repo", pass_id="rot-crash")
    assert not res.skipped
    mats = reg.key_map_versioned()[victim]
    assert len(mats) == 1  # retire kept exactly the minted material

    # every row still readable — nothing was sealed under a destroyed key
    keys2 = broadcast_keys(spark, reg.key_map_versioned())
    out = decrypt_table(t.scan(spark), SPEC, keys2, strict=True)
    assert out.filter(F.col("shredded")).count() == 0
    assert content_digest(decrypt_table(t.scan(spark), SPEC, keys2)) == baseline

    # a DIVERGED registry (someone rotated again) must refuse the resume
    # rather than mix materials across waves
    reg.rotate(victim)
    os.unlink(os.path.join(t.root, "maintenance", "rot-crash.jsonl"))
    ledger_path = tmp_path / "tbl" / "maintenance"
    assert ledger_path.exists()
    import json as _json
    with open(ledger_path / "rot-div.jsonl", "w") as fh:
        fh.write(_json.dumps({"type": "meta", "pass_id": "rot-div", "key": "rotated_mid",
                              "value": "stale-mid", "ts_ms": 0}) + "\n")
    with pytest.raises(MissingCryptoMaterialsError, match="no longer the latest"):
        rotate_and_reencrypt(t, spark, reg, victim, subject_column="repo", pass_id="rot-div")


def test_forget_after_rotation_redacts_every_version(tmp_path):
    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    reg.register("s1")
    reg.rotate("s1")
    reg.rotate("s1")
    reg.forget("s1")
    assert reg.latest_key("s1") is None
    raw = open(str(tmp_path / "cmd.jsonl")).read()
    assert '"key_b64": null' in raw and '"key_b64": "' not in raw
    # replay agrees
    assert KeyRegistry(str(tmp_path / "cmd.jsonl")).latest_key("s1") is None


def test_rotate_many_single_rewrite_pass(spark, tmp_path):
    """Cohort rotation: N subjects, ONE rewrite pass — a file holding
    several rotating subjects is rewritten once; every subject ends on
    its own fresh material; everything stays readable."""
    from pi2spark.maintenance import rotate_many_and_reencrypt

    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    subjects = [f"org{i}/r" for i in range(4)]
    reg.register_all(subjects)
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(str(tmp_path / "tbl"))
    # 2 files, each holding rows of ALL subjects → union rewrite = 2 files
    t.append(encrypt_table(_df(spark, subjects, "t").repartition(2), SPEC, keys), spark)
    baseline = content_digest(decrypt_table(t.scan(spark), SPEC, keys))
    n_snaps_before = len(t.snapshots())

    victims = subjects[:3]
    res = rotate_many_and_reencrypt(t, spark, reg, victims, subject_column="repo")
    assert not res.skipped
    # exactly one new snapshot: one pass, not one per subject
    assert len(t.snapshots()) == n_snaps_before + 1

    mids = {s: reg.key_map_versioned()[s] for s in victims}
    for s in victims:
        assert len(mids[s]) == 1  # retired down to the fresh material
    # untouched subject keeps its original single material
    assert len(reg.key_map_versioned()[subjects[3]]) == 1

    keys2 = broadcast_keys(spark, reg.key_map_versioned())
    out = decrypt_table(t.scan(spark), SPEC, keys2, strict=True)
    assert out.filter(F.col("shredded")).count() == 0
    assert content_digest(decrypt_table(t.scan(spark), SPEC, keys2)) == baseline
    # victims' rows carry their own new material ids
    for s in victims:
        kms = {r.content_enc.kms_id for r in t.scan(spark).filter(F.col("repo") == s).collect()}
        assert kms == {f"pi2spark-kms#{mids[s][0][0]}"}
