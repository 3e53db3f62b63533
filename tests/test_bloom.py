"""Per-file subject Bloom filters: unit props + shred-targeting gain."""

import base64
import random

from pyspark.sql import functions as F

from pi2spark.bloom import bloom_may_contain, bloom_may_contain_probes, bloom_probes, build_bloom
from pi2spark.crypto import broadcast_keys, encrypt_table
from pi2spark.maintenance import cluster, shred
from pi2spark.registry import KeyRegistry
from pi2spark.spec import ProtectionSpec
from pi2spark.synth import synthesize_source_files
from pi2spark.table import ColumnPredicate, Table


def test_bloom_membership_and_fpr():
    members = [f"org{i}/repo{i%7}" for i in range(400)]
    b = build_bloom(members)
    assert all(bloom_may_contain(b, m) for m in members)  # no false negatives
    probes = [f"absent{i}/x" for i in range(2000)]
    fpr = sum(bloom_may_contain(b, p) for p in probes) / len(probes)
    assert fpr < 0.1, f"false positive rate too high: {fpr}"


def test_bloom_deterministic():
    assert build_bloom(["a", "b"]) == build_bloom(["b", "a"])  # order-free


def test_probes_agree_with_per_value_check():
    """Hashing a predicate's values once and testing each bitset with
    the probes answers exactly as testing every value per bitset."""
    rng = random.Random(11)
    for _ in range(60):
        m_bits = rng.choice([64, 512, 4096, 8192])
        members = [f"org{rng.randrange(10**6)}/r{i}" for i in range(rng.randrange(1, 700))]
        random_bits = base64.b64encode(rng.randbytes(m_bits // 8)).decode("ascii")
        values = rng.sample(members, min(2, len(members))) + [
            f"absent{rng.randrange(10**6)}" for _ in range(rng.randrange(0, 4))
        ]
        rng.shuffle(values)
        for bits in (build_bloom(members, m_bits=m_bits), random_bits):
            for n in range(len(values) + 1):
                want = any(bloom_may_contain(bits, v) for v in values[:n])
                assert bloom_may_contain_probes(bits, bloom_probes(values[:n])) == want


def test_plan_files_matches_per_value_bloom_pruning(spark, tmp_path):
    t = Table.create(str(tmp_path / "tbl"))
    rows = [(f"org{i % 90}/r", f"p{i}.py", "c", "py", "x") for i in range(900)]
    df = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    t.append(df.repartition(6), spark)
    files = t.snapshot().files
    assert len(files) == 6 and all("repo" in f.blooms for f in files)

    def per_value(f, vals):
        mn, mx = f.stats["repo"]
        return any(bloom_may_contain(f.blooms["repo"], v) for v in vals) and any(
            mn <= v <= mx for v in vals
        )

    rng = random.Random(5)
    for _ in range(20):
        vals = tuple(rng.sample([r[0] for r in rows] + ["org999/none"], rng.randrange(1, 4)))
        for pred in (ColumnPredicate("repo", "in", values=vals), ColumnPredicate("repo", "eq", vals[0])):
            want = [f for f in files if per_value(f, vals if pred.op == "in" else vals[:1])]
            assert t.plan_files(filters=[pred])[1] == want


def test_shred_targeting_with_blooms(spark, tmp_table_root, tmp_path):
    spec = ProtectionSpec.for_source_files()
    plain = synthesize_source_files(spark, 1500, seed=42, partitions=8, max_len=1500).cache()
    reg = KeyRegistry()
    reg.register_all(r.repo for r in plain.select("repo").distinct().collect())
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(tmp_table_root)
    t.append(encrypt_table(plain, spec, keys), spark)
    cluster(t, spark, curve="morton", target_file_bytes=32 * 1024, bits=12)

    snap = t.snapshot()
    assert all("repo" in f.blooms for f in snap.files)

    victim = (
        t.scan(spark).groupBy("repo").count().filter(F.col("repo") != "org0/megarepo")
        .orderBy("count", "repo").first()["repo"]
    )
    # bloom-pruned plan vs stats-only plan
    pred = ColumnPredicate("repo", "eq", victim)
    bloom_files = [f for f in snap.files if pred.may_match(f)]
    stats_only = [
        f for f in snap.files
        if not f.stats.get("repo") or f.stats["repo"][0] <= victim <= f.stats["repo"][1]
    ]
    truth = {
        r.file
        for r in t.scan(spark).filter(F.col("repo") == victim)
        .select(F.input_file_name().alias("file")).distinct().collect()
    }
    # no false negatives: every file truly containing the victim survives
    assert len(bloom_files) >= len(truth) > 0
    # and blooms prune at least as tightly as stats (typically much tighter)
    assert len(bloom_files) <= len(stats_only)

    reg.forget(victim)
    res = shred(t, spark, [victim], target_file_bytes=32 * 1024)
    assert res.details["affected_files"] == len(bloom_files)
    # correctness: victim fully tombstoned
    from pi2spark.crypto import decrypt_table

    scan = decrypt_table(t.scan(spark), spec, broadcast_keys(spark, reg.key_map()))
    assert scan.filter((F.col("repo") == victim) & ~F.col("shredded")).count() == 0
    plain.unpersist()
