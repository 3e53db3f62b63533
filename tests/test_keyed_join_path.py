"""Keyed-join key distribution (the unbounded-subject-cardinality
path): encrypt/decrypt with a (subject_id, key) DataFrame must be
digest-equal to the broadcast-map path, including tombstones for
forgotten subjects and binary PII."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
from pi2spark.errors import MissingCryptoMaterialsError
from pi2spark.registry import KeyRegistry
from pi2spark.spec import ProtectionSpec, annotate_schema
from pi2spark.synth import synthesize_source_files
from pi2spark.verify import content_digest

SPEC = ProtectionSpec.for_source_files()


def test_keyed_roundtrip_digest_equal_to_broadcast(spark):
    plain = synthesize_source_files(spark, 400, seed=11, partitions=4, max_len=1500).cache()
    reg = KeyRegistry()
    reg.register_all(r.repo for r in plain.select("repo").distinct().collect())
    bkeys = broadcast_keys(spark, reg.key_map())
    kdf = reg.key_df(spark)

    enc_b = encrypt_table(plain, SPEC, bkeys)
    enc_k = encrypt_table(plain, SPEC, kdf)
    # decrypt each with the OTHER path: proves envelope interop too
    d1 = content_digest(decrypt_table(enc_b, SPEC, kdf))
    d2 = content_digest(decrypt_table(enc_k, SPEC, bkeys))
    d3 = content_digest(decrypt_table(enc_k, SPEC, kdf))
    baseline = content_digest(plain.withColumn("shredded", F.lit(False)))
    assert d1 == d2 == d3 == baseline
    plain.unpersist()


def test_keyed_tombstone_on_forgotten_subject(spark):
    plain = synthesize_source_files(spark, 300, seed=12, partitions=2, max_len=800).cache()
    reg = KeyRegistry()
    subjects = sorted(r.repo for r in plain.select("repo").distinct().collect())
    reg.register_all(subjects)
    enc = encrypt_table(plain, SPEC, broadcast_keys(spark, reg.key_map()))
    victim = subjects[0]
    reg.forget(victim)
    dec = decrypt_table(enc, SPEC, reg.key_df(spark))
    vic = dec.filter(F.col("repo") == victim)
    n = vic.count()
    assert n > 0
    assert vic.filter(F.col("shredded") & F.col("content").isNull()).count() == n
    assert dec.filter((F.col("repo") != victim) & F.col("shredded")).count() == 0
    # strict mode raises instead
    with pytest.raises(Exception) as ei:
        decrypt_table(enc, SPEC, reg.key_df(spark), strict=True).collect()
    assert "MissingCryptoMaterials" in str(ei.value) or isinstance(
        ei.value, MissingCryptoMaterialsError
    )
    plain.unpersist()


def test_keyed_encrypt_missing_key_raises(spark):
    df = spark.createDataFrame([("ghost", "secret")], "repo string, content string")
    reg = KeyRegistry()
    reg.register("someone-else")
    with pytest.raises(Exception) as ei:
        encrypt_table(df, SPEC, reg.key_df(spark)).collect()
    assert "ghost" in str(ei.value)


def test_keyed_binary_pii_roundtrip(spark):
    schema = annotate_schema(
        T.StructType(
            [T.StructField("user", T.StringType()), T.StructField("payload", T.BinaryType())]
        ),
        subject_column="user",
        pii_columns=["payload"],
    )
    spec = ProtectionSpec.from_schema(schema)
    df = spark.createDataFrame([("u1", b"\x00bin\xff"), ("u2", b""), ("u2", None)], schema)
    reg = KeyRegistry()
    reg.register_all(["u1", "u2"])
    kdf = reg.key_df(spark)
    dec = decrypt_table(encrypt_table(df, spec, kdf), spec, kdf)
    got = {(r.user, None if r.payload is None else bytes(r.payload)) for r in dec.collect()}
    assert got == {("u1", b"\x00bin\xff"), ("u2", b""), ("u2", None)}


def test_keyed_batches_with_no_subject(spark):
    """A batch in which no row has a subject gives the key-DataFrame
    kernels an empty subject → key map: encrypting all-NULL rows and
    decrypting all-NULL envelopes (shred tombstones, NULL content) must
    pass through, as they do under a broadcast map."""
    reg = KeyRegistry()
    reg.register("r1")
    kdf = reg.key_df(spark)
    nulls = spark.createDataFrame([(None, None), (None, None)], "repo string, content string")
    enc = encrypt_table(nulls.coalesce(1), SPEC, kdf)
    rows = enc.collect()
    assert [r.content_enc.asDict() for r in rows] == [
        dict.fromkeys(r.content_enc.asDict()) for r in rows
    ]
    dec = decrypt_table(enc, SPEC, kdf).collect()
    assert [(r.content, r.shredded) for r in dec] == [(None, False), (None, False)]

    # shred tombstones on disk: the envelope struct itself is NULL
    live = spark.createDataFrame([("r1", "a"), ("r1", "b")], "repo string, content string")
    env_type = encrypt_table(live, SPEC, kdf).schema["content_enc"].dataType
    tomb = encrypt_table(live, SPEC, kdf).select(
        "repo", F.lit(None).cast(env_type).alias("content_enc"), F.lit(True).alias("shredded")
    )
    dec = decrypt_table(tomb.coalesce(1), SPEC, kdf).collect()
    assert [(r.repo, r.content, r.shredded) for r in dec] == [("r1", None, True)] * 2
