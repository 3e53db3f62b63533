"""Crypto roundtrip + registry semantics.

Mirrors the reference suites (SURVEY.md §5): LocalCryptoTest size
spectrum, MostRecentMaterialsProviderTest missing-key behavior,
KafkaSecretKeyStoreTest get-or-create idempotence, and the
interceptor roundtrip (KafkaGdprAwareProtobufInterceptorsTest)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
from pi2spark.errors import MissingCryptoMaterialsError
from pi2spark.registry import FORGET, REGISTER, KeyRegistry
from pi2spark.spec import ProtectionSpec

# size spectrum from LocalCryptoTest.java:29
SIZES = [18, 24, 56, 120, 248, 1116, 50000]


def _rows():
    rows = []
    for i, size in enumerate(SIZES):
        rows.append(
            Row(
                repo=f"org{i % 3}/repo{i}",
                path=f"src/f{i}.py",
                commit=f"{i:040x}",
                lang="python",
                content=("x" * (size - 10)) + f"uniq-{i:04d}",
            )
        )
    rows.append(Row(repo="org0/empty", path="e.py", commit="0" * 40, lang="python", content=""))
    return rows


def test_registry_get_or_create_idempotent(tmp_path):
    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    m1 = reg.register("s1")
    m2 = reg.register("s1")
    assert m1.key == m2.key and m1.material_id == m2.material_id
    # replay from disk agrees (event-sourced fold determinism)
    reg2 = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    assert reg2.latest_key("s1") == m1.key


def test_registry_forget_shreds_key(tmp_path):
    reg = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    reg.register("s1")
    reg.register("s2")
    reg.forget("s1")
    assert reg.latest_key("s1") is None
    assert reg.latest_key("s2") is not None
    assert reg.forgotten_subjects() == {"s1"}
    # replay keeps it forgotten
    reg2 = KeyRegistry(str(tmp_path / "cmd.jsonl"))
    assert reg2.latest_key("s1") is None


def test_encrypt_decrypt_roundtrip_size_spectrum(spark):
    spec = ProtectionSpec.for_source_files()
    df = spark.createDataFrame(_rows())
    reg = KeyRegistry()
    reg.register_all(r.repo for r in _rows())
    keys = broadcast_keys(spark, reg.key_map())

    enc = encrypt_table(df, spec, keys)
    enc_rows = {r.path: r for r in enc.collect()}
    # plaintext column gone; envelope populated
    assert "content" not in enc.columns and "content_enc" in enc.columns
    for i in range(len(SIZES)):
        env = enc_rows[f"src/f{i}.py"].content_enc
        assert env.used_transformation == "AES/GCM/NoPadding"
        assert len(env.initialization_vector) == 12
        assert env.personal_data_field == "content"
        assert env.subject_id.startswith("org")
        # ciphertext differs from plaintext
        assert bytes(env.data) != _rows()[i].content.encode()

    dec = decrypt_table(enc, spec, keys)
    got = {r.path: (r.content, r.shredded) for r in dec.collect()}
    for r in _rows():
        assert got[r.path] == (r.content, False)


def test_empty_content_noop_passthrough(spark):
    # JsonPersonalDataFieldDefinition.java:56-58 empty no-op
    spec = ProtectionSpec.for_source_files()
    df = spark.createDataFrame([Row(repo="a", path="p", commit="c", lang="l", content="")])
    reg = KeyRegistry()
    reg.register("a")
    enc = encrypt_table(df, spec, reg.key_map())
    env = enc.collect()[0].content_enc
    assert env.used_transformation == "NOOP/EMPTY" and bytes(env.data) == b""
    dec = decrypt_table(enc, spec, reg.key_map())
    assert dec.collect()[0].content == ""


def test_null_content_noop(spark):
    spec = ProtectionSpec.for_source_files()
    df = spark.createDataFrame(
        [("a", "p", "c", "l", None)],
        "repo string, path string, commit string, lang string, content string",
    )
    reg = KeyRegistry()
    reg.register("a")
    enc = encrypt_table(df, spec, reg.key_map())
    env = enc.collect()[0].content_enc
    # a valid envelope struct whose every field is NULL (no-op)
    assert env is not None and all(v is None for v in env.asDict().values())
    dec = decrypt_table(enc, spec, reg.key_map())
    row = dec.collect()[0]
    assert row.content is None and row.shredded is False


def test_no_pii_table_passthrough(spark):
    # fruit.proto / no-PII interceptor passthrough test analogue
    spec = ProtectionSpec(subject_column="", pii_columns=(), table_name="fruit")
    df = spark.createDataFrame([Row(repo="a", path="p", commit="c", lang="l", content="plain")])
    enc = encrypt_table(df, spec, {})
    assert enc.drop("shredded").collect() == df.collect()


def test_shredded_subject_tombstones_on_scan(spark):
    spec = ProtectionSpec.for_source_files()
    rows = [
        Row(repo="org0/gone", path="a.py", commit="c1", lang="python", content="secret-a"),
        Row(repo="org1/live", path="b.py", commit="c2", lang="python", content="keep-b"),
    ]
    df = spark.createDataFrame(rows)
    reg = KeyRegistry()
    reg.register_all(["org0/gone", "org1/live"])
    enc = encrypt_table(df, spec, reg.key_map())
    enc.cache().count()
    reg.forget("org0/gone")

    dec = decrypt_table(enc, spec, reg.key_map())
    got = {r.path: (r.content, r.shredded) for r in dec.collect()}
    assert got["a.py"] == (None, True)  # tombstone
    assert got["b.py"] == ("keep-b", False)

    # strict mode mirrors the reference's MissingCryptoMaterialsException
    with pytest.raises(Exception) as e:
        decrypt_table(enc, spec, reg.key_map(), strict=True).collect()
    assert "org0/gone" in str(e.value)


def test_udfs_reused_only_for_the_same_keys_object(spark):
    from pi2spark.crypto import _udf, make_decrypt_udf, make_encrypt_udf

    reg = KeyRegistry()
    reg.register_all(["org0/gone", "org1/live"])
    bk = broadcast_keys(spark, reg.key_map())
    assert _udf(make_encrypt_udf, bk, "content") is _udf(make_encrypt_udf, bk, "content")
    assert _udf(make_decrypt_udf, bk, False, True) is not _udf(make_decrypt_udf, bk, False, False)
    plain_map = reg.key_map()
    assert _udf(make_encrypt_udf, plain_map, "content") is not _udf(
        make_encrypt_udf, plain_map, "content"
    )

    # a re-broadcast after a forget gets its own UDF: the scan sees the
    # new key map, not the one the first scan's UDF captured
    spec = ProtectionSpec.for_source_files()
    df = spark.createDataFrame([Row(repo="org0/gone", path="a", commit="c", lang="l", content="x")])
    enc = encrypt_table(df, spec, bk).cache()
    assert [r.content for r in decrypt_table(enc, spec, bk).collect()] == ["x"]
    reg.forget("org0/gone")
    bk2 = broadcast_keys(spark, reg.key_map())
    assert [(r.content, r.shredded) for r in decrypt_table(enc, spec, bk2).collect()] == [
        (None, True)
    ]
    assert [r.content for r in decrypt_table(enc, spec, bk).collect()] == ["x"]
    enc.unpersist()
