"""Binary PII payloads (the reference's primary path: serialized
sub-message bytes, OneOfPersonalDataFieldDefinition.java:53-62,
encrypted_personal_data.proto:13) and the read-side envelope-slot
validation errors (:98-106, :135-158)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pi2spark.crypto import decrypt_table, encrypt_table
from pi2spark.errors import (
    EncryptionTargetFieldNotFoundError,
    TooManyEncryptionTargetFieldsError,
    UnsupportedEncryptedFieldFormatError,
)
from pi2spark.registry import KeyRegistry
from pi2spark.spec import ENVELOPE_FOR_KEY, ProtectionSpec, annotate_schema, find_envelope_field


def _binary_spec():
    schema = annotate_schema(
        T.StructType(
            [
                T.StructField("user", T.StringType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
        subject_column="user",
        pii_columns=["payload"],
    )
    return schema, ProtectionSpec.from_schema(schema, table_name="msgs")


def test_spec_records_binary_columns():
    _, spec = _binary_spec()
    assert spec.binary_columns == ("payload",)
    assert spec.pii_columns == ("payload",)


def test_binary_roundtrip_including_empty_and_null(spark):
    schema, spec = _binary_spec()
    rows = [
        ("alice", b"\x00\x01serialized-proto\xff\xfe"),
        ("alice", b""),  # empty no-op passthrough
        ("bob", b"another \x80 payload"),
        ("bob", None),  # null stays null
    ]
    df = spark.createDataFrame(rows, schema)
    reg = KeyRegistry()
    reg.register_all(["alice", "bob"])
    keys = reg.key_map()

    enc = encrypt_table(df, spec, keys)
    # envelope replaced the binary column with the struct
    assert isinstance(enc.schema["payload_enc"].dataType, T.StructType)
    # ciphertext differs from plaintext for the non-empty payloads
    ct = {bytes(r.data) for r in enc.select("payload_enc.data").collect() if r.data}
    assert not ct & {rows[0][1], rows[2][1]}

    dec = decrypt_table(enc, spec, keys)
    # decrypted column is BinaryType again
    assert isinstance(dec.schema["payload"].dataType, T.BinaryType)
    got = sorted(
        ((r.user, None if r.payload is None else bytes(r.payload)) for r in dec.collect()),
        key=lambda x: (x[0], x[1] is None, x[1] or b""),
    )
    want = sorted(
        ((u, p) for u, p in rows),
        key=lambda x: (x[0], x[1] is None, x[1] or b""),
    )
    assert got == want
    assert dec.filter(F.col("shredded")).count() == 0


def test_non_utf8_plaintext_under_string_spec_raises_invalid_message(spark):
    """A ciphertext whose plaintext is not UTF-8, read back under a
    string PII column, is a corrupt message, not a decode traceback."""
    schema, spec = _binary_spec()
    df = spark.createDataFrame([("alice", b"\xff\xfe")], schema)
    reg = KeyRegistry()
    reg.register("alice")
    enc = encrypt_table(df, spec, reg.key_map())
    as_string = ProtectionSpec(subject_column="user", pii_columns=("payload",), table_name="msgs")
    with pytest.raises(Exception, match="InvalidEncryptedMessageError.*subject alice is not valid UTF-8"):
        decrypt_table(enc, as_string, reg.key_map()).collect()


def test_binary_shred_tombstone(spark):
    schema, spec = _binary_spec()
    df = spark.createDataFrame([("alice", b"secret"), ("bob", b"kept")], schema)
    reg = KeyRegistry()
    reg.register_all(["alice", "bob"])
    enc = encrypt_table(df, spec, reg.key_map())
    reg.forget("alice")
    dec = decrypt_table(enc, spec, reg.key_map()).collect()
    by_user = {r.user: r for r in dec}
    assert by_user["alice"].payload is None and by_user["alice"].shredded
    assert bytes(by_user["bob"].payload) == b"kept" and not by_user["bob"].shredded


def test_mixed_string_and_binary_pii(spark):
    schema = annotate_schema(
        T.StructType(
            [
                T.StructField("user", T.StringType()),
                T.StructField("bio", T.StringType()),
                T.StructField("avatar", T.BinaryType()),
            ]
        ),
        subject_column="user",
        pii_columns=["bio", "avatar"],
    )
    spec = ProtectionSpec.from_schema(schema)
    assert spec.binary_columns == ("avatar",)
    df = spark.createDataFrame([("u1", "hello", b"\x89PNG"), ("u2", "world", b"GIF89a")], schema)
    reg = KeyRegistry()
    reg.register_all(["u1", "u2"])
    dec = decrypt_table(encrypt_table(df, spec, reg.key_map()), spec, reg.key_map())
    got = {(r.user, r.bio, bytes(r.avatar)) for r in dec.collect()}
    assert got == {("u1", "hello", b"\x89PNG"), ("u2", "world", b"GIF89a")}


# ---------------------------------------------------------------------------
# envelope-slot validation (previously unreachable error classes)
# ---------------------------------------------------------------------------


def test_decrypt_missing_envelope_raises_not_found(spark):
    spec = ProtectionSpec(subject_column="user", pii_columns=("bio",), table_name="t")
    df = spark.createDataFrame([("u1", 1)], "user string, other int")
    with pytest.raises(EncryptionTargetFieldNotFoundError):
        decrypt_table(df, spec, {})


def test_decrypt_malformed_envelope_raises_unsupported_format(spark):
    spec = ProtectionSpec(subject_column="user", pii_columns=("bio",), table_name="t")
    # bio_enc exists but is a plain string, not the envelope struct
    df = spark.createDataFrame([("u1", "not-a-struct")], "user string, bio_enc string")
    with pytest.raises(UnsupportedEncryptedFieldFormatError):
        decrypt_table(df, spec, {})


def test_two_envelope_slots_raise_too_many():
    env_meta = {ENVELOPE_FOR_KEY: "bio"}
    schema = T.StructType(
        [
            T.StructField("user", T.StringType()),
            T.StructField("bio_enc", T.StringType(), metadata=env_meta),
            T.StructField("bio_cipher", T.StringType(), metadata=env_meta),
        ]
    )
    with pytest.raises(TooManyEncryptionTargetFieldsError):
        find_envelope_field(schema, "bio", container="t")


def test_envelope_found_by_metadata_marker_off_convention(spark):
    """An envelope under a non-conventional name is still located via
    the pi2schema-envelope-for marker written by encrypt_table."""
    schema = annotate_schema(
        T.StructType([T.StructField("user", T.StringType()), T.StructField("bio", T.StringType())]),
        subject_column="user",
        pii_columns=["bio"],
    )
    spec = ProtectionSpec.from_schema(schema)
    df = spark.createDataFrame([("u1", "text")], schema)
    reg = KeyRegistry()
    reg.register("u1")
    enc = encrypt_table(df, spec, reg.key_map())
    renamed = enc.select(
        "user",
        F.col("bio_enc").alias("weird_name", metadata={ENVELOPE_FOR_KEY: "bio"}),
        "shredded",
    )
    assert find_envelope_field(renamed.schema, "bio") == "weird_name"
    dec = decrypt_table(renamed, spec, reg.key_map())
    assert dec.collect()[0].bio == "text"
