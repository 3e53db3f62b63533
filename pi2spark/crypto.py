"""Vectorized AES-GCM envelope encryption/decryption.

Spark-native re-expression of the reference crypto engine (SURVEY.md
§2 A8/A9/A14/A17, §3.1/§3.2):

- The reference encrypts record-at-a-time through Kafka interceptors
  (``LocalEncryptor.java:29-46`` — AES/CBC/PKCS5Padding,
  ``Ciphers.java:34-62``). Here the swap ops are **Arrow UDFs**
  (``F.arrow_udf``) whose kernels take and return pyarrow arrays — no
  pandas round trip, no per-row Python beyond the cipher calls
  (BASELINE.json:input_hint): OpenSSL does the heavy lifting via the
  ``cryptography`` package, Arrow moves the batches. Upgraded CBC→GCM
  per BASELINE.json north_star; the transformation string + IV still
  travel in the envelope exactly like ``EncryptedData.java:7-43``.
- Per-subject key reuse inside each Arrow batch mirrors the
  reference's materials-provider caching: the batch is grouped by
  subject and one ``AESGCM`` object serves every value of that subject
  (SURVEY.md §4.3 hot-spot note).
- One kernel per direction (``_seal``, ``_open_rows``, ``_reseal``),
  two ways to deliver keys to it: a **broadcast** ``subject → versions``
  map (the global table analogue, ``KafkaSecretKeyStore.java:207-215``)
  or a **key DataFrame** joined onto the rows, from which each batch
  rebuilds the same map (``_batch_keys``). Either form carries every
  key version of a subject, so rotated tables read the same way
  through both.
- Decrypt of a subject with no key is the *crypto-shredded* success
  path: the scan emits a tombstone (``content = NULL, shredded = true``)
  instead of the reference's ``MissingCryptoMaterialsException``
  (``MostRecentMaterialsProvider.java:27-36``); ``strict=True``
  restores the raising behavior for parity tests.
- Null content → a valid envelope struct with every field NULL;
  empty-string content passes through unencrypted
  (``JsonPersonalDataFieldDefinition.java:56-58`` empty no-op;
  ``OneOfPersonalDataFieldDefinition.java:66-72`` unset no-op).

The kernels are module-level functions, so the UDF closures pickle
them by reference and never capture cryptography's Rust-backed
classes (which cannot be cloudpickled by value).
"""

from __future__ import annotations

import functools
import os
from typing import Mapping

import pyarrow as pa
import pyarrow.compute as pc
from cryptography.exceptions import InvalidTag
from cryptography.hazmat.primitives.ciphers.aead import AESGCM
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pi2spark.errors import (
    InvalidEncryptedMessageError,
    MissingCryptoMaterialsError,
    SubjectIdentifierRetrievalError,
)
from pi2spark.spec import (
    ENVELOPE_FOR_KEY,
    ENVELOPE_SCHEMA,
    TRANSFORMATION,
    ProtectionSpec,
    find_envelope_field,
)

GCM_NONCE_BYTES = 12
NOOP_TRANSFORMATION = "NOOP/EMPTY"  # empty-string passthrough marker
KMS_ID = "pi2spark-kms"

# ENVELOPE_SCHEMA as the Arrow fields the kernels read and return
_ENVELOPE_FIELDS = [
    pa.field(f.name, pa.binary() if isinstance(f.dataType, T.BinaryType) else pa.string())
    for f in ENVELOPE_SCHEMA.fields
]

# Scan-output schema of one decrypted PII column: plaintext + shredded
# flag (FIXTURES.md §4 case 4 — tombstone keeps the schema stable).
# The content type follows the original column type: string columns
# decode UTF-8, binary columns (serialized sub-messages — the
# reference's primary path, OneOfPersonalDataFieldDefinition.java:53-62)
# come back as raw bytes.
def _decrypt_result(binary: bool) -> T.StructType:
    content = T.StructField("content", T.BinaryType() if binary else T.StringType())
    return T.StructType([content, T.StructField("shredded", T.BooleanType(), False)])


def _resolve_keys(keys) -> Mapping[str, bytes]:
    """Accept either a plain dict or a pyspark Broadcast of one."""
    return keys.value if hasattr(keys, "value") else keys


def _batch_keys(subject: pa.Array, key: pa.Array) -> dict:
    """Key-DataFrame delivery: the join repeats a subject's key entry
    on every row of that subject, so the first row of each subject
    gives this batch's ``subject → entry`` map — the same shape the
    broadcast delivery hands the kernels. Typed indices: ``take`` rejects
    the null-typed array an empty list becomes (a batch of NULL subjects)."""
    first: dict = {}
    for i, s in enumerate(subject.to_pylist()):
        if s is not None:
            first.setdefault(s, i)
    return dict(zip(first, key.take(pa.array(list(first.values()), pa.int64())).to_pylist()))


def _versions(entry) -> list[tuple[str | None, bytes]] | None:
    """Normalize one subject's key entry to an ordered version list
    ``[(material_id, key), ...]`` (latest last). A plain key
    (``KeyRegistry.key_map``, or a user's own ``(subject_id, key
    binary)`` table) becomes a single anonymous version; versioned
    entries (``key_map_versioned`` pairs, or the
    ``array<struct<material_id, key>>`` cells of ``KeyRegistry.key_df``,
    which Arrow hands over as dicts) pass through. ``None`` ⇒ subject
    has no materials (crypto-shredded)."""
    if entry is None:
        return None
    if isinstance(entry, (bytes, bytearray)):
        return [(None, bytes(entry))]
    return [
        (e["material_id"], bytes(e["key"])) if isinstance(e, dict) else (e[0], bytes(e[1]))
        for e in entry
    ]


def _material_id(kms_id) -> str | None:
    """Material id of the sealing key embedded in an envelope's
    ``kms_id`` (``<kms>#<mid>``); None for rows sealed under an
    anonymous key (pre-rotation writers, unversioned maps)."""
    return kms_id.split("#", 1)[1] if (kms_id and "#" in kms_id) else None


def _kms_id(mid: str | None) -> str:
    return KMS_ID if mid is None else f"{KMS_ID}#{mid}"


class _SubjectMaterials:
    """One subject's key versions inside one batch group, with one
    ``AESGCM`` per material built on first use. ``open`` is the single
    definition of which material(s) may have sealed a row; decrypt and
    reencrypt both go through it."""

    def __init__(self, subject, versions, strict: bool):
        self.subject = subject
        self.versions = versions or []
        self.by_mid = dict(self.versions)
        self.unversioned = len(self.versions) == 1 and self.versions[0][0] is None
        self.strict = strict
        self._aeads: dict = {}
        self._chain: list | None = None

    def aead(self, mid: str | None) -> AESGCM:
        aead = self._aeads.get(mid)
        if aead is None:
            aead = self._aeads[mid] = AESGCM(self.by_mid[mid])
        return aead

    def _gone(self, why: str, cause: Exception | None = None) -> None:
        """The sealing material no longer exists (shredded subject or
        retired version): tombstone (None) when non-strict, raise
        MISSING MATERIALS — not a corruption alarm — when strict."""
        if self.strict:
            raise MissingCryptoMaterialsError(why) from cause
        return None

    def open(self, kms_id, iv, data) -> bytes | None:
        """Plaintext of one sealed row, or None when its material is
        gone (see ``_gone``)."""
        if not self.versions:
            return self._gone(str(self.subject))
        mid = _material_id(kms_id)
        speculative = False
        if mid is not None and mid not in self.by_mid:
            if not self.unversioned:
                # material destroyed (retired after rotation): same
                # contract as a shredded subject
                return self._gone(f"{self.subject} material {mid}")
            # The subject's keys are one anonymous version
            # (``KeyRegistry.key_map``): the embedded material id can
            # never match, but the available key may well BE that
            # material (it is, whenever the map was materialized after
            # the same rotation that sealed this row). Attempt
            # decryption with it — AES-GCM authentication makes a
            # wrong-key attempt fail exactly, never yield garbage.
            mid, speculative = None, True
        if mid is None and not self.unversioned:
            # mid-less row under VERSIONED keys: sealed before
            # versioning, could be under any surviving version — or
            # under one already retired (then every attempt fails
            # authentication). Try newest→oldest; a wrong-version guess
            # can never yield garbage plaintext, only InvalidTag.
            if self._chain is None:
                self._chain = [self.aead(m) for m, _ in reversed(self.versions)]
            candidates = self._chain
            speculative = True
        else:
            candidates = [self.aead(mid)]
        iv, data = bytes(iv), bytes(data)
        for aead in candidates[:-1]:
            try:
                return aead.decrypt(iv, data, None)
            except InvalidTag:
                pass
        try:
            return candidates[-1].decrypt(iv, data, None)
        except InvalidTag as e:
            # A speculative attempt that exhausts its candidates means
            # the sealing material is no longer delivered — the
            # destroyed-material contract. Only a non-speculative
            # failure — the right key rejecting its own ciphertext — is
            # corruption.
            if speculative:
                return self._gone(f"{self.subject}: no surviving material authenticates this row", e)
            raise InvalidEncryptedMessageError(
                f"authentication failed for subject {self.subject}"
            ) from e


def broadcast_keys(spark: SparkSession, key_map: Mapping[str, bytes]):
    """Ship the registry's materialized key map to executors once per
    pass — the Spark analogue of the reference's replicated global
    key store (KafkaSecretKeyStore.java:207-215). Accepts
    ``KeyRegistry.key_map`` (latest key only) or
    ``key_map_versioned`` (every version — needed to read rows sealed
    before a rotation).

    Scale cutover: a broadcast dict costs ~150 B/subject of driver AND
    executor heap (10^6 subjects ≈ 150 MB — the practical ceiling).
    Beyond that, pass a **key DataFrame** (``KeyRegistry.key_df``)
    instead: the key distribution becomes a join that Spark sizes
    itself (broadcast-hash while small, shuffle join at 10^7-10^8
    subjects), with no driver materialization."""
    return spark.sparkContext.broadcast(dict(key_map))


def _columns(env: pa.StructArray) -> list[list]:
    """Python values of an envelope batch's six fields.
    ``flatten`` carries a NULL struct's validity into its fields, so a
    NULL envelope reads as a row with a NULL subject."""
    fields = dict(zip((f.name for f in env.type), env.flatten()))
    return [fields[f.name].to_pylist() for f in _ENVELOPE_FIELDS]


def _by_subject(subjects: list, values: list | None = None) -> list[tuple[str, list[int]]]:
    """``(subject, row indices)`` per non-NULL subject of one batch, in
    subject order, leaving out rows whose ``values`` entry is NULL.
    Each kernel builds one ``AESGCM`` per group (per-subject key reuse,
    SURVEY.md §4.3)."""
    groups: dict = {}
    for i, s in enumerate(subjects):
        if s is not None and (values is None or values[i] is not None):
            groups.setdefault(s, []).append(i)
    return sorted(groups.items())


def _envelope(*columns) -> pa.StructArray:
    """``ENVELOPE_SCHEMA`` batch from its six columns (arrays or lists)."""
    arrays = [pa.array(c, f.type) for c, f in zip(columns, _ENVELOPE_FIELDS)]
    return pa.StructArray.from_arrays(arrays, fields=_ENVELOPE_FIELDS)


def _seal(subject: pa.Array, value: pa.Array, keys: Mapping, pii_column: str) -> pa.StructArray:
    """Encrypt kernel: (subject, plaintext) batch → envelope batch,
    with ``keys`` mapping each subject to its key entry."""
    valid = value.is_valid()
    if pc.any(pc.and_(subject.is_null(), valid)).as_py():
        raise SubjectIdentifierRetrievalError(pii_column)
    # binary PII (serialized sub-message bytes) is encrypted as-is; a
    # string column's UTF-8 bytes are reinterpreted, not copied
    values = value.cast(pa.binary()).to_pylist()
    out_kms, out_data, out_transf, out_iv = ([None] * len(values) for _ in range(4))
    for subj, idxs in _by_subject(subject.to_pylist(), values):
        versions = _versions(keys.get(subj))
        if not versions:
            raise MissingCryptoMaterialsError(str(subj))
        # new writes use the LATEST material (A18); its id travels in
        # kms_id so post-rotation decrypts pick the right version
        mid, key = versions[-1]
        aead, kms = AESGCM(key), _kms_id(mid)
        nonce_pool = os.urandom(GCM_NONCE_BYTES * len(idxs))
        for j, i in enumerate(idxs):
            out_kms[i] = kms
            if not values[i]:  # empty no-op: passes through unencrypted
                out_data[i], out_transf[i], out_iv[i] = b"", NOOP_TRANSFORMATION, b""
                continue
            nonce = nonce_pool[j * GCM_NONCE_BYTES : (j + 1) * GCM_NONCE_BYTES]
            out_data[i] = aead.encrypt(nonce, values[i], None)
            out_transf[i], out_iv[i] = TRANSFORMATION, nonce
    # a NULL value leaves every field NULL (the struct itself is valid)
    subject_out, field_out = pc.if_else(valid, subject, None), pc.if_else(valid, pii_column, None)
    return _envelope(subject_out, out_kms, out_data, field_out, out_transf, out_iv)


def _open_rows(env: pa.StructArray, keys: Mapping, strict: bool, binary: bool) -> pa.StructArray:
    """Decrypt kernel: envelope batch → (plaintext, shredded) batch."""
    subjects, kms_ids, datas, _, transfs, ivs = _columns(env)
    content: list = [None] * len(subjects)
    shredded = [False] * len(subjects)
    for subj, idxs in _by_subject(subjects):
        mats = _SubjectMaterials(subj, _versions(keys.get(subj)), strict)
        for i in idxs:
            if transfs[i] == NOOP_TRANSFORMATION:
                content[i] = b""
                continue
            content[i] = mats.open(kms_ids[i], ivs[i], datas[i])
            shredded[i] = content[i] is None  # material gone: tombstone
    plain = pa.array(content, pa.binary())
    if not binary:
        try:
            plain = plain.cast(pa.string())  # UTF-8 validated in C
        except pa.ArrowInvalid as e:
            # only an invalid row changes under a lossy decode round trip
            rows = zip(subjects, content)
            bad = next(s for s, c in rows if c and c.decode(errors="replace").encode() != c)
            msg = f"plaintext for subject {bad} is not valid UTF-8"
            raise InvalidEncryptedMessageError(msg) from e
    return pa.StructArray.from_arrays(
        [plain, pa.array(shredded, pa.bool_())],
        fields=[pa.field("content", plain.type), pa.field("shredded", pa.bool_(), nullable=False)],
    )


def _reseal(env: pa.StructArray, keys: Mapping, rotate_set: set) -> pa.StructArray:
    """Reencrypt kernel: envelope batch → envelope batch with the rows
    of ``rotate_set`` subjects resealed under their latest material."""
    cols = _columns(env)
    subjects, kms_ids, datas, _, transfs, ivs = cols
    for subj, idxs in _by_subject(subjects):
        if subj not in rotate_set:
            continue
        versions = _versions(keys.get(subj))
        if not versions:
            raise MissingCryptoMaterialsError(str(subj))
        # strict: a row whose material is gone cannot be resealed
        mats = _SubjectMaterials(subj, versions, strict=True)
        latest_mid = versions[-1][0]
        enc_aead = mats.aead(latest_mid)
        for i in idxs:
            if transfs[i] == NOOP_TRANSFORMATION or _material_id(kms_ids[i]) == latest_mid:
                continue  # no-op row, or already current
            plain = mats.open(kms_ids[i], ivs[i], datas[i])
            ivs[i] = os.urandom(GCM_NONCE_BYTES)
            datas[i] = enc_aead.encrypt(ivs[i], plain, None)
            kms_ids[i] = _kms_id(latest_mid)
    return _envelope(*cols)


def make_encrypt_udf(keys, pii_column: str):
    """Vectorized encrypt-swap (A8): (subject, plaintext) batches →
    envelope struct batches. ``keys`` is a dict / Broadcast map, or a
    key DataFrame — then the UDF takes the joined key column as a third
    argument (see ``encrypt_table``)."""
    if isinstance(keys, DataFrame):

        def _encrypt(subject: pa.Array, value: pa.Array, key: pa.Array) -> pa.Array:
            return _seal(subject, value, _batch_keys(subject, key), pii_column)

    else:

        def _encrypt(subject: pa.Array, value: pa.Array) -> pa.Array:
            return _seal(subject, value, _resolve_keys(keys), pii_column)

    return F.arrow_udf(_encrypt, ENVELOPE_SCHEMA)


def make_decrypt_udf(keys, strict: bool = False, binary: bool = False):
    """Vectorized decrypt-swap (A9): envelope struct batches →
    (plaintext, shredded) struct batches. Missing key → tombstone
    (or raise when strict). ``binary=True`` returns raw bytes (binary
    PII columns) instead of UTF-8 decoding. ``keys`` as for
    ``make_encrypt_udf``: a key DataFrame adds the joined key column as
    a second argument."""
    if isinstance(keys, DataFrame):

        def _decrypt(env: pa.Array, key: pa.Array) -> pa.Array:
            return _open_rows(env, _batch_keys(env.field("subject_id"), key), strict, binary)

    else:

        def _decrypt(env: pa.Array) -> pa.Array:
            return _open_rows(env, _resolve_keys(keys), strict, binary)

    return F.arrow_udf(_decrypt, _decrypt_result(binary))


def make_reencrypt_udf(keys, subjects):
    """Envelope → envelope rewrite for key rotation
    (``maintenance.reencrypt``): rows belonging to ``subjects`` whose
    envelope was sealed under a non-latest material are opened exactly
    as ``decrypt_table(strict=True)`` opens them and re-encrypted under
    the LATEST material, with the new material id stamped into
    ``kms_id``; every other row passes through byte-identical.
    ``keys`` must be a versioned map (``KeyRegistry.key_map_versioned``,
    plain or broadcast): old versions read, the latest writes."""
    rotate_set = set(subjects)

    def _reenc(env: pa.Array) -> pa.Array:
        return _reseal(env, _resolve_keys(keys), rotate_set)

    return F.arrow_udf(_reenc, ENVELOPE_SCHEMA)


@functools.lru_cache(maxsize=8)
def _cached_udf(factory, keys, *args):
    return factory(keys, *args)


def _udf(factory, keys, *args):
    """``factory(keys, *args)``, reused while the same Broadcast or key
    DataFrame (hashed by identity) comes back: a UDF pickles its closure
    and builds its JVM twin on first use (about 15 Py4J round trips).
    A plain mapping may change between calls, so it is never reused."""
    if isinstance(keys, Mapping):
        return factory(keys, *args)
    return _cached_udf(factory, keys, *args)


_KEY_COL = "__pi2_key"


def _join_keys(df: DataFrame, spec: ProtectionSpec, key_df: DataFrame) -> DataFrame:
    """Left-join the key DataFrame (``subject_id``, ``key``) onto the
    table's subject column as ``__pi2_key``. Spark picks the join
    strategy by size (broadcast-hash while the key table is small,
    shuffle join beyond), so subject cardinality is unbounded by driver
    memory."""
    kd = key_df.select(
        F.col("subject_id").alias("__pi2_subj"), F.col("key").alias(_KEY_COL)
    )
    return df.join(kd, df[spec.subject_column] == kd["__pi2_subj"], "left").drop("__pi2_subj")


def encrypt_table(df: DataFrame, spec: ProtectionSpec, keys) -> DataFrame:
    """Encrypt-on-write stage (A12): replace each PII column with its
    envelope struct column and add a ``shredded`` lineage flag.

    Column order: non-PII columns unchanged, each PII column replaced
    in place by ``<col>_enc``, plus trailing ``shredded``.
    No-PII spec → returned unchanged apart from the flag (driver
    short-circuit, A11).

    ``keys`` is a dict / Broadcast map (``KeyRegistry.key_map`` or
    ``key_map_versioned``) or a key **DataFrame** (``KeyRegistry.key_df``,
    whose ``key`` is ``array<struct<material_id, key>>`` or ``binary``;
    see ``broadcast_keys`` for the cutover). Either way rows are sealed
    under the subject's latest material, stamped
    ``pi2spark-kms#<material_id>`` when the keys are versioned."""
    if not spec.requires_encryption:
        return df.withColumn("shredded", F.lit(False))
    flag = F.lit(False).alias("shredded")
    keyed = isinstance(keys, DataFrame)
    src = _join_keys(df, spec, keys) if keyed else df
    # ``src[name]`` binds a column in one Py4J call, ``F.col`` in three
    key_args = [src[_KEY_COL]] if keyed else []
    cols: list[Column] = []
    for name in df.columns:
        if name in spec.pii_columns:
            enc = _udf(make_encrypt_udf, keys, name)
            cols.append(
                enc(src[spec.subject_column], src[name], *key_args).alias(
                    spec.envelope_column(name),
                    # envelope-slot marker: lets decrypt locate and
                    # validate the slot even off naming convention
                    # (spec.find_envelope_field); survives parquet
                    metadata={ENVELOPE_FOR_KEY: name},
                )
            )
        else:
            # an incoming flag (a decrypted frame) is reset in place
            cols.append(flag if name == "shredded" else src[name])
    # one projection: every extra DataFrame step is driver-side
    # analysis paid on each append
    return src.select(*cols, *([] if "shredded" in df.columns else [flag]))


def decrypt_table(df: DataFrame, spec: ProtectionSpec, keys, strict: bool = False) -> DataFrame:
    """Decrypt-on-read stage (A13): restore plaintext PII columns from
    envelope columns; rows of shredded subjects come back as
    tombstones (``content NULL, shredded=true``). Rows already
    tombstoned on disk (post-MERGE-shred, envelope NULL +
    shredded=true) stay tombstones.

    ``keys``: dict / Broadcast map, or a key DataFrame for the join
    path (unbounded subject cardinality — a subject absent from the key
    DataFrame joins to a NULL key, which is exactly the
    crypto-shredded tombstone case). Both feed one decrypt kernel, so
    they read rotated tables identically: a row opens under the
    material id in its ``kms_id``, and mid-less rows try every
    delivered version newest→oldest."""
    if not spec.requires_encryption:
        return df
    keyed = isinstance(keys, DataFrame)
    out = _join_keys(df, spec, keys) if keyed else df
    key_args = [F.col(_KEY_COL)] if keyed else []
    stored_flag = (
        F.coalesce(F.col("shredded"), F.lit(False)) if "shredded" in df.columns else F.lit(False)
    )
    # Validate every envelope slot up front (exactly one per PII column,
    # struct-typed) — the reference's read-side format check
    # (OneOfPersonalDataFieldDefinition.java:98-106,135-158). Raises
    # EncryptionTargetFieldNotFoundError / TooManyEncryptionTargetFieldsError /
    # UnsupportedEncryptedFieldFormatError before any job runs.
    env_cols = {
        name: find_envelope_field(df.schema, name, spec.envelope_suffix, spec.table_name)
        for name in spec.pii_columns
    }
    # two projections: the first runs every decrypt UDF once, the
    # second reads each result's two fields
    out = out.select(
        "*",
        *[
            _udf(make_decrypt_udf, keys, strict, name in spec.binary_columns)(
                F.col(env_cols[name]), *key_args
            ).alias(f"__dec_{name}")
            for name in spec.pii_columns
        ],
    )
    shredded = stored_flag
    plain = {}
    for name in spec.pii_columns:
        null = F.lit(None).cast("binary" if name in spec.binary_columns else "string")
        plain[name] = F.when(stored_flag, null).otherwise(F.col(f"__dec_{name}.content")).alias(name)
        shredded = shredded | F.coalesce(F.col(f"__dec_{name}.shredded"), F.lit(False))
    # envelope columns back to plaintext names, preserving order
    env_to_plain = {env_cols[c]: c for c in spec.pii_columns}
    restored = [
        env_to_plain.get(env_cols.get(c, c), c) for c in df.columns if c != "shredded"
    ]
    return out.select(*[plain.get(c, c) for c in restored], shredded.alias("shredded"))
