"""KeyRegistry — per-subject AES-256 key store + command log.

Spark-native re-expression of the reference KMS (SURVEY.md §2
A15-A21, §3.3):

- The reference keeps ``Subject → [SubjectCryptographicMaterial]`` in a
  Kafka Streams state store fed by a REGISTER/FORGET command topic
  (``KafkaSecretKeyStore.java:195-263``,
  ``kms/kafka_provider.proto:6-21``) and replicates it to every node as
  a *global table* (``KafkaSecretKeyStore.java:207-215``). Here the
  registry is a small JSON-lines command log owned by the driver; the
  materialized ``subject → latest key`` map is rebuilt by a
  deterministic fold over the log and shipped to executors via
  ``SparkContext.broadcast`` — the canonical Spark analogue of a
  global table.
- REGISTER is idempotent-if-present (``KmsCommandHandler`` REGISTER
  branch, ``KafkaSecretKeyStore.java:236-246``: appends only when the
  materials list is empty — "no key versioning implemented yet").
- FORGET is *declared but unimplemented* in the reference
  (``KafkaSecretKeyStore.java:247-250``: logs "Forgotten feature not
  implemented yet"). This engine completes it: FORGET removes the
  subject's materials, making all of its ciphertext permanently
  unrecoverable (crypto-shredding), and the maintenance layer follows
  up with a MERGE-shred pass (see ``pi2spark.maintenance``).
  Because the log is the durable source of truth, FORGET also
  **physically redacts** the subject's key material from the on-disk
  log: the whole log is rewritten (tmp + fsync + atomic replace +
  directory fsync) with the forgotten subject's ``key_b64`` dropped —
  an append-only tombstone alone would leave the AES key recoverable
  from disk, voiding the shredding guarantee. Redacted REGISTER
  records are kept (audit trail) but carry no key and replay to no
  material.
- Latest-key selection mirrors ``MostRecentMaterialsProvider.java:39-46``
  (last registered material wins).
- Missing key on decrypt → ``MissingCryptoMaterialsError`` in strict
  mode (``MissingCryptoMaterialsException.java``), tombstone in scan
  mode (see ``pi2spark.crypto``).

The command log is the source of truth (event-sourced, like the
reference's command topic); the fold is pure, so any two replays agree.
"""

from __future__ import annotations

import base64
import json
import os
import uuid
from dataclasses import dataclass

from cryptography.hazmat.primitives.ciphers.aead import AESGCM

REGISTER = "REGISTER"
ROTATE = "ROTATE"
FORGET = "FORGET"
RETIRE = "RETIRE"

AES_KEY_BITS = 256
ALGORITHM = "AES"


@dataclass(frozen=True)
class Material:
    """One key version for one subject — port of
    ``SubjectCryptographicMaterial`` (kms/kafka_provider.proto:52-60)."""

    material_id: str
    subject_id: str
    key: bytes
    algorithm: str = ALGORITHM


class KeyRegistry:
    """Event-sourced per-subject key registry.

    Persistence: one JSON-lines file (``commands.jsonl``). Each line is
    a command ``{ts_ord, subject_id, command, material_id, key_b64,
    algorithm}`` mirroring the reference command vocabulary
    (kms/kafka_provider.proto:6-21). State = fold(commands).
    """

    def __init__(self, path: str | None = None):
        self._path = path
        self._commands: list[dict] = []
        # subject -> list[Material]  (ordered; latest = [-1])
        self._materials: dict[str, list[Material]] = {}
        if path and os.path.exists(path):
            with open(path, "r", encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        self._apply(json.loads(line), record=False)
                        self._commands.append(json.loads(line))

    # ---- command fold (the Kafka Streams aggregate, batch form) ----

    def _apply(self, cmd: dict, record: bool = True) -> None:
        subject = cmd["subject_id"]
        if cmd["command"] == REGISTER:
            existing = self._materials.setdefault(subject, [])
            # Idempotent-if-present: reference appends only when empty
            # (KafkaSecretKeyStore.java:236-246). A redacted REGISTER
            # (key physically removed by a later FORGET rewrite)
            # replays to no material.
            if not existing and cmd.get("key_b64") is not None:
                existing.append(
                    Material(
                        material_id=cmd["material_id"],
                        subject_id=subject,
                        key=base64.b64decode(cmd["key_b64"]),
                        algorithm=cmd.get("algorithm", ALGORITHM),
                    )
                )
        elif cmd["command"] == ROTATE:
            # Key versioning — completes the reference's own TODO
            # (MostRecentMaterialsProvider.java:39-46 "no key versioning
            # implemented yet"): ROTATE always appends a new material;
            # the latest one serves new encrypts, older ones keep
            # historical ciphertext readable until a reencrypt pass
            # retires them. A redacted ROTATE replays to no material.
            if cmd.get("key_b64") is not None:
                self._materials.setdefault(subject, []).append(
                    Material(
                        material_id=cmd["material_id"],
                        subject_id=subject,
                        key=base64.b64decode(cmd["key_b64"]),
                        algorithm=cmd.get("algorithm", ALGORITHM),
                    )
                )
        elif cmd["command"] == RETIRE:
            # Destroy all materials EXCEPT the latest (post-reencrypt
            # cleanup): replays to a one-material list.
            mats = self._materials.get(subject)
            if mats and len(mats) > 1:
                self._materials[subject] = [mats[-1]]
        elif cmd["command"] == FORGET:
            # Completes the reference's unimplemented branch
            # (KafkaSecretKeyStore.java:247-250).
            self._materials.pop(subject, None)
        else:
            raise ValueError(f"unknown KMS command {cmd['command']!r}")
        if record:
            self._commands.append(cmd)
            if self._path:
                with open(self._path, "a", encoding="utf-8") as fh:
                    fh.write(json.dumps(cmd) + "\n")

    # ---- public API ----

    def register(self, subject_id: str) -> Material:
        """Get-or-create (upsert) — ``InMemoryKms.computeIfAbsent``
        (InMemoryKms.java:32-39) /
        ``retrieveOrCreateCryptoMaterialsFor`` (KafkaSecretKeyStore.java:94-107)."""
        existing = self._materials.get(subject_id)
        if existing:
            return existing[-1]
        key = AESGCM.generate_key(bit_length=AES_KEY_BITS)
        cmd = {
            "ts_ord": len(self._commands),
            "subject_id": subject_id,
            "command": REGISTER,
            "material_id": str(uuid.uuid4()),
            "key_b64": base64.b64encode(key).decode("ascii"),
            "algorithm": ALGORITHM,
        }
        self._apply(cmd)
        return self._materials[subject_id][-1]

    def register_all(self, subject_ids) -> None:
        for s in subject_ids:
            self.register(s)

    def register_from_df(self, subjects_df, column: str | None = None) -> int:
        """Register every subject in a (distinct) DataFrame column
        WITHOUT collecting the full list to the driver:
        ``toLocalIterator`` streams one partition at a time, so driver
        memory is bounded by the largest partition, not the subject
        count. Key generation is inherently a driver/KMS-side act (the
        registry owns the log), so the stream-through is the scale
        shape; a deployment beyond that stores keys as a table and
        passes ``key_df``-style scans directly. Returns the number of
        registered subjects."""
        col = column or subjects_df.columns[0]
        n = 0
        for row in subjects_df.select(col).toLocalIterator():
            self.register(row[0])
            n += 1
        return n

    def forget(self, subject_id: str) -> None:
        """Delete a subject's materials (crypto-shred).

        Appends a FORGET command *and* physically redacts the subject's
        key bytes from every earlier REGISTER record, rewriting the log
        atomically (tmp + fsync + replace + dir fsync). After this
        returns, no replay of the on-disk log — and no read of the raw
        file — can recover the key; that is the property maintenance
        ``shred`` and the 'permanently unrecoverable' contract rely on."""
        cmd = {
            "ts_ord": len(self._commands),
            "subject_id": subject_id,
            "command": FORGET,
            "material_id": None,
            "key_b64": None,
            "algorithm": None,
        }
        self._apply(cmd, record=False)
        self._commands.append(cmd)
        for c in self._commands:
            if c["subject_id"] == subject_id and c["command"] in (REGISTER, ROTATE) and c.get("key_b64"):
                c["key_b64"] = None
                c["redacted"] = True
        if self._path:
            self._rewrite_log()

    def rotate(self, subject_id: str) -> Material:
        """Append a NEW key version for an existing subject (A-side key
        rotation — the reference's declared-but-unbuilt versioning,
        MostRecentMaterialsProvider.java:39-46). New encrypts pick up
        the new material immediately (``latest_key``/``key_map``); rows
        encrypted under older materials stay readable through the
        versioned map (``key_map_versioned``) until a
        ``maintenance.reencrypt`` pass rewrites them, after which
        ``retire_old_materials`` destroys the old key bytes."""
        if not self._materials.get(subject_id):
            raise KeyError(f"cannot rotate unregistered/forgotten subject {subject_id!r}")
        key = AESGCM.generate_key(bit_length=AES_KEY_BITS)
        cmd = {
            "ts_ord": len(self._commands),
            "subject_id": subject_id,
            "command": ROTATE,
            "material_id": str(uuid.uuid4()),
            "key_b64": base64.b64encode(key).decode("ascii"),
            "algorithm": ALGORITHM,
        }
        self._apply(cmd)
        return self._materials[subject_id][-1]

    def retire_old_materials(self, subject_id: str) -> int:
        """Destroy every material except the latest — the completion of
        a rotation, AFTER ``maintenance.reencrypt`` has rewritten all
        ciphertext under the latest key. Like FORGET, the old key bytes
        are physically redacted from the on-disk log (atomic rewrite),
        so pre-rotation ciphertext — e.g. in an expired-but-leaked
        snapshot — becomes permanently unrecoverable. Returns the
        number of materials destroyed."""
        mats = self._materials.get(subject_id)
        if not mats or len(mats) < 2:
            return 0
        keep_mid = mats[-1].material_id
        cmd = {
            "ts_ord": len(self._commands),
            "subject_id": subject_id,
            "command": RETIRE,
            "material_id": keep_mid,
            "key_b64": None,
            "algorithm": None,
        }
        self._apply(cmd, record=False)
        self._commands.append(cmd)
        n = 0
        for c in self._commands:
            if (
                c["subject_id"] == subject_id
                and c["command"] in (REGISTER, ROTATE)
                and c.get("key_b64")
                and c["material_id"] != keep_mid
            ):
                c["key_b64"] = None
                c["redacted"] = True
                n += 1
        if self._path:
            self._rewrite_log()
        return n

    def _rewrite_log(self) -> None:
        """Atomic full-log rewrite: the only mutation of an otherwise
        append-only file, used exclusively to destroy key material."""
        tmp = f"{self._path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            for c in self._commands:
                fh.write(json.dumps(c) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._path)
        dfd = os.open(os.path.dirname(os.path.abspath(self._path)), os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def latest_key(self, subject_id: str) -> bytes | None:
        """Most-recent material (MostRecentMaterialsProvider.java:39-46);
        None ⇒ subject is crypto-shredded (or never registered)."""
        mats = self._materials.get(subject_id)
        return mats[-1].key if mats else None

    def latest_material_id(self, subject_id: str) -> str | None:
        """Material id of the latest (encrypting) version, or None for
        a shredded/unknown subject. Used by ``rotate_and_reencrypt`` to
        make resume idempotent: the pass ledger records the minted id
        and a rerun verifies it is still the latest before reusing it."""
        mats = self._materials.get(subject_id)
        return mats[-1].material_id if mats else None

    def key_map(self) -> dict[str, bytes]:
        """Materialized ``subject → latest key`` map, ready for
        ``sc.broadcast`` (global-table analogue,
        KafkaSecretKeyStore.java:207-215)."""
        return {s: m[-1].key for s, m in self._materials.items() if m}

    def key_map_versioned(self) -> dict[str, list[tuple[str, bytes]]]:
        """Materialized ``subject → [(material_id, key), ...]`` map
        (ordered, latest last) for decrypting tables that span key
        rotations: the envelope's ``kms_id`` carries the material id of
        the key that encrypted each row (``pi2spark.crypto``), and the
        decrypt UDF picks the matching version. Broadcastable exactly
        like ``key_map`` — ``encrypt_table``/``decrypt_table`` accept
        either form; ``key_df`` is the same map as a DataFrame."""
        return {
            s: [(m.material_id, m.key) for m in mats]
            for s, mats in self._materials.items()
            if mats
        }

    def key_df(self, spark):
        """Materialized keys as a ``(subject_id string, key
        array<struct<material_id string, key binary>>)`` DataFrame:
        every version of each subject, latest last — the DataFrame form
        of ``key_map_versioned``. The scale path: hand this to
        ``encrypt_table``/``decrypt_table`` instead of a broadcast map
        and the key distribution becomes a size-appropriate join
        (see ``pi2spark.crypto.broadcast_keys`` for the cutover); both
        forms feed the same kernels, so rows sealed before a rotation
        stay readable through either. A deployment whose registry
        outgrows this driver-side registry stores keys as a table and
        passes its scan instead; a plain ``key binary`` column there is
        read as one anonymous version per subject."""
        rows = [
            (s, [(mid, bytearray(key)) for mid, key in versions])
            for s, versions in self.key_map_versioned().items()
        ]
        return spark.createDataFrame(
            rows, "subject_id string, key array<struct<material_id:string,key:binary>>"
        )

    def subjects(self) -> set[str]:
        return set(self._materials.keys())

    def forgotten_subjects(self) -> set[str]:
        """Subjects with a FORGET command and no later REGISTER."""
        live = self.subjects()
        seen = {c["subject_id"] for c in self._commands}
        return seen - live

    def __len__(self) -> int:
        return len(self._materials)
