"""Per-file Bloom filters on the subject column (manifest-level index).

Motivation (found during round-1 verification): min/max string stats
prune poorly for subject-equality predicates once Z-ordering mixes
dimensions — a 1-row subject still stats-matched 17/24 files. A small
per-file Bloom filter over the subject column makes MERGE-shred file
targeting near-exact, the same role Iceberg puffin blobs / Delta bloom
indexes play.

Layout: ``m`` bits (default 4096 → 512 B, ~683 B base64 in the
manifest entry), ``k`` splitmix64-derived hash probes. At ~500
distinct subjects/file the false-positive rate is ≈2%; the cost of a
false positive is one unnecessary (correct) file rewrite.

Building reads ONLY the subject column of each freshly written file
(pyarrow column projection) — a few KB per file — inside the same
distributed footer-stats pass.
"""

from __future__ import annotations

import base64

import numpy as np

DEFAULT_BITS = 4096
DEFAULT_HASHES = 5

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> np.uint64(31))


def _hash_values(values, seed: int) -> np.ndarray:
    """Deterministic 64-bit hashes of strings (stable across processes
    — no Python salted hash)."""
    import pandas as pd

    arr = np.asarray(list(values), dtype=object)
    return _splitmix64(pd.util.hash_array(arr) ^ np.uint64(seed))


def build_bloom(values, m_bits: int = DEFAULT_BITS, k: int = DEFAULT_HASHES) -> str:
    """distinct values → base64 bloom bitset."""
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    for probe in range(k):
        h = _hash_values(values, probe + 1) % np.uint64(m_bits)
        np.bitwise_or.at(bits, (h // 8).astype(np.int64), (1 << (h % 8)).astype(np.uint8))
    return base64.b64encode(bits.tobytes()).decode("ascii")


def bloom_may_contain(b64: str, value: str, k: int = DEFAULT_HASHES) -> bool:
    bits = np.frombuffer(base64.b64decode(b64), dtype=np.uint8)
    m_bits = len(bits) * 8
    h = np.array(
        [_hash_values([value], probe + 1)[0] % np.uint64(m_bits) for probe in range(k)],
        dtype=np.uint64,
    )
    return bool(np.all(bits[(h // 8).astype(np.int64)] & (1 << (h % 8)).astype(np.uint8)))


def bloom_probes(values, k: int = DEFAULT_HASHES) -> np.ndarray:
    """``(k, len(values))`` probe hashes of ``values`` — hashed once per
    predicate, then tested against any number of bitsets with
    ``bloom_may_contain_probes`` (each file's check is then a gather,
    not k hash passes)."""
    return np.stack([_hash_values(values, probe + 1) for probe in range(k)])


def bloom_may_contain_probes(b64: str, probes: np.ndarray) -> bool:
    """Whether the bitset may contain ANY of the values ``probes`` was
    built from (same answer as ``bloom_may_contain`` per value)."""
    bits = np.frombuffer(base64.b64decode(b64), dtype=np.uint8)
    h = probes % np.uint64(len(bits) * 8)
    hit = bits[(h // 8).astype(np.int64)] & (1 << (h % 8)).astype(np.uint8)
    return bool(hit.all(axis=0).any())
