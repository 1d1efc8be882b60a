"""Partitioned Bloom URL-seen state — the streaming crawl's bounded-memory
dedup (``streaming.crawl`` ``dedup_mode="bloom"``). The batch engine's
probabilistic codec is the cuckoo filter (frontier/cuckoo.py).

PySpark exposes no public Bloom-filter API (DataFrameStatFunctions has
none), so this is a custom, partitioned structure per the north rule:

- keyspace is split by ``host_bucket = pmod(xxhash64(host), n_buckets)``;
- each bucket owns a numpy bitset blob (``m`` bits, ``k`` probes), persisted
  as one row ``(bucket, bitset: binary)`` of a state table — at 10^10 URLs ×
  10 bits that's ~12.5 GB TOTAL spread over buckets, never driver-collected;
- probes derive from the already-computed signed xxhash64 url id via the
  double-hashing scheme h_i = h1 + i*h2 (Kirsch–Mitzenmacher), so executors
  probe with plain numpy and no JVM round trip;
- Bloom answers "definitely new" cheaply; the exact left-anti join against
  the seen-table remains the correctness backstop (fixture-level crawl
  ordering must be exact, SURVEY §4 item 2).
"""

from __future__ import annotations

import numpy as np

DEFAULT_BITS_PER_KEY = 10
DEFAULT_K = 7


def empty_bitset(m_bits: int) -> np.ndarray:
    return np.zeros((m_bits + 7) // 8, dtype=np.uint8)


def _probe_positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) probe bit positions from signed 64-bit key hashes."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(m_bits)
    h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(m_bits - 1) + np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)


def add(bitset: np.ndarray, hashes: np.ndarray, k: int = DEFAULT_K) -> np.ndarray:
    if len(hashes) == 0:
        return bitset
    m_bits = bitset.shape[0] * 8
    pos = _probe_positions(np.asarray(hashes, dtype=np.int64), m_bits, k)
    flat = pos.reshape(-1)
    np.bitwise_or.at(bitset, (flat // 8).astype(np.int64),
                     (np.uint8(1) << (flat % 8).astype(np.uint8)))
    return bitset


def contains(bitset: np.ndarray, hashes: np.ndarray, k: int = DEFAULT_K) -> np.ndarray:
    """Vectorized membership: True = possibly seen, False = definitely new."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    m_bits = bitset.shape[0] * 8
    pos = _probe_positions(np.asarray(hashes, dtype=np.int64), m_bits, k)
    bits = (bitset[(pos // 8).astype(np.int64)]
            >> (pos % 8).astype(np.uint8)) & 1
    return bits.all(axis=1)


def union(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """OR of two bucket bitsets (round-delta merging)."""
    return np.bitwise_or(a, b)


def sizing(expected_keys: int, bits_per_key: int = DEFAULT_BITS_PER_KEY) -> int:
    """m_bits for a bucket, rounded up to a byte multiple (FPR ~1% at 10
    bits/key with k=7)."""
    return max(64, ((expected_keys * bits_per_key + 7) // 8) * 8)
