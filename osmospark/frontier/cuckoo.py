"""Partitioned cuckoo-filter URL-seen state — the north rule's second
named probabilistic structure ("partitioned Bloom/cuckoo URL-seen").

Cuckoo filter per Fan, Andersen, Kaminsky, Mitzenmacher, "Cuckoo Filter:
Practically Better Than Bloom" (CoNEXT 2014): a table of ``SLOTS``-way
buckets holding 16-bit fingerprints; every key lives in one of two
candidate buckets ``i1 = h mod n`` and ``i2 = i1 XOR hash(fp)`` (partial-
key cuckoo hashing — relocation needs only the stored fingerprint). At
16-bit fingerprints and 4-way buckets the false-positive rate is
~2·4/2^16 ≈ 0.012% at 95% load, far below Bloom's ~1% at 10 bits/key,
with comparable space.

Engine integration (``FrontierEngine(seen_mode="cuckoo")``, the batch
engine's only probabilistic URL-seen codec): the keyspace is split by host
bucket; each state row carries one filter blob plus the sorted exact-hash
array that backstops correctness. Two
properties the engine relies on:

- **No false negatives, ever**: when an insert cannot place a fingerprint
  after the eviction budget, the filter REBUILDS at twice the size from
  the exact array carried in the same state row (``add_many`` returns the
  possibly-grown table) — it never silently drops a key, because a false
  negative here would re-visit a seen URL and break exact crawl ordering.
- **Vectorized inserts**: the common path places whole delta batches with
  numpy group-rank scatter (sort by candidate bucket, rank within bucket,
  free slots filled en masse); only items that miss both candidate passes
  enter the per-item eviction loop, which at sane load factors is a tiny
  remainder of each round's delta.
"""

from __future__ import annotations

import numpy as np

SLOTS = 4          # fingerprints per bucket (CoNEXT'14 recommended)
MAX_KICKS = 500    # eviction budget before the table grows
_FP_MIX = np.uint64(0x5BD1E995)  # odd multiplier for the i2 derivation


def empty_table(expected_keys: int) -> np.ndarray:
    """(n_buckets, SLOTS) uint16 table, 0 = empty slot; n_buckets is a
    power of two (the i2 = i1 XOR hash(fp) trick needs it) sized for
    ~95% max load."""
    need = max(1, int(expected_keys / (SLOTS * 0.95)))
    n = 1 << max(4, int(np.ceil(np.log2(need))))
    return np.zeros((n, SLOTS), dtype=np.uint16)


def from_bytes(blob: bytes) -> np.ndarray:
    # copy: frombuffer views are read-only and inserts mutate in place
    t = np.frombuffer(blob, dtype=np.uint16).copy()
    return t.reshape(len(t) // SLOTS, SLOTS)


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    fp = ((hashes.astype(np.uint64) >> np.uint64(48))
          & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 marks an empty slot
    return fp


def _i1(hashes: np.ndarray, n: int) -> np.ndarray:
    return (hashes.astype(np.uint64) % np.uint64(n)).astype(np.int64)


def _alt(idx: np.ndarray, fp: np.ndarray, n: int) -> np.ndarray:
    mix = (fp.astype(np.uint64) * _FP_MIX) & np.uint64(n - 1)
    return (idx.astype(np.uint64) ^ mix).astype(np.int64)


def _place_batch(table: np.ndarray, idx: np.ndarray,
                 fp: np.ndarray) -> np.ndarray:
    """Vectorized free-slot placement: for items targeting bucket
    ``idx[i]``, fill that bucket's free slots in group-rank order.
    Returns the boolean mask of items placed."""
    order = np.argsort(idx, kind="stable")
    sidx = idx[order]
    # rank of each item within its bucket group (sidx is sorted)
    rank = np.arange(len(sidx)) - np.searchsorted(sidx, sidx, side="left")
    occ = (table[sidx] != 0).sum(axis=1)
    slot = occ + rank
    fits = slot < SLOTS
    table[sidx[fits], slot[fits]] = fp[order][fits]
    placed = np.zeros(len(idx), dtype=bool)
    placed[order[fits]] = True
    return placed


def add_many(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Insert keys; returns the (possibly grown) table. Batch passes over
    the i1 then i2 candidates place almost everything vectorized; the
    remainder runs the classic eviction loop, and saturation triggers an
    exact rebuild at double size via the caller-provided full key set —
    callers must pass ALL keys (existing ∪ delta) in ``hashes`` only when
    rebuilding; normal calls pass just the delta."""
    if len(hashes) == 0:
        return table
    hashes = np.asarray(hashes, dtype=np.int64)
    n = table.shape[0]
    fp = _fingerprints(hashes)
    i1 = _i1(hashes, n)
    placed = _place_batch(table, i1, fp)
    if not placed.all():
        rem = ~placed
        i2 = _alt(i1[rem], fp[rem], n)
        placed2 = _place_batch(table, i2, fp[rem])
        # eviction loop for the stragglers (rare below ~95% load)
        for j in np.flatnonzero(rem)[~placed2]:
            if not _insert_one(table, int(i1[j]), int(fp[j])):
                return None  # saturated — caller rebuilds at 2x
    return table


def _insert_one(table: np.ndarray, idx: int, fp: int) -> bool:
    n = table.shape[0]
    rng = np.random.default_rng(fp * 2654435761 % (2**32))  # deterministic
    for _ in range(MAX_KICKS):
        row = table[idx]
        free = np.flatnonzero(row == 0)
        if len(free):
            row[free[0]] = fp
            return True
        victim = int(rng.integers(0, SLOTS))
        fp, row[victim] = int(row[victim]), fp
        idx = int(_alt(np.array([idx]), np.array([fp], np.uint16), n)[0])
    return False


def build(all_hashes: np.ndarray,
          min_keys: int = 0) -> np.ndarray:
    """Build a table from scratch, growing until every key places — the
    saturation-rebuild path (exact array in the same state row supplies
    ``all_hashes``, so growth is always exact)."""
    expect = max(len(all_hashes), min_keys, 1)
    while True:
        t = empty_table(expect)
        got = add_many(t, all_hashes)
        if got is not None:
            return got
        expect = t.shape[0] * SLOTS * 2  # double and retry


def contains(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership: True = possibly seen, False = definitely
    new (guaranteed — inserts never drop keys)."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    hashes = np.asarray(hashes, dtype=np.int64)
    n = table.shape[0]
    fp = _fingerprints(hashes)
    i1 = _i1(hashes, n)
    i2 = _alt(i1, fp, n)
    return ((table[i1] == fp[:, None]).any(axis=1)
            | (table[i2] == fp[:, None]).any(axis=1))
