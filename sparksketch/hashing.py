"""Vectorized enhanced-double-hashing index generation.

The reference generates k probe indices from two 64-bit hashes via the
Kirsch–Mitzenmacher combinatorial scheme with the "enhanced" tetrahedral term
(reference: FastPseudoRandomInt.java:38-47 and the commons-collections4
EnhancedDoubleHasher contract).  The recurrence

    index -= increment;  increment -= count++

closes to ``idx_i = unsigned_mod(h1 - i*h2 + (i^3 - i)/6, m)`` under 64-bit
two's-complement wrap-around, which we vectorize over whole Arrow batches with
NumPy int64 wrap-around arithmetic (matching Java long overflow semantics).

All heavy per-row hashing stays JVM-side: Spark's ``xxhash64(cols)``
produces h1; the secondary hash is derived Python-side by ``derive_h2``
(a SplitMix64 remix), so only ONE hash column crosses the Arrow boundary —
the crossing is the measured scaling bottleneck of the build (BENCH.md),
and hash bytes are its payload.  Python otherwise only does the
closed-form arithmetic below.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_I64 = np.int64


def as_hashes(h) -> np.ndarray:
    """``h`` as an int64 hash array.  Floating input raises ``TypeError``:
    a float64 "hash" has already lost its low bits, and NaN or a value
    past ±2^63 would cast to INT64_MIN without a word."""
    a = np.asarray(h)
    if a.dtype.kind in "fc":
        raise TypeError(f"hash arrays must be integers, got {a.dtype}")
    return a.astype(np.int64, copy=False)


def _tetra(i: np.ndarray) -> np.ndarray:
    """(i^3 - i) / 6 with int64 wrap-around (exact division, always integral)."""
    i = i.astype(np.int64, copy=False)
    with np.errstate(over="ignore"):
        return (i * i * i - i) // 6


def edh_indices(h1: np.ndarray, h2: np.ndarray | None, k: int,
                m: int) -> np.ndarray:
    """Enhanced-double-hash probe matrix.

    Parameters
    ----------
    h1, h2 : int64 arrays of length n (signed, Java-long-compatible);
        ``h2=None`` derives the secondary hash via ``derive_h2`` — the
        single convention every build and probe path shares
    k : number of probes per row
    m : table size

    Returns
    -------
    (n, k) int64 matrix of indices in [0, m).
    """
    if h2 is None:
        h2 = derive_h2(h1)
    h1 = as_hashes(h1).reshape(-1, 1)
    h2 = as_hashes(h2).reshape(-1, 1)
    i = np.arange(k, dtype=np.int64).reshape(1, -1)
    with np.errstate(over="ignore"):
        raw = h1 - i * h2 + _tetra(i)
    # unsigned 64-bit mod (commons BitMap.mod semantics)
    return (raw.view(_U64) % _U64(m)).astype(np.int64)


def edh_indices_flat(h1: np.ndarray, h2: np.ndarray | None, k: int,
                     m: int) -> np.ndarray:
    """Flattened (n*k,) variant for np.add.at / bincount-style updates."""
    return edh_indices(h1, h2, k, m).ravel()


# fixed remix constant for the derived secondary hash — part of the wire
# contract: build and probe sides must agree, so it can never change
H2_MIX = 0xB10F5EED9E3779B9


def derive_h2(h1: np.ndarray) -> np.ndarray:
    """Secondary EDH hash derived from the primary by a SplitMix64 remix
    of ``h1 ^ H2_MIX``.

    Rationale: the Kirsch–Mitzenmacher scheme wants two hashes, but
    shipping a second ``xxhash64`` column doubles the hash bytes crossing
    the Arrow boundary — the measured local-mode scaling bottleneck of
    the build (BENCH.md size sweep).  Deriving h2 from h1 is the same
    move Guava's BloomFilter makes (both probe seeds from one hash call),
    done here with a full-width avalanche remix instead of a 32/32 bit
    split.  A full-pair collision between distinct keys still requires an
    h1 collision (2^-64), and every sketch API applies this convention
    whenever h2 is omitted, so build and probe stay consistent."""
    return splitmix64(as_hashes(h1).view(_U64) ^ _U64(H2_MIX)).view(_I64)


def combine_hashes(*hs: np.ndarray) -> np.ndarray:
    """Fold several per-column 64-bit hashes into one composite key hash,
    worker-side: ``h = splitmix64(h ^ rotl64(h_next, 32))`` left-to-right.

    Rationale (same move as ``derive_h2``, one level up): a sketch keyed
    on a MULTI-column key normally ships one ``xxhash64(col_a, col_b)``
    column across the Arrow boundary *in addition to* the per-column
    hashes its sibling sketches already ship — and the JVM row->Arrow
    serializer is the build's dominant per-value cost
    (xp_arrow_identity in BENCH.md "Retired diagnostic scripts": the
    identity crossing is ~85% JVM-side).
    Deriving the composite from the per-column hashes lets the projection
    dedup to ONE crossed column per distinct source column.  The rotate
    breaks commutativity (``combine(a, b) != combine(b, a)``) and the
    SplitMix64 finalizer restores full-width avalanche; a composite
    collision between distinct key tuples still requires a per-column
    xxhash64 collision (2^-64 per component)."""
    if not hs:
        raise ValueError("combine_hashes needs at least one hash array")
    z = as_hashes(hs[0]).view(_U64)
    with np.errstate(over="ignore"):
        for h in hs[1:]:
            u = as_hashes(h).view(_U64)
            z = splitmix64(z ^ ((u << _U64(32)) | (u >> _U64(32))))
    return z.view(_I64)


def splitmix64(x: np.ndarray | int) -> np.ndarray:
    """SplitMix64 finalizer — used to derive secondary hashes / seeds
    deterministically from a primary 64-bit hash, and as the driver-side
    counterpart of xxhash64 when hashing small Python values."""
    z = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        z = (z + _U64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        z = z ^ (z >> _U64(31))
    return z


def hash_array64(a: np.ndarray, seed: int = 0) -> int:
    """Deterministic 64-bit content hash of an ndarray, fully vectorized
    (position-mixed SplitMix64, XOR-folded).  Used where a content-derived
    coin flip must be reproducible regardless of how the data got there
    (e.g. the KLL compaction offset bit) — a per-byte Python loop here
    costs more than the compaction itself."""
    u8 = np.ascontiguousarray(a).view(np.uint8)
    pad = (-u8.size) % 8
    if pad:
        u8 = np.concatenate([u8, np.zeros(pad, dtype=np.uint8)])
    u64 = u8.view(np.uint64)
    with np.errstate(over="ignore"):
        pos = splitmix64(np.arange(u64.size, dtype=np.uint64)
                         + _U64(seed & 0xFFFFFFFFFFFFFFFF))
        mixed = splitmix64(u64 ^ pos)
        acc = np.bitwise_xor.reduce(mixed) if mixed.size else _U64(0)
        return int(splitmix64(acc ^ _U64(a.size)))


def hash_bytes64(data: bytes, seed: int = 0) -> int:
    """Deterministic 64-bit hash of a byte string (FNV-1a + splitmix finisher).

    Driver/test-side helper only; the distributed path always hashes with
    Spark's JVM xxhash64.
    """
    h = (0xCBF29CE484222325 ^ (seed & 0xFFFFFFFFFFFFFFFF)) & 0xFFFFFFFFFFFFFFFF
    for b in data:
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return int(splitmix64(np.uint64(h)))


class DecrementPRNG:
    """Deterministic replacement for the reference's unseeded
    ``FastPseudoRandomInt`` (FastPseudoRandomInt.java:26-30), which draws its
    stream seeds from ``new Random()`` and is therefore irreproducible.

    Design divergence (intentional): the reference reuses ONE EDH stream for
    all decrements across all insertions; a single EDH stream's long-run
    distribution is measurably non-uniform (the cubic-term structure shows up
    beyond a few dozen draws), which skews the empirical stable point away
    from the SIGMOD'06 closed form.  We instead derive a fresh (h1, h2) pair
    per *insertion* with SplitMix64 over a monotone insertion counter and use
    EDH only for the p within-insertion draws — the same regime the Bloom
    probe indices use, where EDH is known-good.  This is uniform (validated
    against the stable-point formula in tests), vectorizes over whole batches,
    and replays byte-identically given (seed, insertion order).
    """

    __slots__ = ("seed", "row")

    def __init__(self, seed: int) -> None:
        self.seed = np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
        self.row = 0

    def next_rows(self, n_rows: int, p: int, m: int) -> np.ndarray:
        """(n_rows, p) decrement-index matrix for the next n_rows insertions."""
        with np.errstate(over="ignore"):
            base = np.arange(self.row, self.row + n_rows, dtype=np.uint64) + (
                self.seed * _U64(0x9E3779B97F4A7C15))
            h1 = splitmix64(base).astype(np.int64)
            h2 = splitmix64(base ^ _U64(0xD1B54A32D192ED03)).astype(np.int64)
        self.row += n_rows
        return edh_indices(h1, h2, p, m)

    def next_block(self, n: int, m: int) -> np.ndarray:
        """Draw ``n`` indices as n single-draw rows (uniform stream)."""
        return self.next_rows(n, 1, m).ravel()


# --- deterministic test hashers (fixtures; reference StableBloomFilterTest2) ---

def incrementing_indices(start: int, step: int, k: int, m: int) -> np.ndarray:
    """IncrementingHasher port: indices = (start + i*step) mod m, i in [0,k)."""
    i = np.arange(k, dtype=np.int64)
    return (start + i * step) % m


def array_indices(values: list[int], m: int) -> np.ndarray:
    """ArrayHasher port: fixed index array (duplicates allowed, wrapping)."""
    return np.asarray(values, dtype=np.int64) % m
