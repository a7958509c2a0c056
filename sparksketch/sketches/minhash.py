"""MinHash set-signature sketch (Broder 1997).

``n_perm`` permutations simulated by SplitMix64 re-mixing of a single 64-bit
item hash; signature slot i = min over items of mix(h ^ seed_i).  Merge =
elementwise min — order/partition invariant => byte-identical distributed
merges.  ``jaccard(a, b)`` = fraction of equal slots (unbiased estimator,
std err ~ 1/sqrt(n_perm)).

Used two ways: (1) a per-group set sketch via the agg layer ("per-role text
fingerprint" similarity, BASELINE.json north_star); (2) per-document
signatures for LSH near-dup banding in sparksketch/dedup.py."""

from __future__ import annotations

import struct

import numpy as np

from ..hashing import as_hashes, splitmix64
from .base import KIND_MINHASH, Sketch, pack_header, register

_HDR = struct.Struct("<IQ")  # n_perm, seed


def perm_seeds(n_perm: int, seed: int) -> np.ndarray:
    return splitmix64(np.arange(n_perm, dtype=np.uint64)
                      + np.uint64(seed & 0xFFFFFFFFFFFFFFFF))


def signature_matrix(hashes: np.ndarray, n_perm: int, seed: int = 42) -> np.ndarray:
    """(n_items, n_perm) uint64 matrix of per-permutation hashes."""
    hu = as_hashes(hashes).view(np.uint64).reshape(-1, 1)
    seeds = perm_seeds(n_perm, seed).reshape(1, -1)
    return splitmix64(hu ^ seeds)


class MinHashSketch(Sketch):
    KIND = KIND_MINHASH

    def __init__(self, n_perm: int = 128, seed: int = 42,
                 mins: np.ndarray | None = None) -> None:
        self.n_perm = n_perm
        self.seed = seed
        if mins is None:
            mins = np.full(n_perm, np.iinfo(np.uint64).max, dtype=np.uint64)
        self.mins = mins

    def add_hashes(self, h: np.ndarray) -> None:
        if len(h) == 0:
            return
        sig = signature_matrix(h, self.n_perm, self.seed)
        np.minimum(self.mins, sig.min(axis=0), out=self.mins)

    def merge(self, other: Sketch) -> None:
        if (not isinstance(other, MinHashSketch)
                or other.n_perm != self.n_perm or other.seed != self.seed):
            raise ValueError("config mismatch in minhash merge")
        np.minimum(self.mins, other.mins, out=self.mins)

    def jaccard(self, other: "MinHashSketch") -> float:
        if other.n_perm != self.n_perm or other.seed != self.seed:
            raise ValueError("config mismatch")
        return float((self.mins == other.mins).mean())

    def to_bytes(self) -> bytes:
        return (pack_header(self.KIND) + _HDR.pack(self.n_perm, self.seed)
                + self.mins.astype("<u8", copy=False).tobytes())

    @staticmethod
    def _decode(body: memoryview) -> "MinHashSketch":
        n_perm, seed = _HDR.unpack_from(body, 0)
        mins = np.frombuffer(body[_HDR.size:], dtype="<u8", count=n_perm).copy()
        return MinHashSketch(int(n_perm), int(seed), mins)


register(KIND_MINHASH, MinHashSketch._decode)
