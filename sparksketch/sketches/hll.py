"""HyperLogLog cardinality sketch (Flajolet et al. 2007, with the HLL++
small-range linear-counting correction of Heule et al. 2013).

Registers: ``2^p`` uint8 cells; item hash (64-bit) splits into bucket = top p
bits, rho = 1 + leading zeros of the remaining 64-p bits.  Register update is
``max`` — fully order/partition invariant, so distributed merges are
byte-identical.  Relative standard error ~ 1.04 / sqrt(2^p)."""

from __future__ import annotations

import math
import struct

import numpy as np

from ..hashing import as_hashes
from .base import HEADER_SIZE, KIND_HLL, Sketch, pack_header, register

_HDR = struct.Struct("<B")


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def blob_prefix(p: int) -> bytes:
    """The bytes of an HLL blob before its ``2^p`` registers."""
    return pack_header(KIND_HLL) + _HDR.pack(p)


def bucket_rho(h: np.ndarray, p: int) -> tuple[np.ndarray, np.ndarray]:
    """Register index and rank of signed-int64 hashes (Spark xxhash64):
    bucket = top ``p`` bits, rho = 1 + leading zeros of the remaining
    ``64 - p`` bits (``64 - p + 1`` when they are all zero)."""
    hu = as_hashes(h).view(np.uint64)
    bucket = (hu >> np.uint64(64 - p)).astype(np.int64)
    rest = hu << np.uint64(p)  # remaining bits, left-aligned
    # clz via bit_length: 64 - bit_length(rest); log2 in float64 is exact
    # for the leading-bit position of each 32-bit half
    bl = np.zeros(hu.size, dtype=np.int64)
    nz = rest != 0
    r = rest[nz]
    hi = (r >> np.uint64(32)).astype(np.float64)
    lo = (r & np.uint64(0xFFFFFFFF)).astype(np.float64)
    bl[nz] = np.where(hi > 0,
                      33 + np.floor(np.log2(np.maximum(hi, 1))),
                      1 + np.floor(np.log2(np.maximum(lo, 1)))).astype(np.int64)
    rho = np.where(nz, 64 - bl + 1, 64 - p + 1)
    return bucket, np.minimum(rho, 64 - p + 1).astype(np.uint8)


class HyperLogLog(Sketch):
    KIND = KIND_HLL

    def __init__(self, p: int = 14, registers: np.ndarray | None = None) -> None:
        if not (4 <= p <= 18):
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        if registers is None:
            registers = np.zeros(self.m, dtype=np.uint8)
        self.registers = registers

    def add_hashes(self, h: np.ndarray) -> None:
        """Vectorized batch insert from signed-int64 hashes (Spark xxhash64)."""
        if len(h) == 0:
            return
        bucket, rho = bucket_rho(h, self.p)
        np.maximum.at(self.registers, bucket, rho)

    def merge(self, other: Sketch) -> None:
        if not isinstance(other, HyperLogLog) or other.p != self.p:
            raise ValueError("precision mismatch in HLL merge")
        np.maximum(self.registers, other.registers, out=self.registers)

    def estimate(self) -> float:
        m = self.m
        regs = self.registers.astype(np.float64)
        e = _alpha(m) * m * m / np.sum(np.exp2(-regs))
        if e <= 2.5 * m:
            v = int(np.count_nonzero(self.registers == 0))
            if v > 0:
                return m * math.log(m / v)  # linear counting
        return float(e)

    def rel_std_error(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def to_bytes(self) -> bytes:
        return blob_prefix(self.p) + self.registers.tobytes()

    @staticmethod
    def _decode(body: memoryview) -> "HyperLogLog":
        (p,) = _HDR.unpack_from(body, 0)
        regs = np.frombuffer(body[_HDR.size:], dtype=np.uint8, count=1 << p).copy()
        return HyperLogLog(int(p), regs)


register(KIND_HLL, HyperLogLog._decode,
         elementwise=(HEADER_SIZE + _HDR.size, np.maximum))
