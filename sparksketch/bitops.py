"""Fast bit-level kernels shared by the sketch implementations.

NumPy 1.26 has no ``np.bitwise_count``; ``np.unpackbits(...).sum()`` expands
an m-bit bitmap to m bytes before summing (~10x slower and m bytes of
garbage).  A 16-bit popcount lookup table gives a single gather + reduce with
a fixed 64 KiB table — the standard software-popcount scheme (cf. Hacker's
Delight §5-1 and the table-driven variant used by bitmap engines such as
RoaringBitmap).
"""

from __future__ import annotations

import numpy as np

# popcount of every uint16 value; built once at import (64 KiB).
_POP16: np.ndarray = np.unpackbits(
    np.arange(1 << 16, dtype=np.uint16).view(np.uint8)
).reshape(1 << 16, 16).sum(axis=1).astype(np.uint8)


def popcount(words: np.ndarray) -> int:
    """Total number of set bits in an integer ndarray (any integer dtype)."""
    if words.size == 0:
        return 0
    return int(_POP16[np.ascontiguousarray(words).view(np.uint16)].sum())

