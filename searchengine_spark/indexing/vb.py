"""Variable-byte codec with the reference's byte convention: the FINAL
byte of each number has its high bit set (+128), preceding bytes are
<128, and the decoder folds ``n = 128*n + byte`` (%128 on the last)
(/root/reference/diskindexwriter.py:9-17 encode,
/root/reference/indexes/diskpositionalindex.py:7-17 decode).

numpy-vectorized — no per-value Python in the encode hot path: byte
widths come from masked comparisons, byte placement from a cumsum'd
offset table and ≤9 masked scatter passes (full int64 range; realistic
doc-id/position gaps use 1-5 bytes).

This is the reference's on-disk codec, kept with its convention tests.
It is no longer the segment format: segments store plain Parquet arrays
(indexing/segments.py), which the Parquet writer dictionary-encodes and
the JVM decodes without a Python worker.
"""

from __future__ import annotations

import numpy as np

# width k+1 bytes for values in [2^(7k), 2^(7k+7)); 9 bytes cover the
# full non-negative int64 range (63 payload bits)
_THRESHOLDS = tuple(1 << (7 * k) for k in range(1, 9))


def vb_encode(values: np.ndarray | list[int]) -> bytes:
    """Concatenated VB encoding of a sequence of non-negative ints."""
    vals = np.asarray(values, dtype=np.int64)
    if vals.size == 0:
        return b""
    if vals.min() < 0:
        raise ValueError("VB requires non-negative integers")
    widths = np.ones(vals.size, dtype=np.int64)
    for t in _THRESHOLDS:
        widths += vals >= t
    ends = np.cumsum(widths)          # index AFTER each value's last byte
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    # k = 0 is the final (least-significant) byte of each value: +128
    rem = vals.copy()
    for k in range(int(widths.max())):
        mask = widths > k
        pos = ends[mask] - 1 - k
        byte = (rem[mask] % 128).astype(np.uint8)
        if k == 0:
            byte += 128
        out[pos] = byte
        rem = rem >> 7
    return out.tobytes()


def vb_decode(data: bytes) -> np.ndarray:
    """Decode a concatenated VB byte string to an int64 array."""
    if not data:
        return np.empty(0, dtype=np.int64)
    raw = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    is_last = raw >= 128
    # segment id per byte: 0-based index of the value it belongs to
    seg = np.zeros(raw.size, dtype=np.int64)
    seg[1:] = np.cumsum(is_last)[:-1]
    n = int(is_last.sum())
    payload = np.where(is_last, raw - 128, raw)
    # vectorized fold high→low within each segment (out = out*128 + byte),
    # processed by byte-rank so the loop runs ≤5 times, not once per value
    out = np.zeros(n, dtype=np.int64)
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.nonzero(is_last)[0][:-1] + 1
    lengths = np.diff(np.append(starts, raw.size))
    maxw = int(lengths.max())
    for k in range(maxw):
        mask = lengths > k
        idx = starts[mask] + k
        out[mask] = out[mask] * 128 + payload[idx]
    return out


def delta_encode(sorted_vals) -> np.ndarray:
    """Gaps: first value kept, then successive differences
    (diskindexwriter.py:88-94 doc-id gap convention)."""
    arr = np.asarray(sorted_vals, dtype=np.int64)
    if arr.size == 0:
        return arr
    gaps = np.empty_like(arr)
    gaps[0] = arr[0]
    np.subtract(arr[1:], arr[:-1], out=gaps[1:])
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(gaps, dtype=np.int64))
