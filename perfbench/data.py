"""Seeded inputs: a post-stack amplitude volume and a SEG-Y rev1 file.

Every sample is a multiple of 1/16 with magnitude below 2**11, so it is
exact in float32, in IBM hexadecimal float and in float64, and any sum of
up to 2**38 samples is exact in float64 whatever the summation order. That
makes count, sum, min and max checkable for equality, not within a
tolerance.
"""

from __future__ import annotations

import struct

import numpy as np

UNIT = 16  # samples are integers / UNIT


def volume(rng: np.random.Generator, shape: tuple[int, int, int]) -> np.ndarray:
    """Random-walk traces on a smooth inline+crossline trend, float32.

    The trend gives chunks different value ranges, so a high value
    threshold lets a zone map skip most chunks."""
    n_il, n_xl, _ = shape
    trend = np.add.outer(np.arange(n_il), np.arange(n_xl)) * (UNIT // 4)
    offset = trend + rng.integers(-UNIT // 2, UNIT // 2 + 1, size=(n_il, n_xl))
    walk = np.cumsum(rng.integers(-2, 3, size=shape), axis=2)
    units = offset[:, :, None] + walk
    if np.abs(units).max() >= (1 << 11) * UNIT:
        raise ValueError("volume too large for exact sums")
    return (units / UNIT).astype(np.float32)


def exact_stats(values: np.ndarray) -> tuple[int, float, float, float]:
    v = np.asarray(values, dtype=np.float64)
    if v.size == 0:
        return 0, 0.0, float("nan"), float("nan")
    return int(v.size), float(v.sum()), float(v.min()), float(v.max())


# ------------------------------------------------------------------- SEG-Y


def ibm_words(values: np.ndarray) -> np.ndarray:
    """Exact IBM System/360 float words for multiples of 1/UNIT.

    value = +-(frac / 2**24) * 16**(exp - 64) with frac in [2**20, 2**24).
    For value = k / 16 the digits are those of the integer |k|, so the
    exponent follows from the number of hex digits of |k|."""
    k = np.rint(np.asarray(values, dtype=np.float64) * UNIT).astype(np.int64)
    if not np.array_equal(k / UNIT, np.asarray(values, dtype=np.float64)):
        raise ValueError("values must be multiples of 1/16")
    a = np.abs(k)
    digits = np.zeros(a.shape, dtype=np.int64)  # hex digits of |k|
    rest = a.copy()
    while np.any(rest):
        digits += rest > 0
        rest >>= 4
    # |k|/16 = 0.d1d2..(hex) * 16**(digits - 1)  ->  exp = digits - 1 + 64
    frac = a << (24 - 4 * np.maximum(digits, 1))
    exp = digits - 1 + 64
    word = (exp.astype(np.uint32) << np.uint32(24)) | frac.astype(np.uint32)
    word = np.where(k < 0, word | np.uint32(0x80000000), word)
    return np.where(a == 0, np.uint32(0), word).astype(">u4")


def write_segy(path: str, vol: np.ndarray, il0: int = 1000, xl0: int = 2000,
               interval_us: int = 4000) -> int:
    """Write ``vol`` (inline, crossline, sample) as a rev1 file: EBCDIC text
    header, big-endian binary header, IBM float samples (format 1), inline
    and crossline numbers at trace-header bytes 189 and 193. Returns the
    number of sample bytes written."""
    n_il, n_xl, ns = vol.shape
    text = "".join(f"C{i + 1:2d} perfbench synthetic post-stack volume".ljust(80)
                   for i in range(40))
    binary = bytearray(400)
    for pos, val in ((17, interval_us), (21, ns), (25, 1), (301, 0x0100),
                     (303, 1), (305, 0)):
        struct.pack_into(">h", binary, pos - 1, val)
    n = n_il * n_xl
    headers = np.zeros((n, 240), dtype=np.uint8)
    il = np.repeat(np.arange(n_il) + il0, n_xl).astype(">i4")
    xl = np.tile(np.arange(n_xl) + xl0, n_il).astype(">i4")
    seq = (np.arange(n) + 1).astype(">i4")
    headers[:, 0:4] = seq.view(np.uint8).reshape(n, 4)
    headers[:, 114:116] = np.full(n, ns, ">u2").view(np.uint8).reshape(n, 2)
    headers[:, 116:118] = np.full(n, interval_us, ">u2").view(np.uint8).reshape(n, 2)
    headers[:, 188:192] = il.view(np.uint8).reshape(n, 4)
    headers[:, 192:196] = xl.view(np.uint8).reshape(n, 4)
    samples = ibm_words(vol.reshape(n, ns)).view(np.uint8).reshape(n, ns * 4)
    with open(path, "wb") as f:
        f.write(text.encode("cp037"))
        f.write(bytes(binary))
        f.write(np.concatenate([headers, samples], axis=1).tobytes())
    return n * ns * 4
