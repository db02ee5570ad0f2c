"""Snappy raw blocks inside blosc-snappy frames: handcrafted element vectors
pin the public format (google/snappy format_description.txt — varint
preamble, literal / copy-1 / copy-2 / copy-4 elements, overlapping-copy RLE
semantics), decoded through ``blosc1.decompress`` with the exact size the
frame declares; round-trips of pyarrow's encoder are cross-checked by the
independent spec reader; frame-level tests cover blosc1 integration (cname
id 2; snappy is NOT in c-blosc's FORWARD_COMPAT split list so full blocks
stay single-stream)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from mdio_cpp_spark.sources import blosc1
from mdio_cpp_spark.sources.codecs import native_compress, native_decompress
from tests.spec_zarr_reader import _snappy_block_decode


def _decode(stream: bytes, nbytes: int) -> bytes:
    """Decode one snappy block through the engine: a one-block, unshuffled
    blosc-snappy frame declaring ``nbytes``."""
    if len(stream) == nbytes:  # the frame would read it as stored raw
        return native_decompress("snappy", stream, nbytes)
    head = struct.pack("<BBBB iii", 2, 1, 2 << 5, 1, nbytes, nbytes,
                       16 + 4 + 4 + len(stream))
    return blosc1.decompress(head + struct.pack("<ii", 20, len(stream)) + stream)


# ------------------------------------------------------ handcrafted vectors

def test_literal_short():
    # preamble 3, literal tag (3-1)<<2, payload
    assert _decode(b"\x03\x08abc", 3) == b"abc"


def test_literal_extended_length():
    # 61-byte literal: tag value 60 escapes to ONE extra LE length byte
    data = bytes(range(61))
    enc = b"\x3d" + bytes([60 << 2, 60]) + data
    assert _decode(enc, 61) == data
    # 300-byte literal: tag value 61 escapes to TWO length bytes; preamble
    # 300 itself needs a 2-byte varint (0xAC 0x02)
    data = (b"x" * 300)
    enc = b"\xac\x02" + bytes([61 << 2]) + (299).to_bytes(2, "little") + data
    assert _decode(enc, 300) == data


def test_copy1_element():
    # "abcd" literal then copy-1 len 4 off 4 -> "abcdabcd"
    enc = b"\x08" + bytes([(4 - 1) << 2]) + b"abcd" + bytes([0x01, 0x04])
    assert _decode(enc, 8) == b"abcdabcd"
    # copy-1 with offset > 255 uses tag bits 5-7: off 260 = (1<<8) + 4,
    # len 7 -> tag (1<<5)|((7-4)<<2)|1
    lit = bytes(range(130)) * 2  # 260 bytes, no self-similarity at off 260
    enc = (b"\x8b\x02"  # varint 267
           + bytes([61 << 2]) + (259).to_bytes(2, "little") + lit
           + bytes([(1 << 5) | (3 << 2) | 1, 0x04]))
    assert _decode(enc, 267) == lit + lit[:7]


def test_copy2_and_copy4_elements():
    # literal "ab", copy-2 len 2 off 2, copy-4 len 4 off 4
    enc = (b"\x08" + bytes([(2 - 1) << 2]) + b"ab"
           + bytes([((2 - 1) << 2) | 2]) + (2).to_bytes(2, "little")
           + bytes([((4 - 1) << 2) | 3]) + (4).to_bytes(4, "little"))
    assert _decode(enc, 8) == b"abababab"


def test_overlapping_copy_rle():
    # literal "ab" then copy len 6 off 2: byte-serial -> "ab" * 4
    enc = (b"\x08" + bytes([(2 - 1) << 2]) + b"ab"
           + bytes([((6 - 1) << 2) | 2]) + (2).to_bytes(2, "little"))
    assert _decode(enc, 8) == b"abababab"
    # off 1 pure RLE: "z" then copy len 7 off 1
    enc = (b"\x08" + bytes([0]) + b"z"
           + bytes([((7 - 1) << 2) | 2]) + (1).to_bytes(2, "little"))
    assert _decode(enc, 8) == b"z" * 8


def test_empty_stream():
    # a blosc frame never decodes a 0-byte stream, so call the codec directly
    assert native_decompress("snappy", b"\x00", 0) == b""


# ------------------------------------------------------------- error paths

def test_rejects_truncated_varint():
    with pytest.raises(blosc1.BloscFormatError, match="snappy stream"):
        _decode(b"\x80\x80", 1)
    with pytest.raises(blosc1.BloscFormatError, match="snappy stream"):
        _decode(b"\x80\x80\x80\x80\x80\x01", 1)  # longer than 32 bits


def test_rejects_bad_offsets():
    # zero offset
    enc = b"\x04" + bytes([0]) + b"a" + bytes([(3 << 2) | 2, 0, 0])
    with pytest.raises(blosc1.BloscFormatError, match="snappy stream"):
        _decode(enc, 4)
    # offset beyond produced output
    enc = b"\x04" + bytes([0]) + b"a" + bytes([(3 << 2) | 2, 9, 0])
    with pytest.raises(blosc1.BloscFormatError, match="snappy stream"):
        _decode(enc, 4)


def test_bomb_bound_enforced_in_loop():
    """A stream whose elements would materialize more than the preamble
    declares is refused: the output buffer is the declared size."""
    # declares 4 bytes but a 8-byte literal follows
    enc = b"\x04" + bytes([(8 - 1) << 2]) + b"12345678"
    with pytest.raises(blosc1.BloscFormatError, match="snappy stream"):
        _decode(enc, 4)
    # copy blowing past the declared size
    enc = (b"\x05" + bytes([(4 - 1) << 2]) + b"abcd"
           + bytes([((64 - 1) << 2) | 2]) + (4).to_bytes(2, "little"))
    with pytest.raises(blosc1.BloscFormatError, match="snappy stream"):
        _decode(enc, 5)


def test_short_stream_and_container_mismatch():
    # decodes to fewer bytes than declared
    enc = b"\x08" + bytes([(4 - 1) << 2]) + b"abcd"
    with pytest.raises(blosc1.BloscFormatError, match="snappy stream"):
        _decode(enc, 8)
    # container disagreement (blosc1 passes the block's expected size)
    with pytest.raises(blosc1.BloscFormatError, match="declares 3 bytes, expected 7"):
        _decode(b"\x03\x08abc", 7)


def test_truncated_elements():
    for enc in (
        b"\xff\x01" + bytes([61 << 2, 0x01]),                # literal length
        b"\x08" + bytes([(8 - 1) << 2]) + b"abc",            # literal run past end
        b"\x08" + bytes([0]) + b"a" + bytes([0x01]),         # copy-1
        b"\x08" + bytes([0]) + b"a" + bytes([2, 1]),         # copy-2
        b"\x08" + bytes([0]) + b"a" + bytes([3, 1, 0]),      # copy-4
    ):
        with pytest.raises(blosc1.BloscFormatError, match="snappy stream"):
            _decode(enc, 255 if enc[0] == 0xFF else 8)


# ------------------------------------------------- encoder round-trips

@pytest.mark.parametrize("name,data", [
    ("empty", b""),
    ("one", b"q"),
    ("short_repeat", b"abcd" * 100),
    ("text", b"the quick brown fox jumps over the lazy dog " * 200),
    ("zeros", b"\x00" * 100_000),
    ("cycle", bytes(range(256)) * 300),
])
def test_roundtrip(name, data):
    enc = native_compress("snappy", data)
    assert native_decompress("snappy", enc, len(data)) == data
    # independent spec-derived decoder agrees byte-for-byte
    assert _snappy_block_decode(enc) == data


def test_roundtrip_random_and_low_entropy():
    import random

    rng = random.Random(20260815)
    for n in (1, 3, 4, 7, 63, 64, 65, 4096, 70_000):
        high = bytes(rng.randrange(256) for _ in range(n))
        low = bytes(rng.randrange(3) for _ in range(n))
        for data in (high, low):
            enc = native_compress("snappy", data)
            assert _decode(enc, len(data)) == data
            assert _snappy_block_decode(enc) == data
    # low-entropy data must actually compress (the encoder emits real
    # copy elements, not literal-only streams)
    low = bytes(rng.randrange(3) for _ in range(50_000))
    assert len(native_compress("snappy", low)) < len(low) * 3 // 4


def test_long_match_chains_multiple_copies():
    data = b"0123456789abcdef" * 1000  # 16 KiB of period-16 data
    enc = native_compress("snappy", data)
    assert _decode(enc, len(data)) == data
    # one literal + a 3-byte copy element per 64 output bytes
    assert len(enc) < len(data) // 10


# -------------------------------------------------- blosc1 frame integration

@pytest.mark.parametrize("dtype,shuffle", [
    ("<f8", 0), ("<f8", 1), ("<f8", 2), ("<i4", 1), ("<u2", 2),
])
def test_blosc_snappy_roundtrip(dtype, shuffle):
    ts = np.dtype(dtype).itemsize
    data = (np.arange(20_000) % 997).astype(dtype).tobytes()
    frame = blosc1.compress(data, typesize=ts, shuffle=shuffle, cname="snappy")
    # cname id 2 in the header (flags bits 5-7) unless memcpy'd
    if not frame[2] & 0x2:
        assert (frame[2] >> 5) & 0x7 == 2
    assert blosc1.decompress(frame) == data


def test_blosc_snappy_multiblock_and_spec_reader():
    """Multi-block snappy frame: engine decode and the independent
    spec-derived reader agree with the original bytes."""
    from tests.spec_zarr_reader import _blosc_decode

    data = (np.arange(120_000, dtype="<i8") % 1013).tobytes()  # ~1 MiB
    frame = blosc1.compress(data, typesize=8, shuffle=1, blocksize=1 << 17,
                            cname="snappy")
    nblocks = struct.unpack_from("<i", frame, 4)[0]
    assert blosc1.decompress(frame) == data
    assert _blosc_decode(frame) == data


def test_blosc_unknown_codec_id_rejected():
    """All five real cname ids decode now (zstd landed after snappy); a
    frame whose flags carry an id outside the c-blosc enum still raises
    loudly instead of guessing."""
    data = b"payload-bytes" * 50
    comp = zlib.compress(data, 5)
    head = struct.pack("<BBBB iii", 2, 1, 5 << 5, 1, len(data), len(data),
                       16 + 4 + 4 + len(comp))
    frame = head + struct.pack("<i", 16 + 4) + struct.pack("<i", len(comp)) + comp
    with pytest.raises(blosc1.BloscFormatError, match="unknown blosc codec"):
        blosc1.decompress(frame)


def test_corruption_fuzz_never_hangs_or_overallocates():
    """Random single-byte corruption of snappy streams must decode to
    exactly the declared size or raise BloscFormatError — the bomb-bound
    posture under adversarial chunks."""
    import random

    rng = random.Random(77)
    base = native_compress("snappy", bytes(rng.randrange(8) for _ in range(5000)))
    for _ in range(400):
        mut = bytearray(base)
        i = rng.randrange(len(mut))
        mut[i] ^= 1 << rng.randrange(8)
        try:
            out = _decode(bytes(mut), 5000)
            assert len(out) == 5000
        except blosc1.BloscFormatError:
            pass
