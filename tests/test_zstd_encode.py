"""zstd ENCODE gates for the v3 ``zstd`` stage and blosc ``cname=zstd``.

The engine's zstd frames (pyarrow's codec) are pinned two ways:

  1. engine encode -> engine decode at the exact chunk size;
  2. engine encode -> tests/spec_zarr_reader.py decode (ZERO engine
     imports — the stand-in third-party reader).

plus size gates: a compressible chunk must actually shrink, and the v3
``zstd`` chain + blosc ``cname=zstd`` write paths must produce
smaller-than-raw objects end to end.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from mdio_cpp_spark.sources import blosc1
from mdio_cpp_spark.sources.codecs import compress_v3, decompress_v3
from tests.spec_zarr_reader import _zstd_decode

_CHAIN = [{"name": "bytes", "configuration": {"endian": "little"}},
          {"name": "zstd", "configuration": {"level": 3}}]


def compress(data: bytes) -> bytes:
    return compress_v3(data, _CHAIN)


def decompress(frames: bytes, size: int) -> bytes:
    return decompress_v3(frames, _CHAIN, nbytes=size)


# ------------------------------------------------------------ size gates


def test_compressible_chunk_shrinks():
    """Encoded size < raw for a compressible chunk (text, numeric-smooth,
    RLE), through the DEFAULT level."""
    cases = {
        "text": b"the quick brown fox jumps over the lazy dog. " * 800,
        "numeric": (np.arange(30_000) % 991).astype("<f8").tobytes(),
        "rle": b"\x07" * 50_000,
    }
    for name, data in cases.items():
        enc = compress(data)
        assert len(enc) < len(data), name
        assert decompress(enc, len(data)) == data, name
        assert _zstd_decode(enc) == data, name
    # text should be dramatically smaller, not marginally
    assert len(compress(cases["text"])) < len(cases["text"]) // 20


def test_incompressible_falls_back_to_raw_blocks():
    data = np.random.RandomState(3).bytes(60_000)
    enc = compress(data)
    # frame overhead only: magic + header + fcs + one 3-byte block header
    assert len(enc) <= len(data) + 16
    assert decompress(enc, len(data)) == data
    assert _zstd_decode(enc) == data


# ----------------------------------------------- differential round-trips


@pytest.mark.parametrize("kind", ["random", "lowcard", "periodic", "walk",
                                  "skewed", "highbytes", "mixed"])
def test_roundtrip_engine_and_spec_reader(kind):
    rng = random.Random(hash(kind) & 0xFFFF)
    npr = np.random.RandomState(hash(kind) & 0xFFFF)
    for n in (0, 1, 2, 37, 1023, 1024, 4096, 131072, 131073, 300_000):
        if kind == "random":
            data = npr.bytes(n)
        elif kind == "lowcard":
            data = bytes(npr.randint(0, 5, n, dtype=np.uint8))
        elif kind == "periodic":
            pat = npr.bytes(rng.randint(1, 60)) or b"z"
            data = (pat * (n // len(pat) + 1))[:n]
        elif kind == "walk":
            data = np.cumsum(npr.randint(-2, 3, n)).astype("i1").tobytes()[:n]
        elif kind == "skewed":
            data = bytes(npr.randint(0, 256, n, dtype=np.uint8) // 9)
        elif kind == "highbytes":
            # alphabet beyond symbol 128: direct-weights Huffman must bow
            # out, LZ sequences still apply
            data = bytes(npr.randint(129, 256, n, dtype=np.uint8) // 2 + 128)
        else:
            half = npr.bytes(n // 2)
            data = half + (b"abab" * (n // 8 + 1))[: n - len(half)]
        enc = compress(data)
        assert decompress(enc, len(data)) == data, (kind, n)
        assert _zstd_decode(enc) == data, (kind, n)


def test_matches_cross_128k_lz_window_safely():
    """A pattern straddling the 128 KiB block boundary must still
    regenerate exactly."""
    pat = bytes(range(251))
    data = (pat * (140_000 // len(pat) + 1))[:140_000]
    enc = compress(data)
    assert len(enc) < 4096
    assert decompress(enc, len(data)) == data
    assert _zstd_decode(enc) == data


# -------------------------------------------------- write-path integration


def test_v3_zstd_chain_chunks_shrink_on_disk(tmp_path):
    """A v3 store with a spec-requested zstd chain: chunk OBJECTS on disk
    are smaller than the raw chunk, and the independent spec reader
    regenerates the values."""
    import os

    from tests.spec_zarr_reader import read_zarr_array

    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "z.zarr")
    st = ZarrStore.create(root, version=3)
    meta = st.create_array("v", shape=(4096,), chunks=(1024,), dtype="float64",
                           dims=("i",), compressor={"id": "zstd", "level": 3})
    vals = (np.arange(4096, dtype="<f8") % 17) * 0.5  # 17-periodic: compressible
    for c in range(4):
        st.write_chunk(meta, (c,), vals[c * 1024 : (c + 1) * 1024])
    for c in range(4):
        path = os.path.join(root, meta.chunk_key((c,)))
        assert os.path.getsize(path) < 8192, "chunk object did not shrink"
    assert np.array_equal(read_zarr_array(root, "v"), vals)


def test_blosc_zstd_streams_actually_compress_and_spec_read():
    data = (np.arange(20_000) % 127).astype("<i4").tobytes()
    fr = blosc1.compress(data, typesize=4, shuffle=1, cname="zstd")
    assert len(fr) < len(data) // 2
    assert blosc1.decompress(fr) == data
    from tests.spec_zarr_reader import _blosc_decode

    assert _blosc_decode(fr) == data


def test_roundtrip_hypothesis_property():
    """Property fuzz: decompress(compress(x), len(x)) == x for arbitrary
    byte strings, through BOTH decoders (engine + independent spec
    reader)."""
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=150, deadline=None)
    @given(st.binary(max_size=20000))
    def prop(data):
        enc = compress(data)
        assert decompress(enc, len(data)) == data
        assert _zstd_decode(enc) == data

    prop()

    # structured generator: repeated slices of a small alphabet (the
    # LZ-heavy shape random binaries never produce)
    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.sampled_from([b"abc", b"zz", b"hello world ",
                                     b"\x00\x00\x00\x00", b"q"]),
                    max_size=400))
    def prop2(parts):
        data = b"".join(parts)
        enc = compress(data)
        assert decompress(enc, len(data)) == data
        assert _zstd_decode(enc) == data

    prop2()


def test_cross_block_matches_reach_into_history():
    """A second 128-KiB block that repeats the first must encode as
    history matches (offsets past the block start), not re-learn: the
    two-block frame compresses to near one block's size. Raw-fallback
    blocks also count as history."""
    npr = np.random.RandomState(21)
    first = npr.bytes(131072)  # incompressible -> raw block 1
    data = first + first  # block 2 = one giant match into history
    enc = compress(data)
    assert len(enc) < 131072 + 4096, len(enc)
    assert decompress(enc, len(data)) == data
    assert _zstd_decode(enc) == data
    # and a compressible first block followed by its repeat
    base = (b"seismic trace header " * 7000)[:131072]
    enc2 = compress(base + base)
    assert len(enc2) < len(compress(base)) + 256
    assert decompress(enc2, 262144) == base + base
    assert _zstd_decode(enc2) == base + base
