"""Per-chunk compression codecs.

The reference leaves codecs to TensorStore's native c-blosc and zstd
(dataset_factory.h:295-297,344-346). Here the native library is pyarrow,
already a hard dependency: ``pyarrow.Codec`` is the only lz4 (raw block),
snappy and zstd implementation, reached through ``native_compress`` /
``native_decompress``. Blosc frames are parsed and built by
sources/blosc1.py (public frame format), which covers all five cnames with
any shuffle: ``zlib`` (stdlib), ``lz4``, ``snappy`` and ``zstd`` (pyarrow),
and ``blosclz`` (sources/blosclz.py, c-blosc's own LZ77 with no native
twin).

Zarr v2 compressor JSON: ``null`` | {"id": "zlib"|"gzip"|"blosc", ...}.
Zarr v3 codec chain: [{"name": "bytes", ...}, {"name": "gzip"|"zlib"|
"zstd"|"blosc"|"crc32c", ...}].
"""

from __future__ import annotations

import functools
import gzip
import struct
import zlib
from typing import Any

import pyarrow as pa

from mdio_cpp_spark.sources import blosc1 as _blosc1


class CodecError(RuntimeError):
    pass


@functools.lru_cache(maxsize=None)
def _native(name: str, level: int | None) -> pa.Codec:
    return pa.Codec(name, compression_level=level)


def native_compress(name: str, data: bytes, level: int | None = None) -> bytes:
    """Compress with pyarrow's ``lz4_raw``, ``snappy`` or ``zstd``."""
    return _native(name, level).compress(data, asbytes=True)


def _snappy_preamble(data: bytes) -> int:
    """The uncompressed length a snappy stream declares (leading varint)."""
    n = 0
    for i, b in enumerate(data[:5]):
        n |= (b & 0x7F) << (7 * i)
        if b < 0x80:
            return n
    raise CodecError("bad snappy length preamble")


def native_decompress(name: str, data: bytes, size: int) -> bytes:
    """Decode one ``lz4_raw``/``snappy``/``zstd`` stream that must
    regenerate exactly ``size`` bytes. pyarrow writes into a buffer of the
    size it is given, so a hostile stream cannot expand past it, but its
    lz4 and snappy codecs return that buffer padded with garbage when the
    stream decodes short. Exactness is proven here: a snappy stream's
    preamble must declare ``size``, and an lz4 stream must fail to fit in
    ``size - 1`` bytes. zstd checks the regenerated size itself."""
    codec = _native(name, None)
    if name == "snappy":
        declared = _snappy_preamble(data)
        if declared != size:
            raise CodecError(f"declares {declared} bytes, expected {size}")
    try:
        out = codec.decompress(data, size, asbytes=True)
    except (OSError, ValueError) as e:  # pyarrow's IOError / ArrowInvalid
        raise CodecError(str(e)) from e
    if name == "lz4_raw" and size:
        try:
            codec.decompress(data, size - 1)
        except OSError:
            return out
        raise CodecError(f"decodes to fewer than {size} bytes")
    return out


# CRC-32C (Castagnoli, reflected polynomial 0x82F63B78) — the checksum the
# zarr v3 `crc32c` codec and the sharding_indexed index default to
# (zarr-python writes index_codecs [bytes, crc32c]). The stdlib has only
# CRC-32 (zlib.crc32, polynomial 0xEDB88320), so this is table-driven pure
# Python from the public polynomial.
_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _blosc_shuffle(val: Any) -> int:
    """Map a v3 blosc ``shuffle`` config (spec: ``noshuffle``/``shuffle``/
    ``bitshuffle``, or a v2-style int) to c-blosc's int constant."""
    if isinstance(val, int):
        return val
    return {"noshuffle": 0, "shuffle": 1, "bitshuffle": 2}.get(str(val), 1)


def _blosc_compress(data: bytes, conf: dict) -> bytes:
    """One blosc1 frame from a v2 compressor or v3 codec configuration."""
    try:
        return _blosc1.compress(
            data,
            typesize=conf.get("typesize", 8) or 8,
            clevel=conf.get("clevel", 5),
            shuffle=_blosc_shuffle(conf.get("shuffle", 1)),
            cname=conf.get("cname", "lz4"),
        )
    except _blosc1.BloscFormatError as e:
        raise CodecError(str(e)) from e


def _blosc_decompress(data: bytes) -> bytes:
    try:
        return _blosc1.decompress(data)
    except _blosc1.BloscFormatError as e:
        raise CodecError(str(e)) from e


def compress_v2(data: bytes, compressor: dict | None) -> bytes:
    if compressor is None:
        return data
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.compress(data, compressor.get("level", 5))
    if cid == "gzip":
        return gzip.compress(data, compresslevel=compressor.get("level", 5))
    if cid == "blosc":
        return _blosc_compress(data, compressor)
    raise CodecError(f"unsupported v2 compressor {cid!r}")


# ---------------------------------------------------------------- v2 filters
#
# numcodecs array-to-array filter chain (zarr v2 `.zarray` "filters"). The
# reference passes the chain straight through to TensorStore
# (/root/reference/mdio/zarr/zarr_v2.h:78); here the two filters that appear
# in externally-written seismic/scientific v2 stores are implemented from the
# numcodecs spec. Wire contract (per numcodecs): ENCODE applies filters in
# declaration order, each stage viewing the previous stage's BYTES as its
# `dtype` and emitting `astype` (default: dtype); the compressor runs last.
# DECODE reverses: decompress, then walk the chain BACKWARDS, each stage
# viewing bytes as `astype` and emitting `dtype`. Unknown filter ids refuse
# loudly at metadata-parse time (zarr_store._meta_from_v2), never here.

V2_FILTER_IDS = ("delta", "fixedscaleoffset", "quantize", "shuffle")


def _filter_dtypes(f: dict) -> tuple[Any, Any]:
    import numpy as np

    dtype = np.dtype(f["dtype"])
    astype = np.dtype(f["astype"]) if f.get("astype") else dtype
    return dtype, astype


def _quantize_scale(digits: int) -> float:
    """numcodecs.Quantize's bit-truncation scale for a decimal precision:
    the smallest power of two that resolves 10**-digits."""
    import math

    exp = math.log10(10.0 ** -int(digits))
    exp = int(math.floor(exp)) if exp < 0 else int(math.ceil(exp))
    bits = math.ceil(math.log(10.0 ** -exp, 2))
    return 2.0 ** bits


def _byte_shuffle(raw: bytes, elementsize: int, forward: bool) -> bytes:
    """numcodecs.Shuffle: regroup bytes by intra-element lane. A trailing
    partial element (len % elementsize) passes through unshuffled — the
    c-blosc shuffle's documented leftover handling (memcpy of the remainder
    after the lane transpose). Zarr v2 chunks from numcodecs always have
    len % elementsize == 0 (chunk bytes are a whole number of elements), so
    the divisible case is the interop surface; the indivisible remainder
    rule is pinned against numcodecs by
    tests/test_zarr.py::test_shuffle_numcodecs_differential (importorskip —
    skipped where the wheel is absent)."""
    import numpy as np

    es = max(1, int(elementsize))
    n = len(raw) // es * es
    body, tail = raw[:n], raw[n:]
    a = np.frombuffer(body, dtype="u1")
    if forward:
        out = a.reshape(-1, es).T.tobytes(order="C")
    else:
        out = a.reshape(es, -1).T.tobytes(order="C")
    return out + tail


def encode_v2_filters(raw: bytes, filters: list[dict] | tuple) -> bytes:
    """Run the filter chain forward over serialized chunk bytes."""
    import numpy as np

    buf = raw
    for f in filters:
        fid = f.get("id")
        if fid == "shuffle":
            buf = _byte_shuffle(buf, f.get("elementsize", 4), forward=True)
            continue
        dtype, astype = _filter_dtypes(f)
        arr = np.frombuffer(buf, dtype=dtype)
        if fid == "delta":
            # numcodecs.Delta: enc[0] = arr[0]; enc[1:] = diff(arr), cast
            enc = np.empty(arr.shape, dtype=astype)
            if len(arr):
                enc[0] = arr[0]
                enc[1:] = np.diff(arr)
        elif fid == "fixedscaleoffset":
            # numcodecs.FixedScaleOffset: round((x - offset) * scale), cast
            enc = np.around((arr - f["offset"]) * f["scale"]).astype(astype)
        elif fid == "quantize":
            # numcodecs.Quantize: LOSSY bit truncation to ~digits decimals —
            # round(scale*x)/scale with a power-of-two scale, then cast
            scale = _quantize_scale(f["digits"])
            enc = (np.around(scale * arr) / scale).astype(astype)
        else:  # pragma: no cover - refused at parse time
            raise CodecError(f"unsupported v2 filter {fid!r}")
        buf = enc.tobytes()
    return buf


def decode_v2_filters(raw: bytes, filters: list[dict] | tuple) -> bytes:
    """Run the filter chain backward over decompressed chunk bytes."""
    import numpy as np

    buf = raw
    for f in reversed(list(filters)):
        fid = f.get("id")
        if fid == "shuffle":
            buf = _byte_shuffle(buf, f.get("elementsize", 4), forward=False)
            continue
        dtype, astype = _filter_dtypes(f)
        enc = np.frombuffer(buf, dtype=astype)
        if fid == "delta":
            dec = np.cumsum(enc, dtype=dtype)
        elif fid in ("fixedscaleoffset", "quantize"):
            # quantize decode is a plain view-and-cast (the loss happened
            # at encode); fso reverses its affine map
            if fid == "fixedscaleoffset":
                dec = (enc / f["scale"] + f["offset"]).astype(dtype)
            else:
                dec = enc.astype(dtype)
        else:  # pragma: no cover - refused at parse time
            raise CodecError(f"unsupported v2 filter {fid!r}")
        buf = dec.tobytes()
    return buf


def decompress_v2(data: bytes, compressor: dict | None) -> bytes:
    if compressor is None:
        return data
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.decompress(data)
    if cid == "gzip":
        return gzip.decompress(data)
    if cid == "blosc":
        return _blosc_decompress(data)
    raise CodecError(f"unsupported v2 compressor {cid!r}")


def compress_v3(data: bytes, codecs: list[dict[str, Any]]) -> bytes:
    """Apply a v3 codec chain (bytes→bytes stages only; the array→bytes
    'bytes' codec is handled by the caller's C-order serialization)."""
    for codec in codecs:
        name = codec.get("name")
        conf = codec.get("configuration") or {}
        if name in ("bytes", "transpose"):
            # both are array-level concerns the chunk codec already applied:
            # endianness via stored_dtype (the caller serializes with the
            # declared on-disk byte order — decode mirrors this), transpose
            # via the permuted layout in _raw_from_block
            continue
        if name == "gzip":
            data = gzip.compress(data, compresslevel=conf.get("level", 5))
        elif name == "zlib":
            data = zlib.compress(data, conf.get("level", 5))
        elif name == "zstd":
            data = native_compress("zstd", data, conf.get("level", 3))
        elif name == "blosc":
            data = _blosc_compress(data, conf)
        elif name == "crc32c":
            data = data + struct.pack("<I", crc32c(data))
        else:
            raise CodecError(f"unsupported v3 codec {name!r}")
    return data


def decompress_v3(data: bytes, codecs: list[dict[str, Any]], *, nbytes: int) -> bytes:
    """Undo a v3 codec chain. ``nbytes`` is the size of the array bytes
    the chain was applied to (chunk, inner chunk or shard index); a zstd
    stage must regenerate exactly its input size, which is known while
    only crc32c trailers sit between that stage and the array bytes."""
    stages = [c for c in codecs if c.get("name") not in ("bytes", "transpose")]
    sizes: list[int | None] = []
    size: int | None = nbytes
    for codec in stages:
        sizes.append(size)
        size = size + 4 if size is not None and codec.get("name") == "crc32c" else None
    for codec, decoded in zip(reversed(stages), reversed(sizes)):
        name = codec.get("name")
        if name == "gzip":
            data = gzip.decompress(data)
        elif name == "zlib":
            data = zlib.decompress(data)
        elif name == "zstd":
            if decoded is None:
                raise CodecError(
                    "zstd stage has no known decoded size: only crc32c may "
                    "sit between it and the array bytes")
            try:
                data = native_decompress("zstd", data, decoded)
            except CodecError as e:
                raise CodecError(f"zstd chunk: {e}") from e
        elif name == "blosc":
            data = _blosc_decompress(data)
        elif name == "crc32c":
            if len(data) < 4:
                raise CodecError("crc32c codec: payload shorter than checksum")
            body, want = data[:-4], struct.unpack("<I", data[-4:])[0]
            got = crc32c(body)
            if got != want:
                raise CodecError(
                    f"crc32c mismatch: stored {want:#010x}, computed {got:#010x}")
            data = body
        else:
            raise CodecError(f"unsupported v3 codec {name!r}")
    return data
