"""Pure-Python Zarr v2/v3 store: metadata, chunks, consolidated metadata.

This is the format substrate for the Spark scan/write paths (reader.py /
writer.py) and the driver-side oracle reader. Behavior mirrored from the
reference (never its code):

  * path → driver scheme split: ``file://`` / ``gs://`` / ``s3://``
    (zarr/zarr_driver.h:225-231). Only local paths are usable in this
    container; cloud schemes raise with the mapping documented (IO10 —
    on a real cluster the same chunk keys resolve over s3a/gcs Hadoop FS
    or fsspec).
  * version probe: try ``zarr.json`` (v3) then ``.zgroup`` (v2)
    (zarr_driver.h:97-128).
  * v2 consolidated metadata: one ``.zmetadata`` read replaces N per-array
    reads (zarr_v2.h:221-309,467-482); v3 walks child ``zarr.json`` files
    (zarr_v3.h:539-625).
  * header-only dtypes (numpy kinds U/S/O/M/m) are flagged, reproducing the
    reference's metadata-only rule (zarr_v2.h:139-162).
  * dimension labels: v2 uses the public xarray ``_ARRAY_DIMENSIONS`` attr
    convention; v3 uses the spec's ``dimension_names``.

Chunks are C-order serialized, padded to full chunk shape at array edges
(Zarr spec), compressed per codecs.py. Missing chunk == fill value.
"""

from __future__ import annotations

import itertools
import json
import math
from dataclasses import dataclass, field
from typing import Any, Iterator

import numpy as np

from mdio_cpp_spark.sources import codecs as _codecs
from mdio_cpp_spark.sources.kvstore import (
    KVPreconditionFailed,
    KVStore,
    open_kvstore,
)
from mdio_cpp_spark.schema.types import (
    HEADER_ONLY_KINDS,
    SCALAR_TYPES,
    decode_fill_json,
    encode_fill_json,
    fill_value_for,
    parse_v2_dtype,
    struct_numpy_dtype,
    v2_dtype_str,
    v3_dtype_name,
)

# attrs key of the per-chunk [min,max] zone-map manifest (sources/zonemap.py
# builds/publishes it; both writers keep it coherent on chunk writes)
CHUNK_STATS_ATTR = "mdio:chunk_stats"


class ConsolidatedMetadataConflict(RuntimeError):
    """Two writers raced on the consolidated metadata document and this
    one lost: its copy of the doc is stale and publishing it would drop the
    other writer's entries. The analog of a failed generation-match on the
    reference's CommitMetadata read-modify-write (dataset.h:1269-1416) —
    the store refuses the stale republish instead of losing an entry."""


def parse_store_path(path: str) -> str:
    """Normalize a store path for the KV layer (zarr_driver.h:225-231
    analog). file:// strips to a local path; cloud/memory schemes pass
    through — open_kvstore routes them (fsspec when importable, a clear
    NotImplementedError otherwise)."""
    if path.startswith("file://"):
        return path[len("file://"):]
    return path


@dataclass
class ZarrArrayMeta:
    """Metadata for one Zarr array (the reference's per-variable spec,
    variable.h:583-790 analog). Picklable — shipped to executors inside
    scan/write closures."""

    name: str
    shape: tuple[int, ...]
    chunks: tuple[int, ...]
    np_dtype: np.dtype               # NATIVE byte order (what callers see)
    mdio_type: str | None            # MDIO scalar name; None for struct dtypes
    fill: Any                        # numpy scalar/void or None
    stored_dtype: Any = None         # on-disk dtype when it differs (big-endian)
    zarr_version: int = 2
    compressor: dict | None = None   # v2
    # v2 numcodecs filter chain (tuple of {"id", "dtype", ...} dicts, applied
    # between the typed bytes and the compressor; () = none). Supported ids
    # are codecs.V2_FILTER_IDS; anything else refuses at parse time.
    filters: tuple = ()
    v3_codecs: list = field(default_factory=list)
    order: str = "C"
    separator: str = "."
    # v3 only: "default" → "c/0/1"-style keys; "v2" → bare "0.1"-style keys
    # (zarr v3 spec §chunk-key-encoding; a v3 store may legally use either)
    key_encoding: str = "default"
    # v3 `transpose` codec order (None → identity): stored inner/plain
    # chunks are laid out permuted; decode inverse-transposes, encode
    # transposes. For sharded arrays the permutation applies to INNER
    # chunks (the codec lives in the sharding config's inner chain).
    transpose: tuple | None = None
    # v3 sharding_indexed (ZEP 2): when set, ``chunks`` is the SHARD shape
    # (the chunk_grid unit — keys, pruning, write-shuffle all operate on
    # shards) and this dict holds {"chunk_shape": inner-chunk tuple,
    # "codecs": inner chain, "index_codecs": [...], "index_location":
    # "end"|"start"}. The shard binary format is concatenated encoded inner
    # chunks + a fixed-size (offset, nbytes) u64-LE index.
    shard: dict | None = None
    dims: tuple[str, ...] = ()
    attrs: dict = field(default_factory=dict)
    header_only: bool = False

    @property
    def ndim(self) -> int:
        return len(self.shape)

    @property
    def is_struct(self) -> bool:
        return self.np_dtype.fields is not None

    def grid_shape(self) -> tuple[int, ...]:
        return tuple(-(-s // c) for s, c in zip(self.shape, self.chunks))

    def nchunks(self) -> int:
        return int(np.prod(self.grid_shape())) if self.shape else 0

    def chunk_key(self, coords: tuple[int, ...]) -> str:
        if self.zarr_version == 3:
            if self.key_encoding == "v2":
                # v2-style encoding on a v3 store: bare sep-joined coords,
                # no "c" prefix; rank-0 arrays use the spec's "0" key
                sep = self.separator or "."
                return f"{self.name}/" + (sep.join(str(c) for c in coords) or "0")
            # default chunk-key encoding: "c" + sep + sep-joined coords
            # (a "." separator yields keys like "c.0.1" — ignoring it would
            # read every chunk as absent/fill)
            sep = self.separator or "/"
            parts = ["c", *[str(c) for c in coords]]
            return f"{self.name}/" + sep.join(parts)
        return f"{self.name}/" + (
            self.separator.join(str(c) for c in coords) or "0"
        )

    def fill_scalar(self) -> Any:
        """Fill as a numpy scalar; None (v2 bool null) degrades to the
        dtype's zero (False / '' / epoch — np.zeros handles every kind,
        including datetime64 where ``dtype.type(0)`` needs an explicit unit)."""
        if self.fill is None:
            return np.zeros((), self.np_dtype)[()]
        return self.fill


def _v2_array_json(meta: ZarrArrayMeta) -> dict:
    if meta.is_struct:
        dtype_json: Any = [[n, meta.np_dtype.fields[n][0].str] for n in meta.np_dtype.names]
    elif meta.mdio_type is not None:
        dtype_json = v2_dtype_str(meta.mdio_type)
    else:
        dtype_json = meta.np_dtype.str
    return {
        "zarr_format": 2,
        "shape": list(meta.shape),
        "chunks": list(meta.chunks),
        "dtype": dtype_json,
        "compressor": meta.compressor,
        "fill_value": encode_fill_json(
            None if meta.fill is None
            else (meta.fill.item() if hasattr(meta.fill, "item") and not meta.is_struct else meta.fill)
        ) if not meta.is_struct else _struct_fill_b64(meta),
        "order": meta.order,
        "filters": list(meta.filters) or None,
        "dimension_separator": meta.separator,
    }


def _struct_fill_b64(meta: ZarrArrayMeta) -> str:
    import base64

    if meta.fill is None:
        raw = b"\x00" * meta.np_dtype.itemsize
    else:
        raw = bytes(np.asarray(meta.fill, dtype=meta.np_dtype).tobytes())
    return base64.b64encode(raw).decode("ascii")


def _v3_array_json(meta: ZarrArrayMeta) -> dict:
    if meta.is_struct:
        # v3 struct data_type: {"name": "struct", "configuration": {"fields":
        # [{"name": …, "data_type": …}, …]}} (zarr_v3.h:81-131); fill is the
        # base64 of the packed record bytes, like the v2 struct fill
        data_type: Any = {
            "name": "struct",
            "configuration": {"fields": [
                {"name": n,
                 "data_type": np.dtype(meta.np_dtype.fields[n][0]).name}
                for n in meta.np_dtype.names
            ]},
        }
        fill_json: Any = _struct_fill_b64(meta)
    else:
        data_type = v3_dtype_name(meta.mdio_type) if meta.mdio_type else meta.np_dtype.name
        fill = meta.fill_scalar()
        fill_json = encode_fill_json(fill.item() if hasattr(fill, "item") else fill)
    return {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(meta.shape),
        "data_type": data_type,
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": list(meta.chunks)}},
        "chunk_key_encoding": {
            "name": meta.key_encoding,
            "configuration": {"separator": meta.separator},
        },
        "fill_value": fill_json,
        "codecs": meta.v3_codecs or [{"name": "bytes", "configuration": {"endian": "little"}}],
        "attributes": meta.attrs,
        "dimension_names": list(meta.dims) if meta.dims else None,
    }


def _inv_perm(perm: tuple) -> tuple:
    inv = [0] * len(perm)
    for i, p in enumerate(perm):
        inv[p] = i
    return tuple(inv)


def _block_from_raw(meta: ZarrArrayMeta, raw: bytes, shape: tuple) -> np.ndarray:
    """Typed block of ``shape`` from decompressed chunk bytes, honoring the
    stored byte order and the v3 transpose codec's permuted layout."""
    arr = np.frombuffer(raw, dtype=meta.stored_dtype or meta.np_dtype)
    if meta.stored_dtype is not None:
        arr = arr.astype(meta.np_dtype)  # byteswap big-endian → native
    if meta.transpose is not None:
        pshape = tuple(shape[p] for p in meta.transpose)
        return arr.reshape(pshape, order="C").transpose(_inv_perm(meta.transpose))
    return arr.reshape(shape, order=meta.order)


def _raw_nbytes(meta: ZarrArrayMeta, shape: tuple) -> int:
    """Serialized size of a ``shape`` block: what its codec chain must
    regenerate on decode."""
    return int(np.prod(shape)) * (meta.stored_dtype or meta.np_dtype).itemsize


def _raw_from_block(meta: ZarrArrayMeta, block: np.ndarray) -> bytes:
    """Serialize one typed block to chunk bytes (transpose-aware inverse
    of _block_from_raw)."""
    disk_dtype = meta.stored_dtype or meta.np_dtype
    if meta.transpose is not None:
        block = np.transpose(block, meta.transpose)
        return np.ascontiguousarray(block, dtype=disk_dtype).tobytes(order="C")
    return np.ascontiguousarray(block, dtype=disk_dtype).tobytes(order=meta.order)


def _shard_grid(meta: ZarrArrayMeta) -> tuple[tuple[int, ...], int]:
    """Inner-chunk grid of one shard and its cell count."""
    inner = meta.shard["chunk_shape"]
    grid = tuple(c // i for c, i in zip(meta.chunks, inner))
    return grid, int(np.prod(grid))


def _shard_index_size(meta: ZarrArrayMeta, n: int) -> int:
    """Encoded index size: n (offset, nbytes) u64-LE pairs, +4 bytes per
    crc32c stage — every supported index codec is fixed-size (the spec
    requires it; variable-size index codecs are refused at parse time)."""
    extra = sum(4 for c in meta.shard["index_codecs"] if c.get("name") == "crc32c")
    return n * 16 + extra


_SHARD_MISSING = (1 << 64) - 1


def _decode_shard(meta: ZarrArrayMeta, raw: bytes) -> np.ndarray:
    """Parse one shard container (ZEP 2): fixed-size index locates each
    encoded inner chunk; missing entries synthesize fill. Returns the full
    shard-shaped block (array-edge clipping happens in the callers, same
    as plain chunks)."""
    inner = meta.shard["chunk_shape"]
    grid, n = _shard_grid(meta)
    isize = _shard_index_size(meta, n)
    if len(raw) < isize:
        raise ValueError(
            f"shard for {meta.name!r} shorter ({len(raw)} B) than its "
            f"index ({isize} B)")
    enc_idx = raw[-isize:] if meta.shard["index_location"] == "end" else raw[:isize]
    idx = _codecs.decompress_v3(enc_idx, meta.shard["index_codecs"],
                                nbytes=n * 16)
    pairs = np.frombuffer(idx, dtype=meta.shard.get("index_dtype", "<u8")).reshape(n, 2)
    block = np.full(meta.chunks, meta.fill_scalar(), dtype=meta.np_dtype)
    for k in range(n):
        off, ln = int(pairs[k, 0]), int(pairs[k, 1])
        if off == _SHARD_MISSING and ln == _SHARD_MISSING:
            continue
        if off + ln > len(raw):
            raise ValueError(
                f"shard for {meta.name!r}: inner chunk {k} extent "
                f"[{off}, {off + ln}) past shard end {len(raw)}")
        sub_raw = _codecs.decompress_v3(raw[off : off + ln], meta.shard["codecs"],
                                        nbytes=_raw_nbytes(meta, inner))
        coords_in = np.unravel_index(k, grid)
        sl = tuple(
            slice(int(c) * i, (int(c) + 1) * i) for c, i in zip(coords_in, inner)
        )
        block[sl] = _block_from_raw(meta, sub_raw, inner)
    return block


def _all_fill(sub: np.ndarray, fill) -> bool:
    """True when every cell equals the fill (NaN-aware); conservative False
    on dtypes where comparison is awkward (struct) — those inner chunks are
    simply written instead of elided."""
    try:
        if sub.dtype.kind == "f" and isinstance(fill, (float, np.floating)) and np.isnan(fill):
            return bool(np.isnan(sub).all())
        return bool((sub == fill).all())
    except (TypeError, ValueError):  # pragma: no cover - exotic dtypes
        return False


def _encode_shard(meta: ZarrArrayMeta, block: np.ndarray) -> bytes:
    """Serialize one full shard: encode inner chunks through the inner
    codec chain, elide all-fill inner chunks as MISSING index entries
    (sparse shards cost index-only bytes), then append/prepend the encoded
    (offset, nbytes) index."""
    inner = meta.shard["chunk_shape"]
    grid, n = _shard_grid(meta)
    isize = _shard_index_size(meta, n)
    at_start = meta.shard["index_location"] == "start"
    fill = meta.fill_scalar()
    pairs = np.full((n, 2), _SHARD_MISSING,
                    dtype=meta.shard.get("index_dtype", "<u8"))
    parts: list[bytes] = []
    cursor = isize if at_start else 0
    for k in range(n):
        coords_in = np.unravel_index(k, grid)
        sl = tuple(
            slice(int(c) * i, (int(c) + 1) * i) for c, i in zip(coords_in, inner)
        )
        sub = block[sl]
        if meta.fill is not None and _all_fill(sub, fill):
            continue
        enc = _codecs.compress_v3(_raw_from_block(meta, sub), meta.shard["codecs"])
        pairs[k, 0], pairs[k, 1] = cursor, len(enc)
        parts.append(enc)
        cursor += len(enc)
    enc_idx = _codecs.compress_v3(pairs.tobytes(), meta.shard["index_codecs"])
    assert len(enc_idx) == isize  # fixed-size contract enforced at parse
    if at_start:
        return enc_idx + b"".join(parts)
    return b"".join(parts) + enc_idx


def _meta_from_v2(name: str, zarray: dict, zattrs: dict) -> ZarrArrayMeta:
    filters = tuple(zarray.get("filters") or ())
    for f in filters:
        # delta / fixedscaleoffset are implemented from the numcodecs spec
        # (codecs.decode_v2_filters; the reference passes the chain through
        # to TensorStore, zarr_v2.h:78). Any OTHER filter would decode to
        # garbage — refuse loudly rather than return wrong values.
        if not isinstance(f, dict) or f.get("id") not in _codecs.V2_FILTER_IDS:
            raise NotImplementedError(
                f"array {name!r} uses v2 filter {f!r}; supported filter ids "
                f"are {list(_codecs.V2_FILTER_IDS)}"
            )
        if f["id"] != "shuffle" and "dtype" not in f:
            raise ValueError(f"array {name!r}: v2 filter {f!r} lacks 'dtype'")
        if f["id"] == "fixedscaleoffset" and not (
            "scale" in f and "offset" in f and f["scale"]
        ):
            raise ValueError(
                f"array {name!r}: fixedscaleoffset filter needs nonzero "
                f"'scale' and an 'offset' ({f!r})"
            )
        if f["id"] == "quantize" and "digits" not in f:
            raise ValueError(
                f"array {name!r}: quantize filter needs 'digits' ({f!r})"
            )
        if f["id"] == "shuffle" and int(f.get("elementsize", 4)) < 1:
            raise ValueError(
                f"array {name!r}: shuffle elementsize must be >= 1 ({f!r})"
            )
    mdio_name, np_dt, header_only = parse_v2_dtype(zarray["dtype"])
    stored = None
    if np_dt.fields is not None and any(
        np_dt.fields[n][0].byteorder == ">" for n in np_dt.names
    ):
        # external big-endian struct store (common for seismic-land header
        # structs): keep the on-disk mixed-order dtype for the decoder;
        # astype to the all-native twin byteswaps per field (zarr_v2.h's
        # dtype matrix, :579-595 — TensorStore does the same swap)
        stored = np_dt
        np_dt = np_dt.newbyteorder("=")
    elif np_dt.fields is None and np_dt.byteorder == ">":
        # external big-endian store: keep the on-disk dtype for the decoder,
        # surface the native one everywhere else
        stored = np_dt
        np_dt = np_dt.newbyteorder("=")
    fill = decode_fill_json(zarray.get("fill_value"), np_dt)
    dims = tuple(zattrs.get("_ARRAY_DIMENSIONS", ()))
    return ZarrArrayMeta(
        name=name,
        shape=tuple(zarray["shape"]),
        chunks=tuple(zarray["chunks"]),
        np_dtype=np_dt,
        mdio_type=mdio_name,
        fill=fill,
        stored_dtype=stored,
        zarr_version=2,
        compressor=zarray.get("compressor"),
        filters=filters,
        order=zarray.get("order", "C"),
        separator=zarray.get("dimension_separator", "."),
        dims=dims,
        attrs=zattrs,
        header_only=header_only,
    )


def _v3_struct_fields(data_type: Any) -> list[tuple[str, str]] | None:
    """Parse a v3 struct data_type into [(field, scalar_name)], accepting the
    current object layout and the legacy array-of-pairs (zarr_v3.h:103-128).
    None if not structured."""
    if (
        isinstance(data_type, dict)
        and data_type.get("name") == "struct"
        and isinstance(data_type.get("configuration", {}).get("fields"), list)
    ):
        return [
            (str(f["name"]), str(f["data_type"]))
            for f in data_type["configuration"]["fields"]
        ]
    if isinstance(data_type, list) and data_type and isinstance(data_type[0], (list, tuple)):
        return [(str(f[0]), str(f[1])) for f in data_type]
    return None


def _meta_from_v3(name: str, zjson: dict) -> ZarrArrayMeta:
    data_type = zjson["data_type"]
    struct_fields = _v3_struct_fields(data_type)
    if struct_fields is None and not isinstance(data_type, str):
        # v3 extension data types are objects; anything we don't implement
        # must refuse loudly, not die with an unhashable-dict TypeError
        raise NotImplementedError(
            f"array {name!r} has unsupported v3 data_type {data_type!r}"
        )
    if struct_fields is not None:
        np_dt = struct_numpy_dtype(
            [{"name": n, "format": t} for n, t in struct_fields]
        )
        mdio_name = None
        header_only = False
    elif data_type in SCALAR_TYPES or any(t.v3 == data_type for t in SCALAR_TYPES.values()):
        mdio_name = data_type
        np_dt = np.dtype(SCALAR_TYPES[mdio_name].numpy)
        header_only = False
    else:
        np_dt = np.dtype(data_type)
        mdio_name = None
        header_only = np_dt.kind in HEADER_ONLY_KINDS
    # honor the 'bytes' codec's endianness: a big-endian store decodes via
    # stored_dtype (frombuffer with '>', astype to native — the same path v2
    # big-endian dtype strings use); silently assuming native order would
    # read every value as byte-swapped garbage
    stored = None
    codecs_list = list(zjson.get("codecs", []))
    shard_conf = None
    if codecs_list and codecs_list[0].get("name") == "sharding_indexed":
        conf = codecs_list[0].get("configuration") or {}
        outer = tuple(int(x) for x in zjson["chunk_grid"]["configuration"]["chunk_shape"])
        inner = tuple(int(x) for x in conf["chunk_shape"])
        if len(inner) != len(outer) or any(o % i for o, i in zip(outer, inner)):
            raise NotImplementedError(
                f"array {name!r}: shard shape {outer} not a multiple of "
                f"inner chunk shape {inner}"
            )
        index_codecs = list(conf.get("index_codecs") or
                            [{"name": "bytes", "configuration": {"endian": "little"}},
                             {"name": "crc32c"}])
        index_dtype = "<u8"
        for ic in index_codecs:
            icn = ic.get("name")
            if icn == "bytes":
                # the spec allows either endianness for the (offset, nbytes)
                # u64 pairs; honor it on decode AND on writes into the store
                if (ic.get("configuration") or {}).get("endian", "little") == "big":
                    index_dtype = ">u8"
            elif icn != "crc32c":
                # a variable-size index codec would make the index
                # unlocatable without the spec's fixed-size guarantee
                raise NotImplementedError(
                    f"array {name!r}: shard index codec {icn!r} not supported")
        loc = conf.get("index_location", "end")
        if loc not in ("end", "start"):
            raise NotImplementedError(
                f"array {name!r}: index_location {loc!r} not supported")
        shard_conf = {
            "chunk_shape": inner,
            "codecs": list(conf.get("codecs") or
                           [{"name": "bytes", "configuration": {"endian": "little"}}]),
            "index_codecs": index_codecs,
            "index_location": loc,
            "index_dtype": index_dtype,
        }
    # the endianness-bearing 'bytes' codec lives at the top level for plain
    # arrays and INSIDE the sharding config for sharded ones
    endian_chain = shard_conf["codecs"] if shard_conf else codecs_list
    ndim = len(zjson["shape"])
    transpose = None
    for codec in endian_chain:
        if codec.get("name") == "transpose":
            p = tuple(int(x) for x in (codec.get("configuration") or {}).get("order") or ())
            if sorted(p) != list(range(ndim)):
                raise NotImplementedError(
                    f"array {name!r}: transpose order {p!r} is not a "
                    f"permutation of {ndim} dims")
            if transpose is not None:
                raise NotImplementedError(
                    f"array {name!r}: multiple transpose codecs unsupported")
            transpose = p
    for codec in endian_chain:
        if codec.get("name") == "bytes":
            endian = (codec.get("configuration") or {}).get("endian", "little")
            if endian == "big":
                # scalars AND structs: keep the on-disk big-endian dtype as
                # stored_dtype; the decoder astypes to native (per-field
                # byteswap for structs — the v2 BE-struct path's mechanism;
                # v3's 'bytes' endian applies uniformly to every field)
                if np_dt.kind == "V" or (np_dt.kind in "iufc" and np_dt.itemsize > 1):
                    stored = np_dt.newbyteorder(">")
            break
    # chunk-key encoding: both spec schemes are implemented — 'default'
    # ("c/0/1"-style keys) and 'v2' (bare "0.1"-style keys, the scheme a
    # migrated v2 store keeps). Anything else (a future/extension scheme)
    # would silently find NO chunks and synthesize fill everywhere, so
    # refuse loudly (same posture as the unsupported-data_type guards).
    cke = zjson.get("chunk_key_encoding") or {}
    cke_name = cke.get("name") or "default"
    if cke_name not in ("default", "v2"):
        raise NotImplementedError(
            f"array {name!r}: chunk_key_encoding {cke_name!r} not "
            "supported (only 'default' and 'v2')"
        )
    # spec default separator differs per scheme: "/" for default, "." for v2
    cke_sep = cke.get("configuration", {}).get("separator") or (
        "/" if cke_name == "default" else "."
    )
    fill = decode_fill_json(zjson.get("fill_value"), np_dt)
    return ZarrArrayMeta(
        name=name,
        shape=tuple(zjson["shape"]),
        chunks=tuple(zjson["chunk_grid"]["configuration"]["chunk_shape"]),
        np_dtype=np_dt,
        mdio_type=mdio_name,
        fill=fill,
        zarr_version=3,
        v3_codecs=codecs_list,
        separator=cke_sep,
        key_encoding=cke_name,
        shard=shard_conf,
        transpose=transpose,
        dims=tuple(zjson.get("dimension_names") or ()),
        attrs=dict(zjson.get("attributes", {})),
        header_only=header_only,
        stored_dtype=stored,
    )


class ZarrStore:
    """A Zarr v2/v3 group on a local filesystem (Dataset::Open's kvstore
    analog, dataset.h:101-127)."""

    def __init__(self, root: str, version: int, attrs: dict | None = None):
        self.root = parse_store_path(root)
        self.version = version
        self.attrs = attrs if attrs is not None else {}
        self._kv: KVStore = open_kvstore(self.root)
        # True once _reconsolidate_entry has observed that no v3 consolidated
        # doc is published: every subsequent create_array/attr-update skips
        # the root-zarr.json read entirely (a walk-discovered store must not
        # pay one root GET per create). Reset when consolidate() publishes.
        # Valid under the same single-writer contract as consolidation itself.
        self._v3_no_consolidated = False

    # ------------------------------------------------------------- lifecycle

    @classmethod
    def probe_version(cls, root: str) -> int:
        """zarr.json → v3, else .zgroup/.zmetadata → v2 (zarr_driver.h:97-128)."""
        kv = open_kvstore(parse_store_path(root))
        if kv.exists("zarr.json"):
            return 3
        if kv.exists(".zgroup") or kv.exists(".zmetadata"):
            return 2
        raise FileNotFoundError(f"no Zarr store at {root!r} (no zarr.json or .zgroup)")

    @classmethod
    def open(cls, root: str) -> "ZarrStore":
        version = cls.probe_version(root)
        store = cls(root, version)
        store.attrs = store._read_root_attrs()
        return store

    @classmethod
    def create(cls, root: str, version: int = 2, attrs: dict | None = None) -> "ZarrStore":
        store = cls(root, version, attrs or {})
        if version == 2:
            store._write_json(".zgroup", {"zarr_format": 2})
            store._write_json(".zattrs", store.attrs)
        else:
            store._write_json(
                "zarr.json",
                {"zarr_format": 3, "node_type": "group", "attributes": store.attrs},
            )
        return store

    def delete(self) -> None:
        """Validate-then-delete the whole store (utils/delete.h:38-81)."""
        self.probe_version(self.root)  # raises if not a store
        self._kv.delete_all()

    # ------------------------------------------------------------- raw kv I/O

    def _write_json(self, key: str, obj: Any) -> None:
        payload = json.dumps(obj, indent=2, allow_nan=False, default=_json_default)
        self._kv.write(key, payload.encode("utf-8"))

    def _read_json(self, key: str) -> Any:
        raw = self._kv.read(key)
        if raw is None:
            raise FileNotFoundError(f"{self.root}/{key}")
        return json.loads(raw)

    def _read_json_tagged(self, key: str) -> tuple:
        """``(document, version_tag)`` — the tag anchors a later
        ``_write_json_cas`` so a read-modify-write of a shared metadata
        document cannot silently lose a concurrent writer's update."""
        raw, tag = self._kv.read_with_tag(key)
        if raw is None:
            return None, None
        return json.loads(raw), tag

    def _write_json_cas(self, key: str, obj: Any, tag) -> None:
        """Conditional publish of a read-modify-write document. Backends
        with version tracking (memory://, http(s):// with ETags, local
        content-hash) enforce the tag and a lost race raises
        :class:`ConsolidatedMetadataConflict` LOUDLY; backends without
        (plain fsspec) fall back to last-writer-wins, same as before."""
        payload = json.dumps(
            obj, indent=2, allow_nan=False, default=_json_default
        ).encode("utf-8")
        try:
            self._kv.write_if_match(key, payload, tag)
        except NotImplementedError:
            self._kv.write(key, payload)
        except KVPreconditionFailed as e:
            raise ConsolidatedMetadataConflict(
                f"{self.root}/{key}: the consolidated metadata document "
                "changed under this writer (a concurrent process published "
                "a newer generation). Nothing was lost and nothing was "
                "written — re-open the store (or re-run consolidate()) to "
                "pick up the other writer's entries, then retry this "
                "operation."
            ) from e

    def read_bytes(self, key: str) -> bytes | None:
        return self._kv.read(key)

    def write_bytes(self, key: str, data: bytes) -> None:
        self._kv.write(key, data)  # atomic publish per chunk (kvstore layer)

    def _read_root_attrs(self) -> dict:
        if self.version == 2:
            consolidated = self._consolidated()
            if consolidated is not None and ".zattrs" in consolidated:
                return consolidated[".zattrs"]
            try:
                return self._read_json(".zattrs")
            except FileNotFoundError:
                return {}
        obj = self._read_json("zarr.json")
        return dict(obj.get("attributes", {}))

    # ------------------------------------------------------------- metadata

    def _consolidated(self) -> dict | None:
        try:
            obj = self._read_json(".zmetadata")
        except FileNotFoundError:
            return None
        return obj.get("metadata")

    def _consolidated_v3(self, root_json: dict | None = None) -> dict | None:
        """The v3 consolidated-metadata map (zarr-python 3 layout: the root
        ``zarr.json`` carries ``consolidated_metadata`` = {"kind": "inline",
        "must_understand": false, "metadata": {path: child zarr.json}}).
        Returns the path→document map, or None when absent/foreign-kind.
        This is the O(1)-metadata open path for v3: without it, opening an
        N-variable store on an object store costs a LIST + N GETs
        (zarr_v3.h:539-625's walk); with it, ONE root GET."""
        if root_json is None:
            try:
                root_json = self._read_json("zarr.json")
            except FileNotFoundError:
                return None
        cm = root_json.get("consolidated_metadata")
        if not isinstance(cm, dict) or cm.get("kind") != "inline":
            return None
        md = cm.get("metadata")
        return md if isinstance(md, dict) else None

    def arrays(self) -> dict[str, ZarrArrayMeta]:
        """All arrays in the store. v2 prefers the consolidated .zmetadata
        (one read — zarr_v2.h:467-482); v3 prefers the root zarr.json's
        inline consolidated_metadata (zarr-python 3 layout, one read) and
        falls back to walking child zarr.json files (zarr_v3.h:539-625)."""
        out: dict[str, ZarrArrayMeta] = {}
        if self.version == 2:
            consolidated = self._consolidated()
            if consolidated is not None:
                for key, val in consolidated.items():
                    if key.endswith("/.zarray"):
                        name = key[: -len("/.zarray")]
                        zattrs = consolidated.get(f"{name}/.zattrs", {})
                        out[name] = _meta_from_v2(name, val, zattrs)
                return out
            for entry in self._kv.list_dir():
                if self._kv.exists(f"{entry}/.zarray"):
                    zarray = self._read_json(f"{entry}/.zarray")
                    try:
                        zattrs = self._read_json(f"{entry}/.zattrs")
                    except FileNotFoundError:
                        zattrs = {}
                    out[entry] = _meta_from_v2(entry, zarray, zattrs)
            return out
        consolidated = self._consolidated_v3()
        if consolidated is not None:
            for path, obj in consolidated.items():
                if isinstance(obj, dict) and obj.get("node_type") == "array":
                    out[str(path)] = _meta_from_v3(str(path), obj)
            return out
        for entry in self._kv.list_dir():
            if self._kv.exists(f"{entry}/zarr.json"):
                obj = self._read_json(f"{entry}/zarr.json")
                if obj.get("node_type") == "array":
                    out[entry] = _meta_from_v3(entry, obj)
        return out

    def array_meta(self, name: str) -> ZarrArrayMeta:
        metas = self.arrays()
        if name not in metas:
            raise KeyError(f"no array {name!r} in store {self.root!r}")
        return metas[name]

    def create_array(
        self,
        name: str,
        shape: tuple[int, ...] | list[int],
        chunks: tuple[int, ...] | list[int],
        dtype: Any,  # MDIO scalar name | {"fields": [...]} | np.dtype
        dims: tuple[str, ...] | list[str] = (),
        attrs: dict | None = None,
        compressor: dict | None = None,
        fill: Any = "auto",
        chunk_key_encoding: str = "default",
        shards: tuple[int, ...] | list[int] | None = None,
        filters: list[dict] | tuple = (),
    ) -> ZarrArrayMeta:
        """Create one array with MDIO fill semantics (IO2/IO3 analog).

        ``chunk_key_encoding`` (v3 stores only): "default" → "c/0/1"-style
        keys; "v2" → bare "0.1"-style keys (the scheme a store migrated
        from zarr v2 keeps, zarr v3 spec §chunk-key-encoding).

        ``shards`` (v3 only, ZEP 2): the SHARD shape — one storage object
        holding many ``chunks``-shaped inner chunks (zarr-python's
        create_array convention: ``chunks`` = inner, ``shards`` = outer).
        Must be an element-wise multiple of ``chunks``. The compressor
        applies to the INNER chain; the index is [bytes, crc32c] at the
        shard end (zarr-python's default)."""
        attrs = dict(attrs or {})
        if shards is not None and self.version != 3:
            raise ValueError("shards requires a v3 store (sharding_indexed is a v3 codec)")
        filters = tuple(filters or ())
        if filters and self.version != 2:
            raise ValueError("filters are a zarr v2 (numcodecs) concept; v3 uses codecs")
        for f in filters:
            if not isinstance(f, dict) or f.get("id") not in _codecs.V2_FILTER_IDS:
                raise ValueError(
                    f"unsupported v2 filter {f!r}; supported ids: "
                    f"{list(_codecs.V2_FILTER_IDS)}"
                )
            if f["id"] != "shuffle" and "dtype" not in f:
                raise ValueError(f"v2 filter {f!r} lacks 'dtype'")
        if shards is not None:
            shards = tuple(int(x) for x in shards)
            inner_chunks = tuple(int(c) for c in chunks)
            if len(shards) != len(inner_chunks) or any(
                s_ % c_ for s_, c_ in zip(shards, inner_chunks)
            ):
                raise ValueError(
                    f"shard shape {shards} must be an element-wise multiple "
                    f"of chunk shape {inner_chunks}"
                )
        if chunk_key_encoding not in ("default", "v2"):
            raise ValueError(
                f"chunk_key_encoding {chunk_key_encoding!r}: only 'default' and 'v2'"
            )
        if isinstance(dtype, dict) and "fields" in dtype:
            np_dt = struct_numpy_dtype(dtype["fields"])
            mdio_name = None
        elif isinstance(dtype, str) and dtype in SCALAR_TYPES:
            np_dt = np.dtype(SCALAR_TYPES[dtype].numpy)
            mdio_name = dtype
        else:
            np_dt = np.dtype(dtype)
            mdio_name = np_dt.name if np_dt.name in SCALAR_TYPES else None
        if isinstance(fill, str) and fill == "auto":
            if isinstance(dtype, dict) or mdio_name is not None:
                raw_fill = fill_value_for(dtype if isinstance(dtype, dict) else mdio_name, self.version)
                fill_np = decode_fill_json(raw_fill, np_dt) if raw_fill is not None else None
            elif np_dt.fields is not None:
                fill_np = np.zeros((), dtype=np_dt)[()]
            else:
                fill_np = None  # header-only / non-MDIO dtypes: no fill
        elif fill is None:
            fill_np = None
        elif isinstance(fill, (str, list)):
            # JSON-form fills (v2 base64 struct bytes, "NaN"/"Infinity",
            # complex [re, im]) — same decoding as metadata reads
            fill_np = decode_fill_json(fill, np_dt)
        else:
            fill_np = np.asarray(fill, np_dt)[()] if not np.isscalar(fill) else np_dt.type(fill)
        if compressor is not None and compressor.get("id") == "blosc" and "typesize" not in compressor:
            # blosc's shuffle operates on element boundaries — pin the
            # dtype's itemsize so the filter is layout-correct, not the
            # codec default of 8
            compressor = {**compressor, "typesize": int(np_dt.itemsize)}
        inner_codecs = (
            [{"name": "bytes", "configuration": {"endian": "little"}}]
            + ([{
                "name": compressor["id"],
                "configuration": (
                    {k: v for k, v in compressor.items() if k != "id"}
                    if compressor["id"] == "blosc"
                    else {"level": compressor.get("level", 5)}
                ),
            }] if compressor else [])
        ) if self.version == 3 else []
        shard_conf = None
        v3_chain = inner_codecs
        if shards is not None:
            shard_conf = {
                "chunk_shape": tuple(int(c) for c in chunks),
                "codecs": inner_codecs,
                "index_codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "crc32c"},
                ],
                "index_location": "end",
            }
            v3_chain = [{
                "name": "sharding_indexed",
                "configuration": {
                    "chunk_shape": list(shard_conf["chunk_shape"]),
                    "codecs": inner_codecs,
                    "index_codecs": shard_conf["index_codecs"],
                    "index_location": "end",
                },
            }]
        meta = ZarrArrayMeta(
            name=name,
            shape=tuple(int(s) for s in shape),
            chunks=tuple(int(c) for c in chunks) if shards is None else shards,
            np_dtype=np_dt,
            mdio_type=mdio_name,
            fill=fill_np,
            zarr_version=self.version,
            compressor=compressor if self.version == 2 else None,
            filters=filters,
            v3_codecs=v3_chain,
            shard=shard_conf,
            separator=(
                "." if self.version == 2
                else ("." if chunk_key_encoding == "v2" else "/")
            ),
            key_encoding=chunk_key_encoding if self.version == 3 else "default",
            dims=tuple(dims),
            attrs=attrs,
            header_only=np_dt.kind in HEADER_ONLY_KINDS,
        )
        if self.version == 2:
            if meta.dims:
                meta.attrs.setdefault("_ARRAY_DIMENSIONS", list(meta.dims))
            self._write_json(f"{name}/.zarray", _v2_array_json(meta))
            self._write_json(f"{name}/.zattrs", meta.attrs)
        else:
            self._write_json(f"{name}/zarr.json", _v3_array_json(meta))
        # keep the consolidated view coherent if one was already published
        # — incrementally (O(1)), not via the full LIST+N-GET walk
        self._reconsolidate_entry(name)
        return meta

    def update_array_attrs(self, name: str, attrs: dict,
                           reconsolidate: bool | None = None) -> None:
        """Replace an array's attributes wholesale (the reference's
        UserAttributes snapshot swap, stats.h:408-490 / variable.h:1522-1614).

        When the store carries consolidated metadata, it is refreshed by
        default — ``arrays()`` prefers the consolidated doc, so leaving it
        stale would make the new attrs invisible (and let zone pruning
        trust an outdated manifest). Batch callers that consolidate once at
        the end (commit_metadata) pass ``reconsolidate=False``."""
        if self.version == 2:
            meta = self.array_meta(name)
            if meta.dims:
                attrs = {"_ARRAY_DIMENSIONS": list(meta.dims), **attrs}
            self._write_json(f"{name}/.zattrs", attrs)
        else:
            obj = self._read_json(f"{name}/zarr.json")
            obj["attributes"] = attrs
            self._write_json(f"{name}/zarr.json", obj)
        if reconsolidate is None:
            # default: incremental — one root read decides AND applies
            # (no-op when no consolidated doc is published)
            self._reconsolidate_entry(name)
        elif reconsolidate:
            self.consolidate()

    def patch_array_attrs(self, name: str, attrs: dict,
                          reconsolidate: bool | None = None) -> None:
        """MERGE ``attrs`` into the array's existing attributes.

        ``update_array_attrs`` replaces the attribute document wholesale
        (the reference's UserAttributes snapshot-swap contract) — a caller
        that only wants to advance one key (the stream frontier watermark,
        a status flag) through the replace form would silently drop every
        OTHER attr: the zone-map manifest/sidecar marker, units, statsV1.
        This helper is the single-key-update form that cannot."""
        self.update_array_attrs(name, {**self.array_meta(name).attrs, **attrs},
                                reconsolidate)

    def update_root_attrs(self, attrs: dict) -> None:
        self.attrs = dict(attrs)
        if self.version == 2:
            self._write_json(".zattrs", self.attrs)
        else:
            obj = self._read_json("zarr.json")
            obj["attributes"] = self.attrs
            self._write_json("zarr.json", obj)

    def _reconsolidate_entry(self, name: str) -> None:
        """Incrementally refresh ONE array's entry in an already-published
        consolidated document — O(1) metadata I/O where the full
        ``consolidate()`` walk is LIST + N GETs (re-walking a 10k-variable
        store on every create_array would be O(N²), and plain-HTTP backends
        have no LIST at all). No-op when no consolidated doc is published
        (the store stays walk-discovered, same as before).

        SINGLE-WRITER contract: this is a read-modify-write of the whole
        consolidated document. Two processes creating arrays concurrently
        in the same store can each lose the other's entry — the same
        last-writer-wins posture as the reference's CommitMetadata
        (dataset.h:1269-1416). Backends with compare-and-swap support
        (``write_if_match``) turn such a lost update into a loud
        ConsolidatedMetadataConflict instead of silent entry loss."""
        if self.version != 2:
            if self._v3_no_consolidated:
                return
            root_json, tag = self._read_json_tagged("zarr.json")
            if root_json is None:
                raise FileNotFoundError(f"{self.root}/zarr.json")
            block = self._consolidated_v3(root_json)
            if block is None:
                self._v3_no_consolidated = True
                return
            block[str(name)] = self._read_json(f"{name}/zarr.json")
            cm = root_json["consolidated_metadata"]
            cm["generation"] = int(cm.get("generation", 0)) + 1
            self._write_json_cas("zarr.json", root_json, tag)
            return
        obj, tag = self._read_json_tagged(".zmetadata")
        if obj is None:
            return
        md = obj.get("metadata")
        if not isinstance(md, dict):
            return
        md[f"{name}/.zarray"] = self._read_json(f"{name}/.zarray")
        try:
            md[f"{name}/.zattrs"] = self._read_json(f"{name}/.zattrs")
        except FileNotFoundError:
            md.pop(f"{name}/.zattrs", None)
        obj["generation"] = int(obj.get("generation", 0)) + 1
        self._write_json_cas(".zmetadata", obj, tag)

    def _walk_entries(self, known: list[str]) -> list[str]:
        """Child names for a consolidation walk. Backends without a LIST
        verb (plain HTTP) fall back to the already-published names — the
        only ones discoverable without listing. With nothing published
        either, re-raise: silently publishing an EMPTY consolidated doc
        would make every array invisible to subsequent opens."""
        try:
            return list(self._kv.list_dir())
        except NotImplementedError:
            if known:
                return known
            raise

    def consolidate(self) -> None:
        """(Re)build the consolidated metadata from the per-array files —
        the single-read open path. v2: ``.zmetadata`` (zarr_v2.h:221-309).
        v3: the ``consolidated_metadata`` block inside the root
        ``zarr.json`` (zarr-python 3's layout, must_understand=false so
        readers that don't know it fall back to the walk). Either way a
        10k-variable open on an object store costs O(1) metadata GETs
        instead of a LIST + one GET per array."""
        if self.version != 2:
            root_json, tag = self._read_json_tagged("zarr.json")
            if root_json is None:
                raise FileNotFoundError(f"{self.root}/zarr.json")
            prior_cm = root_json.get("consolidated_metadata")
            prior_gen = (int(prior_cm.get("generation", 0))
                         if isinstance(prior_cm, dict) else 0)
            prior = self._consolidated_v3(root_json) or {}
            metadata_v3: dict[str, Any] = {}
            for entry in self._walk_entries(sorted(prior)):
                if self._kv.exists(f"{entry}/zarr.json"):
                    metadata_v3[entry] = self._read_json(f"{entry}/zarr.json")
            root_json["consolidated_metadata"] = {
                "kind": "inline",
                "must_understand": False,
                "generation": prior_gen + 1,
                "metadata": metadata_v3,
            }
            self._write_json_cas("zarr.json", root_json, tag)
            self._v3_no_consolidated = False  # doc now published
            return
        metadata: dict[str, Any] = {".zgroup": {"zarr_format": 2}}
        try:
            metadata[".zattrs"] = self._read_json(".zattrs")
        except FileNotFoundError:
            pass
        prior_obj, tag = self._read_json_tagged(".zmetadata")
        prior_v2 = (prior_obj or {}).get("metadata") or {}
        prior_gen = int((prior_obj or {}).get("generation", 0))
        known = sorted({k.split("/", 1)[0] for k in prior_v2 if "/" in k})
        for entry in self._walk_entries(known):
            if self._kv.exists(f"{entry}/.zarray"):
                metadata[f"{entry}/.zarray"] = self._read_json(f"{entry}/.zarray")
                try:
                    metadata[f"{entry}/.zattrs"] = self._read_json(f"{entry}/.zattrs")
                except FileNotFoundError:
                    pass
        self._write_json_cas(
            ".zmetadata",
            {"zarr_consolidated_format": 1, "generation": prior_gen + 1,
             "metadata": metadata},
            tag,
        )

    # ------------------------------------------------------------- chunk I/O

    def decode_raw(self, meta: ZarrArrayMeta, raw: bytes | None) -> np.ndarray | None:
        """Decode already-fetched chunk bytes; None stays None (absent chunk,
        fill semantics upstream). Split from decode_chunk so the scan's
        prefetcher can overlap byte fetches with decodes."""
        if raw is None:
            return None
        if meta.zarr_version == 2:
            raw = _codecs.decompress_v2(raw, meta.compressor)
            if meta.filters:
                raw = _codecs.decode_v2_filters(raw, meta.filters)
        elif meta.shard is not None:
            return _decode_shard(meta, raw)
        else:
            raw = _codecs.decompress_v3(raw, meta.v3_codecs,
                                        nbytes=_raw_nbytes(meta, meta.chunks))
            return _block_from_raw(meta, raw, meta.chunks)
        arr = np.frombuffer(raw, dtype=meta.stored_dtype or meta.np_dtype)
        if meta.stored_dtype is not None:
            arr = arr.astype(meta.np_dtype)  # byteswap big-endian → native
        return arr.reshape(meta.chunks, order=meta.order)

    def decode_chunk(self, meta: ZarrArrayMeta, coords: tuple[int, ...]) -> np.ndarray | None:
        """Read+decode one chunk; None if absent (fill semantics upstream)."""
        return self.decode_raw(meta, self.read_bytes(meta.chunk_key(coords)))

    def decode_chunk_box(
        self,
        meta: ZarrArrayMeta,
        coords: tuple[int, ...],
        box: tuple[tuple[int, int], ...] | None,
    ) -> np.ndarray | None:
        """Box-aware chunk decode. For SHARDED arrays this is the partial
        read the shard index exists for: fetch the fixed-size index with a
        (suffix-)range read, then range-read ONLY the inner chunks whose
        global extent intersects ``box`` — at object-store latency a scan
        touching one inner chunk of a 2 GiB shard transfers ~index + one
        inner chunk, not the shard. Cells outside ``box`` come back as
        fill (callers slice the box out anyway). Plain chunks and full-box
        reads fall through to the whole-object path."""
        if meta.shard is None or box is None:
            return self.decode_chunk(meta, coords)
        inner = meta.shard["chunk_shape"]
        grid, n = _shard_grid(meta)
        origin = tuple(c * s for c, s in zip(coords, meta.chunks))
        # inner-chunk ranges of the shard that intersect the box, per dim
        rngs = []
        for d in range(meta.ndim):
            lo = max(box[d][0], origin[d]) - origin[d]
            hi = min(box[d][1], origin[d] + meta.chunks[d]) - origin[d]
            if hi <= lo:
                return None  # no overlap: caller synthesizes fill
            rngs.append(range(lo // inner[d], (hi - 1) // inner[d] + 1))
        if all(len(r) == g for r, g in zip(rngs, grid)):
            return self.decode_chunk(meta, coords)  # full shard needed
        key = meta.chunk_key(coords)
        isize = _shard_index_size(meta, n)
        enc_idx = (
            self._kv.read_range(key, -isize, isize)
            if meta.shard["index_location"] == "end"
            else self._kv.read_range(key, 0, isize)
        )
        if enc_idx is None:
            return None  # absent shard
        if len(enc_idx) < isize:
            raise ValueError(
                f"shard for {meta.name!r} shorter than its index ({isize} B)")
        idx = _codecs.decompress_v3(enc_idx, meta.shard["index_codecs"],
                                    nbytes=n * 16)
        pairs = np.frombuffer(idx, dtype=meta.shard.get("index_dtype", "<u8")).reshape(n, 2)
        block = np.full(meta.chunks, meta.fill_scalar(), dtype=meta.np_dtype)
        for coords_in in itertools.product(*rngs):
            k = int(np.ravel_multi_index(coords_in, grid))
            off, ln = int(pairs[k, 0]), int(pairs[k, 1])
            if off == _SHARD_MISSING and ln == _SHARD_MISSING:
                continue
            raw = self._kv.read_range(key, off, ln)
            if raw is None or len(raw) != ln:
                raise ValueError(
                    f"shard for {meta.name!r}: range read of inner chunk "
                    f"{k} [{off}, {off + ln}) failed")
            sub_raw = _codecs.decompress_v3(raw, meta.shard["codecs"],
                                            nbytes=_raw_nbytes(meta, inner))
            sl = tuple(
                slice(int(c) * i, (int(c) + 1) * i)
                for c, i in zip(coords_in, inner)
            )
            block[sl] = _block_from_raw(meta, sub_raw, inner)
        return block

    def shard_inner_blocks(
        self, meta: ZarrArrayMeta, coords: tuple[int, ...]
    ) -> Iterator[tuple[tuple[int, ...], np.ndarray | None]] | None:
        """Stream one shard's inner chunks WITHOUT materializing the shard:
        one ranged read for the fixed-size index, then one ranged read per
        PRESENT inner chunk — task memory stays one inner chunk, not one
        shard (a 2 GiB shard streams in inner-chunk-sized pieces). Yields
        (inner_coords, block) for every inner cell in C order; missing
        inner chunks yield ``None`` (fill semantics are the caller's).
        Returns ``None`` when the shard OBJECT is absent."""
        if meta.shard is None:
            raise ValueError(f"{meta.name!r} is not sharded")
        key = meta.chunk_key(coords)
        grid, n = _shard_grid(meta)
        isize = _shard_index_size(meta, n)
        enc_idx = (
            self._kv.read_range(key, -isize, isize)
            if meta.shard["index_location"] == "end"
            else self._kv.read_range(key, 0, isize)
        )
        if enc_idx is None:
            return None
        if len(enc_idx) < isize:
            raise ValueError(
                f"shard for {meta.name!r} shorter than its index ({isize} B)")
        idx = _codecs.decompress_v3(enc_idx, meta.shard["index_codecs"],
                                    nbytes=n * 16)
        pairs = np.frombuffer(idx, dtype=meta.shard.get("index_dtype", "<u8")).reshape(n, 2)
        inner = meta.shard["chunk_shape"]

        def gen() -> Iterator[tuple[tuple[int, ...], np.ndarray | None]]:
            # C-order product == sequential ravel index into the pairs
            for k, coords_in in enumerate(
                itertools.product(*[range(g) for g in grid])
            ):
                off, ln = int(pairs[k, 0]), int(pairs[k, 1])
                if off == _SHARD_MISSING and ln == _SHARD_MISSING:
                    yield coords_in, None
                    continue
                raw = self._kv.read_range(key, off, ln)
                if raw is None or len(raw) != ln:
                    raise ValueError(
                        f"shard for {meta.name!r}: range read of inner "
                        f"chunk {k} [{off}, {off + ln}) failed")
                sub_raw = _codecs.decompress_v3(raw, meta.shard["codecs"],
                                                nbytes=_raw_nbytes(meta, inner))
                yield coords_in, _block_from_raw(meta, sub_raw, inner)

        return gen()

    def encode_chunk(self, meta: ZarrArrayMeta, block: np.ndarray) -> bytes:
        if tuple(block.shape) != meta.chunks:
            raise ValueError(f"chunk block shape {block.shape} != chunk shape {meta.chunks}")
        if meta.zarr_version == 3 and meta.shard is not None:
            return _encode_shard(meta, np.asarray(block, dtype=meta.np_dtype))
        if meta.zarr_version == 2:
            disk_dtype = meta.stored_dtype or meta.np_dtype
            raw = np.ascontiguousarray(block, dtype=disk_dtype).tobytes(order=meta.order)
            if meta.filters:
                raw = _codecs.encode_v2_filters(raw, meta.filters)
            return _codecs.compress_v2(raw, meta.compressor)
        return _codecs.compress_v3(_raw_from_block(meta, block), meta.v3_codecs)

    def write_chunk(self, meta: ZarrArrayMeta, coords: tuple[int, ...], block: np.ndarray) -> None:
        self.write_bytes(meta.chunk_key(coords), self.encode_chunk(meta, block))

    # ----------------------------------------------- driver-side array reads

    def read_array(self, name: str, ranges: dict[str, tuple[int, int]] | None = None) -> np.ndarray:
        """Materialize an array (or a half-open sliced box of it) on the
        driver — the Variable::Read analog for SMALL arrays (dimension
        coordinates, header variables). Large-array scans go through the
        Spark reader instead."""
        meta = self.array_meta(name)
        sel = _clamped_box(meta, ranges)
        out_shape = tuple(hi - lo for lo, hi in sel)
        out = np.full(out_shape, meta.fill_scalar(), dtype=meta.np_dtype)
        for coords in chunks_overlapping(meta, sel):
            # box-aware: a window read of a SHARDED array fetches the shard
            # index + only the intersecting inner chunks (ranged GETs on
            # object stores), never the whole shard object; plain chunks
            # fall through to the whole-object path inside decode_chunk_box
            block = self.decode_chunk_box(meta, coords, sel)
            origin = tuple(c * s for c, s in zip(coords, meta.chunks))
            src_sel, dst_sel = [], []
            for d in range(meta.ndim):
                lo = max(sel[d][0], origin[d])
                hi = min(sel[d][1], origin[d] + meta.chunks[d])
                src_sel.append(slice(lo - origin[d], hi - origin[d]))
                dst_sel.append(slice(lo - sel[d][0], hi - sel[d][0]))
            if block is None:
                continue  # already fill-initialized
            out[tuple(dst_sel)] = block[tuple(src_sel)]
        return out

    def write_array_numpy(self, name: str, arr: np.ndarray, origin: tuple[int, ...] | None = None) -> None:
        """Driver-side chunk-aligned write of a (sub-)array. Used for small
        arrays (dimension coordinates) and tests; the Spark writer handles
        scale. Unaligned origins do read-modify-write per touched chunk —
        single-writer only (the reference flags concurrent unaligned writes
        as UB, USER_GUIDE 'Write')."""
        meta = self.array_meta(name)
        origin = origin or tuple(0 for _ in meta.shape)
        box = tuple((o, o + s) for o, s in zip(origin, arr.shape))
        zone_eligible = not meta.is_struct and meta.np_dtype.kind in "biuf"
        manifest = (
            dict(meta.attrs[CHUNK_STATS_ATTR])
            if CHUNK_STATS_ATTR in meta.attrs and zone_eligible
            else None
        )
        side_zones: dict | None = None
        if manifest is None and zone_eligible:
            from mdio_cpp_spark.sources import zonemap as _zm  # lazy: avoids cycle

            if _zm.sidecar_info(meta) is not None:
                side_zones = {}
        for coords in chunks_overlapping(meta, box):
            corigin = tuple(c * s for c, s in zip(coords, meta.chunks))
            block = self.decode_chunk(meta, coords)
            if block is None:
                block = np.full(meta.chunks, meta.fill_scalar(), dtype=meta.np_dtype)
            else:
                block = block.copy()
            src_sel, dst_sel = [], []
            for d in range(meta.ndim):
                lo = max(box[d][0], corigin[d])
                hi = min(box[d][1], corigin[d] + meta.chunks[d])
                dst_sel.append(slice(lo - corigin[d], hi - corigin[d]))
                src_sel.append(slice(lo - box[d][0], hi - box[d][0]))
            block[tuple(dst_sel)] = arr[tuple(src_sel)]
            self.write_chunk(meta, coords, block)
            if manifest is not None or side_zones is not None:
                # zone-map coherence for the driver-side writer (mirrors the
                # Spark writer): refresh the touched chunk's [min,max] over
                # its valid extent so stale stats can never wrongly prune
                valid = tuple(
                    slice(0, min(meta.chunks[d], meta.shape[d] - corigin[d]))
                    for d in range(meta.ndim)
                )
                v = block[valid]
                key = ",".join(str(c) for c in coords)
                if manifest is not None:
                    manifest[key] = zone_of(v)
                else:
                    side_zones[key] = zone_of(v)
        if manifest is not None:
            self.update_array_attrs(name, {**meta.attrs, CHUNK_STATS_ATTR: manifest})
            self.consolidate()
        elif side_zones:
            from mdio_cpp_spark.sources import zonemap as _zm

            _zm.apply_zone_updates(self.root, name, side_zones)


def zone_of(v: "np.ndarray") -> list[float] | None:
    """NaN-aware zone [min, max] of a chunk's valid extent for the
    chunk-stats manifest. NaN cells are excluded (a NaN row can never
    satisfy a comparison predicate, so ignoring them keeps pruning exact);
    an empty or all-NaN extent returns None (consumers treat that like a
    fill-only chunk). Infinities clamp to the finite float64 range so the
    manifest stays JSON-serializable (allow_nan=False) — conservative in
    the keep direction."""
    if v.size == 0:
        return None
    if v.dtype.kind == "f":
        finite_mask = ~np.isnan(v)
        if not finite_mask.any():
            return None
        mn, mx = float(np.min(v[finite_mask])), float(np.max(v[finite_mask]))
        lim = np.finfo(np.float64).max
        return [float(np.clip(mn, -lim, lim)), float(np.clip(mx, -lim, lim))]
    mn_i, mx_i = int(np.min(v)), int(np.max(v))
    flo, fhi = float(mn_i), float(mx_i)
    # above 2^53 float() rounds: widen OUTWARD so the zone never excludes a
    # value the exact integer comparison in the decoder would match
    if int(flo) > mn_i:
        flo = float(np.nextafter(flo, -np.inf))
    if int(fhi) < mx_i:
        fhi = float(np.nextafter(fhi, np.inf))
    return [flo, fhi]


def _clamped_box(
    meta: ZarrArrayMeta, ranges: dict[str, tuple[int, int]] | None
) -> tuple[tuple[int, int], ...]:
    """Half-open per-dim box, clamped to the domain (variable.h:1211-1232)."""
    sel = []
    for d in range(meta.ndim):
        # Fallback naming MUST match reader/writer (`dim_{d}`) so range keys
        # consumed from pushed filters on unlabeled dims are actually applied
        # instead of silently ignored.
        label = meta.dims[d] if d < len(meta.dims) and meta.dims[d] else f"dim_{d}"
        lo, hi = 0, meta.shape[d]
        if ranges and label in ranges:
            rlo, rhi = ranges[label]
            lo, hi = max(0, int(rlo)), min(meta.shape[d], int(rhi))
            hi = max(lo, hi)
        sel.append((lo, hi))
    return tuple(sel)


def chunks_overlapping(
    meta: ZarrArrayMeta, box: tuple[tuple[int, int], ...]
) -> Iterator[tuple[int, ...]]:
    """Chunk coordinates intersecting a half-open box — the chunk-pruning
    primitive (SURVEY §4: dim-range predicate → chunk-id list)."""
    if any(hi <= lo for lo, hi in box):
        return
    per_dim = []
    for d in range(meta.ndim):
        lo, hi = box[d]
        per_dim.append(range(lo // meta.chunks[d], (hi - 1) // meta.chunks[d] + 1))
    yield from itertools.product(*per_dim)


def _json_default(obj: Any):
    if isinstance(obj, (np.integer,)):
        return int(obj)
    if isinstance(obj, (np.floating,)):
        v = float(obj)
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(obj, np.ndarray):
        return obj.tolist()
    raise TypeError(f"not JSON serializable: {type(obj)}")
