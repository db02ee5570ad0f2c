"""Zarr v3 sharding_indexed (ZEP 2) + crc32c codec.

Sharding is THE 100-TB layout: one storage object holds many inner chunks
(object stores melt under millions of tiny chunk files), with a fixed-size
(offset, nbytes) u64-LE index locating each inner chunk inside the shard.
The reference reads v3 through TensorStore, which writes this codec — so a
reference user's sharded store must decode here. Coverage: crc32c vectors,
handcrafted shard bytes (decode pinned independently of our encoder),
roundtrip through our writer, missing-inner-chunk fill synthesis, both
index locations, the independent spec reader differential, and the
chunk-aligned Spark write path (shards are the write-shuffle unit)."""

from __future__ import annotations

import os
import shutil
import struct

import numpy as np
import pytest

from mdio_cpp_spark.sources.codecs import CodecError, crc32c
from mdio_cpp_spark.sources.zarr_store import ZarrStore

from tests import spec_zarr_reader as specr

TMP = "/root/repo/.zarr_cache/_tests/sharding"


def _fresh(name: str) -> str:
    path = os.path.join(TMP, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def test_crc32c_vectors():
    # RFC 3720 / public test vectors for CRC-32C (Castagnoli)
    assert crc32c(b"") == 0x00000000
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(bytes(range(32))) == 0x46DD794E


def test_crc32c_codec_roundtrip_and_corruption():
    from mdio_cpp_spark.sources.codecs import compress_v3, decompress_v3

    chain = [{"name": "bytes"}, {"name": "gzip", "configuration": {"level": 1}},
             {"name": "crc32c"}]
    data = b"payload" * 100
    enc = compress_v3(data, chain)
    assert decompress_v3(enc, chain, nbytes=len(data)) == data
    bad = enc[:-1] + bytes([enc[-1] ^ 0x5A])
    with pytest.raises(CodecError, match="crc32c mismatch"):
        decompress_v3(bad, chain, nbytes=len(data))


def _handcrafted_shard(vals: np.ndarray, inner: tuple, skip: set,
                       index_location: str = "end",
                       with_crc: bool = True) -> bytes:
    """Assemble a shard BY HAND from the ZEP-2 wire format (raw inner
    chunks, no compression) — pins decode independently of our encoder."""
    grid = tuple(s // i for s, i in zip(vals.shape, inner))
    n = int(np.prod(grid))
    isize = n * 16 + (4 if with_crc else 0)
    parts, pairs = [], []
    cursor = isize if index_location == "start" else 0
    for k in range(n):
        c = np.unravel_index(k, grid)
        if k in skip:
            pairs.append((2**64 - 1, 2**64 - 1))
            continue
        sl = tuple(slice(int(x) * i, (int(x) + 1) * i) for x, i in zip(c, inner))
        raw = np.ascontiguousarray(vals[sl]).tobytes()
        pairs.append((cursor, len(raw)))
        parts.append(raw)
        cursor += len(raw)
    idx = b"".join(struct.pack("<QQ", o, l) for o, l in pairs)
    if with_crc:
        idx += struct.pack("<I", crc32c(idx))
    body = b"".join(parts)
    return idx + body if index_location == "start" else body + idx


@pytest.mark.parametrize("index_location", ["end", "start"])
@pytest.mark.parametrize("with_crc", [True, False])
def test_handcrafted_shard_decodes(index_location, with_crc):
    """Hand-assembled shard bytes (uncompressed inner chunks, real index)
    must decode through our store — including MISSING entries → fill."""
    import json

    root = _fresh(f"hand_{index_location}_{with_crc}")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(8, 12), chunks=(4, 6), shards=(8, 12),
                    dtype="float64", dims=("r", "c"), fill=-1.0)
    vals = np.arange(96, dtype="f8").reshape(8, 12)
    # rewrite the array doc with the wanted index config
    doc = json.loads(open(os.path.join(root, "g", "zarr.json")).read())
    idx_codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if with_crc:
        idx_codecs.append({"name": "crc32c"})
    doc["codecs"][0]["configuration"]["index_codecs"] = idx_codecs
    doc["codecs"][0]["configuration"]["index_location"] = index_location
    doc["codecs"][0]["configuration"]["codecs"] = [
        {"name": "bytes", "configuration": {"endian": "little"}}]
    open(os.path.join(root, "g", "zarr.json"), "w").write(json.dumps(doc))
    # one shard covering the whole array; inner grid 2x2; skip inner #2
    shard = _handcrafted_shard(vals, (4, 6), skip={2},
                               index_location=index_location,
                               with_crc=with_crc)
    st2 = ZarrStore.open(root)
    st2.write_bytes("g/c/0/0", shard)
    got = st2.read_array("g")
    want = vals.copy()
    want[4:8, 0:6] = -1.0  # inner chunk #2 (row 1, col 0) is MISSING → fill
    assert np.array_equal(got, want)
    # the independent spec reader agrees on the same bytes
    assert np.array_equal(specr.read_zarr_array(root, "g"), want)


def test_sharded_roundtrip_and_spec_reader():
    root = _fresh("rt")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(50, 70), chunks=(8, 16), shards=(16, 32),
                    dtype="float32", dims=("r", "c"),
                    compressor={"id": "gzip", "level": 3})
    vals = np.arange(50 * 70, dtype="f4").reshape(50, 70)
    st.write_array_numpy("g", vals)
    st2 = ZarrStore.open(root)
    meta = st2.array_meta("g")
    assert meta.shard is not None and meta.chunks == (16, 32)
    assert meta.shard["chunk_shape"] == (8, 16)
    assert np.array_equal(st2.read_array("g"), vals)
    got = st2.read_array("g", ranges={"r": (5, 45), "c": (10, 66)})
    assert np.array_equal(got, vals[5:45, 10:66])
    # independent spec-reader differential over the same raw bytes
    assert np.array_equal(specr.read_zarr_array(root, "g"), vals)
    # fewer objects than inner chunks: that's the point of sharding
    n_objects = sum(len(fs) for _, _, fs in os.walk(os.path.join(root, "g")))
    assert n_objects <= 1 + (4 * 3)  # zarr.json + ceil(50/16)*ceil(70/32)


def test_sharded_sparse_write_elides_fill_inner_chunks():
    """All-fill inner chunks are written as MISSING index entries — a
    sparse shard costs index-only bytes, and reads synthesize fill."""
    root = _fresh("sparse")
    st = ZarrStore.create(root, version=3)
    m = st.create_array("g", shape=(16, 16), chunks=(4, 4), shards=(16, 16),
                        dtype="int32", dims=("r", "c"), fill=0)
    vals = np.zeros((16, 16), dtype="i4")
    vals[0:4, 0:4] = 7       # exactly one inner chunk has data
    st.write_array_numpy("g", vals)
    raw = ZarrStore.open(root).read_bytes(m.chunk_key((0, 0)))
    n = 16  # 4x4 inner grid
    isize = n * 16 + 4
    idx = raw[-isize:-4]
    pairs = list(struct.iter_unpack("<QQ", idx))
    present = [p for p in pairs if p[0] != 2**64 - 1]
    assert len(present) == 1
    assert np.array_equal(ZarrStore.open(root).read_array("g"), vals)


def test_sharded_rejects_bad_shapes_and_unknown_index_codec():
    import json

    root = _fresh("bad")
    st = ZarrStore.create(root, version=3)
    with pytest.raises(ValueError, match="multiple"):
        st.create_array("g", shape=(8, 8), chunks=(3, 3), shards=(8, 8),
                        dtype="float64", dims=("r", "c"))
    st.create_array("g", shape=(8, 8), chunks=(4, 4), shards=(8, 8),
                    dtype="float64", dims=("r", "c"))
    doc = json.loads(open(os.path.join(root, "g", "zarr.json")).read())
    doc["codecs"][0]["configuration"]["index_codecs"] = [{"name": "gzip"}]
    open(os.path.join(root, "g", "zarr.json"), "w").write(json.dumps(doc))
    with pytest.raises(NotImplementedError, match="index codec"):
        ZarrStore.open(root).array_meta("g")


def test_sharded_spark_write_path(tmp_path, spark):
    """The distributed writer shuffles on the SHARD grid (meta.chunks is
    the shard shape), so each shard is written exactly once — the Spark
    path needs no sharding-specific code."""
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.writer import write_array

    root = str(tmp_path / "spark_shard.zarr")
    st = ZarrStore.create(root, version=3, attrs={"name": "shard_mdio"})
    st.create_array("v", shape=(5000,), chunks=(256,), shards=(1024,),
                    dtype="float64", dims=("i",),
                    compressor={"id": "gzip", "level": 1})
    df = spark.range(5000).select(F.col("id").alias("i"),
                                  (F.col("id") * 0.5).alias("val"))
    write_array(df, root, "v", value_cols="val")
    st2 = ZarrStore.open(root)
    got = st2.read_array("v")
    assert np.array_equal(got, np.arange(5000) * 0.5)
    # object count: ceil(5000/1024) = 5 shards, not ceil(5000/256) = 20
    cdir = os.path.join(root, "v", "c")
    n_keys = sum(len(fs) for _, _, fs in os.walk(cdir))
    assert n_keys == 5
    assert np.array_equal(specr.read_zarr_array(root, "v"), np.arange(5000) * 0.5)


# --------------------------------------------------- v3 transpose codec


def test_transpose_codec_handcrafted_bytes():
    """Chunk bytes written BY HAND in the permuted layout must decode to
    the canonical array — pins the transpose semantics (stored array =
    input.transpose(order)) independent of our encoder."""
    import json

    root = _fresh("transp_hand")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(4, 6), chunks=(4, 6), dtype="int32",
                    dims=("r", "c"))
    doc = json.loads(open(os.path.join(root, "g", "zarr.json")).read())
    doc["codecs"] = [{"name": "transpose", "configuration": {"order": [1, 0]}},
                     {"name": "bytes", "configuration": {"endian": "little"}}]
    open(os.path.join(root, "g", "zarr.json"), "w").write(json.dumps(doc))
    vals = np.arange(24, dtype="i4").reshape(4, 6)
    st2 = ZarrStore.open(root)
    assert st2.array_meta("g").transpose == (1, 0)
    # stored layout = vals.T serialized C-order
    st2.write_bytes("g/c/0/0", np.ascontiguousarray(vals.T).tobytes())
    assert np.array_equal(st2.read_array("g"), vals)
    assert np.array_equal(specr.read_zarr_array(root, "g"), vals)


def test_transpose_codec_roundtrip_and_spec_reader():
    """Our writer honors a transpose codec on re-open: encode permutes,
    decode un-permutes; spec reader (own transpose branch) agrees."""
    import json

    root = _fresh("transp_rt")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(10, 14, 6), chunks=(4, 8, 6),
                    dtype="float64", dims=("a", "b", "t"),
                    compressor={"id": "gzip", "level": 1})
    doc = json.loads(open(os.path.join(root, "g", "zarr.json")).read())
    doc["codecs"] = [{"name": "transpose", "configuration": {"order": [2, 0, 1]}}] + doc["codecs"]
    open(os.path.join(root, "g", "zarr.json"), "w").write(json.dumps(doc))
    st2 = ZarrStore.open(root)
    assert st2.array_meta("g").transpose == (2, 0, 1)
    vals = np.arange(10 * 14 * 6, dtype="f8").reshape(10, 14, 6)
    st2.write_array_numpy("g", vals)
    assert np.array_equal(ZarrStore.open(root).read_array("g"), vals)
    assert np.array_equal(specr.read_zarr_array(root, "g"), vals)
    got = ZarrStore.open(root).read_array(
        "g", ranges={"a": (3, 9), "b": (5, 13), "t": (1, 5)})
    assert np.array_equal(got, vals[3:9, 5:13, 1:5])


def test_transpose_inside_shard_inner_chain():
    """transpose in the sharding config's INNER chain permutes each inner
    chunk's stored layout; decode and spec reader both honor it."""
    import json

    root = _fresh("transp_shard")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(16, 12), chunks=(4, 6), shards=(8, 12),
                    dtype="float32", dims=("r", "c"),
                    compressor={"id": "gzip", "level": 1})
    doc = json.loads(open(os.path.join(root, "g", "zarr.json")).read())
    inner = doc["codecs"][0]["configuration"]["codecs"]
    doc["codecs"][0]["configuration"]["codecs"] = [
        {"name": "transpose", "configuration": {"order": [1, 0]}}] + inner
    open(os.path.join(root, "g", "zarr.json"), "w").write(json.dumps(doc))
    st2 = ZarrStore.open(root)
    m = st2.array_meta("g")
    assert m.shard is not None and m.transpose == (1, 0)
    vals = np.arange(16 * 12, dtype="f4").reshape(16, 12)
    st2.write_array_numpy("g", vals)
    assert np.array_equal(ZarrStore.open(root).read_array("g"), vals)
    assert np.array_equal(specr.read_zarr_array(root, "g"), vals)


def test_transpose_rejects_bad_order():
    import json

    root = _fresh("transp_bad")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(4, 6), chunks=(4, 6), dtype="int32",
                    dims=("r", "c"))
    doc = json.loads(open(os.path.join(root, "g", "zarr.json")).read())
    doc["codecs"] = [{"name": "transpose", "configuration": {"order": [0, 0]}},
                     {"name": "bytes", "configuration": {"endian": "little"}}]
    open(os.path.join(root, "g", "zarr.json"), "w").write(json.dumps(doc))
    with pytest.raises(NotImplementedError, match="permutation"):
        ZarrStore.open(root).array_meta("g")


# ------------------------------------------------- partial shard reads


class _CountingKV:
    """Wraps a KVStore; counts full reads vs range reads per key."""

    def __init__(self, inner):
        self.inner = inner
        self.full_reads = []
        self.range_reads = []

    def __getattr__(self, name):
        return getattr(self.inner, name)

    def read(self, key):
        self.full_reads.append(key)
        return self.inner.read(key)

    def read_range(self, key, start, length):
        self.range_reads.append((key, start, length))
        return self.inner.read_range(key, start, length)


def test_partial_shard_read_uses_range_gets():
    """decode_chunk_box on a narrow box must fetch the index (one suffix
    range read) plus ONLY the touched inner chunks — never the whole shard
    object — and agree exactly with the full decode."""
    root = _fresh("partial")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(64, 64), chunks=(8, 8), shards=(64, 64),
                    dtype="float64", dims=("r", "c"),
                    compressor={"id": "gzip", "level": 1})
    vals = np.arange(64 * 64, dtype="f8").reshape(64, 64)
    st.write_array_numpy("g", vals)

    st2 = ZarrStore.open(root)
    meta = st2.array_meta("g")
    ckv = _CountingKV(st2._kv)
    st2._kv = ckv
    # box touching exactly inner chunks (1,1) and (1,2): 2 of 64
    box = ((9, 15), (10, 20))
    block = st2.decode_chunk_box(meta, (0, 0), box)
    assert np.array_equal(block[9:15, 10:20], vals[9:15, 10:20])
    # outside-box cells are fill (NaN for float64 auto-fill) or data from
    # the two fetched inner chunks — but NEVER a full-object read:
    assert ckv.full_reads == []
    keys = {k for k, _, _ in ckv.range_reads}
    assert keys == {meta.chunk_key((0, 0))}
    # index read (suffix) + exactly 2 inner-chunk reads
    assert len(ckv.range_reads) == 3
    assert ckv.range_reads[0][1] < 0  # suffix range for the end index
    # a box covering the whole shard falls back to ONE full object read
    ckv.full_reads.clear(); ckv.range_reads.clear()
    full = st2.decode_chunk_box(meta, (0, 0), ((0, 64), (0, 64)))
    assert np.array_equal(full, vals)
    assert len(ckv.full_reads) == 1 and ckv.range_reads == []


def test_partial_shard_read_through_spark_scan(tmp_path, spark):
    """A chunk-pruned isel through the DSv2 reader over a sharded store
    returns exactly the sliced values (the partial-read path is what the
    scan now exercises for sharded metas)."""
    from pyspark.sql import functions as F

    from mdio_cpp_spark.sources.reader import scan_array
    from mdio_cpp_spark.sources.writer import write_array

    root = str(tmp_path / "pscan.zarr")
    st = ZarrStore.create(root, version=3, attrs={"name": "pscan"})
    st.create_array("v", shape=(10000,), chunks=(250,), shards=(2000,),
                    dtype="float64", dims=("i",),
                    compressor={"id": "gzip", "level": 1})
    df = spark.range(10000).select(F.col("id").alias("i"),
                                   (F.col("id") * 3.0).alias("val"))
    write_array(df, root, "v", value_cols="val")
    got = (scan_array(spark, root, "v", ranges={"i": (3100, 3350)})
           .orderBy("i").collect())
    assert [r["i"] for r in got] == list(range(3100, 3350))
    assert [r["value"] for r in got] == [i * 3.0 for i in range(3100, 3350)]


def test_truncated_shard_raises_on_both_read_paths():
    """A present-but-truncated shard (e.g. a torn upload) must raise loudly
    from BOTH the whole-object decode AND the partial (range-GET) path.
    Before kvstore's suffix-read clamp, the partial path's oversized negative
    seek hit OSError, read the shard as ABSENT, and silently synthesized fill
    values — corruption masked as missing data (ADVICE r6, medium)."""
    root = _fresh("trunc")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(16, 16), chunks=(4, 4), shards=(16, 16),
                    dtype="float64", dims=("r", "c"))
    st.write_array_numpy("g", np.arange(256, dtype="f8").reshape(16, 16))
    meta = st.array_meta("g")
    key = meta.chunk_key((0, 0))
    # truncate the shard object to fewer bytes than its index needs
    path = os.path.join(root, key)
    with open(path, "r+b") as f:
        f.truncate(8)

    st2 = ZarrStore.open(root)
    meta2 = st2.array_meta("g")
    with pytest.raises(ValueError, match="shorter.*than its index"):
        st2.decode_chunk(meta2, (0, 0))
    # partial path: box touching 1 of 16 inner chunks → suffix index read
    with pytest.raises(ValueError, match="shorter than its index"):
        st2.decode_chunk_box(meta2, (0, 0), ((0, 4), (0, 4)))


def test_sharded_lz4_dsv2_pushdown_fetches_only_touched_ranges(tmp_path, spark, monkeypatch):
    """Sharding composed with a COMPRESSED inner chain (blosc-lz4) under
    DSv2 pushdown: a dim-range + value predicate arrives through
    pushFilters, the range is consumed into the box, and the partition
    read fetches ONLY the shard index (suffix range-GET) plus the inner
    chunks the box touches — never whole shard objects — while the value
    predicate masks rows decoder-side. Byte-fetch shape asserted via a
    counting KV injected into the DSv2 read path (driver-process read()
    call, no Spark job)."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import GreaterThan, GreaterThanOrEqual, LessThan

    from mdio_cpp_spark.sources import datasource as ds_mod
    from mdio_cpp_spark.sources.datasource import MdioDataSource
    from mdio_cpp_spark.sources.writer import write_array

    root = str(tmp_path / "slz4.zarr")
    st = ZarrStore.create(root, version=3, attrs={"name": "slz4"})
    st.create_array("v", shape=(10000,), chunks=(250,), shards=(2000,),
                    dtype="float64", dims=("i",),
                    compressor={"id": "blosc", "cname": "lz4", "clevel": 5,
                                "shuffle": 1})
    df = spark.range(10000).select(F.col("id").alias("i"),
                                   (F.col("id") * 3.0).alias("val"))
    write_array(df, root, "v", value_cols="val")

    # the stored inner chunks really are blosc-lz4 frames: parse the shard
    # index by hand and check the first present inner chunk's codec id
    st2 = ZarrStore.open(root)
    meta = st2.array_meta("v")
    raw = st2.read_bytes(meta.chunk_key((1,)))
    grid_n = 2000 // 250
    isize = grid_n * 16 + 4  # [bytes, crc32c] index
    pairs = np.frombuffer(
        np.frombuffer(raw[-isize:-4], dtype="<u8"), dtype="<u8"
    ).reshape(grid_n, 2)
    off, ln = int(pairs[0][0]), int(pairs[0][1])
    frame = raw[off : off + ln]
    assert not frame[2] & 0x2 and (frame[2] >> 5) & 0x7 == 1  # lz4, not memcpy

    # in-process DSv2: pushFilters consumes dim bounds AND the value
    # predicate; read() over the pruned partitions with a counting KV
    src = MdioDataSource({"path": root, "variable": "v"})
    reader = src.reader(src.schema())
    leftover = list(reader.pushFilters([
        GreaterThanOrEqual(("i",), 3100), LessThan(("i",), 3350),
        GreaterThan(("value",), 9500.0),
    ]))
    assert leftover == []  # everything consumed

    counters = []
    real_store = ZarrStore

    def counting_store(root_, version_):
        s = real_store(root_, version_)
        ckv = _CountingKV(s._kv)
        s._kv = ckv
        counters.append(ckv)
        return s

    monkeypatch.setattr(ds_mod, "ZarrStore", counting_store)
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(batch.to_pylist())
    got = sorted(r["i"] for r in rows)
    # i in [3167, 3350): intersection of the dim range and value > 9500
    assert got == list(range(3167, 3350))
    assert all(abs(r["value"] - r["i"] * 3.0) < 1e-12 for r in rows)

    full = [k for c in counters for k in c.full_reads]
    ranged = [(k, s, ln) for c in counters for (k, s, ln) in c.range_reads]
    assert full == []  # no whole-shard object reads anywhere
    # the box [3100, 3350) touches ONE shard (coords (1,): rows 2000-4000)
    # and inner chunks 12 (3000-3250) and 13 (3250-3500) of its 8:
    keys = {k for k, _, _ in ranged}
    assert keys == {meta.chunk_key((1,))}
    suffix = [r for r in ranged if r[1] < 0]
    inner = [r for r in ranged if r[1] >= 0]
    assert len(suffix) == 1 and suffix[0][2] == 8 * 16 + 4  # one index GET
    assert len(inner) == 2  # exactly the two touched inner chunks


def test_reshard_migration_v2_to_sharded_v3(tmp_path, spark):
    """reshard_array: a legacy v2 zlib store (many small chunk objects,
    one sparse region) migrates into a sharded v3 blosc-lz4 layout —
    values identical through both the driver read and the independent
    spec reader, object count collapses, all-fill shards elided, and the
    source zone manifest (old grid) is NOT carried over."""
    import numpy as np

    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.utils.transcode import reshard_array

    src = str(tmp_path / "legacy.zarr")
    st = ZarrStore.create(src, version=2, attrs={"name": "legacy"})
    st.create_array("v", shape=(40, 40), chunks=(5, 5), dtype="float64",
                    dims=("r", "c"), compressor={"id": "zlib", "level": 1},
                    fill=0.0)
    st.consolidate()
    vals = np.fromfunction(lambda r, c: (r * 40 + c) % 97, (40, 40))
    vals[20:40, 0:20] = 0.0  # a quarter of the array is pure fill
    st.write_array_numpy("v", vals)
    zonemap.ensure_chunk_stats(spark, src, "v")
    src_attrs = ZarrStore.open(src).array_meta("v").attrs
    assert (zonemap.STATS_KEY in src_attrs
            or zonemap.SIDECAR_ATTR in src_attrs)

    dst = str(tmp_path / "sharded.zarr")
    report = reshard_array(
        spark, src, dst, "v", shards=(20, 20), inner_chunks=(5, 5),
        compressor={"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1},
    )
    assert report == {"shards_total": 4, "shards_written": 3}  # 1 all-fill

    d = ZarrStore.open(dst)
    dm = d.array_meta("v")
    assert dm.shard is not None and dm.chunks == (20, 20)
    assert dm.shard["chunk_shape"] == (5, 5)
    # old-grid zone maps dropped (both the attr manifest and the sidecar
    # marker index the 8x8 source grid, meaningless on the 2x2 shard grid)
    assert zonemap.STATS_KEY not in dm.attrs
    assert zonemap.SIDECAR_ATTR not in dm.attrs
    assert np.array_equal(d.read_array("v"), vals)
    assert np.array_equal(specr.read_zarr_array(dst, "v"), vals)
    # object economics: 64 source chunk objects -> 3 shard objects
    n_objects = sum(len(fs) for _, _, fs in os.walk(os.path.join(dst, "v")))
    assert n_objects <= 1 + 3  # zarr.json + 3 written shards
    # the written shards' inner chunks really are blosc-lz4
    raw = d.read_bytes(dm.chunk_key((0, 0)))
    isize = 16 * 16 + 4
    pairs = np.frombuffer(raw[-isize:-4], dtype="<u8").reshape(16, 2)
    off, ln = int(pairs[0][0]), int(pairs[0][1])
    frame = raw[off : off + ln]
    assert not frame[2] & 0x2 and (frame[2] >> 5) & 0x7 == 1
    # distributed scan agrees too
    from mdio_cpp_spark.sources.reader import scan_array

    got = scan_array(spark, dst, "v", ranges={"r": (3, 27), "c": (12, 33)}).collect()
    for row in got[:50]:
        assert row["value"] == vals[row["r"], row["c"]]


def test_reshard_struct_dtype_and_default_inner(tmp_path, spark):
    """reshard_array edges: a STRUCT-dtype array with inner_chunks
    defaulted to the source chunk shape — values survive field-for-field,
    and (round-8 lift) all-fill STRUCT shards are ELIDED via the bytes-
    level fill detection instead of written unconditionally."""
    import numpy as np

    from mdio_cpp_spark.utils.transcode import reshard_array

    src = str(tmp_path / "hdr_src.zarr")
    st = ZarrStore.create(src, version=2)
    st.create_array("h", shape=(24,), chunks=(4,), dtype={"fields": [
        {"name": "a", "format": "int32"}, {"name": "b", "format": "int64"}]},
        dims=("i",))
    st.consolidate()
    rec = np.zeros(24, dtype=[("a", "<i4"), ("b", "<i8")])
    rec["a"][:16] = np.arange(16)  # last shard (rows 16..24) stays fill
    rec["b"][:16] = np.arange(16) * 11
    st.write_array_numpy("h", rec)

    dst = str(tmp_path / "hdr_sharded.zarr")
    report = reshard_array(spark, src, dst, "h", shards=(8,))
    assert report == {"shards_total": 3, "shards_written": 2}  # 1 elided
    d = ZarrStore.open(dst)
    dm = d.array_meta("h")
    assert dm.shard is not None and dm.shard["chunk_shape"] == (4,)
    assert d.read_bytes(dm.chunk_key((2,))) is None  # truly absent
    got = d.read_array("h")
    assert np.array_equal(got["a"], rec["a"]) and np.array_equal(got["b"], rec["b"])


def test_reshard_struct_nondefault_fill_elides(tmp_path, spark):
    """v2 struct source with a NON-default fill: bytes-level detection
    must compare against the real fill pattern, not zeros."""
    import base64

    import numpy as np

    from mdio_cpp_spark.utils.transcode import reshard_array

    dt = np.dtype([("a", "<i4"), ("b", "<i8")])
    fillv = np.zeros((), dt)
    fillv["a"], fillv["b"] = -1, 7
    src = str(tmp_path / "nf_src.zarr")
    st = ZarrStore.create(src, version=2)
    st.create_array("h", shape=(24,), chunks=(4,), dtype={"fields": [
        {"name": "a", "format": "int32"}, {"name": "b", "format": "int64"}]},
        dims=("i",), fill=base64.b64encode(fillv.tobytes()).decode())
    st.consolidate()
    rec = np.full(24, fillv[()], dtype=dt)
    rec["a"][:8] = np.arange(8)
    st.write_array_numpy("h", rec)

    dst = str(tmp_path / "nf_dst.zarr")
    report = reshard_array(spark, src, dst, "h", shards=(8,))
    assert report == {"shards_total": 3, "shards_written": 1}
    got = ZarrStore.open(dst).read_array("h")
    assert np.array_equal(got["a"], rec["a"]) and np.array_equal(got["b"], rec["b"])


def test_reshard_existing_destination_validated_and_cleaned(tmp_path, spark):
    """Round-7 advice (medium): re-migration onto a pre-existing
    destination must (a) reject a mismatched layout loudly, (b) drop the
    destination's stale zone-map attrs, and (c) DELETE shard objects that
    became all-fill since the prior population instead of leaving them to
    shadow the new fill."""
    import numpy as np

    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.utils.transcode import reshard_array

    src = str(tmp_path / "src.zarr")
    st = ZarrStore.create(src, version=2)
    st.create_array("v", shape=(32,), chunks=(4,), dtype="float64",
                    dims=("i",), compressor={"id": "zlib", "level": 1},
                    fill=0.0)
    st.consolidate()
    vals = np.arange(32, dtype="f8") + 1.0
    st.write_array_numpy("v", vals)

    dst = str(tmp_path / "dst.zarr")
    r1 = reshard_array(spark, src, dst, "v", shards=(16,))
    assert r1 == {"shards_total": 2, "shards_written": 2}

    # (a) mismatched layouts raise instead of silently reusing
    with pytest.raises(ValueError, match="shard shape|chunk/shard"):
        reshard_array(spark, src, dst, "v", shards=(8,))
    with pytest.raises(ValueError, match="inner chunks"):
        reshard_array(spark, src, dst, "v", shards=(16,), inner_chunks=(8,))

    # (b) zone stats built on the destination between migrations go stale
    zonemap.ensure_chunk_stats(spark, dst, "v")
    dm = ZarrStore.open(dst).array_meta("v")
    assert zonemap.STATS_KEY in dm.attrs or zonemap.SIDECAR_ATTR in dm.attrs

    # source changes: second half becomes pure fill
    st.write_array_numpy("v", np.zeros(16, dtype="f8"), origin=(16,))
    r2 = reshard_array(spark, src, dst, "v", shards=(16,))
    assert r2 == {"shards_total": 2, "shards_written": 1}
    d = ZarrStore.open(dst)
    dm = d.array_meta("v")
    assert zonemap.STATS_KEY not in dm.attrs
    assert zonemap.SIDECAR_ATTR not in dm.attrs
    # (c) the stale second-shard object is gone, not shadowing fill
    assert d.read_bytes(dm.chunk_key((1,))) is None
    want = np.concatenate([vals[:16], np.zeros(16)])
    assert np.array_equal(d.read_array("v"), want)
    assert np.array_equal(specr.read_zarr_array(dst, "v"), want)


def test_transcode_existing_destination_validated_and_cleaned(tmp_path, spark):
    """Same contract for transcode_array: layout validation + stale
    fill-only chunk objects deleted on re-migration."""
    import numpy as np

    from mdio_cpp_spark.utils.transcode import transcode_array

    src = str(tmp_path / "tsrc.zarr")
    st = ZarrStore.create(src, version=2)
    st.create_array("v", shape=(20,), chunks=(5,), dtype="float64",
                    dims=("i",), compressor={"id": "zlib", "level": 1},
                    fill=0.0)
    st.consolidate()
    st.write_array_numpy("v", np.arange(20, dtype="f8") + 1.0)

    dst = str(tmp_path / "tdst.zarr")
    r1 = transcode_array(spark, src, dst, "v", {"id": "zlib", "level": 9})
    assert r1 == {"chunks_total": 4, "chunks_copied": 4}

    # mismatched layout: a different array shape in the destination
    dst2 = str(tmp_path / "tdst2.zarr")
    s2 = ZarrStore.create(dst2, version=2)
    s2.create_array("v", shape=(10,), chunks=(5,), dtype="float64",
                    dims=("i",), fill=0.0)
    s2.consolidate()
    with pytest.raises(ValueError, match="shape"):
        transcode_array(spark, src, dst2, "v", {"id": "zlib", "level": 9})

    # source loses its last chunk's data -> re-transcode deletes the object
    st.write_array_numpy("v", np.zeros(5, dtype="f8"), origin=(15,))
    sm = ZarrStore.open(src).array_meta("v")
    ZarrStore.open(src)._kv.delete(sm.chunk_key((3,)))  # now truly absent
    r2 = transcode_array(spark, src, dst, "v", {"id": "zlib", "level": 9})
    assert r2 == {"chunks_total": 4, "chunks_copied": 3}
    d = ZarrStore.open(dst)
    dm = d.array_meta("v")
    assert d.read_bytes(dm.chunk_key((3,))) is None
    want = np.concatenate([np.arange(15, dtype="f8") + 1.0, np.zeros(5)])
    assert np.array_equal(d.read_array("v"), want)


def test_trim_composes_with_sharding():
    """trim_dataset on a sharded v3 store: the shard grid IS the chunk
    grid, so out-of-range SHARD objects delete and the boundary shard's
    now-out-of-range inner cells clip on read."""
    import numpy as np

    from mdio_cpp_spark.utils.trim import trim_dataset

    root = _fresh("trim")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(32,), chunks=(4,), shards=(16,),
                    dtype="float64", dims=("i",))
    st.write_array_numpy("g", np.arange(32.0))
    assert sum(len(f) for _, _, f in os.walk(os.path.join(root, "g"))) == 3
    trim_dataset(root, i=10)
    st2 = ZarrStore.open(root)
    assert st2.array_meta("g").shape == (10,)
    # the second shard object (cells 16-31, fully out of range) is gone
    assert sum(len(f) for _, _, f in os.walk(os.path.join(root, "g"))) == 2
    assert np.array_equal(st2.read_array("g"), np.arange(10.0))


def test_grow_composes_with_sharding(spark):
    """grow_dataset on a sharded v3 store, then append through the Spark
    writer: the grow is metadata-only (zero shard objects touched); the
    append RMWs the boundary SHARD (its index regenerates around the new
    inner chunks) and creates the fresh shard; the virgin tail reads as
    fill."""
    import numpy as np

    from mdio_cpp_spark.sources.writer import write_array
    from mdio_cpp_spark.utils.trim import grow_dataset

    root = _fresh("grow")
    st = ZarrStore.create(root, version=3)
    st.create_array("g", shape=(20,), chunks=(4,), shards=(16,),
                    dtype="float64", dims=("i",))
    st.consolidate()
    st.write_array_numpy("g", np.arange(20.0))
    n0 = sum(len(f) for _, _, f in os.walk(os.path.join(root, "g")))
    report = grow_dataset(root, i=44)
    assert report["g"] == 24
    assert sum(len(f) for _, _, f in os.walk(os.path.join(root, "g"))) == n0
    # append [20, 36): completes boundary shard 1 (RMW) + starts shard 2
    rows = spark.createDataFrame(
        [(i, float(i)) for i in range(20, 36)], "i long, v double")
    write_array(rows, root, "g", value_cols="v")
    st2 = ZarrStore.open(root)
    assert st2.array_meta("g").shape == (44,)
    out = st2.read_array("g")
    assert np.array_equal(out[:36], np.arange(36.0))
    assert np.isnan(out[36:]).all()
    # independent spec-derived reader agrees on the RMW'd boundary shard
    sout = specr.read_zarr_array(root, "g")
    assert np.array_equal(sout[:36], np.arange(36.0))
    assert np.isnan(sout[36:]).all()


def test_zone_maps_prune_shards(tmp_path, spark):
    """Zone-map value pruning operates on the SHARD grid (meta.chunks is
    the shard shape): a pushed `value >= 7000` filter keeps ONE of four
    shard objects — no GET, no index read, no decode for the other three.
    Composed with the partial inner-chunk reads this is the full
    object-store story: prune to the right shard, then range-GET only the
    touched inner chunks inside it."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import GreaterThanOrEqual

    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.sources.datasource import MdioDataSource
    from mdio_cpp_spark.sources.writer import write_array

    root = str(tmp_path / "zs.zarr")
    st = ZarrStore.create(root, version=3)
    st.create_array("v", shape=(8000,), chunks=(250,), shards=(2000,),
                    dtype="float64", dims=("i",))
    df = spark.range(8000).select(F.col("id").alias("i"),
                                  F.col("id").cast("double").alias("val"))
    write_array(df, root, "v", value_cols="val")
    zonemap.ensure_chunk_stats(spark, root, "v")

    s = MdioDataSource({"path": root, "variable": "v"})
    r = s.reader(s.schema())
    leftover = list(r.pushFilters([GreaterThanOrEqual(("value",), 7000.0)]))
    assert leftover == []
    zk = r._zone_keeper()
    assert zk is not None
    survivors = [c for p in r.partitions() for c in p.coords_iter() if zk(c)]
    assert survivors == [(3,)]  # cells 6000-8000 only
    # and the surviving shard's rows come back right
    rows = [row for p in r.partitions() for b in r.read(p)
            for row in b.to_pylist()]
    assert sorted(x["i"] for x in rows) == list(range(7000, 8000))


def test_reshard_from_delta_filtered_v2_source(tmp_path, spark):
    """A DELTA-FILTERED legacy v2 store (the numcodecs chain an external
    writer left behind) resharding into v3: the filter decode happens
    inside the source read seam, the destination is filterless v3 — the
    migration is also the escape hatch off the v2-only filter feature."""
    import numpy as np

    from mdio_cpp_spark.utils.transcode import reshard_array

    src = str(tmp_path / "filtered.zarr")
    st = ZarrStore.create(src, version=2, attrs={"name": "filtered"})
    st.create_array("v", shape=(32,), chunks=(8,), dtype="int32",
                    dims=("i",), compressor={"id": "zlib", "level": 1},
                    fill=0, filters=[{"id": "delta", "dtype": "<i4"}])
    st.consolidate()
    vals = (np.arange(32, dtype="<i4") * 7 - 50)
    st.write_array_numpy("v", vals)
    assert np.array_equal(specr.read_zarr_array(src, "v"), vals)

    dst = str(tmp_path / "resharded.zarr")
    report = reshard_array(spark, src, dst, "v", shards=(16,),
                           inner_chunks=(8,))
    assert report["shards_written"] == 2
    d = ZarrStore.open(dst)
    assert d.array_meta("v").filters == ()  # v3: no numcodecs chain
    assert np.array_equal(d.read_array("v"), vals)
    assert np.array_equal(specr.read_zarr_array(dst, "v"), vals)


def test_big_endian_shard_index(tmp_path):
    """A sharded store whose INDEX 'bytes' codec declares big-endian (the
    spec permits either order for the (offset, nbytes) u64 pairs): full
    decode, the box-aware partial read, and the independent spec reader
    all honor it. Writes INTO the store keep the declared order."""
    import json

    root = tmp_path / "beidx.zarr"
    (root / "a" / "c").mkdir(parents=True)
    (root / "zarr.json").write_text(json.dumps(
        {"zarr_format": 3, "node_type": "group", "attributes": {}}))
    index_codecs = [{"name": "bytes", "configuration": {"endian": "big"}},
                    {"name": "crc32c"}]
    (root / "a" / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "array", "shape": [8],
        "data_type": "int32",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [8]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [{"name": "sharding_indexed", "configuration": {
            "chunk_shape": [4],
            "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
            "index_codecs": index_codecs,
            "index_location": "end"}}],
        "dimension_names": ["i"], "attributes": {},
    }))
    inner0 = np.arange(4, dtype="<i4").tobytes()
    inner1 = (np.arange(4, dtype="<i4") + 100).tobytes()
    pairs = np.array([[0, 16], [16, 16]], dtype=">u8")  # BE index pairs
    idx = pairs.tobytes()
    idx += struct.pack("<I", crc32c(idx))
    (root / "a" / "c" / "0").write_bytes(inner0 + inner1 + idx)

    st = ZarrStore.open(str(root))
    meta = st.array_meta("a")
    assert meta.shard["index_dtype"] == ">u8"
    want = np.concatenate([np.arange(4), np.arange(4) + 100]).astype("i4")
    assert np.array_equal(st.decode_chunk(meta, (0,)), want)
    # partial read touches only the second inner chunk through the BE index
    got = st.decode_chunk_box(meta, (0,), ((5, 7),))
    assert np.array_equal(np.asarray(got)[5:7], want[5:7])
    assert np.array_equal(specr.read_zarr_array(str(root), "a"), want)
    # write-back keeps the declared BE order on disk
    st.write_chunk(meta, (0,), want * 2)
    assert np.array_equal(st.decode_chunk(meta, (0,)), want * 2)
    assert np.array_equal(specr.read_zarr_array(str(root), "a"), want * 2)
    raw = st.read_bytes(meta.chunk_key((0,)))
    isize = 2 * 16 + 4
    stored_pairs = np.frombuffer(raw[-isize:-4], dtype=">u8").reshape(2, 2)
    assert int(stored_pairs[0, 1]) == 16  # reads as 16 only under BE


def test_big_endian_inner_data_under_sharding(tmp_path):
    """A sharded store whose INNER 'bytes' codec declares big-endian (the
    endian-bearing codec lives inside the sharding configuration, not the
    top-level chain — zarr_store.py endian_chain logic): the engine's full
    decode, its box-aware partial read, AND the independent spec reader all
    byteswap inner-chunk data. Handcrafted BE bytes our encoder never
    touched, so this is a true cross-implementation differential."""
    import json

    root = tmp_path / "beinner.zarr"
    (root / "a" / "c").mkdir(parents=True)
    (root / "zarr.json").write_text(json.dumps(
        {"zarr_format": 3, "node_type": "group", "attributes": {}}))
    (root / "a" / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "array", "shape": [8],
        "data_type": "int32",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [8]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [{"name": "sharding_indexed", "configuration": {
            "chunk_shape": [4],
            "codecs": [{"name": "bytes", "configuration": {"endian": "big"}}],
            "index_codecs": [{"name": "bytes"}, {"name": "crc32c"}],
            "index_location": "end"}}],
        "dimension_names": ["i"], "attributes": {},
    }))
    want = np.concatenate([np.arange(4), np.arange(4) + 100]).astype("i4")
    inner0 = want[:4].astype(">i4").tobytes()  # BIG-endian payloads
    inner1 = want[4:].astype(">i4").tobytes()
    pairs = np.array([[0, 16], [16, 16]], dtype="<u8")
    idx = pairs.tobytes()
    idx += struct.pack("<I", crc32c(idx))
    (root / "a" / "c" / "0").write_bytes(inner0 + inner1 + idx)

    st = ZarrStore.open(str(root))
    meta = st.array_meta("a")
    got = np.asarray(st.decode_chunk(meta, (0,)))
    assert got.dtype.isnative
    assert np.array_equal(got, want)
    box = st.decode_chunk_box(meta, (0,), ((5, 7),))
    assert np.array_equal(np.asarray(box)[5:7], want[5:7])
    spec = specr.read_zarr_array(str(root), "a")
    assert np.array_equal(spec, want)


def _memcpy_blosc_frame(payload: bytes, typesize: int) -> bytes:
    """Hand-build a c-blosc v1 frame per the public spec (BLOSC.pdf /
    c-blosc README_HEADER): 16-byte header [version, versionlz, flags,
    typesize, nbytes(u32le), blocksize(u32le), cbytes(u32le)] with the
    memcpy flag (bit 1) and the raw payload following — the simplest valid
    frame an external writer can emit, and one our encoder never produces
    for compressible data."""
    n = len(payload)
    return struct.pack("<BBBBIII", 2, 1, 0x2, typesize, n, n, n + 16) + payload


def test_be_shard_index_with_inner_blosc(tmp_path):
    """Composition fixture (VERDICT r9 #6): BIG-ENDIAN shard index + BLOSC
    inner codec in one handcrafted v3 store. The index u64 pairs are
    serialized BE; each present inner chunk is a hand-built memcpy'd blosc
    frame. Engine full decode, box-aware partial read, and the independent
    spec reader must all agree — none of these bytes came from our
    encoder."""
    import json

    root = tmp_path / "beblosc.zarr"
    (root / "a" / "c").mkdir(parents=True)
    (root / "zarr.json").write_text(json.dumps(
        {"zarr_format": 3, "node_type": "group", "attributes": {}}))
    (root / "a" / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "array", "shape": [12],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [12]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": -1.0,
        "codecs": [{"name": "sharding_indexed", "configuration": {
            "chunk_shape": [4],
            "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
                       {"name": "blosc", "configuration": {"cname": "lz4"}}],
            "index_codecs": [
                {"name": "bytes", "configuration": {"endian": "big"}},
                {"name": "crc32c"}],
            "index_location": "end"}}],
        "dimension_names": ["i"], "attributes": {},
    }))
    want = np.full(12, -1.0)
    want[0:4] = [1.5, 2.5, 3.5, 4.5]
    want[8:12] = [9.0, 10.0, 11.0, 12.0]
    f0 = _memcpy_blosc_frame(np.asarray(want[0:4], "<f8").tobytes(), 8)
    f2 = _memcpy_blosc_frame(np.asarray(want[8:12], "<f8").tobytes(), 8)
    missing = (1 << 64) - 1
    pairs = np.array(
        [[0, len(f0)], [missing, missing], [len(f0), len(f2)]], dtype=">u8")
    idx = pairs.tobytes()
    idx += struct.pack("<I", crc32c(idx))
    (root / "a" / "c" / "0").write_bytes(f0 + f2 + idx)

    st = ZarrStore.open(str(root))
    meta = st.array_meta("a")
    assert meta.shard["index_dtype"] == ">u8"
    assert np.array_equal(st.decode_chunk(meta, (0,)), want)
    # partial read through the BE index touches only inner chunk 2
    got = np.asarray(st.decode_chunk_box(meta, (0,), ((9, 11),)))
    assert np.array_equal(got[9:11], want[9:11])
    assert np.array_equal(specr.read_zarr_array(str(root), "a"), want)


def test_be_struct_under_sharding_external(tmp_path):
    """Composition fixture (VERDICT r9 #6): v3 STRUCT data_type + sharding
    + BIG-ENDIAN inner 'bytes' codec, all bytes handcrafted. The endian
    applies uniformly per field (the engine's stored_dtype per-field
    byteswap path); the spec reader must mirror it inside shards."""
    import base64
    import json

    root = tmp_path / "beshstruct.zarr"
    (root / "a" / "c").mkdir(parents=True)
    (root / "zarr.json").write_text(json.dumps(
        {"zarr_format": 3, "node_type": "group", "attributes": {}}))
    (root / "a" / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "array", "shape": [4],
        "data_type": {"name": "struct", "configuration": {"fields": [
            {"name": "k", "data_type": "int32"},
            {"name": "x", "data_type": "float64"}]}},
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": base64.b64encode(bytes(12)).decode("ascii"),
        "codecs": [{"name": "sharding_indexed", "configuration": {
            "chunk_shape": [2],
            "codecs": [{"name": "bytes", "configuration": {"endian": "big"}}],
            "index_codecs": [{"name": "bytes"}, {"name": "crc32c"}],
            "index_location": "end"}}],
        "dimension_names": ["i"], "attributes": {},
    }))
    native = np.dtype([("k", "<i4"), ("x", "<f8")])
    want = np.array([(1, 1.25), (2, -2.5), (3, 3.75), (4, -4.0)], dtype=native)
    be = want.astype(np.dtype([("k", ">i4"), ("x", ">f8")]))
    inner0 = be[:2].tobytes()
    inner1 = be[2:].tobytes()
    pairs = np.array([[0, len(inner0)], [len(inner0), len(inner1)]], dtype="<u8")
    idx = pairs.tobytes()
    idx += struct.pack("<I", crc32c(idx))
    (root / "a" / "c" / "0").write_bytes(inner0 + inner1 + idx)

    st = ZarrStore.open(str(root))
    meta = st.array_meta("a")
    got = np.asarray(st.decode_chunk(meta, (0,)))
    assert got.dtype == native or got.dtype.isnative
    assert np.array_equal(got["k"], want["k"])
    assert np.array_equal(got["x"], want["x"])
    spec = specr.read_zarr_array(str(root), "a")
    assert np.array_equal(spec["k"].astype("i4"), want["k"])
    assert np.array_equal(spec["x"].astype("f8"), want["x"])
