"""The benchmark's workloads. Each is a closed loop with one client.

A workload builds its inputs from the seed (``setup``), yields a seeded op
sequence (``ops``), runs one op through the library's public API
(``run``), checks the op's output against a numpy mirror of the seeded data
outside the timed region (``check``), and, for the traced run, replays the
executor-side part of an op in this process (``replay``).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Iterator

import numpy as np

from perfbench import data

MIB = float(1 << 20)
BLOSC_LZ4 = {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1}
ZSTD = {"id": "zstd", "level": 3}
DIMS = ("inline", "crossline", "time")
IL0, XL0, DT_MS = 1000, 2000, 4


@dataclass
class Op:
    kind: str
    params: dict
    result: Any = None
    logical_bytes: int = 0


def tree_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _chunk_files(root: str, var: str = "amplitude") -> dict[str, bytes]:
    """Chunk key -> stored bytes of a v2 array (metadata files left out)."""
    base = os.path.join(root, var)
    out = {}
    for name in os.listdir(base):
        if not name.startswith("."):
            with open(os.path.join(base, name), "rb") as f:
                out[name] = f.read()
    return out


def _agg(df):
    from pyspark.sql import functions as F

    return df.agg(F.count("value"), F.sum("value"), F.min("value"), F.max("value"))


def _stats_equal(row, values: np.ndarray) -> bool:
    n, s, lo, hi = data.exact_stats(values)
    got = tuple(row)
    if n == 0:
        return got[0] == 0
    return (got[0], float(got[1]), float(got[2]), float(got[3])) == (n, s, lo, hi)


# ----------------------------------------------------------------- scan_local


class ScanLocal:
    """Bulk analytic reads of a blosc-lz4 Zarr v2 volume on local disk."""

    name = "scan_local"
    uses_spark = True
    SIZES = {"bench": ((64, 64, 512), (16, 16, 256)), "tiny": ((16, 16, 64), (8, 8, 32))}
    KINDS = ("stats", "isel", "filter")
    ROUND = len(KINDS)  # ops per round: every kind once
    FILTER_CHUNKS = {"bench": 6, "tiny": 2}  # chunks the filter's zone map keeps

    def __init__(self, seed: int, size: str = "bench"):
        self.seed = seed
        self.shape, self.chunks = self.SIZES[size]
        self.filter_chunks = self.FILTER_CHUNKS[size]

    def setup(self, work: str, spark) -> None:
        from mdio_cpp_spark.sources import zonemap
        from mdio_cpp_spark.sources.zarr_store import ZarrStore

        self.spark = spark
        self.vol = data.volume(np.random.default_rng(self.seed), self.shape)
        self.root = os.path.join(work, "volume.zarr")
        store = ZarrStore.create(self.root, version=2, attrs={"name": "perfbench"})
        store.create_array("amplitude", shape=self.shape, chunks=self.chunks,
                           dtype="float32", dims=DIMS, compressor=BLOSC_LZ4)
        store.write_array_numpy("amplitude", self.vol)
        stats = zonemap.compute_chunk_stats(spark, self.root, "amplitude")
        zonemap.publish_chunk_stats(self.root, "amplitude", stats)
        self.stored = tree_bytes(self.root)

    def logical_bytes(self) -> int:
        return self.vol.nbytes

    def ops(self) -> Iterator[Op]:
        rng = np.random.default_rng([self.seed, 1])
        n_il = self.shape[0]
        # every filter threshold lies between the (k+1)-th and the k-th
        # largest chunk maximum, so the zone map keeps the same k chunks for
        # every seed and op; computed here, when the first op is drawn, so
        # it is neither set-up nor op time
        m_next, m_kth = np.sort(self._chunk_maxima(), axis=None)[::-1][
            [self.filter_chunks, self.filter_chunks - 1]]
        i = 0
        while True:
            kind = self.KINDS[i % len(self.KINDS)]
            i += 1
            if kind == "isel":
                # one chunk row of inlines, at a seeded chunk-aligned start
                width = self.chunks[0]
                lo = width * int(rng.integers(0, n_il // width))
                yield Op(kind, {"inline": (lo, lo + width)})
            elif kind == "filter":
                # samples are multiples of 1/16: a threshold half a step above
                # one is never equal to a sample
                t = m_next + rng.uniform() * (m_kth - m_next)
                yield Op(kind, {"gt": float(np.floor(t * data.UNIT) + 0.5) / data.UNIT})
            else:
                yield Op(kind, {})

    def _chunk_maxima(self) -> np.ndarray:
        grid = [n // c for n, c in zip(self.shape, self.chunks)]
        blocks = self.vol.reshape(grid[0], self.chunks[0], grid[1], self.chunks[1],
                                  grid[2], self.chunks[2])
        return blocks.max(axis=(1, 3, 5))

    def run(self, op: Op):
        from pyspark.sql import functions as F

        from mdio_cpp_spark.model import MdioDataset

        if op.kind == "filter":
            df = (self.spark.read.format("mdio").option("path", self.root)
                  .option("variable", "amplitude").load()
                  .filter(F.col("value") > op.params["gt"]))
            op.logical_bytes = self.vol.nbytes
        else:
            ds = MdioDataset.open(self.root)
            if op.kind == "isel":
                ds = ds.isel(inline=op.params["inline"])
            df = ds.var("amplitude").to_df(self.spark)
            lo, hi = op.params.get("inline", (0, self.shape[0]))
            op.logical_bytes = self.vol[lo:hi].nbytes
        op.result = _agg(df).collect()[0]

    def check(self, op: Op) -> bool:
        if op.kind == "filter":
            expect = self.vol[self.vol > op.params["gt"]]
        else:
            lo, hi = op.params.get("inline", (0, self.shape[0]))
            expect = self.vol[lo:hi]
        return _stats_equal(op.result, expect)

    def replay(self, op: Op) -> None:
        """The executor side of ``op`` in this process: chunk planning, the
        zone-map pruning of the filter, and every chunk's GET, decode and
        Arrow conversion, through the library's DSv2 reader."""
        from pyspark.sql.datasource import GreaterThan, GreaterThanOrEqual, LessThan

        from mdio_cpp_spark.sources import reader as reader_mod
        from mdio_cpp_spark.sources.datasource import MdioDataSource
        from mdio_cpp_spark.sources.zarr_store import ZarrStore

        meta = ZarrStore.open(self.root).array_meta("amplitude")
        filters = []
        ranges = None
        if op.kind == "isel":
            lo, hi = op.params["inline"]
            ranges = {"inline": (lo, hi)}
            filters = [GreaterThanOrEqual(("inline",), lo), LessThan(("inline",), hi)]
        elif op.kind == "filter":
            filters = [GreaterThan(("value",), op.params["gt"])]
        reader_mod.plan_chunks(meta, ranges)
        source = MdioDataSource({"path": self.root, "variable": "amplitude"})
        rdr = source.reader(source.schema())
        rejected = list(rdr.pushFilters(filters))
        if rejected:
            raise RuntimeError(f"replay filters not consumed: {rejected}")
        for part in rdr.partitions():
            for _batch in rdr.read(part):
                pass

    def teardown(self) -> None:
        pass


# --------------------------------------------------------------- slice_remote


class SliceRemote:
    """Interactive slices of a sharded Zarr v3 store over loopback HTTP."""

    name = "slice_remote"
    uses_spark = False
    # shape, shard shape, inner chunk shape, edit window
    SIZES = {
        "bench": ((32, 32, 128), (16, 16, 64), (8, 8, 16), (4, 4, 32)),
        "tiny": ((8, 8, 16), (4, 4, 8), (2, 2, 4), (2, 2, 2)),
    }
    SLICE_KINDS = ("inline", "crossline", "time", "window")
    ROUND = 20  # ops per round: 19 slices, then one edit

    def __init__(self, seed: int, size: str = "bench"):
        self.seed = seed
        self.shape, self.shards, self.inner, self.edit_shape = self.SIZES[size]
        self.coords = {
            "inline": IL0 + 2 * np.arange(self.shape[0], dtype=np.int32),
            "crossline": XL0 + np.arange(self.shape[1], dtype=np.int32),
            "time": DT_MS * np.arange(self.shape[2], dtype=np.int32),
        }
        self.server = None

    def setup(self, work: str, spark=None) -> None:
        from mdio_cpp_spark.sources.zarr_store import ZarrStore

        from perfbench.httpserver import ServerProcess

        self.teardown()
        self.vol = data.volume(np.random.default_rng(self.seed), self.shape)
        self.mirror = self.vol.copy()
        serve_root = os.path.join(work, "served")
        local = os.path.join(serve_root, "volume.zarr")
        os.makedirs(serve_root)
        store = ZarrStore.create(local, version=3, attrs={"name": "perfbench"})
        store.create_array("amplitude", shape=self.shape, chunks=self.inner,
                           shards=self.shards, dtype="float32", dims=DIMS,
                           compressor=ZSTD)
        for d, dim in enumerate(DIMS):
            store.create_array(dim, shape=(self.shape[d],), chunks=(self.shape[d],),
                               dtype="int32", dims=(dim,), compressor=ZSTD)
            store.write_array_numpy(dim, self.coords[dim])
        store.write_array_numpy("amplitude", self.vol)
        store.consolidate()
        self.stored = tree_bytes(local)
        self.server = ServerProcess(serve_root)
        self.url = f"{self.server.url}/volume.zarr"

    def logical_bytes(self) -> int:
        return self.vol.nbytes

    def ops(self) -> Iterator[Op]:
        rng = np.random.default_rng([self.seed, 2])
        i = 0
        while True:
            pos = i % self.ROUND
            i += 1
            if pos == self.ROUND - 1:
                # inside one shard, so every edit rewrites exactly one shard
                origin = self._place(rng, self.shards, self.edit_shape)
                units = rng.integers(-64 * data.UNIT, 64 * data.UNIT, size=self.edit_shape)
                yield Op("edit", {"origin": origin,
                                  "values": (units / data.UNIT).astype(np.float32)})
                continue
            # every round has the same mix: kinds in turn, by index and by label
            kind = self.SLICE_KINDS[pos % len(self.SLICE_KINDS)]
            by_label = (pos // len(self.SLICE_KINDS)) % 2 == 1
            if kind == "window":
                # inside one inner chunk, so every window costs the same reads
                width = tuple(max(1, n // 8) for n in self.shape)
                origin = self._place(rng, self.inner, width)
                yield Op("window", {"isel": {dim: (lo, lo + w) for dim, lo, w
                                             in zip(DIMS, origin, width)}})
                continue
            d = DIMS.index(kind)
            idx = int(rng.integers(0, self.shape[d]))
            if by_label:
                yield Op(kind, {"sel": {kind: int(self.coords[kind][idx])}, "index": idx})
            else:
                yield Op(kind, {"isel": {kind: (idx, idx + 1)}, "index": idx})

    def _place(self, rng, block: tuple, width: tuple) -> tuple[int, ...]:
        """Seeded origin of a ``width`` box that lies inside one ``block``
        of the grid: a seeded block, then a seeded offset within it."""
        return tuple(b * int(rng.integers(0, n // b)) + int(rng.integers(0, b - w + 1))
                     for n, b, w in zip(self.shape, block, width))

    def box(self, op: Op) -> tuple[slice, ...]:
        if op.kind == "edit":
            return tuple(slice(o, o + w) for o, w in zip(op.params["origin"], self.edit_shape))
        if op.kind == "window":
            return tuple(slice(*op.params["isel"][dim]) for dim in DIMS)
        d = DIMS.index(op.kind)
        out = [slice(None)] * 3
        out[d] = slice(op.params["index"], op.params["index"] + 1)
        return tuple(out)

    def run(self, op: Op):
        from mdio_cpp_spark.model import MdioDataset

        ds = MdioDataset.open(self.url)
        if op.kind == "edit":
            ds.store.write_array_numpy("amplitude", op.params["values"], op.params["origin"])
            op.logical_bytes = op.params["values"].nbytes
            return
        if "sel" in op.params:
            ds = ds.sel(**op.params["sel"])
        else:
            ds = ds.isel(**op.params["isel"])
        op.result = ds.var("amplitude").read()
        op.logical_bytes = op.result.nbytes

    def check(self, op: Op) -> bool:
        box = self.box(op)
        if op.kind == "edit":
            self.mirror[box] = op.params["values"]
            return True
        return bool(np.array_equal(op.result, self.mirror[box]))

    def replay(self, op: Op) -> None:
        """Nothing runs outside this process: the traced pass saw it all."""

    def teardown(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None


# --------------------------------------------------------------------- ingest


class Ingest:
    """SEG-Y rev1 (IBM float) -> blosc-lz4 Zarr v2 through the Spark writer."""

    name = "ingest"
    uses_spark = True
    SIZES = {"bench": ((64, 64, 256), (16, 16, 256)), "tiny": ((8, 8, 32), (4, 4, 32))}
    ROUND = 1

    def __init__(self, seed: int, size: str = "bench"):
        self.seed = seed
        self.shape, self.chunks = self.SIZES[size]

    def setup(self, work: str, spark) -> None:
        self.spark = spark
        self.work = work
        vol = data.volume(np.random.default_rng(self.seed), self.shape)
        self.mirror = vol.astype(np.float64)
        self.segy = os.path.join(work, "input.sgy")
        self.sample_bytes = data.write_segy(self.segy, vol, il0=IL0, xl0=XL0)
        # the expected chunk files: the library's numpy writer, same layout
        self.reference = os.path.join(work, "reference.zarr")
        self._write_cube(self.reference)
        self.read_back = False
        self.stored = None  # known once the first ingest has been checked

    def _write_cube(self, root: str) -> None:
        from mdio_cpp_spark.sources.zarr_store import ZarrStore

        store = ZarrStore.create(root, version=2)
        store.create_array("amplitude", shape=self.shape, chunks=self.chunks,
                           dtype="float64", dims=("inline", "crossline", "sample"),
                           compressor=BLOSC_LZ4)
        store.write_array_numpy("amplitude", self.mirror)

    def logical_bytes(self) -> int:
        return self.sample_bytes

    def ops(self) -> Iterator[Op]:
        i = 0
        while True:
            i += 1
            yield Op("ingest", {"target": os.path.join(self.work, f"ingest-{i}.zarr")})

    def run(self, op: Op):
        from mdio_cpp_spark.sources import segy

        op.result = segy.ingest_to_store(
            self.spark, self.segy, op.params["target"], grid_by=("inline", "crossline"),
            chunks=self.chunks, compressor=BLOSC_LZ4)
        op.logical_bytes = self.sample_bytes

    def check(self, op: Op) -> bool:
        from mdio_cpp_spark.sources.zarr_store import ZarrStore

        target = op.params["target"]
        store = ZarrStore.open(target)
        ok = op.result["cells_written"] == self.mirror.size
        ok = ok and _chunk_files(target) == _chunk_files(self.reference)
        if not self.read_back:
            # decoding once suffices: a later op whose chunk files equal the
            # same reference stored the same cube
            got = store.read_array("amplitude")
            ok = ok and (got.dtype == self.mirror.dtype
                         and got.tobytes() == self.mirror.tobytes()
                         and data.exact_stats(got) == data.exact_stats(self.mirror))
            self.read_back = ok
        ok = ok and np.array_equal(store.read_array("inline_coord"),
                                   IL0 + np.arange(self.shape[0]))
        ok = ok and np.array_equal(store.read_array("crossline_coord"),
                                   XL0 + np.arange(self.shape[1]))
        stored = tree_bytes(target)
        if self.stored is None:
            self.stored = stored
        ok = ok and stored == self.stored  # same input, same bytes
        shutil.rmtree(target, ignore_errors=True)
        return bool(ok)

    def replay(self, op: Op) -> None:
        """Trace parse and chunk encode+write of ``op`` in this process:
        the SEG-Y reader over every trace partition, then one chunk-aligned
        write of the parsed cube into a scratch store of the same layout."""
        from mdio_cpp_spark.sources import segy

        fields = [segy.STANDARD_FIELDS["inline"], segy.STANDARD_FIELDS["crossline"]]
        rdr = segy.SegyReader(self.segy, fields, True, {})
        for part in rdr.partitions():
            for _batch in rdr.read(part):
                pass
        scratch = os.path.join(self.work, "replay.zarr")
        shutil.rmtree(scratch, ignore_errors=True)
        self._write_cube(scratch)
        shutil.rmtree(scratch, ignore_errors=True)

    def teardown(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (ScanLocal, SliceRemote, Ingest)}
