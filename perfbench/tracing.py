"""Spans around the calls into each library layer, recorded from outside.

The benchmark patches the public layer entry points of ``mdio_cpp_spark``
for the duration of a traced pass (``Tracer.installed``) and restores them
afterwards; the library itself is not modified. Spans live in memory and
are written once, when the run ends. Executor-side work happens in Spark's
Python workers, where these patches do not reach, so the traced run replays
each op's chunk set in this process (see the workloads' ``replay``).

Spark's own per-stage and per-operator metrics are read from outside the
program: stages from the live status store (it works with the UI off, but
keeps a bounded number of stages, hence one snapshot per op), and the
Python hand-off from the executed plans of every DataFrame the op collected
(MapInPandas, applyInPandas and Python data source nodes).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

# layer name -> (module path, owner attribute or None, attribute)
_LAYER_CALLS = {
    "kvstore.get": ("mdio_cpp_spark.sources.kvstore", "LocalKVStore", "read"),
    "kvstore.range_get": ("mdio_cpp_spark.sources.kvstore", "LocalKVStore", "read_range"),
    "kvstore.put": ("mdio_cpp_spark.sources.kvstore", "LocalKVStore", "write"),
    "kvstore.http_get": ("mdio_cpp_spark.sources.kvstore", "HttpKVStore", "read"),
    "kvstore.http_range_get": ("mdio_cpp_spark.sources.kvstore", "HttpKVStore", "read_range"),
    "kvstore.http_put": ("mdio_cpp_spark.sources.kvstore", "HttpKVStore", "write"),
    "kvstore.retry": ("mdio_cpp_spark.sources.kvstore", "RetryingKVStore", "_transient"),
    "codecs.decompress_v2": ("mdio_cpp_spark.sources.codecs", None, "decompress_v2"),
    "codecs.decompress_v3": ("mdio_cpp_spark.sources.codecs", None, "decompress_v3"),
    "codecs.compress_v2": ("mdio_cpp_spark.sources.codecs", None, "compress_v2"),
    "codecs.compress_v3": ("mdio_cpp_spark.sources.codecs", None, "compress_v3"),
    "codecs.crc32c": ("mdio_cpp_spark.sources.codecs", None, "crc32c"),
    "zarr_store.open": ("mdio_cpp_spark.sources.zarr_store", "ZarrStore", "open"),
    "zarr_store.decode_raw": ("mdio_cpp_spark.sources.zarr_store", "ZarrStore", "decode_raw"),
    "zarr_store.decode_chunk_box": ("mdio_cpp_spark.sources.zarr_store", "ZarrStore", "decode_chunk_box"),
    "zarr_store.consolidate": ("mdio_cpp_spark.sources.zarr_store", "ZarrStore", "consolidate"),
    "zarr_store.write_chunk": ("mdio_cpp_spark.sources.zarr_store", "ZarrStore", "write_chunk"),
    "zarr_store.write_array_numpy": ("mdio_cpp_spark.sources.zarr_store", "ZarrStore", "write_array_numpy"),
    "model.open": ("mdio_cpp_spark.model", "MdioDataset", "open"),
    "model.isel": ("mdio_cpp_spark.model", "MdioDataset", "isel"),
    "model.sel": ("mdio_cpp_spark.model", "MdioDataset", "sel"),
    "model.read": ("mdio_cpp_spark.model", "MdioVariable", "read"),
    "reader.plan_chunks": ("mdio_cpp_spark.sources.reader", None, "plan_chunks"),
    "datasource.partitions": ("mdio_cpp_spark.sources.datasource", "MdioReader", "partitions"),
    "datasource.read": ("mdio_cpp_spark.sources.datasource", "MdioReader", "read"),
    "zonemap.zone_keep": ("mdio_cpp_spark.sources.zonemap", None, "zone_keep"),
    "segy.parse": ("mdio_cpp_spark.sources.segy", "_SegyReadCore", "read"),
    "writer.write_arrays": ("mdio_cpp_spark.sources.writer", None, "write_arrays"),
}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace: int = 0
    attrs: dict = field(default_factory=dict)


def _codec_name_v2(compressor: dict | None) -> str:
    if not compressor:
        return "raw"
    if compressor.get("id") == "blosc":
        return f"blosc_{compressor.get('cname', 'lz4')}"
    return str(compressor.get("id"))


def _codec_name_v3(chain: list[dict]) -> str:
    names = [c.get("name") for c in chain if c.get("name") not in ("bytes", "transpose")]
    return "_".join(names) or "raw"


class Tracer:
    """In-memory span recorder plus the patch set that feeds it."""

    def __init__(self):
        self.spans: list[Span] = []
        self.trace_id = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._saved: list[tuple[Any, str, Any]] = []

    # --------------------------------------------------------------- spans

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        sp = Span(sid, name, time.perf_counter(),
                  parent=stack[-1].sid if stack else None,
                  trace=self.trace_id, attrs=attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def _paused(self) -> bool:
        return getattr(self._local, "paused", False)

    @contextlib.contextmanager
    def paused(self):
        """Record no spans inside the block: the benchmark's own checks
        call the library too, and are no part of an op."""
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = False

    # ------------------------------------------------------------- patches

    def _wrap(self, name: str, fn: Callable) -> Callable:
        tracer = self
        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen_wrapper(*args, **kwargs):
                if tracer._paused():
                    yield from fn(*args, **kwargs)
                    return
                with tracer.span(name) as sp:
                    n = 0
                    for item in fn(*args, **kwargs):
                        n += getattr(item, "num_rows", 0)
                        yield item
                    sp.attrs["rows"] = n
            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._paused():
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                tracer._before(name, sp, args, kwargs)
                out = fn(*args, **kwargs)
                tracer._after(name, sp, args, kwargs, out)
                return out
        return wrapper

    @staticmethod
    def _before(name: str, sp: Span, args, kwargs) -> None:
        if name.startswith("codecs.") and name != "codecs.crc32c":
            data, conf = args[0], args[1]
            sp.attrs["in_bytes"] = len(data)
            sp.attrs["codec"] = (_codec_name_v2(conf) if name.endswith("_v2")
                                 else _codec_name_v3(conf))
        elif name in ("zarr_store.decode_raw", "zarr_store.decode_chunk_box"):
            meta = args[1]
            sp.attrs["sharded"] = meta.shard is not None
            sp.attrs["itemsize"] = meta.np_dtype.itemsize
            if name == "zarr_store.decode_raw":
                sp.attrs["present"] = args[2] is not None
        elif name.endswith("put"):
            sp.attrs["bytes"] = len(args[2])

    @staticmethod
    def _after(name: str, sp: Span, args, kwargs, out) -> None:
        if name.startswith("codecs.") and name != "codecs.crc32c":
            sp.attrs["out_bytes"] = len(out)
        elif name.endswith("get"):
            sp.attrs["bytes"] = len(out) if out is not None else 0
        elif name == "zarr_store.decode_chunk_box":
            sp.attrs["present"] = out is not None
        elif name == "model.read":
            sp.attrs["cells"] = int(out.size)
        elif name == "reader.plan_chunks":
            sp.attrs["planned"] = int(out[1])
            sp.attrs["total"] = int(args[0].nchunks())
        elif name == "datasource.partitions":
            sp.attrs["partitions"] = len(out)
        elif name == "zonemap.zone_keep":
            sp.attrs["kept"] = bool(out)
        elif name == "writer.write_arrays":
            sp.attrs["chunks"] = int(out["chunks_written"])
            sp.attrs["cells"] = int(out["cells_written"])

    @contextlib.contextmanager
    def installed(self):
        import importlib

        for name, (mod_path, owner_name, attr) in _LAYER_CALLS.items():
            mod = importlib.import_module(mod_path)
            owner = getattr(mod, owner_name) if owner_name else mod
            raw = owner.__dict__[attr] if owner_name else getattr(mod, attr)
            self._saved.append((owner, attr, raw))
            if isinstance(raw, classmethod):
                setattr(owner, attr, classmethod(self._wrap(name, raw.__func__)))
            elif isinstance(raw, staticmethod):
                setattr(owner, attr, staticmethod(self._wrap(name, raw.__func__)))
            else:
                setattr(owner, attr, self._wrap(name, raw))
        try:
            yield self
        finally:
            while self._saved:
                owner, attr, raw = self._saved.pop()
                setattr(owner, attr, raw)

    # ------------------------------------------------------------- reports

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(sp.sid, []), key=lambda s: s.start):
                lo, hi = max(c.start, sp.start), min(c.end, sp.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[sp.sid] = (sp.end - sp.start) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "name": sp.name, "start": sp.start, "end": sp.end,
                    "id": sp.sid, "parent": sp.parent, "trace": sp.trace,
                    "attrs": sp.attrs,
                }) + "\n")


# ------------------------------------------------------------- layer ledger

MIB = float(1 << 20)
CODECS = ("blosc_lz4", "zstd")

LAYER_COUNTS = (
    "kvstore.gets", "kvstore.range_gets", "kvstore.puts", "kvstore.bytes_read",
    "kvstore.bytes_written", "kvstore.retries",
    "zarr_store.chunks_decoded", "zarr_store.inner_chunks_decoded",
    "zarr_store.fill_chunks", "model.cells_returned",
    "reader.chunks_planned", "reader.chunks_range_pruned", "datasource.partitions",
    "zonemap.chunks_pruned", "segy.traces", "writer.chunks_written",
    "writer.cells_written", "writer.rmw_chunks",
)


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Fold the recorded spans into the per-layer ledger (counts and busy
    seconds per module; self time where a layer calls into another)."""
    selft = tracer.self_times()
    by_id = {sp.sid: sp for sp in tracer.spans}
    m: dict[str, float] = {k: 0 for k in LAYER_COUNTS}
    for k in ("kvstore.read_s", "kvstore.write_s", "codecs.crc32c_s",
              "zarr_store.open_s", "zarr_store.decode_self_s",
              "zarr_store.consolidate_s", "model.open_s", "model.isel_s",
              "model.sel_s", "model.read_s", "reader.plan_s",
              "reader.arrow_self_s", "segy.parse_s", "writer.write_s"):
        m[k] = 0.0
    codec = {c: {"dec_s": 0.0, "dec_out": 0, "dec_in": 0,
                 "enc_s": 0.0, "enc_in": 0, "enc_out": 0} for c in CODECS}
    decoded_cells = 0.0
    zone_checks = 0
    child_names: dict[int, set] = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            child_names.setdefault(sp.parent, set()).add(sp.name)

    def under(sp: Span, name: str) -> bool:
        p = sp.parent
        while p is not None:
            anc = by_id.get(p)
            if anc is None:
                return False
            if anc.name == name:
                return True
            p = anc.parent
        return False

    def decode_ancestor(sp: Span) -> Span | None:
        p = sp.parent
        while p is not None:
            anc = by_id.get(p)
            if anc is None:
                return None
            if anc.name.startswith("zarr_store.decode"):
                return anc
            p = anc.parent
        return None

    for sp in tracer.spans:
        dur = sp.end - sp.start
        n, a = sp.name, sp.attrs
        if n in ("kvstore.get", "kvstore.http_get"):
            m["kvstore.gets"] += 1
            m["kvstore.bytes_read"] += a.get("bytes", 0)
            m["kvstore.read_s"] += dur
        elif n in ("kvstore.range_get", "kvstore.http_range_get"):
            m["kvstore.range_gets"] += 1
            m["kvstore.bytes_read"] += a.get("bytes", 0)
            m["kvstore.read_s"] += dur
        elif n in ("kvstore.put", "kvstore.http_put"):
            m["kvstore.puts"] += 1
            m["kvstore.bytes_written"] += a.get("bytes", 0)
            m["kvstore.write_s"] += dur
        elif n == "kvstore.retry":
            m["kvstore.retries"] += 1
        elif n.startswith("codecs.decompress"):
            c = a.get("codec")
            if c in codec:
                codec[c]["dec_s"] += dur
                codec[c]["dec_in"] += a["in_bytes"]
                codec[c]["dec_out"] += a["out_bytes"]
                anc = decode_ancestor(sp)
                if anc is not None:
                    decoded_cells += a["out_bytes"] / anc.attrs["itemsize"]
                    if anc.attrs["sharded"]:
                        m["zarr_store.inner_chunks_decoded"] += 1
        elif n.startswith("codecs.compress"):
            c = a.get("codec")
            if c in codec:
                codec[c]["enc_s"] += dur
                codec[c]["enc_in"] += a["in_bytes"]
                codec[c]["enc_out"] += a["out_bytes"]
        elif n == "codecs.crc32c":
            m["codecs.crc32c_s"] += dur
        elif n == "zarr_store.open":
            m["zarr_store.open_s"] += dur
        elif n == "zarr_store.decode_raw":
            m["zarr_store.decode_self_s"] += selft[sp.sid]
            if a.get("present"):
                m["zarr_store.chunks_decoded"] += 1
                if under(sp, "zarr_store.write_array_numpy"):
                    m["writer.rmw_chunks"] += 1
            else:
                m["zarr_store.fill_chunks"] += 1
        elif n == "zarr_store.decode_chunk_box":
            m["zarr_store.decode_self_s"] += selft[sp.sid]
            if "zarr_store.decode_raw" not in child_names.get(sp.sid, ()):
                if a.get("present"):
                    m["zarr_store.chunks_decoded"] += 1
                else:
                    m["zarr_store.fill_chunks"] += 1
        elif n == "zarr_store.consolidate":
            m["zarr_store.consolidate_s"] += dur
        elif n == "model.open":
            m["model.open_s"] += dur
        elif n == "model.isel":
            m["model.isel_s"] += dur
        elif n == "model.sel":
            m["model.sel_s"] += dur
        elif n == "model.read":
            m["model.read_s"] += dur
            m["model.cells_returned"] += a.get("cells", 0)
        elif n == "reader.plan_chunks":
            m["reader.plan_s"] += dur
            m["reader.chunks_planned"] += a["planned"]
            m["reader.chunks_range_pruned"] += a["total"] - a["planned"]
        elif n == "datasource.partitions":
            m["datasource.partitions"] += a["partitions"]
        elif n == "datasource.read":
            m["reader.arrow_self_s"] += selft[sp.sid]
            m["model.cells_returned"] += a.get("rows", 0)
        elif n == "zonemap.zone_keep":
            if not under(sp, "datasource.read"):
                zone_checks += 1
                m["zonemap.chunks_pruned"] += 0 if a["kept"] else 1
        elif n == "segy.parse":
            m["segy.parse_s"] += dur
            m["segy.traces"] += a.get("rows", 0)
        elif n == "writer.write_arrays":
            m["writer.write_s"] += dur
            m["writer.chunks_written"] += a.get("chunks", 0)
            m["writer.cells_written"] += a.get("cells", 0)
        elif n == "zarr_store.write_chunk":
            if not under(sp, "writer.write_arrays"):
                m["writer.chunks_written"] += 1
    m["zonemap.prune_ratio"] = (m["zonemap.chunks_pruned"] / zone_checks
                                if zone_checks else 0.0)
    for c, v in codec.items():
        m[f"codecs.decode_s.{c}"] = v["dec_s"]
        m[f"codecs.decode_mib_per_s.{c}"] = v["dec_out"] / MIB / v["dec_s"] if v["dec_s"] else 0.0
        m[f"codecs.encode_s.{c}"] = v["enc_s"]
        m[f"codecs.encode_mib_per_s.{c}"] = v["enc_in"] / MIB / v["enc_s"] if v["enc_s"] else 0.0
        raw = v["dec_out"] + v["enc_in"]
        comp = v["dec_in"] + v["enc_out"]
        m[f"codecs.ratio.{c}"] = raw / comp if comp else 0.0
    m["model.read_amplification"] = (decoded_cells / m["model.cells_returned"]
                                     if m["model.cells_returned"] else 0.0)
    return m


# ------------------------------------------------------------ Spark ledger

SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.fetch_wait_s",
)
# every count of the traced round; each repeats exactly for a seed
COUNT_METRICS = LAYER_COUNTS + ("spark.jobs", "spark.stages", "spark.tasks")
HANDOFF_METRICS = (
    "handoff.python_s", "handoff.bytes_to_python", "handoff.bytes_from_python",
    "handoff.rows_from_python", "handoff.worker_init_s",
)
_PY_PLAN_METRICS = {
    "pythonTotalTime": ("handoff.python_s", 1e-3),
    "pythonDataSent": ("handoff.bytes_to_python", 1),
    "pythonDataReceived": ("handoff.bytes_from_python", 1),
    "pythonNumRowsReceived": ("handoff.rows_from_python", 1),
    "pythonInitTime": ("handoff.worker_init_s", 1e-3),
}


class SparkLedger:
    """Per-op snapshots of the status store's stages and jobs and of the
    Python-node metrics of every action the op ran, summed over the traced
    ops."""

    def __init__(self, spark):
        self.spark = spark
        self.totals = {k: 0.0 for k in SPARK_METRICS + HANDOFF_METRICS}
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._collected: list = []
        # stages and jobs of the set-up and the untraced rounds do not count
        self._drain()
        self._seen_stages: set[tuple[int, int]] = {k for k, _ in self._stages()}
        self._seen_jobs: set[int] = set(self._jobs())

    def _drain(self) -> None:
        """The status store is fed asynchronously by the listener bus; wait
        until every event posted so far has reached it."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _stages(self):
        gw = self.spark.sparkContext._gateway
        jvm = self.spark._jvm
        lst = self._store.stageList(None, False, False, gw.new_array(jvm.double, 0),
                                    jvm.java.util.ArrayList())
        for i in range(lst.size()):
            s = lst.apply(i)
            yield (s.stageId(), s.attemptId()), s

    def _jobs(self):
        lst = self._store.jobsList(None)
        return [lst.apply(i).jobId() for i in range(lst.size())]

    @contextlib.contextmanager
    def recording(self):
        """Note every DataFrame collected inside the block. A collect runs
        on the DataFrame's own QueryExecution, so its executed plan holds
        the action's operator metrics afterwards."""
        from pyspark.sql.classic.dataframe import DataFrame

        raw = DataFrame.__dict__["collect"]
        collected = self._collected

        @functools.wraps(raw)
        def collect(df):
            collected.append(df)
            return raw(df)

        DataFrame.collect = collect
        try:
            yield self
        finally:
            DataFrame.collect = raw

    def snapshot(self) -> None:
        """Fold in every stage and job completed since the last snapshot
        and the Python-node metrics of every DataFrame collected since."""
        self._drain()
        t = self.totals
        for key, s in self._stages():
            if key in self._seen_stages or s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            self._seen_stages.add(key)
            t["spark.stages"] += 1
            t["spark.tasks"] += s.numTasks()
            t["spark.executor_run_s"] += s.executorRunTime() / 1e3
            t["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            t["spark.gc_s"] += s.jvmGcTime() / 1e3
            t["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            t["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            t["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            t["spark.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
        for j in self._jobs():
            if j not in self._seen_jobs:
                self._seen_jobs.add(j)
                t["spark.jobs"] += 1
        # a plan's metrics add up over every run of it: walk each plan once
        plans = {id(df): df for df in self._collected}
        self._collected.clear()
        for df in plans.values():
            for name, value in self._python_node_metrics(df._jdf.queryExecution().executedPlan()):
                key, scale = _PY_PLAN_METRICS[name]
                t[key] += value * scale

    def _python_node_metrics(self, plan):
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        todo = [plan]
        while todo:
            p = todo.pop()
            cls = p.getClass().getName()
            if cls.endswith("AdaptiveSparkPlanExec"):
                todo.append(p.executedPlan())
                continue
            if "QueryStageExec" in cls:
                todo.append(p.plan())
                continue
            metrics = conv.asJava(p.metrics())
            for k in metrics.keySet():
                if k in _PY_PLAN_METRICS:
                    yield k, metrics.get(k).value()
            ch = p.children()
            todo.extend(ch.apply(i) for i in range(ch.size()))


def unit_of(metric: str) -> str:
    if ".decode_mib_per_s." in metric or ".encode_mib_per_s." in metric:
        return "MiB/s"
    if metric.endswith("_s") or "_s." in metric:
        return "s"
    if "bytes" in metric:
        return "B"
    if any(w in metric for w in ("ratio", "amplification", "utilization", "per_slice")):
        return "ratio"
    return "count"
