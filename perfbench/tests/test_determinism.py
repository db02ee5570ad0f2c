"""Determinism self-test of the benchmark.

Each workload runs twice at the tiny size with the same seed. Every count
in the per-layer ledger must repeat exactly, the stored-bytes ratio must
repeat exactly, and the counts with a closed form must equal it.

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark session; the whole file takes a few minutes.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import data, tracing  # noqa: E402
from perfbench.workloads import Ingest, ScanLocal, SliceRemote  # noqa: E402

SEED = 7


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "0.1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stderr[-4000:]
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.fixture(scope="module", params=["scan_local", "slice_remote", "ingest"])
def runs(request):
    name = request.param
    return name, [_run(name, 1) for _ in range(2)], [_run(name, 0) for _ in range(2)]


def _traced_round(cls):
    w = cls(SEED, "tiny")
    w.vol = data.volume(np.random.default_rng(SEED), w.shape)  # what setup leaves for ops()
    return w, list(itertools.islice(w.ops(), w.ROUND))


def _expected_scan(w: ScanLocal, ops) -> dict:
    vol = w.vol
    grid = [n // c for n, c in zip(w.shape, w.chunks)]
    total = int(np.prod(grid))
    isel = next(op for op in ops if op.kind == "isel")
    lo, hi = isel.params["inline"]
    k = ((hi - 1) // w.chunks[0] - lo // w.chunks[0] + 1) * grid[1] * grid[2]
    gt = next(op for op in ops if op.kind == "filter").params["gt"]
    blocks = vol.reshape(grid[0], w.chunks[0], grid[1], w.chunks[1], grid[2], w.chunks[2])
    survivors = int((blocks.max(axis=(1, 3, 5)) > gt).sum())
    # traced pass plans stats + isel on the driver; the replay plans all three
    return {
        "reader.chunks_planned": 2 * (total + k) + total,
        "reader.chunks_range_pruned": 2 * (total - k),
        "zarr_store.chunks_decoded": total + k + survivors,
        "zarr_store.fill_chunks": 0,
        "zonemap.chunks_pruned": total - survivors,
        "kvstore.range_gets": 0,
        "writer.chunks_written": 0,
    }


def _expected_slice(w: SliceRemote, ops) -> dict:
    """Per touched shard: a full-shard read is one GET; a partial read is one
    index range-GET plus one range-GET per touched inner chunk."""
    per = [s // i for s, i in zip(w.shards, w.inner)]
    n_inner = int(np.prod(per))
    range_gets = inner = shard_gets = puts = 0
    for op in ops:
        box = w.box(op)
        spans = [(sl.start or 0, sl.stop if sl.stop is not None else n)
                 for sl, n in zip(box, w.shape)]
        shards = itertools.product(*[range(lo // s, (hi - 1) // s + 1)
                                     for (lo, hi), s in zip(spans, w.shards)])
        for sc in shards:
            if op.kind == "edit":
                shard_gets += 1
                inner += n_inner
                puts += 1
                continue
            touched = 1
            for (lo, hi), s, i, c in zip(spans, w.shards, w.inner, sc):
                a, b = max(lo, c * s) - c * s, min(hi, (c + 1) * s) - c * s
                touched *= (b - 1) // i - a // i + 1
            if touched == n_inner:
                shard_gets += 1
                inner += n_inner
            else:
                range_gets += 1 + touched
                inner += touched
    return {
        "kvstore.range_gets": range_gets,
        "zarr_store.inner_chunks_decoded": inner,
        "kvstore.puts": puts,
        "writer.rmw_chunks": puts,
        "writer.chunks_written": puts,
    }


def _expected_ingest(w: Ingest) -> dict:
    n_chunks = int(np.prod([n // c for n, c in zip(w.shape, w.chunks)]))
    traces = w.shape[0] * w.shape[1]
    return {
        "segy.traces": traces,
        "writer.cells_written": int(np.prod(w.shape)),
        # Spark write + the two coordinate arrays + the in-process replay
        "writer.chunks_written": n_chunks + 2 + n_chunks,
        "writer.rmw_chunks": 0,
        # ingest_to_store reads the file headers four times on the driver;
        # the replay reads the binary header once, then one range per
        # partition of 2048 traces
        "kvstore.range_gets": 4 + 1 + -(-traces // 2048),
    }


def test_counts_repeat_exactly(runs):
    _name, (a, b), (c, d) = runs
    for key in tracing.COUNT_METRICS:
        assert a[key] == b[key], key
    assert c["bytes_stored_per_byte"] == d["bytes_stored_per_byte"]


def test_counts_match_closed_form(runs):
    name, (a, _b), _ = runs
    if name == "scan_local":
        w, ops = _traced_round(ScanLocal)
        expect = _expected_scan(w, ops)
    elif name == "slice_remote":
        w, ops = _traced_round(SliceRemote)
        expect = _expected_slice(w, ops)
    else:
        expect = _expected_ingest(Ingest(SEED, "tiny"))
    assert {k: a[k] for k in expect} == expect
