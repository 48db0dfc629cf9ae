"""Driver-side probe of the ``core`` layer on each workload's own data.

It times the pure-Python sketch calls on a fixed sample of the blobs the
workload itself produced and on a fixed slice of its value column, so the
``core.*`` numbers reflect the workload's real sketch sizes.  Every figure is
the mean over repeated calls that together take at least ``MIN_PROBE_S``.
"""

from __future__ import annotations

import hashlib
import time

import numpy as np

from sketches_go_spark.core.ddsketch import DDSketchConfig
from sketches_go_spark.core.encoding import decode_sketch, encode_sketch
from sketches_go_spark.core.kll import KLLSketch

SAMPLE_BLOBS = 64
VALUE_SLICE = 65536
MIN_PROBE_S = 0.05
QS = [0.5, 0.95, 0.99]


def _per_call_s(fn, items: list) -> float:
    calls, elapsed = 0, 0.0
    while elapsed < MIN_PROBE_S:
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        elapsed += time.perf_counter() - t0
        calls += len(items)
    return elapsed / calls


def _pairs(objs: list, copy) -> list[tuple]:
    """Fresh (left copy, right) pairs so merging never mutates the sample."""
    n = len(objs)
    return [(copy(objs[i]), objs[(i + 1) % n]) for i in range(n)]


def _merge_us(objs: list, copy) -> float:
    calls, elapsed = 0, 0.0
    while elapsed < MIN_PROBE_S:
        pairs = _pairs(objs, copy)
        t0 = time.perf_counter()
        for a, b in pairs:
            a.merge(b)
        elapsed += time.perf_counter() - t0
        calls += len(pairs)
    return 1e6 * elapsed / calls


def sample(blobs: list[bytes]) -> list[bytes]:
    """A fixed, order-independent sample: the SAMPLE_BLOBS blobs with the
    smallest content hash."""
    keyed = sorted(blobs, key=lambda b: hashlib.blake2b(b, digest_size=8).digest())
    return keyed[:SAMPLE_BLOBS]


def core_metrics(dd_blobs: list[bytes], kll_blobs: list[bytes], values: np.ndarray) -> dict[str, float]:
    """``core.*`` metrics; a sketch kind the workload does not produce
    reads 0."""
    out = {
        "core.encoding.encode_us": 0.0,
        "core.encoding.decode_us": 0.0,
        "core.encoding.bins_per_sketch": 0.0,
        "core.encoding.bytes_per_sketch": 0.0,
        "core.ddsketch.merge_us": 0.0,
        "core.ddsketch.quantiles_us": 0.0,
        "core.mapping.index_ns_per_value": 0.0,
        "core.kll.merge_us": 0.0,
    }
    if dd_blobs:
        blobs = sample(dd_blobs)
        sketches = [decode_sketch(b) for b in blobs]
        out["core.encoding.decode_us"] = 1e6 * _per_call_s(decode_sketch, blobs)
        out["core.encoding.encode_us"] = 1e6 * _per_call_s(encode_sketch, sketches)
        out["core.encoding.bins_per_sketch"] = float(
            np.mean([s.pos_idx.size + s.neg_idx.size for s in sketches])
        )
        out["core.encoding.bytes_per_sketch"] = float(np.mean([len(b) for b in blobs]))
        out["core.ddsketch.merge_us"] = _merge_us(sketches, lambda s: s.copy())
        out["core.ddsketch.quantiles_us"] = 1e6 * _per_call_s(lambda s: s.quantiles(QS), sketches)
        mapping = DDSketchConfig().mapping()
        v = np.asarray(values[:VALUE_SLICE], dtype=np.float64)
        out["core.mapping.index_ns_per_value"] = 1e9 * _per_call_s(mapping.index, [v]) / v.size
    if kll_blobs:
        klls = [KLLSketch.from_bytes(b) for b in sample(kll_blobs)]
        out["core.kll.merge_us"] = _merge_us(klls, lambda k: KLLSketch.from_bytes(k.to_bytes()))
    return out
