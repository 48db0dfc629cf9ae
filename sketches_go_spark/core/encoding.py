"""Compact binary codec for DDSketch — flag-prefixed blocks with
uvarint / zigzag-varint / varfloat payloads.

Wire-format parity with the reference encoding (format re-implemented from its
documented grammar, no code copied):

- flag grammar (2-bit type + 6-bit subflag) and block layout:
  /root/reference/ddsketch/encoding/flag.go:32-128
- uvarint64 (LEB128, <=9 bytes, last byte carries 8 bits), zigzag varint64,
  float64LE, varfloat64 (rotate-by-6 MSB-first):
  /root/reference/ddsketch/encoding/encoding.go:36-208
- store encoding picks the cheaper of dense (contiguous counts) and sparse
  (index-deltas + counts): /root/reference/ddsketch/store/dense_store.go:278-311
- sketch framing and decode-is-merge loop: /root/reference/ddsketch/ddsketch.go:366-475
- exact-summary-statistics blocks: ddsketch.go:705-791

The codec is used for checkpoint files and compact shuffle of partial
sketches; it is byte-compatible with sketches-go's non-protobuf format.

Two APIs share the format.  ``encode_sketch`` / ``decode_sketch`` handle one
:class:`DDSketch` and serve streaming state, proto conversion and the
extraction UDFs; they are also the reference the batch kernels are tested
against.  ``encode_sketches`` / ``decode_sketches`` handle a whole column of
sketches as :class:`SketchColumns` (CSR bin arrays plus per-row stats) with
numpy, byte for byte the same, and ``merge_sketch_runs`` merges runs of
rows as a grouped sum; the Spark build, merge and checkpoint loops
(functions.ddsketch_fns) run on these.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from sketches_go_spark.core.ddsketch import (
    COLLAPSE_LOWEST,
    COLLAPSE_NONE,
    DDSketch,
    DDSketchConfig,
    _kahan_add,
)
from sketches_go_spark.core.mapping import (
    _REL_TOL,
    CUBIC,
    LINEAR,
    LOGARITHMIC,
    _BaseMapping,
    mapping_from_params,
)

_MASK64 = (1 << 64) - 1
_MAX_VARLEN = 9
_VARFLOAT_ROTATE = 6
_ONE_BITS = struct.unpack("<Q", struct.pack("<d", 1.0))[0]

# ---------------------------------------------------------------------- flags
# flag byte = type (2 LSBs) | subflag (6 MSBs, stored shifted left by 2)
FLAG_TYPE_SKETCH_FEATURES = 0b00
FLAG_TYPE_POSITIVE_STORE = 0b01
FLAG_TYPE_INDEX_MAPPING = 0b10
FLAG_TYPE_NEGATIVE_STORE = 0b11


def _flag(ftype: int, subflag: int) -> int:
    return ftype | (subflag << 2)


FLAG_ZERO_COUNT = _flag(FLAG_TYPE_SKETCH_FEATURES, 1)
FLAG_COUNT = _flag(FLAG_TYPE_SKETCH_FEATURES, 0x28)
FLAG_SUM = _flag(FLAG_TYPE_SKETCH_FEATURES, 0x21)
FLAG_MIN = _flag(FLAG_TYPE_SKETCH_FEATURES, 0x22)
FLAG_MAX = _flag(FLAG_TYPE_SKETCH_FEATURES, 0x23)

_MAPPING_SUBFLAGS = {LOGARITHMIC: 0, LINEAR: 1, CUBIC: 3}
_MAPPING_BY_SUBFLAG = {v: k for k, v in _MAPPING_SUBFLAGS.items()}

BIN_ENCODING_INDEX_DELTAS_AND_COUNTS = 1
BIN_ENCODING_INDEX_DELTAS = 2
BIN_ENCODING_CONTIGUOUS_COUNTS = 3


class DecodingError(ValueError):
    pass


# ------------------------------------------------------------------ varint IO
def encode_uvarint64(out: bytearray, v: int) -> None:
    v &= _MASK64
    for _ in range(_MAX_VARLEN - 1):
        if v < 0x80:
            break
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    else:
        out.append(v & 0xFF)
        return
    out.append(v)


def decode_uvarint64(b: memoryview, pos: int) -> tuple[int, int]:
    x = 0
    s = 0
    i = 0
    while True:
        if pos + i >= len(b):
            raise DecodingError("EOF in uvarint")
        n = b[pos + i]
        if n < 0x80 or i == _MAX_VARLEN - 1:
            return (x | (n << s)) & _MASK64, pos + i + 1
        x |= (n & 0x7F) << s
        s += 7
        i += 1


def encode_varint64(out: bytearray, v: int) -> None:
    # zigzag: (v >> 63) ^ (v << 1), arithmetic shift on the signed value
    encode_uvarint64(out, ((v >> 63) ^ (v << 1)) & _MASK64)


def decode_varint64(b: memoryview, pos: int) -> tuple[int, int]:
    u, pos = decode_uvarint64(b, pos)
    return (u >> 1) ^ -(u & 1), pos


def encode_float64le(out: bytearray, v: float) -> None:
    out += struct.pack("<d", v)


def decode_float64le(b: memoryview, pos: int) -> tuple[float, int]:
    if pos + 8 > len(b):
        raise DecodingError("EOF in float64")
    return struct.unpack_from("<d", b, pos)[0], pos + 8


def _rotl64(x: int, k: int) -> int:
    k %= 64
    return ((x << k) | (x >> (64 - k))) & _MASK64


def _float_bits(v: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", v))[0]


def _bits_float(x: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", x & _MASK64))[0]


def encode_varfloat64(out: bytearray, v: float) -> None:
    """Space-efficient for small non-negative integer-valued floats
    (encoding.go:137-163): shift by +1 as float, subtract bits(1.0), rotate
    left 6, then emit 7 bits at a time starting from the MSB."""
    x = _rotl64((_float_bits(v + 1) - _ONE_BITS) & _MASK64, _VARFLOAT_ROTATE)
    for _ in range(_MAX_VARLEN - 1):
        n = (x >> (64 - 7)) & 0x7F
        x = (x << 7) & _MASK64
        if x == 0:
            out.append(n)
            return
        out.append(n | 0x80)
    out.append((x >> (64 - 8)) & 0xFF)


def decode_varfloat64(b: memoryview, pos: int) -> tuple[float, int]:
    x = 0
    i = 0
    s = 64 - 7
    while True:
        if pos + i >= len(b):
            raise DecodingError("EOF in varfloat")
        n = b[pos + i]
        if i == _MAX_VARLEN - 1:
            x |= n
            break
        if n < 0x80:
            x |= n << s
            break
        x |= (n & 0x7F) << s
        i += 1
        s -= 7
    v = _bits_float((_rotl64(x & _MASK64, 64 - _VARFLOAT_ROTATE) + _ONE_BITS) & _MASK64) - 1
    return v, pos + i + 1


def uvarint64_size(v: int) -> int:
    v &= _MASK64
    n = 1
    while v >= 0x80 and n < _MAX_VARLEN:
        v >>= 7
        n += 1
    return n


def varint64_size(v: int) -> int:
    return uvarint64_size(((v >> 63) ^ (v << 1)) & _MASK64)


def varfloat64_size(v: float) -> int:
    scratch = bytearray()
    encode_varfloat64(scratch, v)
    return len(scratch)


# -------------------------------------------------------------- store framing
def _encode_store(out: bytearray, ftype: int, idx: np.ndarray, cnt: np.ndarray) -> None:
    """Pick the cheapest of the three bin encodings (flag.go:88-127): sparse
    deltas+counts, dense contiguous counts (dense_store.go:278-311 size
    heuristic), or pure index-deltas — one varint per unit occurrence, the
    winner for the common all-counts-1 sketch."""
    if idx.size == 0:
        return
    lo, hi = int(idx[0]), int(idx[-1])
    span = hi - lo + 1

    # the first delta is priced from ``lo`` (a 1-byte zero) but emitted from
    # 0 below, so the sparse frame is under-priced by the first index's
    # varint length; blobs already stored depend on this choice, so it stays
    sparse_size = uvarint64_size(idx.size)
    prev = lo
    for j in range(idx.size):
        sparse_size += varint64_size(int(idx[j]) - prev) + varfloat64_size(float(cnt[j]))
        prev = int(idx[j])

    # a dense frame spends >=1 byte per bucket in the span; don't even price
    # it when the span dwarfs the bin count
    dense_size = None
    dense = None
    if span <= 4 * idx.size + 64:
        dense = np.zeros(span, dtype=np.float64)
        dense[idx - lo] = cnt
        dense_size = (
            uvarint64_size(span) + varint64_size(lo) + varint64_size(1)
            + sum(varfloat64_size(float(c)) for c in dense)
        )

    # index-deltas: only valid for exactly-integral counts; each repeat of a
    # bucket beyond the first costs 1 byte (a zero delta), so only price it
    # when the total count stays close to the bin count
    deltas_size = None
    total = float(cnt.sum())
    if (
        total <= 2 * idx.size + 64
        and np.all(cnt == np.rint(cnt))
        and np.all(cnt >= 1)
    ):
        deltas_size = uvarint64_size(int(total))
        prev = 0
        for j in range(idx.size):
            deltas_size += varint64_size(int(idx[j]) - prev) + (int(cnt[j]) - 1)
            prev = int(idx[j])

    use_dense = dense_size is not None and dense_size <= sparse_size
    best = min(dense_size if use_dense else sparse_size, sparse_size)
    if deltas_size is not None and deltas_size < best:
        out.append(_flag(ftype, BIN_ENCODING_INDEX_DELTAS))
        encode_uvarint64(out, int(total))
        prev = 0
        for j in range(idx.size):
            encode_varint64(out, int(idx[j]) - prev)
            for _ in range(int(cnt[j]) - 1):
                encode_varint64(out, 0)
            prev = int(idx[j])
    elif use_dense:
        out.append(_flag(ftype, BIN_ENCODING_CONTIGUOUS_COUNTS))
        encode_uvarint64(out, span)
        encode_varint64(out, lo)
        encode_varint64(out, 1)
        for c in dense:
            encode_varfloat64(out, float(c))
    else:
        out.append(_flag(ftype, BIN_ENCODING_INDEX_DELTAS_AND_COUNTS))
        encode_uvarint64(out, idx.size)
        prev = 0
        for j in range(idx.size):
            encode_varint64(out, int(idx[j]) - prev)
            encode_varfloat64(out, float(cnt[j]))
            prev = int(idx[j])


def _decode_store_into(
    bins: dict[int, float], b: memoryview, pos: int, sub: int
) -> int:
    """Decode one store block, merging into ``bins``
    (store.go:90-153 three bin-encoding modes)."""
    if sub == BIN_ENCODING_INDEX_DELTAS_AND_COUNTS:
        n, pos = decode_uvarint64(b, pos)
        index = 0
        for _ in range(n):
            d, pos = decode_varint64(b, pos)
            c, pos = decode_varfloat64(b, pos)
            index += d
            bins[index] = bins.get(index, 0.0) + c
    elif sub == BIN_ENCODING_INDEX_DELTAS:
        n, pos = decode_uvarint64(b, pos)
        index = 0
        for _ in range(n):
            d, pos = decode_varint64(b, pos)
            index += d
            bins[index] = bins.get(index, 0.0) + 1.0
    elif sub == BIN_ENCODING_CONTIGUOUS_COUNTS:
        n, pos = decode_uvarint64(b, pos)
        index, pos = decode_varint64(b, pos)
        delta, pos = decode_varint64(b, pos)
        for _ in range(n):
            c, pos = decode_varfloat64(b, pos)
            if c != 0:
                bins[index] = bins.get(index, 0.0) + c
            index += delta
    else:
        raise DecodingError(f"unknown bin encoding {sub}")
    return pos


# ------------------------------------------------------------- sketch framing
def encode_sketch(
    s: DDSketch, omit_index_mapping: bool = False, include_exact_stats: bool = True
) -> bytes:
    """Serialize a sketch (framing per ddsketch.go:370-382 + exact-stats
    blocks per ddsketch.go:705-760)."""
    out = bytearray()
    if s.zero_count != 0:
        out.append(FLAG_ZERO_COUNT)
        encode_varfloat64(out, s.zero_count)
    if not omit_index_mapping:
        out.append(_flag(FLAG_TYPE_INDEX_MAPPING, _MAPPING_SUBFLAGS[s.mapping.interpolation]))
        encode_float64le(out, s.mapping.gamma)
        encode_float64le(out, s.mapping.index_offset)
    if include_exact_stats:
        out.append(FLAG_COUNT)
        encode_varfloat64(out, s.exact_count)
        out.append(FLAG_SUM)
        encode_float64le(out, s.sum)
        out.append(FLAG_MIN)
        encode_float64le(out, s.exact_min)
        out.append(FLAG_MAX)
        encode_float64le(out, s.exact_max)
    _encode_store(out, FLAG_TYPE_POSITIVE_STORE, s.pos_idx, s.pos_cnt)
    _encode_store(out, FLAG_TYPE_NEGATIVE_STORE, s.neg_idx, s.neg_cnt)
    return bytes(out)


def decode_sketch(
    data: bytes,
    mapping: _BaseMapping | None = None,
    config: DDSketchConfig | None = None,
) -> DDSketch:
    """Decode a sketch blob. ``decode_and_merge`` semantics are obtained by
    merging the returned sketch (the flag loop itself is additive, matching
    ddsketch.go:415-475)."""
    pos_bins: dict[int, float] = {}
    neg_bins: dict[int, float] = {}
    zero_count = 0.0
    xcount = None
    xsum = None
    xmin = None
    xmax = None
    decoded_mapping = mapping

    b = memoryview(data)
    pos = 0
    while pos < len(b):
        flag = b[pos]
        pos += 1
        ftype = flag & 0b11
        sub = flag >> 2
        if ftype == FLAG_TYPE_POSITIVE_STORE:
            pos = _decode_store_into(pos_bins, b, pos, sub)
        elif ftype == FLAG_TYPE_NEGATIVE_STORE:
            pos = _decode_store_into(neg_bins, b, pos, sub)
        elif ftype == FLAG_TYPE_INDEX_MAPPING:
            if sub not in _MAPPING_BY_SUBFLAG:
                raise DecodingError(f"unsupported index mapping subflag {sub}")
            gamma, pos = decode_float64le(b, pos)
            offset, pos = decode_float64le(b, pos)
            m = mapping_from_params(_MAPPING_BY_SUBFLAG[sub], gamma, offset)
            if decoded_mapping is not None and not decoded_mapping.equals(m):
                raise DecodingError("index mapping mismatch")
            decoded_mapping = m
        elif flag == FLAG_ZERO_COUNT:
            z, pos = decode_varfloat64(b, pos)
            zero_count += z
        elif flag == FLAG_COUNT:
            v, pos = decode_varfloat64(b, pos)
            xcount = (xcount or 0.0) + v
        elif flag == FLAG_SUM:
            v, pos = decode_float64le(b, pos)
            xsum = (xsum or 0.0) + v
        elif flag == FLAG_MIN:
            v, pos = decode_float64le(b, pos)
            xmin = v if xmin is None else min(xmin, v)
        elif flag == FLAG_MAX:
            v, pos = decode_float64le(b, pos)
            xmax = v if xmax is None else max(xmax, v)
        else:
            raise DecodingError(f"unknown flag 0x{flag:02x}")

    if decoded_mapping is None:
        raise DecodingError("missing index mapping")

    cfg = config or DDSketchConfig(
        alpha=decoded_mapping.relative_accuracy(),
        interpolation=decoded_mapping.interpolation,
    )
    s = DDSketch(config=cfg, mapping=decoded_mapping)
    if pos_bins:
        items = sorted(pos_bins.items())
        s.pos_idx = np.asarray([i for i, _ in items], dtype=np.int64)
        s.pos_cnt = np.asarray([c for _, c in items], dtype=np.float64)
    if neg_bins:
        items = sorted(neg_bins.items())
        s.neg_idx = np.asarray([i for i, _ in items], dtype=np.int64)
        s.neg_cnt = np.asarray([c for _, c in items], dtype=np.float64)
    s.zero_count = zero_count
    s._apply_collapse()

    if xcount is not None:
        s.exact_count = xcount
        s.exact_sum = xsum if xsum is not None else s.sum_approx()
        s.exact_min = xmin if xmin is not None else (
            s.min_approx() if not s.is_empty else math.inf
        )
        s.exact_max = xmax if xmax is not None else (
            s.max_approx() if not s.is_empty else -math.inf
        )
    else:
        # blob without exact stats (plain reference DDSketch): fall back to
        # sketch-derived stats so the always-on summary stays usable
        s.exact_count = s.count
        if not s.is_empty:
            s.exact_sum = s.sum_approx()
            s.exact_min = s.min_approx()
            s.exact_max = s.max_approx()
    return s


# ============================================================ batch kernels
# The same wire format for a whole column of sketches at once: every varint,
# varfloat and framing decision is computed with numpy over all the bins of
# all the sketches, so no DDSketch object and no per-bin Python exist on the
# batch path.  encode_sketch/decode_sketch above stay the single-sketch API
# and the reference these kernels are tested against byte for byte.
@dataclass(frozen=True)
class SketchColumns:
    """``n`` sketches column-wise: the batch form of :class:`DDSketch`.

    Bins are CSR over ``2n`` stores: row ``r``'s positive bins are
    ``index[bounds[2r]:bounds[2r+1]]`` (with ``count`` alongside) and its
    negative bins ``index[bounds[2r+1]:bounds[2r+2]]``, each strictly
    ascending.  ``xsum`` and ``compensation`` are the Kahan-compensated exact
    sum (encoded as their total, like :attr:`DDSketch.sum`).  The mapping is
    one ``(subflag, gamma, index_offset)`` triple per row, ``subflag`` being
    the wire code of its interpolation."""

    bounds: np.ndarray
    index: np.ndarray
    count: np.ndarray
    zero_count: np.ndarray
    xcount: np.ndarray
    xsum: np.ndarray
    compensation: np.ndarray
    xmin: np.ndarray
    xmax: np.ndarray
    subflag: np.ndarray
    gamma: np.ndarray
    index_offset: np.ndarray

    @property
    def n(self) -> int:
        return self.zero_count.size

    def entries(self) -> tuple[np.ndarray, np.ndarray]:
        """(row, sign) of every bin: the flat ``(row, sign, index, count)``
        view of the batch."""
        store = np.repeat(np.arange(2 * self.n), np.diff(self.bounds))
        return store >> 1, 1 - 2 * (store & 1)

    def take(self, rows: np.ndarray) -> "SketchColumns":
        """The sketches at ``rows`` (ascending) as a new batch."""
        sizes = np.diff(self.bounds).reshape(-1, 2)[rows].ravel()
        starts = self.bounds[:-1].reshape(-1, 2)[rows].ravel()
        pick = np.repeat(starts - _excl_cumsum(sizes), sizes) + np.arange(sizes.sum())
        return SketchColumns(
            np.concatenate([[0], np.cumsum(sizes)]),
            self.index[pick],
            self.count[pick],
            *(getattr(self, f)[rows] for f in _ROW_FIELDS),
        )


_ROW_FIELDS = (
    "zero_count", "xcount", "xsum", "compensation", "xmin", "xmax",
    "subflag", "gamma", "index_offset",
)


def concat_sketch_columns(parts: list[SketchColumns]) -> SketchColumns:
    """Stack batches row-wise."""
    sizes = np.concatenate([np.diff(p.bounds) for p in parts])
    return SketchColumns(
        np.concatenate([[0], np.cumsum(sizes)]),
        np.concatenate([p.index for p in parts]),
        np.concatenate([p.count for p in parts]),
        *(np.concatenate([getattr(p, f) for p in parts]) for f in _ROW_FIELDS),
    )


def sketch_columns(
    store: np.ndarray,
    index: np.ndarray,
    count: np.ndarray,
    n: int,
    config: DDSketchConfig,
    zero_count: np.ndarray,
    xcount: np.ndarray,
    xsum: np.ndarray,
    xmin: np.ndarray,
    xmax: np.ndarray,
) -> SketchColumns:
    """A batch of ``n`` sketches with ``config``'s mapping from bins already
    unique and ordered by ``(store, index)``, ``store`` being ``2*row`` for a
    positive bin and ``2*row + 1`` for a negative one; ``config``'s collapse
    is applied as :meth:`DDSketch._apply_collapse` does."""
    bounds = np.concatenate([[0], np.cumsum(np.bincount(store, minlength=2 * n))])
    bounds, index, count = collapse_stores(bounds, index, count, config)
    mapping = config.mapping()
    return SketchColumns(
        bounds, index, count, zero_count, xcount, xsum, np.zeros(n),
        xmin, xmax,
        np.full(n, _MAPPING_SUBFLAGS[mapping.interpolation], dtype=np.uint8),
        np.full(n, mapping.gamma), np.full(n, mapping.index_offset),
    )


def _excl_cumsum(a: np.ndarray) -> np.ndarray:
    out = np.zeros_like(a)
    np.cumsum(a[:-1], out=out[1:])
    return out


def _sum_adjacent(
    key: np.ndarray, index: np.ndarray, count: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sum the counts of adjacent equal ``(key, index)`` entries, left to
    right from 0.0 -- the accumulation order of ``_agg_bins`` and of the
    dict fold in ``_decode_store_into``."""
    if index.size == 0:
        return key, index, count
    new = np.empty(index.size, dtype=bool)
    new[0] = True
    np.not_equal(key[1:], key[:-1], out=new[1:])
    new[1:] |= index[1:] != index[:-1]
    run = np.cumsum(new) - 1
    return key[new], index[new], np.bincount(run, weights=count)


def collapse_stores(
    bounds: np.ndarray, index: np.ndarray, count: np.ndarray, config: DDSketchConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``_collapse`` on every store of a CSR batch at once."""
    m = config.max_bins
    if config.collapse == COLLAPSE_NONE or m <= 0:
        return bounds, index, count
    sizes = np.diff(bounds)
    over = sizes > m
    if not over.any():
        return bounds, index, count
    store = np.repeat(np.arange(sizes.size), sizes)
    hit = over[store]
    if config.collapse == COLLAPSE_LOWEST:
        edge = index[np.maximum(bounds[1:] - 1, 0)] - m + 1
        index = np.where(hit, np.maximum(index, edge[store]), index)
    else:
        edge = index[np.minimum(bounds[:-1], max(index.size - 1, 0))] + m - 1
        index = np.where(hit, np.minimum(index, edge[store]), index)
    store, index, count = _sum_adjacent(store, index, count)
    sizes = np.bincount(store, minlength=sizes.size)
    return np.concatenate([[0], np.cumsum(sizes)]), index, count


# ---------------------------------------------------------- byte columns
_U64 = np.uint64
_COLS9 = np.arange(9)


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    return ((v << 1) ^ (v >> 63)).view(_U64)


def _uvarint_len(u: np.ndarray) -> np.ndarray:
    """uvarint64_size, vectorized."""
    u = u.astype(_U64)
    n = np.ones(u.shape, dtype=np.int64)
    for k in range(1, _MAX_VARLEN):
        n += u >= _U64(1 << (7 * k))
    return n


def _spread7(v: np.ndarray) -> np.ndarray:
    """Spread the low 56 bits of ``v`` over 8 bytes, 7 bits each, byte 0
    lowest (the inverse of ``_compact7``)."""
    v = (v & _U64(0x0FFFFFFF)) | ((v & _U64(0x00FFFFFFF0000000)) << _U64(4))
    v = (v & _U64(0x00003FFF00003FFF)) | ((v & _U64(0x0FFFC0000FFFC000)) << _U64(2))
    return (v & _U64(0x007F007F007F007F)) | ((v & _U64(0x3F803F803F803F80)) << _U64(1))


# continuation bits of an n-byte item: 0x80 on each of its first n-1 bytes
_CONT = np.array(
    [sum(0x80 << (8 * i) for i in range(min(n - 1, 8))) for n in range(_MAX_VARLEN + 1)],
    dtype=_U64,
)


def _byte_rows(w: np.ndarray, ninth: np.ndarray) -> np.ndarray:
    mat = np.empty((w.size, _MAX_VARLEN), dtype=np.uint8)
    mat[:, :8] = w.astype("<u8", copy=False).view(np.uint8).reshape(-1, 8)
    mat[:, 8] = ninth
    return mat


def _uvarint_bytes(u: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """encode_uvarint64 of each value: an (n, 9) byte matrix and lengths."""
    u = u.astype(_U64)
    n = _uvarint_len(u)
    w = _spread7(u) | _CONT[n]
    return _byte_rows(w, (u >> _U64(56)).astype(np.uint8)), n


def _varfloat_prep(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The rotated bits encode_varfloat64 emits MSB-first, and their length."""
    bits = (np.asarray(v, dtype=np.float64) + 1.0).view(_U64) - _U64(_ONE_BITS)
    x = (bits << _U64(_VARFLOAT_ROTATE)) | (bits >> _U64(64 - _VARFLOAT_ROTATE))
    n = np.full(x.shape, _MAX_VARLEN, dtype=np.int64)
    for k in range(_MAX_VARLEN - 1, 0, -1):
        n[(x << _U64(7 * k)) == 0] = k
    return x, n


def _varfloat_len(v: np.ndarray) -> np.ndarray:
    return _varfloat_prep(v)[1]


def _varfloat_bytes(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    x, n = _varfloat_prep(v)
    w = _spread7(x >> _U64(8)).byteswap() | _CONT[n]
    return _byte_rows(w, (x & _U64(0xFF)).astype(np.uint8)), n


def _float64_bytes(v: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(v, dtype="<f8").view(np.uint8).reshape(-1, 8)


def _ranges(start: np.ndarray, n: np.ndarray, step: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """``start[j] + step * m`` for ``m < n[j]``, all j concatenated, and the
    position m of each."""
    m = np.arange(int(n.sum())) - np.repeat(_excl_cumsum(n), n)
    return np.repeat(start, n) + step * m, m


def _put(out: np.ndarray, at: np.ndarray, mat: np.ndarray, length=None) -> None:
    """Write row ``i`` of ``mat`` (its first ``length[i]`` bytes) at
    ``out[at[i]:]``."""
    if length is None:
        out[at[:, None] + np.arange(mat.shape[1])] = mat
    else:
        out[_ranges(at, length)[0]] = mat[np.arange(mat.shape[1]) < length[:, None]]


# ----------------------------------------------------------------- encode
def encode_sketches(cols: SketchColumns) -> np.ndarray:
    """``encode_sketch`` of every row of ``cols`` (mapping and exact stats
    included), as an object array of ``bytes``; byte-identical to the
    scalar encoder, including its choice among the three bin framings."""
    n = cols.n
    if n == 0:
        return np.empty(0, dtype=object)
    bounds = cols.bounds
    idx = cols.index.astype(np.int64)
    cnt = cols.count.astype(np.float64)
    sizes = np.diff(bounds)
    store = np.repeat(np.arange(2 * n), sizes)
    used = sizes > 0
    first = bounds[:-1][used]

    def per_store(a) -> np.ndarray:
        return np.bincount(store, weights=a, minlength=2 * n)

    is_first = np.zeros(idx.size, dtype=bool)
    is_first[first] = True
    prev = np.zeros_like(idx)
    prev[1:] = idx[:-1]
    prev[is_first] = 0
    delta = idx - prev
    vi = _uvarint_len(_zigzag(delta))
    vf = _varfloat_len(cnt)

    # framing choice, priced exactly as _encode_store does
    lo = np.zeros(2 * n, dtype=np.int64)
    hi = np.zeros(2 * n, dtype=np.int64)
    lo[used] = idx[first]
    hi[used] = idx[bounds[1:][used] - 1]
    span = hi - lo + 1
    n_len = _uvarint_len(sizes)
    vf_sum = per_store(vf).astype(np.int64)
    sparse_priced = n_len + per_store(np.where(is_first, 1, vi)).astype(np.int64) + vf_sum
    sparse_size = n_len + per_store(vi).astype(np.int64) + vf_sum
    dense_ok = used & (span <= 4 * sizes + 64)
    span_len = _uvarint_len(np.where(dense_ok, span, 0))
    lo_len = _uvarint_len(_zigzag(lo))
    dense_size = span_len + lo_len + 1 + vf_sum + (span - sizes)
    unit = (cnt == np.rint(cnt)) & (cnt >= 1)
    total = per_store(cnt)
    deltas_ok = (
        used
        & (total <= 2 * sizes + 64)
        & (per_store(~unit) == 0)
    )
    total_int = np.where(deltas_ok, total, 0).astype(np.int64)
    total_len = _uvarint_len(total_int)
    deltas_size = total_len + per_store(vi).astype(np.int64) + (total_int - sizes)
    use_dense = dense_ok & (dense_size <= sparse_priced)
    best = np.where(use_dense, dense_size, sparse_priced)
    use_deltas = deltas_ok & (deltas_size < best)
    use_dense &= ~use_deltas
    mode = np.where(
        use_deltas,
        BIN_ENCODING_INDEX_DELTAS,
        np.where(use_dense, BIN_ENCODING_CONTIGUOUS_COUNTS, BIN_ENCODING_INDEX_DELTAS_AND_COUNTS),
    )
    block = np.where(
        used,
        1 + np.where(use_deltas, deltas_size, np.where(use_dense, dense_size, sparse_size)),
        0,
    )

    # per-row layout: [zero] mapping stats [positive store] [negative store]
    has_zero = cols.zero_count != 0
    zero_mat, zero_len = _varfloat_bytes(cols.zero_count)
    zero_block = np.where(has_zero, 1 + zero_len, 0)
    xcount_mat, xcount_len = _varfloat_bytes(cols.xcount)
    stats_block = 1 + xcount_len + 27
    blocks = block.reshape(n, 2)
    row_size = zero_block + 17 + stats_block + blocks[:, 0] + blocks[:, 1]
    row_end = np.cumsum(row_size)
    row_start = row_end - row_size
    out = np.zeros(int(row_end[-1]), dtype=np.uint8)

    zr = np.flatnonzero(has_zero)
    out[row_start[zr]] = FLAG_ZERO_COUNT
    _put(out, row_start[zr] + 1, zero_mat[zr], zero_len[zr])
    at = row_start + zero_block
    out[at] = FLAG_TYPE_INDEX_MAPPING | (cols.subflag.astype(np.uint8) << 2)
    _put(out, at + 1, _float64_bytes(cols.gamma))
    _put(out, at + 9, _float64_bytes(cols.index_offset))
    at = at + 17
    out[at] = FLAG_COUNT
    _put(out, at + 1, xcount_mat, xcount_len)
    at = at + 1 + xcount_len
    for k, (flag, v) in enumerate(
        (
            (FLAG_SUM, cols.xsum + cols.compensation),
            (FLAG_MIN, cols.xmin),
            (FLAG_MAX, cols.xmax),
        )
    ):
        out[at + 9 * k] = flag
        _put(out, at + 9 * k + 1, _float64_bytes(v))

    # store blocks: flag byte, then the framing's header
    store_at = np.empty(2 * n, dtype=np.int64)
    store_at[0::2] = row_start + zero_block + 17 + stats_block
    store_at[1::2] = store_at[0::2] + blocks[:, 0]
    sid = np.flatnonzero(used)
    s_at = store_at[sid]
    ftype = np.where(sid & 1, FLAG_TYPE_NEGATIVE_STORE, FLAG_TYPE_POSITIVE_STORE)
    out[s_at] = ftype | (mode[sid] << 2)
    s_mode = mode[sid]
    head = np.where(
        s_mode == BIN_ENCODING_INDEX_DELTAS, total_int[sid],
        np.where(s_mode == BIN_ENCODING_CONTIGUOUS_COUNTS, span[sid], sizes[sid]),
    )
    mat, head_len = _uvarint_bytes(head)
    _put(out, s_at + 1, mat, head_len)
    payload = s_at + 1 + head_len
    dn = s_mode == BIN_ENCODING_CONTIGUOUS_COUNTS
    if dn.any():
        mat, ln = _uvarint_bytes(_zigzag(lo[sid][dn]))
        _put(out, payload[dn], mat, ln)
        out[payload[dn] + ln] = 0x02  # varint(1): unit index step
        payload[dn] += ln + 1

    # bins: each one's chunk of the payload depends on its store's framing
    bin_mode = mode[store]
    cnt_int = np.where(bin_mode == BIN_ENCODING_INDEX_DELTAS, cnt, 1).astype(np.int64)
    gap = np.where(is_first, 0, delta - 1)
    chunk = np.where(
        bin_mode == BIN_ENCODING_INDEX_DELTAS_AND_COUNTS, vi + vf,
        np.where(bin_mode == BIN_ENCODING_INDEX_DELTAS, vi + cnt_int - 1, gap + vf),
    )
    chunk_at = _excl_cumsum(chunk)
    payload_at = np.zeros(2 * n, dtype=np.int64)
    payload_at[sid] = payload - chunk_at[first]
    bin_at = payload_at[store] + chunk_at
    with_delta = bin_mode != BIN_ENCODING_CONTIGUOUS_COUNTS
    mat, ln = _uvarint_bytes(_zigzag(delta[with_delta]))
    _put(out, bin_at[with_delta], mat, ln)
    with_count = bin_mode != BIN_ENCODING_INDEX_DELTAS
    mat, ln = _varfloat_bytes(cnt[with_count])
    count_at = np.where(bin_mode == BIN_ENCODING_CONTIGUOUS_COUNTS, bin_at + gap, bin_at + vi)
    _put(out, count_at[with_count], mat, ln)
    # index-deltas repeats and dense gaps are zero bytes, already in place

    offsets = np.concatenate([[0], row_end]).astype(np.int64)
    arr = pa.Array.from_buffers(
        pa.large_binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(out)]
    )
    return arr.to_numpy(zero_copy_only=False)


# ----------------------------------------------------------------- decode
_PAD = 32  # reads past a blob's end land in zeros and fail the bounds check


_LOW_BYTES = np.array([(1 << (8 * n)) - 1 for n in range(8)] + [_MASK64] * 2, dtype=_U64)
_DATA_BITS = _U64(0x7F7F7F7F7F7F7F7F)


def _compact7(w: np.ndarray) -> np.ndarray:
    """Pack the low 7 bits of each byte of ``w`` into 56 contiguous bits,
    byte 0 lowest."""
    w = (w & _U64(0x007F007F007F007F)) | ((w & _U64(0x7F007F007F007F00)) >> _U64(1))
    w = (w & _U64(0x00003FFF00003FFF)) | ((w & _U64(0x3FFF00003FFF0000)) >> _U64(2))
    return (w & _U64(0x000000000FFFFFFF)) | ((w & _U64(0x0FFFFFFF00000000)) >> _U64(4))


def _split_items(buf: np.ndarray, at: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cut the whole buffer into consecutive varints/varfloats, with an item
    starting at each of ``at``: every item's first byte and byte length.

    An item ends at a byte < 0x80 or at its 9th byte, so items start after
    every terminating byte and every 9 bytes after that.  Only the items
    inside store payloads are used; the rest is harmless garbage."""
    run_end = np.flatnonzero(buf < 0x80)
    run = np.concatenate([[0], run_end[:-1] + 1])
    if not np.all(buf[at - 1] < 0x80):
        run = np.union1d(run, at)
        run_end = run_end[np.searchsorted(run_end, run)]
    per_run = (run_end - run) // _MAX_VARLEN + 1
    if per_run.max() == 1:
        return run, run_end - run + 1
    first, _ = _ranges(run, per_run, _MAX_VARLEN)
    return first, np.minimum(_MAX_VARLEN, np.repeat(run_end, per_run) - first + 1)


def _uvarints(buf: np.ndarray, first: np.ndarray, n: np.ndarray) -> np.ndarray:
    """The uvarints of ``n`` bytes at ``first`` (7-bit groups LSB first, a
    9th byte taken whole)."""
    w, ninth = _item_words(buf, first, n)
    return _compact7(w) | (ninth << _U64(56))


def _varints(buf: np.ndarray, first: np.ndarray, n: np.ndarray) -> np.ndarray:
    """The zigzag varints of ``n`` bytes at ``first``."""
    u = _uvarints(buf, first, n)
    return (u >> _U64(1)).view(np.int64) ^ -(u & _U64(1)).view(np.int64)


def _varfloats(buf: np.ndarray, first: np.ndarray, n: np.ndarray) -> np.ndarray:
    """The varfloats of ``n`` bytes at ``first`` (7-bit groups MSB first, a
    9th byte taken whole), undoing encode_varfloat64's transform."""
    w, ninth = _item_words(buf, first, n)
    x = (_compact7(w.byteswap()) << _U64(8)) | ninth
    rot = 64 - _VARFLOAT_ROTATE
    bits = ((x << _U64(rot)) | (x >> _U64(64 - rot))) + _U64(_ONE_BITS)
    with np.errstate(invalid="ignore"):  # corrupt bytes may spell a NaN
        return bits.view(np.float64) - 1.0


def _item_words(buf, first, n) -> tuple[np.ndarray, np.ndarray]:
    """The 7-bit payloads of an item's first 8 bytes as one word, and its
    9th byte (0 if shorter)."""
    # every byte offset of buf read as a little-endian word (unaligned view)
    words = np.ndarray((buf.size - 7,), dtype="<u8", buffer=buf, strides=(1,))
    w = words[first] & _LOW_BYTES[n] & _DATA_BITS
    return w, np.where(n == _MAX_VARLEN, buf[first + 8], 0).astype(_U64)


def _var_len(buf, at, end, what: str) -> np.ndarray:
    """Byte length of the varint/varfloat starting at each of ``at``."""
    term = buf[at[:, None] + _COLS9[:8]] < 0x80
    n = np.where(term.any(axis=1), term.argmax(axis=1) + 1, _MAX_VARLEN)
    if np.any(at + n > end):
        raise DecodingError(f"EOF in {what}")
    return n


def _store_cumsum(d: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Running sum of ``d`` restarting at each of the consecutive segments
    of lengths ``n``."""
    cs = np.cumsum(d)
    return cs - np.repeat(np.concatenate([[0], cs])[_excl_cumsum(n)], n)


def _same_mapping(sub_a, gamma_a, off_a, sub_b, gamma_b, off_b) -> np.ndarray:
    """``_BaseMapping.equals`` over arrays of mapping parameters."""

    def close(x, y):
        zero = (x == 0) | (y == 0)
        return np.where(
            zero,
            (np.abs(x) <= _REL_TOL) & (np.abs(y) <= _REL_TOL),
            np.abs(x - y) <= _REL_TOL * np.maximum(np.abs(x), np.abs(y)),
        )

    return (sub_a == sub_b) & close(gamma_a, gamma_b) & close(off_a, off_b)


def decode_sketches(
    blobs,
    mapping: _BaseMapping | None = None,
    config: DDSketchConfig | None = None,
) -> SketchColumns:
    """``decode_sketch`` of every blob of a column (an Arrow binary array or
    any sequence of bytes) as one :class:`SketchColumns`: same bins, same
    exact stats, same errors.  The flag loop advances all blobs in lockstep,
    one block per step; store payloads are split into varints with array
    arithmetic.  A blob without a complete set of exact stats (a plain
    reference DDSketch) takes its stats from ``decode_sketch``."""
    arr = blobs if isinstance(blobs, pa.Array) else pa.array(blobs, type=pa.large_binary())
    if arr.type != pa.large_binary():
        arr = arr.cast(pa.large_binary())
    if arr.null_count:
        raise DecodingError("null sketch blob")
    n = len(arr)
    _, off_buf, data_buf = arr.buffers()
    offs = np.frombuffer(off_buf, dtype=np.int64)[arr.offset : arr.offset + n + 1]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)[offs[0] : offs[-1]]
        if data_buf is not None else np.empty(0, dtype=np.uint8)
    )
    buf = np.concatenate([data, np.zeros(_PAD, dtype=np.uint8)])
    start = offs[:-1] - offs[0]
    end = offs[1:] - offs[0]

    zero = np.zeros(n)
    stats = {f: np.zeros(n) for f in (FLAG_COUNT, FLAG_SUM, FLAG_MIN, FLAG_MAX)}
    seen = {f: np.zeros(n, dtype=bool) for f in stats}
    sub = np.full(n, -1, dtype=np.int16)
    gamma = np.zeros(n)
    offset = np.zeros(n)
    if mapping is not None:
        sub[:] = _MAPPING_SUBFLAGS[mapping.interpolation]
        gamma[:] = mapping.gamma
        offset[:] = mapping.index_offset
    parts: list[tuple[np.ndarray, ...]] = []

    pos = start.copy()
    while True:
        rows = np.flatnonzero(pos < end)
        if rows.size == 0:
            break
        at = pos[rows]
        flag = buf[at]
        ftype = flag & 0b11
        at = at + 1
        nxt = np.empty_like(at)
        e = end[rows]

        # sketch features: zero count and the four exact stats
        feat = ftype == FLAG_TYPE_SKETCH_FEATURES
        known = np.isin(flag, (FLAG_ZERO_COUNT, *stats))
        if np.any(feat & ~known):
            bad = int(flag[feat & ~known][0])
            raise DecodingError(f"unknown flag 0x{bad:02x}")
        var = feat & ((flag == FLAG_ZERO_COUNT) | (flag == FLAG_COUNT))
        if var.any():
            ln = _var_len(buf, at[var], e[var], "varfloat")
            v = _varfloats(buf, at[var], ln)
            nxt[var] = at[var] + ln
            f = flag[var]
            r = rows[var]
            z = f == FLAG_ZERO_COUNT
            zero[r[z]] += v[z]
            c = ~z
            stats[FLAG_COUNT][r[c]] += v[c]
            seen[FLAG_COUNT][r[c]] = True
        fixed = feat & ~var
        if fixed.any():
            a = at[fixed]
            if np.any(a + 8 > e[fixed]):
                raise DecodingError("EOF in float64")
            v = buf[a[:, None] + np.arange(8)].view("<f8").ravel()
            nxt[fixed] = a + 8
            for fl in (FLAG_SUM, FLAG_MIN, FLAG_MAX):
                m = flag[fixed] == fl
                r = rows[fixed][m]
                cur = stats[fl][r]
                if fl == FLAG_SUM:
                    new = cur + v[m]
                elif fl == FLAG_MIN:
                    new = np.where(~seen[fl][r] | (v[m] < cur), v[m], cur)
                else:
                    new = np.where(~seen[fl][r] | (v[m] > cur), v[m], cur)
                stats[fl][r] = new
                seen[fl][r] = True

        # index mapping
        mp = ftype == FLAG_TYPE_INDEX_MAPPING
        if mp.any():
            s = (flag[mp] >> 2).astype(np.int16)
            if not np.isin(s, list(_MAPPING_BY_SUBFLAG)).all():
                bad = int(s[~np.isin(s, list(_MAPPING_BY_SUBFLAG))][0])
                raise DecodingError(f"unsupported index mapping subflag {bad}")
            a = at[mp]
            if np.any(a + 16 > e[mp]):
                raise DecodingError("EOF in float64")
            g = buf[a[:, None] + np.arange(8)].view("<f8").ravel()
            o = buf[a[:, None] + np.arange(8, 16)].view("<f8").ravel()
            r = rows[mp]
            had = sub[r] >= 0
            if np.any(had & ~_same_mapping(sub[r], gamma[r], offset[r], s, g, o)):
                raise DecodingError("index mapping mismatch")
            sub[r], gamma[r], offset[r] = s, g, o
            nxt[mp] = a + 16

        # bin stores
        st = (ftype == FLAG_TYPE_POSITIVE_STORE) | (ftype == FLAG_TYPE_NEGATIVE_STORE)
        if st.any():
            mode = flag[st] >> 2
            if not np.isin(mode, (1, 2, 3)).all():
                bad = int(mode[~np.isin(mode, (1, 2, 3))][0])
                raise DecodingError(f"unknown bin encoding {bad}")
            r = rows[st]
            a = at[st]
            se = e[st]
            neg = ftype[st] == FLAG_TYPE_NEGATIVE_STORE
            ln = _var_len(buf, a, se, "uvarint")
            count_u = _uvarints(buf, a, ln)
            a = a + ln
            dense = mode == BIN_ENCODING_CONTIGUOUS_COUNTS
            lo = np.zeros(a.size, dtype=np.int64)
            step = np.zeros(a.size, dtype=np.int64)
            if dense.any():
                for field in (lo, step):
                    ln = _var_len(buf, a[dense], se[dense], "varint")
                    field[dense] = _varints(buf, a[dense], ln)
                    a[dense] += ln
            # every item takes at least one byte
            if np.any(count_u > (se - a).astype(_U64)):
                raise DecodingError("EOF in store")
            nb = count_u.astype(np.int64)
            sparse = mode == BIN_ENCODING_INDEX_DELTAS_AND_COUNTS
            k = np.where(sparse, 2 * nb, nb)
            if np.any(k > se - a):
                raise DecodingError("EOF in store")
            first, length = _split_items(buf, a)
            item0 = np.searchsorted(first, a)
            after = item0 + k  # the item after each payload
            nxt_st = first[np.minimum(after, first.size - 1)]
            if np.any((after >= first.size) | (nxt_st > se)):
                raise DecodingError("EOF in store")
            nxt[st] = nxt_st
            sid = 2 * r + neg
            for m in (BIN_ENCODING_INDEX_DELTAS_AND_COUNTS, BIN_ENCODING_INDEX_DELTAS,
                      BIN_ENCODING_CONTIGUOUS_COUNTS):
                sel = mode == m
                if not sel.any():
                    continue
                ns = nb[sel]
                if m == BIN_ENCODING_CONTIGUOUS_COUNTS:
                    item, j = _ranges(item0[sel], ns)
                    c = _varfloats(buf, first[item], length[item])
                    index = np.repeat(lo[sel], ns) + j * np.repeat(step[sel], ns)
                    keep = c != 0
                    parts.append((np.repeat(sid[sel], ns)[keep], index[keep], c[keep]))
                    continue
                sparse = m == BIN_ENCODING_INDEX_DELTAS_AND_COUNTS
                item, _ = _ranges(item0[sel], ns, 2 if sparse else 1)
                index = _store_cumsum(_varints(buf, first[item], length[item]), ns)
                c = (
                    _varfloats(buf, first[item + 1], length[item + 1])
                    if sparse else np.ones(index.size)
                )
                parts.append((np.repeat(sid[sel], ns), index, c))

        pos[rows] = nxt

    if np.any(sub < 0):
        raise DecodingError("missing index mapping")
    for s_, g_, o_ in set(zip(sub.tolist(), gamma.tolist(), offset.tolist())):
        mapping_from_params(_MAPPING_BY_SUBFLAG[s_], g_, o_)  # validates like decode_sketch

    # bins in stream order within a store, summed like the scalar dict fold
    if parts:
        store = np.concatenate([p[0] for p in parts])
        index = np.concatenate([p[1] for p in parts]).astype(np.int64)
        count = np.concatenate([p[2] for p in parts])
    else:
        store = np.empty(0, dtype=np.int64)
        index = np.empty(0, dtype=np.int64)
        count = np.empty(0)
    if np.any(np.diff(store) < 0):
        order = np.argsort(store, kind="stable")
        store, index, count = store[order], index[order], count[order]
    same = np.diff(store) == 0
    if np.any(same & (np.diff(index) < 0)):
        # several blocks in one store
        order = np.lexsort((index, store))
        store, index, count = store[order], index[order], count[order]
    if np.any(same & (np.diff(index) == 0)):
        store, index, count = _sum_adjacent(store, index, count)
    bounds = np.concatenate([[0], np.cumsum(np.bincount(store, minlength=2 * n))])
    if config is not None:
        bounds, index, count = collapse_stores(bounds, index, count, config)

    cols = SketchColumns(
        bounds, index, count, zero,
        stats[FLAG_COUNT], stats[FLAG_SUM], np.zeros(n),
        np.where(seen[FLAG_MIN], stats[FLAG_MIN], math.inf),
        np.where(seen[FLAG_MAX], stats[FLAG_MAX], -math.inf),
        sub.astype(np.uint8), gamma, offset,
    )
    partial = ~(seen[FLAG_COUNT] & seen[FLAG_SUM] & seen[FLAG_MIN] & seen[FLAG_MAX])
    for r in np.flatnonzero(partial):
        s = decode_sketch(arr[int(r)].as_py(), mapping=mapping, config=config)
        cols.xcount[r], cols.xsum[r] = s.exact_count, s.exact_sum
        cols.xmin[r], cols.xmax[r] = s.exact_min, s.exact_max
    return cols


# ------------------------------------------------------------------ merge
def merge_sketch_runs(
    cols: SketchColumns, run_starts: np.ndarray, config: DDSketchConfig | None = None
) -> SketchColumns:
    """Merge each run of rows ``[run_starts[g], run_starts[g+1])`` into one
    sketch, as folding its rows left to right with :meth:`DDSketch.merge`
    would: bins are a grouped sum in row order, the exact stats take the
    same two Kahan steps per row, the mapping must agree within a run and
    ``config``'s collapse is applied once per merged store."""
    n = cols.n
    lens = np.diff(np.concatenate([run_starts, [n]]))
    g_of_row = np.repeat(np.arange(run_starts.size), lens)
    first = run_starts[g_of_row]
    same = _same_mapping(
        cols.subflag, cols.gamma, cols.index_offset,
        cols.subflag[first], cols.gamma[first], cols.index_offset[first],
    )
    if not same.all():
        raise ValueError("cannot merge sketches with different index mappings")

    row, sign = cols.entries()
    gstore = 2 * g_of_row[row] + (sign < 0)
    order = np.lexsort((cols.index, gstore))  # stable: ties keep row order
    gstore, index, count = _sum_adjacent(gstore[order], cols.index[order], cols.count[order])
    sizes = np.bincount(gstore, minlength=2 * run_starts.size)
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    if config is not None:
        bounds, index, count = collapse_stores(bounds, index, count, config)

    out = cols.take(run_starts)
    zero, xcount, xsum, comp = out.zero_count, out.xcount, out.xsum, out.compensation
    xmin, xmax = out.xmin, out.xmax
    for k in range(1, int(lens.max(initial=1))):
        g = np.flatnonzero(lens > k)
        r = run_starts[g] + k
        zero[g] += cols.zero_count[r]
        xcount[g] += cols.xcount[r]
        s, c = _kahan_add(xsum[g], comp[g], cols.xsum[r])
        xsum[g], comp[g] = _kahan_add(s, c, cols.compensation[r])
        xmin[g] = np.where(cols.xmin[r] < xmin[g], cols.xmin[r], xmin[g])
        xmax[g] = np.where(cols.xmax[r] > xmax[g], cols.xmax[r], xmax[g])
    return SketchColumns(
        bounds, index, count, zero, xcount, xsum, comp, xmin, xmax,
        out.subflag, out.gamma, out.index_offset,
    )
