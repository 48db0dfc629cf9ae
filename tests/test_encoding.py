"""Binary codec tests: golden byte vectors + round-trips + error paths.

Golden vectors are the reference's own
(/root/reference/ddsketch/encoding/encoding_test.go:21-271), asserting exact
wire compatibility with sketches-go's custom format.  Round-trip / error-path
methodology per ddsketch_test.go:486-535,869-894.
"""

import struct

import numpy as np
import pytest

from sketches_go_spark.core.ddsketch import DDSketch, DDSketchConfig
from sketches_go_spark.core import encoding as enc
from tests.oracle import TEST_QUANTILES

RNG = np.random.default_rng(7)

UVARINT_CASES = [
    (0, b"\x00"),
    (1, b"\x01"),
    (127, b"\x7f"),
    (128, b"\x80\x01"),
    (129, b"\x81\x01"),
    (255, b"\xff\x01"),
    (256, b"\x80\x02"),
    (16383, b"\xff\x7f"),
    (16384, b"\x80\x80\x01"),
    (16385, b"\x81\x80\x01"),
    (2**64 - 2, b"\xfe\xff\xff\xff\xff\xff\xff\xff\xff"),
    (2**64 - 1, b"\xff\xff\xff\xff\xff\xff\xff\xff\xff"),
]

VARINT_CASES = [
    (0, b"\x00"),
    (1, b"\x02"),
    (63, b"\x7e"),
    (64, b"\x80\x01"),
    (127, b"\xfe\x01"),
    (8192, b"\x80\x80\x01"),
    (2**63 - 1, b"\xfe\xff\xff\xff\xff\xff\xff\xff\xff"),
    (-1, b"\x01"),
    (-63, b"\x7d"),
    (-64, b"\x7f"),
    (-65, b"\x81\x01"),
    (-8192, b"\xff\x7f"),
    (-(2**63), b"\xff\xff\xff\xff\xff\xff\xff\xff\xff"),
]

VARFLOAT_CASES = [
    (0.0, b"\x00"),
    (1.0, b"\x02"),
    (2.0, b"\x03"),
    (3.0, b"\x04"),
    (4.0, b"\x84\x40"),
    (5.0, b"\x05"),
    (6.0, b"\x85\x40"),
    (7.0, b"\x06"),
    (8.0, b"\x86\x20"),
    (9.0, b"\x86\x40"),
    (float(2**52 - 1), b"\x68"),
    (float(2**53 - 1), b"\x6a"),
    (-1.0, b"\x82\x80\x80\x80\x80\x80\x80\x80\x30"),
    (-0.5, b"\xfe\x80\x80\x80\x80\x80\x80\x80\x3f"),
]


@pytest.mark.parametrize("value,encoded", UVARINT_CASES)
def test_uvarint_golden(value, encoded):
    out = bytearray()
    enc.encode_uvarint64(out, value)
    assert bytes(out) == encoded
    decoded, pos = enc.decode_uvarint64(memoryview(encoded), 0)
    assert decoded == value and pos == len(encoded)
    assert enc.uvarint64_size(value) == len(encoded)


@pytest.mark.parametrize("value,encoded", VARINT_CASES)
def test_varint_golden(value, encoded):
    out = bytearray()
    enc.encode_varint64(out, value)
    assert bytes(out) == encoded
    decoded, pos = enc.decode_varint64(memoryview(encoded), 0)
    assert decoded == value and pos == len(encoded)
    assert enc.varint64_size(value) == len(encoded)


@pytest.mark.parametrize("value,encoded", VARFLOAT_CASES)
def test_varfloat_golden(value, encoded):
    out = bytearray()
    enc.encode_varfloat64(out, value)
    assert bytes(out) == encoded
    decoded, pos = enc.decode_varfloat64(memoryview(encoded), 0)
    assert decoded == value and pos == len(encoded)


def test_varint_eof():
    with pytest.raises(enc.DecodingError):
        enc.decode_uvarint64(memoryview(b""), 0)
    with pytest.raises(enc.DecodingError):
        enc.decode_uvarint64(memoryview(b"\x80"), 0)
    with pytest.raises(enc.DecodingError):
        enc.decode_varfloat64(memoryview(b"\x80"), 1)


def test_varfloat_roundtrip_fuzz():
    vals = np.concatenate(
        [
            RNG.normal(0, 1e6, 200),
            RNG.lognormal(0, 30, 200),
            np.arange(100, dtype=np.float64),
        ]
    )
    for v in vals:
        out = bytearray()
        enc.encode_varfloat64(out, float(v))
        decoded, _ = enc.decode_varfloat64(memoryview(bytes(out)), 0)
        # the wire contract (matching the reference transform) is
        # decode(encode(v)) == (v+1)-1 in float64: exact whenever v+1 is
        # exactly representable (all integer counts < 2^52), and within one
        # ulp-of-(v+1) otherwise
        assert decoded == (float(v) + 1.0) - 1.0


DATASETS = [
    RNG.normal(35, 1, 1000),
    RNG.lognormal(0, 2, 500),
    np.concatenate([RNG.normal(35, 1, 100), -RNG.exponential(1, 100), [0.0] * 7]),
    np.asarray([1.0]),
    np.asarray([34654677.3676]),
    np.arange(1, 200, dtype=np.float64),
]


@pytest.mark.parametrize("i", range(len(DATASETS)))
@pytest.mark.parametrize("omit_mapping", [False, True])
def test_sketch_roundtrip(i, omit_mapping):
    values = DATASETS[i]
    s = DDSketch.from_values(values)
    blob = enc.encode_sketch(s, omit_index_mapping=omit_mapping)
    s2 = enc.decode_sketch(blob, mapping=s.mapping if omit_mapping else None)
    assert np.array_equal(s2.quantiles(TEST_QUANTILES), s.quantiles(TEST_QUANTILES))
    assert s2.count == pytest.approx(s.count)
    assert s2.exact_min == s.exact_min
    assert s2.exact_max == s.exact_max
    assert s2.exact_sum == pytest.approx(s.sum)


def test_decode_is_merge():
    """Accumulating blobs by merge equals sketching the union
    (decode-is-merge shape, ddsketch.go:400-429)."""
    parts = [RNG.normal(35, 1, 200), RNG.normal(40, 0.5, 300)]
    blobs = [enc.encode_sketch(DDSketch.from_values(p)) for p in parts]
    acc = DDSketch()
    for blob in blobs:
        acc.merge(enc.decode_sketch(blob))
    direct = DDSketch.from_values(np.concatenate(parts))
    assert np.array_equal(acc.pos_idx, direct.pos_idx)
    assert np.allclose(acc.pos_cnt, direct.pos_cnt)


def test_empty_sketch_roundtrip():
    s = DDSketch()
    blob = enc.encode_sketch(s)
    s2 = enc.decode_sketch(blob)
    assert s2.is_empty


def _decode_one(blob, mapping=None):
    return enc.decode_sketch(blob, mapping=mapping)


def _decode_batch(blob, mapping=None):
    # the bad blob sits between two good ones
    good = enc.encode_sketch(DDSketch.from_values([3.0, 4.0]))
    return enc.decode_sketches([good, blob, good], mapping=mapping)


@pytest.mark.parametrize("decode", [_decode_one, _decode_batch], ids=["scalar", "batch"])
def test_decode_errors(decode):
    s = DDSketch.from_values([1.0, 2.0])
    with pytest.raises(enc.DecodingError):
        decode(enc.encode_sketch(s, omit_index_mapping=True))  # missing mapping
    with pytest.raises(enc.DecodingError):
        decode(b"\xfb")  # unknown feature flag
    # mapping mismatch
    other = DDSketchConfig(alpha=0.1).mapping()
    with pytest.raises(enc.DecodingError):
        decode(enc.encode_sketch(s), mapping=other)
    # truncated payload
    with pytest.raises(enc.DecodingError):
        decode(enc.encode_sketch(s)[:-1])


def test_dense_vs_sparse_choice():
    """Contiguous data should pick the dense frame; scattered data sparse —
    and both must decode identically (dense_store.go:278-311)."""
    contiguous = DDSketch.from_values(np.arange(1, 5000, dtype=np.float64))
    scattered = DDSketch.from_values(np.logspace(-30, 30, 20))
    for s in (contiguous, scattered):
        blob = enc.encode_sketch(s)
        s2 = enc.decode_sketch(blob)
        assert np.array_equal(s2.pos_idx, s.pos_idx)
        assert np.allclose(s2.pos_cnt, s.pos_cnt)
    # sanity: the scattered encoding is far smaller than a dense frame would be
    assert len(enc.encode_sketch(scattered)) < 400


def test_index_deltas_chosen_for_unit_counts():
    """All-counts-1 sketches (the common case) must now serialize with
    BIN_ENCODING_INDEX_DELTAS — strictly smaller than deltas+counts, since
    the per-bin varfloat(1.0) byte disappears (flag.go:88-127 grammar)."""
    s = DDSketch.from_values(np.logspace(-30, 30, 20))
    assert np.all(s.pos_cnt == 1.0)
    blob = enc.encode_sketch(s, omit_index_mapping=True, include_exact_stats=False)
    # first block is the positive store: flag = POSITIVE_STORE | (2 << 2)
    assert blob[0] == (enc.FLAG_TYPE_POSITIVE_STORE | (enc.BIN_ENCODING_INDEX_DELTAS << 2))
    sparse = bytearray()
    enc.encode_uvarint64(sparse, 20)  # what deltas+counts would have cost
    prev = 0
    for j in range(20):
        enc.encode_varint64(sparse, int(s.pos_idx[j]) - prev)
        enc.encode_varfloat64(sparse, 1.0)
        prev = int(s.pos_idx[j])
    assert len(blob) - 1 < len(sparse)
    s2 = enc.decode_sketch(blob, mapping=s.mapping)
    assert np.array_equal(s2.pos_idx, s.pos_idx)
    assert np.allclose(s2.pos_cnt, s.pos_cnt)


def _f64(x: float) -> bytes:
    import struct

    return struct.pack("<d", x)


def test_golden_blob_hand_assembled():
    """Decode a full sketch blob hand-assembled byte-for-byte from the
    reference wire grammar (flag.go:32-128, encoding.go:36-208,
    ddsketch_test.go:869-894 round-trip matrix) — NOT produced by our
    encoder, so decode compatibility is not self-certified.

    Layout: [log mapping gamma=2.0 offset=0.0][zero count 2.0]
            [positive store, INDEX_DELTAS: occurrences at buckets 5,5,7]
            [negative store, CONTIGUOUS: offset 2, counts 1.0, 0.0, 2.5]
    """
    blob = (
        b"\x02" + _f64(2.0) + _f64(0.0)  # mapping: type 10, subflag 0 (log)
        + b"\x04\x03"                      # zero count: varfloat(2.0) = 0x03
        + b"\x09"                          # pos store flag: 0b01 | 2<<2
        + b"\x03"                          # uvarint total occurrences = 3
        + b"\x0a\x00\x04"                  # zigzag deltas: +5, +0, +2
        + b"\x0f"                          # neg store flag: 0b11 | 3<<2
        + b"\x03"                          # uvarint span = 3
        + b"\x04"                          # zigzag offset = 2
        + b"\x02"                          # zigzag index delta = 1
        + b"\x02\x00\x83\x40"              # varfloats 1.0, 0.0, 2.5
    )
    s = enc.decode_sketch(bytes(blob))
    assert s.mapping.gamma == 2.0
    assert s.zero_count == 2.0
    assert np.array_equal(s.pos_idx, [5, 7])
    assert np.allclose(s.pos_cnt, [2.0, 1.0])
    assert np.array_equal(s.neg_idx, [2, 4])  # zero-count bucket 3 dropped
    assert np.allclose(s.neg_cnt, [1.0, 2.5])
    assert s.count == pytest.approx(8.5)
    # round-trip through OUR encoder must preserve every bin
    s2 = enc.decode_sketch(enc.encode_sketch(s))
    assert np.array_equal(s2.pos_idx, s.pos_idx) and np.allclose(s2.pos_cnt, s.pos_cnt)
    assert np.array_equal(s2.neg_idx, s.neg_idx) and np.allclose(s2.neg_cnt, s.neg_cnt)
    assert s2.zero_count == s.zero_count


def test_golden_blob_decode_is_merge():
    """A blob holding TWO positive store blocks (one sparse deltas+counts,
    one index-deltas) plus two zero-count blocks decodes to their SUM —
    the additive flag loop of ddsketch.go:415-475."""
    blob = (
        b"\x02" + _f64(2.0) + _f64(0.0)
        + b"\x04\x02"              # zero count 1.0 (varfloat(1.0) = 0x02)
        + b"\x05\x01\x06\x03"      # pos sparse: 1 bin, delta +3, count 2.0
        + b"\x09\x02\x06\x00"      # pos index-deltas: occurrences at 3, 3
        + b"\x04\x03"              # zero count 2.0 -> totals 3.0
    )
    s = enc.decode_sketch(bytes(blob))
    assert np.array_equal(s.pos_idx, [3])
    assert np.allclose(s.pos_cnt, [4.0])  # 2.0 + two unit occurrences
    assert s.zero_count == pytest.approx(3.0)


# ------------------------------------------------------------ batch kernels
def _codec_cases() -> list[DDSketch]:
    """Seeded sketches covering the three bin framings, the zero bucket, the
    negative store, weighted non-integral counts (9-byte varfloats), the
    empty sketch, a collapsing config and interpolated mappings."""
    rng = np.random.default_rng(20)
    collapsing = DDSketchConfig(alpha=0.05, max_bins=16, collapse="lowest")
    cases = [
        DDSketch(),
        DDSketch.from_values(np.arange(1, 3000, dtype=np.float64)),  # dense
        DDSketch.from_values(np.logspace(-30, 30, 40)),  # index deltas
        DDSketch.from_values(np.repeat(np.logspace(-5, 5, 30), 3)),  # repeats
        DDSketch.from_values(rng.lognormal(0, 4, 200), rng.integers(5, 9, 200)),  # sparse
        DDSketch.from_values(rng.normal(0, 3, 500), rng.random(500) * 2),  # 9-byte counts
        DDSketch.from_values(np.concatenate([-rng.exponential(2, 300), [0.0] * 4])),
        DDSketch.from_values([0.0, 0.0]),
        DDSketch.from_values([-1e300, 1e300, 1e-300]),
        DDSketch.from_values(rng.lognormal(0, 3, 400), config=collapsing),
        DDSketch.from_values(rng.normal(0, 9, 400), config=collapsing),
        DDSketch.from_values(
            rng.lognormal(0, 2, 300), config=DDSketchConfig(interpolation="cubic")
        ),
        DDSketch.from_values(
            rng.normal(5, 2, 300), config=DDSketchConfig(alpha=0.02, interpolation="linear")
        ),
    ]
    # a Kahan compensation that reaches the encoded sum
    merged = DDSketch.from_values([1e16])
    merged.merge(DDSketch.from_values([1.0, 1.0]))
    return cases + [merged]


def _columns(sketches: list[DDSketch]) -> enc.SketchColumns:
    parts = []
    for s in sketches:
        m = s.mapping
        parts.append(enc.SketchColumns(
            np.array([0, s.pos_idx.size, s.pos_idx.size + s.neg_idx.size]),
            np.concatenate([s.pos_idx, s.neg_idx]).astype(np.int64),
            np.concatenate([s.pos_cnt, s.neg_cnt]),
            *(np.array([x]) for x in (
                s.zero_count, s.exact_count, s.exact_sum, s._sum_compensation,
                s.exact_min, s.exact_max,
            )),
            np.array([enc._MAPPING_SUBFLAGS[m.interpolation]], dtype=np.uint8),
            np.array([m.gamma]),
            np.array([m.index_offset]),
        ))
    return enc.concat_sketch_columns(parts)


def _framing(blob: bytes) -> set[int]:
    """Bin encodings used by a blob's store blocks."""
    seen = set()
    b = memoryview(blob)
    pos = 0
    while pos < len(b):
        flag = b[pos]
        if flag & 0b11 in (enc.FLAG_TYPE_POSITIVE_STORE, enc.FLAG_TYPE_NEGATIVE_STORE):
            seen.add(flag >> 2)
            pos = enc._decode_store_into({}, b, pos + 1, flag >> 2)
        elif flag & 0b11 == enc.FLAG_TYPE_INDEX_MAPPING:
            pos += 17
        elif flag in (enc.FLAG_ZERO_COUNT, enc.FLAG_COUNT):
            pos = enc.decode_varfloat64(b, pos + 1)[1]
        else:
            pos += 9
    return seen


def test_encode_sketches_byte_identical():
    cases = _codec_cases()
    want = [enc.encode_sketch(s) for s in cases]
    assert list(enc.encode_sketches(_columns(cases))) == want
    framings = set().union(*map(_framing, want))
    assert framings == {
        enc.BIN_ENCODING_INDEX_DELTAS_AND_COUNTS,
        enc.BIN_ENCODING_INDEX_DELTAS,
        enc.BIN_ENCODING_CONTIGUOUS_COUNTS,
    }
    assert any(
        enc.varfloat64_size(float(c)) == 9 for s in cases for c in s.pos_cnt
    )


def test_decode_sketches_matches_decode_sketch():
    cases = _codec_cases()
    blobs = [enc.encode_sketch(s) for s in cases]
    # a blob without exact stats and one with two blocks per store
    blobs.append(enc.encode_sketch(cases[4], include_exact_stats=False))
    blobs.append(
        b"\x02" + struct.pack("<dd", 2.0, 0.0)
        + b"\x05\x01\x06\x03" + b"\x09\x02\x06\x00" + b"\x04\x03"
    )
    cols = enc.decode_sketches(blobs)
    assert cols.n == len(blobs)
    for i, blob in enumerate(blobs):
        s = enc.decode_sketch(blob)
        pos, neg, end = cols.bounds[2 * i : 2 * i + 3]
        assert np.array_equal(cols.index[pos:neg], s.pos_idx)
        assert np.array_equal(cols.count[pos:neg], s.pos_cnt)
        assert np.array_equal(cols.index[neg:end], s.neg_idx)
        assert np.array_equal(cols.count[neg:end], s.neg_cnt)
        got = (cols.zero_count[i], cols.xcount[i], cols.xsum[i], cols.xmin[i], cols.xmax[i])
        assert got == (s.zero_count, s.exact_count, s.exact_sum, s.exact_min, s.exact_max)
        assert (cols.gamma[i], cols.index_offset[i]) == (s.mapping.gamma, s.mapping.index_offset)
    # decode then encode is the identity on our own blobs
    assert list(enc.encode_sketches(cols))[: len(cases)] == blobs[: len(cases)]


def test_decode_sketches_agrees_on_damaged_blobs():
    """Every truncation and random single-byte corruption of real blobs
    either fails in both decoders or decodes to the same bins and stats."""
    rng = np.random.default_rng(22)
    good = enc.encode_sketch(DDSketch.from_values([2.0]))
    damaged = []
    for s in _codec_cases()[1:7]:
        blob = enc.encode_sketch(s)
        damaged += [blob[:i] for i in range(0, len(blob), 3)]
        for _ in range(60):
            b = bytearray(blob)
            b[rng.integers(len(b))] = rng.integers(256)
            damaged.append(bytes(b))
    for blob in damaged:
        try:
            want = enc.decode_sketch(blob)
        except (enc.DecodingError, ValueError):
            with pytest.raises((enc.DecodingError, ValueError)):
                enc.decode_sketches([good, blob, good])
            continue
        cols = enc.decode_sketches([good, blob, good])
        pos, neg, end = cols.bounds[2:5]
        assert np.array_equal(cols.index[pos:neg], want.pos_idx)
        assert np.array_equal(cols.count[pos:neg], want.pos_cnt, equal_nan=True)
        assert np.array_equal(cols.index[neg:end], want.neg_idx)
        assert np.array_equal(cols.count[neg:end], want.neg_cnt, equal_nan=True)
        got = [cols.zero_count[1], cols.xcount[1], cols.xsum[1], cols.xmin[1], cols.xmax[1]]
        assert np.array_equal(
            got, [want.zero_count, want.exact_count, want.exact_sum, want.exact_min, want.exact_max],
            equal_nan=True,
        )


def test_merge_sketch_runs_matches_merge_fold():
    """Runs merged columnar equal a left-to-right DDSketch.merge fold, bits
    and all (non-integral weights, a carried compensation, collapsing)."""
    rng = np.random.default_rng(21)
    for cfg in (DDSketchConfig(), DDSketchConfig(alpha=0.05, max_bins=40, collapse="highest")):
        parts = [
            DDSketch.from_values(rng.normal(0, 10 ** (i % 4), 50), rng.random(50) * 3, config=cfg)
            for i in range(12)
        ]
        blobs = [enc.encode_sketch(p) for p in parts]
        starts = np.array([0, 1, 5, 11])
        merged = enc.encode_sketches(
            enc.merge_sketch_runs(enc.decode_sketches(blobs, config=cfg), starts, cfg)
        )
        for g, (a, b) in enumerate(zip(starts, list(starts[1:]) + [len(blobs)])):
            acc = enc.decode_sketch(blobs[a], config=cfg)
            for blob in blobs[a + 1 : b]:
                acc.merge(enc.decode_sketch(blob, config=cfg))
            if cfg.collapse == "none":
                assert merged[g] == enc.encode_sketch(acc)
            else:
                # one collapse per merged store: same count, at most max_bins
                m = enc.decode_sketch(merged[g])
                assert m.count == pytest.approx(acc.count)
                assert m.pos_idx.size <= cfg.max_bins and m.neg_idx.size <= cfg.max_bins
    mixed = [enc.encode_sketch(DDSketch.from_values([1.0], config=DDSketchConfig(alpha=a)))
             for a in (0.01, 0.02)]
    with pytest.raises(ValueError):
        enc.merge_sketch_runs(enc.decode_sketches(mixed), np.array([0]))
