"""Round-trip unit tests for every numpy codec kernel.

Mirrors the reference's per-stage encoder/decoder test pairs and edge cases
(`/root/reference/test/gorilla_stream_test.exs:43-267`,
`test/chimp_test.exs:5-60`): empty, single, two points, identical values,
alternating, extremes, seeded random.
"""

from __future__ import annotations

import numpy as np
import pytest

from gorilla_stream_spark.codecs import (
    CODEC_NAMES,
    decode_array,
    encode_array,
    codec_of,
    bitio,
    floatcodecs,
    fsst,
    intcodecs,
)
from gorilla_stream_spark.selector import candidate_sizes, select_codec

RNG = np.random.default_rng(42)

EDGE_ARRAYS = {
    "empty": np.array([], dtype=np.int64),
    "single": np.array([7], dtype=np.int64),
    "two": np.array([3, 9], dtype=np.int64),
    "identical": np.full(1000, 42, dtype=np.int64),
    "zeros": np.zeros(257, dtype=np.int64),
    "alternating": np.tile([5, 9], 500).astype(np.int64),
    "max_int32": np.full(100, 2**31 - 1, dtype=np.int64),
    "negatives": np.array([-5, -1, 0, 3, -(2**40)], dtype=np.int64),
    "sorted_gaps": np.cumsum(RNG.integers(0, 7, 5000)).astype(np.int64),
    "counter": np.cumsum(RNG.integers(1, 100, 3000)).astype(np.int64),
    "runs": np.repeat(RNG.integers(0, 50, 40), RNG.integers(1, 200, 40)).astype(np.int64),
    "small_vocab": RNG.integers(0, 256, 10000).astype(np.int64),
    "zipf": np.minimum(RNG.zipf(1.3, 10000), 50256).astype(np.int64),
    "random": RNG.integers(0, 2**31 - 2, 10000).astype(np.int64),
    "narrow": RNG.integers(1000, 1256, 5000).astype(np.int64),
    "int64_extremes": np.array([np.iinfo(np.int64).min + 1, 0, np.iinfo(np.int64).max - 1], dtype=np.int64),
}

INT_CODECS = {
    "raw": (intcodecs.raw_encode, intcodecs.raw_decode),
    "for": (intcodecs.for_encode, intcodecs.for_decode),
    "rle": (intcodecs.rle_encode, intcodecs.rle_decode),
    "dict": (intcodecs.dict_encode, intcodecs.dict_decode),
    "delta": (intcodecs.delta_encode, intcodecs.delta_decode),
    "dod": (intcodecs.dod_encode, intcodecs.dod_decode),
    "forc": (intcodecs.forc_encode, intcodecs.forc_decode),
}


@pytest.mark.parametrize("case", EDGE_ARRAYS)
@pytest.mark.parametrize("codec", INT_CODECS)
def test_int_codec_roundtrip(codec, case):
    a = EDGE_ARRAYS[case]
    enc, dec = INT_CODECS[codec]
    out = dec(enc(a))
    np.testing.assert_array_equal(out, a)
    assert out.dtype == np.int64


@pytest.mark.parametrize(
    "case",
    ["empty", "single", "two", "identical", "alternating", "small_vocab", "zipf", "runs", "sorted_gaps"],
)
def test_fsst_roundtrip(case):
    a = EDGE_ARRAYS[case]
    out = fsst.fsst_decode(fsst.fsst_encode(a))
    np.testing.assert_array_equal(out, a)


def test_fsst_shared_table():
    a = EDGE_ARRAYS["small_vocab"]
    table = fsst.train_pair_table(a[:5000])
    out = fsst.fsst_decode(fsst.fsst_encode(a, table=table))
    np.testing.assert_array_equal(out, a)


def test_fsst_compresses_repetitive():
    a = np.tile([10, 20, 30, 40], 5000).astype(np.int64)
    buf = fsst.fsst_encode(a)
    assert len(buf) < len(intcodecs.dict_encode(a))
    np.testing.assert_array_equal(fsst.fsst_decode(buf), a)


FLOAT_ARRAYS = {
    "empty": np.array([], dtype=np.float64),
    "single": np.array([3.14]),
    "identical": np.full(500, 98.6),
    "signed_zero": np.array([0.0, -0.0, 0.0]),
    "extreme": np.array([1e308, -1e308, 5e-324, float("inf"), -float("inf")]),
    "nan": np.array([1.0, float("nan"), 2.0]),
    "sine": np.sin(np.arange(5000) / 10.0) * 100 + 20,
    "walk": np.cumsum(RNG.normal(0, 0.1, 5000)) + 100,
    "gauge_2dp": np.round(RNG.uniform(10, 30, 5000), 2),
    "step": np.repeat(RNG.uniform(0, 100, 20), 250),
}


@pytest.mark.parametrize("case", FLOAT_ARRAYS)
def test_gxor_roundtrip(case):
    a = FLOAT_ARRAYS[case]
    out = floatcodecs.gxor_decode(floatcodecs.gxor_encode(a))
    # bit-identical, incl. NaN payloads and signed zero
    np.testing.assert_array_equal(out.view(np.uint64), a.view(np.uint64))


def test_gxor_beats_raw_on_stable_series():
    a = FLOAT_ARRAYS["step"]
    assert len(floatcodecs.gxor_encode(a)) < a.nbytes / 4


@pytest.mark.parametrize("case", FLOAT_ARRAYS)
@pytest.mark.parametrize("lag", [1, 3, 24])
def test_xorlag_roundtrip(case, lag):
    a = FLOAT_ARRAYS[case]
    out = floatcodecs.xorlag_decode(floatcodecs.xorlag_encode(a, lag=lag))
    np.testing.assert_array_equal(out.view(np.uint64), a.view(np.uint64))


def test_xorlag_beats_gxor_on_periodic():
    a = np.tile(RNG.normal(50, 5, 24), 500)  # exact period-24 signal
    lag_buf = floatcodecs.xorlag_encode(a)
    assert len(lag_buf) < len(floatcodecs.gxor_encode(a)) / 5


def test_scaledf_roundtrip_and_gating():
    prices = FLOAT_ARRAYS["gauge_2dp"]
    buf = floatcodecs.scaledf_try_encode(prices)
    assert buf is not None
    out = floatcodecs.scaledf_decode(buf)
    np.testing.assert_array_equal(out.view(np.uint64), prices.view(np.uint64))
    # non-finite and signed-zero inputs must refuse (exact-reversibility gate)
    assert floatcodecs.scaledf_try_encode(FLOAT_ARRAYS["nan"]) is None
    assert floatcodecs.scaledf_try_encode(FLOAT_ARRAYS["signed_zero"]) is None
    # full-precision randoms refuse too (no decimal scale fits)
    assert floatcodecs.scaledf_try_encode(FLOAT_ARRAYS["walk"]) is None


@pytest.mark.parametrize("case", FLOAT_ARRAYS)
def test_fauto_roundtrip(case):
    from gorilla_stream_spark.codecs import decode_array, encode_array

    a = FLOAT_ARRAYS[case]
    out = decode_array(encode_array(a, codec="fauto"))
    np.testing.assert_array_equal(out.view(np.uint64), a.view(np.uint64))


def test_fauto_picks_specialist_codecs():
    from gorilla_stream_spark.codecs import codec_of, encode_array

    periodic = np.tile(RNG.normal(50, 5, 24), 500)
    assert codec_of(encode_array(periodic, codec="fauto")) == "xorlag"
    assert codec_of(encode_array(FLOAT_ARRAYS["gauge_2dp"], codec="fauto")) == "scaledf"


@pytest.mark.parametrize("method", ["zlib", "zstd", "auto"])
def test_container_roundtrip(method):
    from gorilla_stream_spark.codecs import decode_array, encode_array, wrap_container

    a = RNG.integers(0, 100, 20000).astype(np.int64)
    inner = encode_array(a, codec="raw")
    wrapped = wrap_container(inner, method)
    np.testing.assert_array_equal(decode_array(wrapped), a)


def test_container_auto_never_grows():
    from gorilla_stream_spark.codecs import encode_array, wrap_container

    a = RNG.integers(0, 2**31 - 1, 20000).astype(np.int64)  # incompressible
    inner = encode_array(a, codec="raw")
    assert len(wrap_container(inner, "auto")) <= len(inner)


def test_bitio_roundtrip():
    for width in [0, 1, 2, 3, 7, 8, 13, 31, 32, 33, 63, 64]:
        vals = RNG.integers(0, 2 ** min(width, 63), 1000).astype(np.uint64) if width else np.zeros(5, np.uint64)
        out = bitio.unpack(bitio.pack(vals, width), width, vals.size)
        np.testing.assert_array_equal(out, vals)


def test_zigzag():
    v = np.array([0, -1, 1, -2, 2, np.iinfo(np.int64).max // 2], dtype=np.int64)
    np.testing.assert_array_equal(bitio.unzigzag(bitio.zigzag(v)), v)
    np.testing.assert_array_equal(bitio.zigzag(np.array([0, -1, 1], dtype=np.int64)), [0, 1, 2])


# --- registry + selector ---------------------------------------------------


@pytest.mark.parametrize("case", EDGE_ARRAYS)
def test_auto_roundtrip_and_self_describing(case):
    a = EDGE_ARRAYS[case]
    buf = encode_array(a, codec="auto")
    assert codec_of(buf) in CODEC_NAMES.values()
    np.testing.assert_array_equal(decode_array(buf), a)


def test_selector_picks_sane_codecs():
    # constant block degenerates to width-0 frame-of-reference (13 B total),
    # beating RLE's two sub-buffers — analog of the reference's 0.024 ratio
    # on identical values (docs/performance_guide.md:35)
    assert select_codec(EDGE_ARRAYS["identical"]) == "for"
    assert select_codec(EDGE_ARRAYS["runs"]) == "rle"
    assert select_codec(EDGE_ARRAYS["sorted_gaps"]) in ("delta", "dod")
    assert select_codec(EDGE_ARRAYS["small_vocab"]) in ("dict", "for", "fsst")
    # random data must not blow up vs raw-ish sizes (reference README.md:166-168)
    sizes = candidate_sizes(EDGE_ARRAYS["random"])
    chosen = sizes[select_codec(EDGE_ARRAYS["random"])]
    assert chosen <= sizes["raw"] * 1.05


def test_candidate_sizes_are_exact():
    for case in ("identical", "runs", "small_vocab", "sorted_gaps", "narrow", "random", "counter"):
        a = EDGE_ARRAYS[case]
        sizes = candidate_sizes(a, try_fsst=False)
        for name, (enc, _) in INT_CODECS.items():
            assert sizes[name] == len(enc(a)), f"{case}/{name}"


def test_paged_roundtrip_and_majority():
    from gorilla_stream_spark.codecs import decode_array, encode_paged

    # heterogeneous stretches: constant ++ random ++ sorted
    a = np.concatenate(
        [
            np.full(70000, 5, dtype=np.int64),
            RNG.integers(0, 2**30, 70000).astype(np.int64),
            np.cumsum(RNG.integers(0, 4, 70000)).astype(np.int64),
        ]
    )
    buf, name = encode_paged(a, codec="auto", page_tokens=1 << 16)
    np.testing.assert_array_equal(decode_array(buf), a)
    # paged selection must beat single-codec whole-block encoding
    single = encode_array(a, codec="auto")
    assert len(buf) < len(single)


def test_paged_small_block_is_unpaged():
    from gorilla_stream_spark.codecs import codec_of, encode_paged

    a = RNG.integers(0, 100, 1000).astype(np.int64)
    buf, name = encode_paged(a, codec="auto", page_tokens=1 << 16)
    assert codec_of(buf) == name  # no paging overhead below one page


def test_sampled_selection_quality():
    # end-to-end selection quality on large (sampled-path) arrays: auto must
    # stay within 5% of the best single codec on every generator stratum
    from gorilla_stream_spark.codecs import INT_ENCODERS, decode_array, encode_array

    rng = np.random.default_rng(11)
    strata = {
        "constant": np.full(1 << 18, 7, dtype=np.int64),
        "runs": np.repeat(rng.integers(0, 50, 4000), rng.integers(10, 200, 4000))[: 1 << 18],
        "small_vocab": rng.integers(0, 256, 1 << 18),
        "zipf": np.minimum(rng.zipf(1.2, 1 << 18), 50256),
        "sorted": np.sort(rng.integers(0, 1 << 30, 1 << 18)),
        "counter": np.cumsum(rng.integers(0, 9, 1 << 18)),
        "random": rng.integers(0, 2**31 - 2, 1 << 18),
    }
    for name, a in strata.items():
        a = a.astype(np.int64)
        auto = encode_array(a, codec="auto")
        best = min(
            len(encode_array(a, codec=c)) for c in ("raw", "for", "forc", "rle", "dict", "delta", "dod", "fsst")
        )
        assert len(auto) <= best * 1.05 + 64, (name, len(auto), best)
        np.testing.assert_array_equal(decode_array(auto), a)


def test_beats_reference_size_anchor_on_sensor_data():
    # the reference's published benchmark: 5,000 realistic sensor points
    # (60s interval, 20 + 5*sin(2*pi*i/1440) + N(0, 0.3) — temperature
    # profile, /root/reference/lib/gorilla_stream/performance/
    # realistic_data.ex:100-116) compress to 41,996 bytes with Gorilla
    # (docs/performance_guide.md:64-70).  North rule: match-or-beat at
    # bit-lossless round-trip.
    rng = np.random.default_rng(1234)
    n = 5000
    ts = (1_609_459_200 + 60 * np.arange(n)).astype(np.int64)
    vals = 20.0 + 5.0 * np.sin(2 * np.pi * np.arange(n) / 1440) + rng.normal(0, 0.3, n)
    tbuf = encode_array(ts, codec="auto")
    vbuf = encode_array(vals, codec="fauto")
    assert len(tbuf) + len(vbuf) <= 41_996, (len(tbuf), len(vbuf))
    np.testing.assert_array_equal(decode_array(tbuf), ts)
    np.testing.assert_array_equal(
        decode_array(vbuf).view(np.uint64), vals.view(np.uint64)
    )


def test_dod_int64_extreme_first_delta():
    # first delta overflows int64 (a[1]-a[0] = 2^64-1): must wrap, not raise
    a = np.array([-2**63, 2**63 - 1, 0, -2**62, 2**62], dtype=np.int64)
    out = intcodecs.dod_decode(intcodecs.dod_encode(a))
    np.testing.assert_array_equal(out, a)


def test_encode_rejects_oversized_input(monkeypatch):
    # oversized inputs must fail at WRITE time (decoders bound header counts,
    # so an encoder that accepted more would write unreadable buffers)
    from gorilla_stream_spark.codecs import bitio as _bitio
    from gorilla_stream_spark import codecs as _codecs

    monkeypatch.setattr(_bitio, "MAX_COUNT", 100)
    a = np.arange(101, dtype=np.int64)
    with pytest.raises(ValueError, match="implausible"):
        _codecs.encode_array(a, codec="raw")


def test_zlib_container_length_bound_and_mismatch():
    import struct as _struct
    import zlib as _zlib
    from gorilla_stream_spark import codecs as _codecs

    inner = _codecs.encode_array(np.arange(100, dtype=np.int64), codec="raw")
    comp = _zlib.compress(inner, 6)
    # corrupt header: implausibly large declared size
    bad = bytes([_codecs.CONTAINER, 1]) + _struct.pack("<I", 2**31 + 2**20) + comp
    with pytest.raises(ValueError, match="implausible container"):
        _codecs.decode_array(bad)
    # corrupt header: declared size smaller than the actual payload — the
    # container's own gate must catch it (decompress(max_length) truncates,
    # so without the end-of-stream check a silent prefix would reach the
    # inner decoder)
    bad2 = bytes([_codecs.CONTAINER, 1]) + _struct.pack("<I", len(inner) - 7) + comp
    with pytest.raises(ValueError, match="does not end at declared"):
        _codecs.decode_array(bad2)
    # trailing garbage after a valid zlib stream must also fail the gate
    bad3 = bytes([_codecs.CONTAINER, 1]) + _struct.pack("<I", len(inner)) + comp + b"JUNK"
    with pytest.raises(ValueError, match="does not end at declared"):
        _codecs.decode_array(bad3)
    # and the well-formed wrapper still round-trips
    good = bytes([_codecs.CONTAINER, 1]) + _struct.pack("<I", len(inner)) + comp
    np.testing.assert_array_equal(
        _codecs.decode_array(good), np.arange(100, dtype=np.int64)
    )


def test_scaledf_inner_count_mismatch_raises():
    import struct as _struct
    from gorilla_stream_spark.codecs import floatcodecs as fc

    vals = np.round(np.arange(50) * 0.25, 2)
    buf = fc.scaledf_try_encode(vals)
    assert buf is not None
    # bump the declared count: inner decode returns fewer ints than n
    n, k = _struct.unpack_from("<IB", buf, 0)
    bad = _struct.pack("<IB", n + 1, k) + bytes(buf[5:])
    with pytest.raises(ValueError, match="scaledf inner count"):
        fc.scaledf_decode(bad)


def test_container_levels_roundtrip_and_tradeoff():
    from gorilla_stream_spark import codecs as _codecs

    rng = np.random.default_rng(3)
    a = np.repeat(rng.integers(0, 50, 200), rng.integers(1, 40, 200)).astype(np.int64)
    inner = _codecs.encode_array(a, codec="raw")  # leave room for the container
    sizes = {}
    for method, levels in (("zlib", [1, 6, 9]), ("zstd", [1, 9, 19])):
        for lv in levels:
            w = _codecs.wrap_container(inner, method=method, level=lv)
            np.testing.assert_array_equal(_codecs.decode_array(w), a)
            sizes[(method, lv)] = len(w)
    assert sizes[("zstd", 19)] <= sizes[("zstd", 1)]
    assert sizes[("zlib", 9)] <= sizes[("zlib", 1)]
    with pytest.raises(ValueError, match="out of range"):
        _codecs.wrap_container(inner, method="zstd", level=23)
    with pytest.raises(ValueError, match="out of range"):
        _codecs.wrap_container(inner, method="zlib", level=10)


def test_fauto_beats_gorilla_and_chimp_cost_models():
    # evidence for the reference's "Chimp saves ~2 bits/value" claim
    # (README.md:83-84) AND that our per-block window search + decimal
    # scaling subsumes both published layouts on their own pattern shapes
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from chimp_vs_gxor import chimp_cost_bits, gorilla_cost_bits, profiles

    for name, vals in profiles(n=2000).items():
        n = vals.size
        g = gorilla_cost_bits(vals) / n
        c = chimp_cost_bits(vals) / n
        gx = len(floatcodecs.gxor_encode(vals)) * 8 / n
        fa = len(encode_array(vals, codec="fauto")) * 8 / n
        assert fa <= min(g, c) + 0.05, f"{name}: fauto {fa:.2f} vs best {min(g,c):.2f}"
        assert gx <= c + 2.5, f"{name}: gxor {gx:.2f} vs chimp {c:.2f}"


def test_openzl_container_guarded():
    # openzl mirrors the reference's opt-in optional-native-dep container:
    # with the lib absent, requesting it fails cleanly at encode AND a buffer
    # claiming openzl fails cleanly at decode; with it present, round-trips
    import struct as _struct

    from gorilla_stream_spark import codecs as _codecs

    inner = _codecs.encode_array(np.arange(64, dtype=np.int64), codec="raw")
    if _codecs._OPENZL_MOD is None:
        with pytest.raises(ValueError, match="openzl codec unavailable"):
            _codecs.wrap_container(inner, "openzl")
        fake = bytes([_codecs.CONTAINER, _codecs._OPENZL]) + _struct.pack(
            "<I", len(inner)
        ) + b"\x00" * 8
        with pytest.raises(ValueError, match="openzl container but codec unavailable"):
            _codecs.decode_array(fake)
    else:  # pragma: no cover - environment-dependent
        wrapped = _codecs.wrap_container(inner, "openzl")
        np.testing.assert_array_equal(
            _codecs.decode_array(wrapped), np.arange(64, dtype=np.int64)
        )


def test_fsst_decode_rejects_inflated_count():
    import struct

    import numpy as np

    from gorilla_stream_spark.codecs.fsst import fsst_decode, fsst_encode

    rng = np.random.default_rng(3)
    a = np.repeat(rng.integers(0, 50, 100), 16).astype(np.int64)
    buf = fsst_encode(a)
    n, tsize = struct.unpack_from("<II", buf, 0)
    assert n == a.size
    forged = struct.pack("<I", n + 100) + buf[4:]
    with pytest.raises((ValueError, IndexError)):
        fsst_decode(forged)


def test_fsst_encode_rejects_oversized_table():
    import numpy as np

    from gorilla_stream_spark.codecs.fsst import MAX_TABLE, fsst_encode

    a = np.arange(100, dtype=np.int64)
    big = np.arange(MAX_TABLE + 1, dtype=np.uint64)
    with pytest.raises(ValueError, match="table size"):
        fsst_encode(a, table=big)


def test_bitio_unpack_truncated_ndarray_raises():
    import numpy as np

    from gorilla_stream_spark.codecs import bitio

    packed = np.frombuffer(bitio.pack(np.arange(16, dtype=np.uint64), 5), np.uint8)
    with pytest.raises(ValueError, match="need"):
        bitio.unpack(packed[:4], 5, 16)
    # intact ndarray still round-trips
    out = bitio.unpack(packed, 5, 16)
    assert list(out) == list(range(16))


def test_encode_paged_majority_tiebreak_deterministic():
    import numpy as np

    from gorilla_stream_spark.codecs import encode_paged

    # two pages: one constant (rle), one random (raw/for family) — the
    # majority name on a 1-1 tie must be stable across hash seeds
    # (alphabetical winner)
    page = 1 << 16
    a = np.concatenate([
        np.zeros(page, dtype=np.int64),
        np.random.default_rng(1).integers(0, 1 << 40, page),
    ])
    names = {encode_paged(a, page_tokens=page)[1] for _ in range(5)}
    assert len(names) == 1


def test_fsst_decode_rejects_forged_count_on_dict_fallback():
    import struct

    import numpy as np

    from gorilla_stream_spark.codecs.fsst import fsst_decode, fsst_encode

    a = np.array([5], dtype=np.int64)  # n < 2 -> tsize == 0 fallback path
    buf = fsst_encode(a)
    n, tsize = struct.unpack_from("<II", buf, 0)
    assert tsize == 0
    forged = struct.pack("<I", n + 3) + buf[4:]
    with pytest.raises(ValueError, match="count mismatch"):
        fsst_decode(forged)


def test_selector_estimate_int64_extremes_no_warning():
    # int64-extreme inputs: the size estimator must use exact python-int
    # ranges — numpy scalar subtraction wrapped (and raised a
    # RuntimeWarning) here before; the estimate itself must price the
    # full 64-bit residual width, matching what for_encode would emit
    import warnings

    import numpy as np

    from gorilla_stream_spark.selector import block_estimate

    a = np.array(
        [np.iinfo(np.int64).min, 0, np.iinfo(np.int64).max] * 40, dtype=np.int64
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        feats, sizes = block_estimate(a)
    # exact range is ~2^64-1 -> 64-bit FOR residuals: 13 header + 8 B/value
    assert sizes["for"] == 13 + a.size * 8
    assert all(v > 0 for v in sizes.values())


def test_bitio_pack_msb_layout_all_widths():
    # pin the wire format (MSB-first fixed-width stream) against a scalar
    # python-int reference for every width, so the byte-multiple fast path
    # and the lane path can never drift apart
    rng = np.random.default_rng(99)
    for width in range(1, 65):
        hi = 2**width if width < 64 else 2**63
        vals = rng.integers(0, hi, 37).astype(np.uint64)
        acc = 0
        for v in vals:
            acc = (acc << width) | int(v)
        nbits = 37 * width
        pad = (-nbits) % 8
        expect = (acc << pad).to_bytes((nbits + pad) // 8, "big")
        assert bitio.pack(vals, width) == expect, f"width {width}"
        np.testing.assert_array_equal(bitio.unpack(expect, width, 37), vals)


def test_sorted_unique_inverse_dense_matches_unique():
    # the dense-LUT fast path (compact ranges) and the factorize fallback
    # (wide ranges) must both reproduce np.unique(return_inverse=True)
    from gorilla_stream_spark.codecs.intcodecs import sorted_unique_inverse

    rng = np.random.default_rng(17)
    cases = [
        rng.integers(0, 50_000, 100_000).astype(np.int64),  # dense path
        rng.integers(-500, 500, 10_000).astype(np.int64),  # dense, negatives
        rng.integers(-(2**62), 2**62, 20_000).astype(np.int64),  # fallback
        np.array(  # fallback: extreme range must not overflow the subtract
            [np.iinfo(np.int64).min, np.iinfo(np.int64).max, 3, 3], dtype=np.int64
        ),
        rng.integers(0, 10_000_000, 100).astype(np.int64),  # tiny n, wide rng
    ]
    for a in cases:
        vocab, codes = sorted_unique_inverse(a)
        v_ref, c_ref = np.unique(a, return_inverse=True)
        np.testing.assert_array_equal(vocab, v_ref)
        np.testing.assert_array_equal(codes, c_ref)
        assert vocab.dtype == np.int64


def test_rle_decode_rejects_mismatched_stream_counts():
    # a single corrupted byte can rewrite the embedded FOR sub-stream header
    # so vals decodes to k elements while lens stays [n]: np.repeat(vals,
    # lens) would then emit k*n values (hypothesis-found, 150M from a 39-byte
    # buffer) while the lens.sum() == n guard still passes
    import struct as _struct

    from gorilla_stream_spark.codecs import decode_array, encode_array

    vals = np.zeros(135, dtype=np.int64)
    buf = bytearray(encode_array(vals, codec="rle"))
    buf[15] = 31  # inside the vals FOR sub-stream header
    with pytest.raises(ValueError, match="rle stream counts"):
        decode_array(bytes(buf))
    # intact buffers still round-trip
    np.testing.assert_array_equal(decode_array(bytes(encode_array(vals, codec="rle"))), vals)


def test_rle_decode_rejects_wrapping_run_lengths():
    # lens [2^63-1, 2^63-1, n+2] sum to n modulo 2^64: the sum guard alone
    # passes them on to np.repeat
    import struct as _struct

    n = 10
    big = np.iinfo(np.int64).max
    vbuf = intcodecs.for_encode(np.array([1, 2, 3], dtype=np.int64))
    lbuf = intcodecs.for_encode(np.array([big, big, n + 2], dtype=np.int64))
    assert int(np.array([big, big, n + 2], dtype=np.int64).sum()) == n
    buf = _struct.pack("<III", n, 3, len(vbuf)) + vbuf + lbuf
    with pytest.raises(ValueError, match="rle run length"):
        intcodecs.rle_decode(buf)
    for lens in ([0, n], [-1, n + 1], [n + 1]):
        lens = np.array(lens, dtype=np.int64)
        vb = intcodecs.for_encode(np.arange(lens.size, dtype=np.int64))
        bad = _struct.pack("<III", n, lens.size, len(vb)) + vb + intcodecs.for_encode(lens)
        with pytest.raises(ValueError, match="rle run length"):
            intcodecs.rle_decode(bad)
