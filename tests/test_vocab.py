"""Global token dictionary (O65): counts, rank determinism, remap/unmap
round-trip, strict/lenient unknown handling, and the compression payoff
(remapped sparse-vocab corpus encodes smaller than the original)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark.vocab import (
    build_global_dict,
    remap_tokens,
    token_counts,
    unmap_tokens,
)


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>, source string")


@pytest.fixture(scope="module")
def small(spark):
    return _corpus(
        spark,
        [
            ("a", [5, 5, 5, 9], "s1"),
            ("b", [9, 5, 1000000], "s1"),
            ("c", [], "s2"),
            ("d", [5, 1000000, 1000000, 7], "s2"),
        ],
    )


def test_token_counts_exact(spark, small):
    got = {r["token"]: r["cnt"] for r in token_counts(small).collect()}
    assert got == {5: 5, 9: 2, 1000000: 3, 7: 1}


def test_rank_order_and_ties(spark, small):
    d = {r["token"]: r["rank"] for r in build_global_dict(small).collect()}
    # freq: 5 (x5), 1000000 (x3), 9 (x2), 7 (x1)
    assert d == {5: 0, 1000000: 1, 9: 2, 7: 3}


def test_tie_breaks_on_token_value(spark):
    df = _corpus(spark, [("a", [30, 10, 20, 10, 20, 30], "s")])
    d = {r["token"]: r["rank"] for r in build_global_dict(df).collect()}
    assert d == {10: 0, 20: 1, 30: 2}  # all cnt=2 -> ascending token order


def test_remap_values_and_passthrough(spark, small):
    out = {
        r["doc_id"]: (r["tokens"], r["source"])
        for r in remap_tokens(small).collect()
    }
    assert out["a"] == ([0, 0, 0, 2], "s1")
    assert out["b"] == ([2, 0, 1], "s1")
    assert out["c"] == ([], "s2")
    assert out["d"] == ([0, 1, 1, 3], "s2")


def test_remap_partitioning_invariant(spark, small):
    a = sorted((r["doc_id"], r["tokens"]) for r in remap_tokens(small).collect())
    b = sorted(
        (r["doc_id"], r["tokens"])
        for r in remap_tokens(small.repartition(7)).collect()
    )
    assert a == b


def test_unmap_round_trip(spark, small):
    d = build_global_dict(small)
    back = unmap_tokens(remap_tokens(small, d), d)
    orig = {r["doc_id"]: r["tokens"] for r in small.collect()}
    got = {r["doc_id"]: r["tokens"] for r in back.collect()}
    assert got == orig


def test_strict_raises_on_unknown_token(spark, small):
    d = build_global_dict(small)
    other = _corpus(spark, [("z", [5, 12345], "s")])
    with pytest.raises(Exception, match="absent from the global"):
        remap_tokens(other, d).collect()


def test_lenient_maps_unknown_to_minus_one(spark, small):
    d = build_global_dict(small)
    other = _corpus(spark, [("z", [5, 12345, 9], "s")])
    (row,) = remap_tokens(other, d, strict=False).collect()
    assert row["tokens"] == [0, -1, 2]


def test_max_vocab_guard(spark, small):
    with pytest.raises(ValueError, match="max_vocab"):
        remap_tokens(small, max_vocab=2)


def test_unmap_rejects_foreign_ranks(spark, small):
    d = build_global_dict(small)
    bad = _corpus(spark, [("z", [0, 99], "s")])  # rank 99 >= V=4
    with pytest.raises(Exception, match="outside dictionary range"):
        unmap_tokens(bad, d).collect()


def test_remap_shrinks_sparse_vocab_encoding(spark):
    """The payoff test: a corpus whose tokens are few but numerically huge
    and spread (worst case for FOR/bit-pack) must encode strictly smaller
    after the global remap to dense ranks."""
    from gorilla_stream_spark import encode

    rng = np.random.default_rng(7)
    vocab = rng.choice(np.arange(1, 2**30, dtype=np.int64), size=64, replace=False)
    rows = [
        (f"d{i}", [int(v) for v in rng.choice(vocab, size=200)], "s")
        for i in range(40)
    ]
    df = _corpus(spark, rows)
    plain = encode(df, codec="auto", num_partitions=2)
    remapped = encode(remap_tokens(df), codec="auto", num_partitions=2)
    b_plain = plain.agg(F.sum("enc_bytes")).collect()[0][0]
    b_remap = remapped.agg(F.sum("enc_bytes")).collect()[0][0]
    assert b_remap < b_plain, (b_remap, b_plain)
    # and the remapped table still round-trips bit-identical
    from gorilla_stream_spark import decode

    dec = {r["doc_id"]: r["tokens"] for r in decode(remapped).collect()}
    src = {r["doc_id"]: r["tokens"] for r in remap_tokens(df).collect()}
    assert dec == src


class TestCompareCorpora:
    def test_exact_counts_and_rates(self, spark):
        from gorilla_stream_spark.vocab import compare_corpora

        a = _corpus(spark, [("a1", [1, 1, 2, 3], "s"), ("a2", [2, 2], "s")])
        b = _corpus(spark, [("b1", [2, 4, 4, 4], "s")])
        rows = {r["token"]: r for r in compare_corpora(a, b).collect()}
        assert set(rows) == {1, 2, 3, 4}
        assert (rows[1]["cnt_a"], rows[1]["cnt_b"]) == (2, 0)
        assert (rows[2]["cnt_a"], rows[2]["cnt_b"]) == (3, 1)
        assert (rows[4]["cnt_a"], rows[4]["cnt_b"]) == (0, 3)
        assert rows[2]["rate_a"] == 3 / 6 and rows[2]["rate_b"] == 1 / 4
        import math

        assert math.isclose(rows[2]["log2_ratio"], math.log2((1 / 4) / (3 / 6)))
        assert rows[1]["log2_ratio"] == float("-inf")  # vanished
        assert rows[4]["log2_ratio"] == float("inf")   # appeared

    def test_min_count_filter(self, spark):
        from gorilla_stream_spark.vocab import compare_corpora

        a = _corpus(spark, [("a1", [1, 1, 1, 2], "s")])
        b = _corpus(spark, [("b1", [1, 1, 2], "s")])
        toks = {r["token"] for r in compare_corpora(a, b, min_count=3).collect()}
        assert toks == {1}  # token 2 below min_count on both sides

    def test_identical_corpora_zero_drift(self, spark, small):
        from gorilla_stream_spark.vocab import compare_corpora

        rows = compare_corpora(small, small).collect()
        assert rows and all(abs(r["log2_ratio"]) < 1e-12 for r in rows)


@pytest.mark.parametrize("delta", [-1, 0, 1])
def test_dense_lut_cap_boundary_paths_agree(delta):
    """Token spans at the dense-LUT cap -1/0/+1: the LUT and searchsorted
    paths give identical remaps, and the inverse gather undoes both."""
    from gorilla_stream_spark.codecs.intcodecs import _DENSE_RANGE_CAP
    from gorilla_stream_spark.vocab import _dense_lut, _remap_flat

    span = _DENSE_RANGE_CAP + delta  # LUT length = toks[-1] - toks[0] + 1
    rng = np.random.default_rng(span)
    lo = 1000
    inner = rng.choice(np.arange(lo + 1, lo + span - 1), 5000, replace=False)
    toks = np.unique(np.concatenate(([lo, lo + span - 1], inner))).astype(np.int64)
    ranks = rng.permutation(toks.size).astype(np.int64)
    ranks32 = ranks.astype(np.int32)
    lut = _dense_lut(toks, ranks32)
    assert (lut is None) == (delta > 0)
    if lut is None:  # force the other path for the comparison
        lut = np.full(span, -1, dtype=np.int32)
        lut[toks - lo] = ranks32
    flat = rng.choice(toks, 20_000).astype(np.int32)
    dense = _remap_flat(flat, toks, ranks32, lut, strict=True)
    sparse = _remap_flat(flat, toks, ranks32, None, strict=True)
    np.testing.assert_array_equal(dense, sparse)
    inv = np.empty(ranks.size, dtype=np.int32)
    inv[ranks] = toks.astype(np.int32)
    np.testing.assert_array_equal(inv[dense], flat)
    # unknowns (in and out of the span) map to -1 on both paths
    odd = np.array([lo - 1, lo + span, *np.setdiff1d(np.arange(lo, lo + 50), toks)[:3]], np.int32)
    for path_lut in (lut, None):
        np.testing.assert_array_equal(
            _remap_flat(odd, toks, ranks32, path_lut, strict=False), np.full(odd.size, -1)
        )
        with pytest.raises(ValueError, match="absent from the global"):
            _remap_flat(odd, toks, ranks32, path_lut, strict=True)


def test_remap_roundtrip_above_dense_cap(spark):
    from gorilla_stream_spark.codecs.intcodecs import _DENSE_RANGE_CAP

    hi = 7 + _DENSE_RANGE_CAP  # span cap + 1 -> searchsorted in the worker
    df = _corpus(spark, [("a", [7, hi, 7, 50], "s"), ("b", [hi, 50], "s")])
    d = build_global_dict(df)
    remapped = {r["doc_id"]: r["tokens"] for r in remap_tokens(df, d).collect()}
    assert remapped == {"a": [0, 2, 0, 1], "b": [2, 1]}  # ties: ascending token
    back = {r["doc_id"]: r["tokens"] for r in unmap_tokens(remap_tokens(df, d), d).collect()}
    assert back == {"a": [7, hi, 7, 50], "b": [hi, 50]}
