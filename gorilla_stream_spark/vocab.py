"""Corpus-global token dictionary — frequency-ranked vocabulary remap.

A per-block ``dict`` codec (``intcodecs.dict_encode``) pays for its local
symbol table in every block; when the corpus shares one vocabulary (the
normal case for tokenizer output) a corpus-GLOBAL dictionary does better:
remap every token to its frequency rank once, and every downstream block
sees small dense ids — ``for``/bit-pack widths drop to ``ceil(log2(V))``
and the skewed head of the distribution lands in the low bytes where the
zstd/zlib containers are most effective.  This is the classic two-pass
global dictionary encoding from columnar warehouses (C-Store/Vertica-style),
re-expressed Spark-first; the reference has no corpus-wide pass at all (its
unit is one stream, `gorilla_stream.ex:1-40`), which is exactly why a 100 TB
table needs this operator.

Scale design (the 100 TB question):

* ``token_counts`` — the ONLY corpus-wide pass.  An Arrow kernel runs
  ``np.unique`` per record batch (the map-side combine), so the shuffle
  carries at most ``partitions x vocab`` tiny ``(token, cnt)`` rows — never
  the token stream itself.  Spark's hash aggregate finishes the sum.
* ``build_global_dict`` — a rank over the VOCABULARY (#distinct tokens,
  ~50K-1M for real tokenizers), not the corpus: the single-partition
  window sort is microscopic next to the scan and is documented as such.
* ``remap_tokens`` / ``unmap_tokens`` — map-only: the dict rides a task
  broadcast as two aligned numpy arrays; the kernel is one
  ``np.searchsorted`` (remap) or one fancy-index gather (unmap) over the
  zero-copy flattened batch.  No shuffle, no per-row Python.
* ``max_vocab`` guards the broadcast: beyond it the dict no longer fits a
  task closure comfortably and the caller should fall back to per-block
  ``dict`` codec (raised loudly, never silently truncated).

Determinism: ranks are ordered by ``(count DESC, token ASC)`` — ties break
on the token value, so the mapping is a pure function of the corpus
contents, independent of partitioning (the same property every other
operator in this repo guarantees).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gorilla_stream_spark.codecs.intcodecs import _DENSE_RANGE_CAP
from gorilla_stream_spark.engine import _flatten_arrow

__all__ = [
    "token_counts",
    "build_global_dict",
    "remap_tokens",
    "unmap_tokens",
    "compare_corpora",
    "unigram_logprob",
]

DEFAULT_MAX_VOCAB = 1 << 24  # 16M entries ~= 192 MB broadcast ceiling


def token_counts(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Exact per-token occurrence counts over the whole corpus.

    Output ``(token int, cnt long)``.  The Arrow kernel pre-aggregates each
    record batch with ``np.unique`` so the shuffle moves per-partition
    vocabulary rows, not tokens.
    """
    import pyarrow as pa

    def fn(batches: Iterator) -> Iterator:
        # one accumulator per TASK (not per batch): per-batch np.unique
        # results merge via a second vectorized unique+segment-sum, so a
        # partition emits each token once and never loops per token
        u_parts: list[np.ndarray] = []
        c_parts: list[np.ndarray] = []
        for rb in batches:
            tok_arr = rb.column(rb.schema.get_field_index(tokens_col))
            # dtype=None: keep the Arrow child buffer's own dtype (int32 for
            # the engine's token schema) — counting never needs the widening
            # copy to int64 that the default would pay per batch
            flat, _ = _flatten_arrow(tok_arr, dtype=None)
            if flat.size == 0:
                continue
            lo, hi = int(flat.min()), int(flat.max())
            if 0 <= lo and hi - lo < (1 << 22):
                # dense-ish batch range (every real tokenizer vocab): O(n)
                # bincount beats np.unique's O(n log n) sort ~3x; the
                # <=4M-slot histogram is ~32 MB worst case, transient
                hist = np.bincount(flat - lo, minlength=hi - lo + 1)
                nz = np.flatnonzero(hist)
                u_parts.append((nz + lo).astype(np.int64))
                c_parts.append(hist[nz].astype(np.int64))
            else:
                uniq, cnt = np.unique(flat, return_counts=True)
                u_parts.append(uniq.astype(np.int64, copy=False))
                c_parts.append(cnt.astype(np.int64))
        if u_parts:
            cat_u = np.concatenate(u_parts)
            cat_c = np.concatenate(c_parts)
            toks, inv = np.unique(cat_u, return_inverse=True)
            cnts = np.zeros(toks.size, dtype=np.int64)
            np.add.at(cnts, inv, cat_c)
            yield pa.RecordBatch.from_arrays(
                [pa.array(toks, type=pa.int32()), pa.array(cnts, type=pa.int64())],
                names=["token", "cnt"],
            )

    partial = df.select(tokens_col).mapInArrow(fn, "token int, cnt long")
    return partial.groupBy("token").agg(F.sum("cnt").cast("long").alias("cnt"))


def build_global_dict(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Frequency-ranked global dictionary ``(token, rank, cnt)``.

    ``rank`` is dense 0-based, most frequent first, ties broken by token
    value ascending — deterministic and partitioning-independent.  The
    unpartitioned window sorts only the vocabulary (see module docstring).
    """
    counts = token_counts(df, tokens_col)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return counts.select(
        "token",
        (F.row_number().over(w) - F.lit(1)).cast("int").alias("rank"),
        "cnt",
    )


def compare_corpora(
    df_a: DataFrame,
    df_b: DataFrame,
    tokens_col: str = "tokens",
    min_count: int = 1,
) -> DataFrame:
    """Token-distribution drift between two corpora (ops tool).

    The question every training-mix change raises: "what did this filter /
    new source / re-sample do to the token distribution?".  Output one row
    per token seen in either corpus (with ``cnt >= min_count`` on at least
    one side): ``(token, cnt_a, cnt_b, rate_a, rate_b, log2_ratio)`` where
    ``log2_ratio = log2(rate_b / rate_a)`` with zero-side rows mapped to
    +/-inf — sort by it to see what grew/vanished.  Rates are frequencies
    over the RETAINED rows: with ``min_count > 1`` the denominators are
    the post-filter totals (the q62 oracle pins this definition), so
    near-threshold drift signs are relative to the filtered distribution —
    pass ``min_count=1`` (default) for whole-corpus rates.

    Cost: two counting passes (each the partial-agg kernel from
    :func:`token_counts` — shuffles vocabulary rows, never tokens) and one
    vocabulary-sized outer join.  No driver collect, no broadcast: safe at
    any vocabulary size, unlike the remap path.
    """
    ca = token_counts(df_a, tokens_col).withColumnRenamed("cnt", "cnt_a")
    cb = token_counts(df_b, tokens_col).withColumnRenamed("cnt", "cnt_b")
    joined = ca.join(cb, "token", "full_outer").select(
        "token",
        F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
        F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
    )
    if min_count > 1:
        joined = joined.filter(
            (F.col("cnt_a") >= min_count) | (F.col("cnt_b") >= min_count)
        )
    # corpus totals ride a broadcast single-row cross join (no
    # single-partition window shuffle of the vocab table)
    tot = joined.agg(
        F.sum("cnt_a").alias("__ta"), F.sum("cnt_b").alias("__tb")
    )
    rate_a = F.col("cnt_a") / F.col("__ta")
    rate_b = F.col("cnt_b") / F.col("__tb")
    return joined.crossJoin(F.broadcast(tot)).select(
        "token",
        "cnt_a",
        "cnt_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        F.when((F.col("cnt_a") > 0) & (F.col("cnt_b") > 0), F.log2(rate_b / rate_a))
        .when(F.col("cnt_b") > 0, F.lit(float("inf")))
        .otherwise(F.lit(float("-inf")))
        .alias("log2_ratio"),
    )


def _collect_dict(dict_df: DataFrame, max_vocab: int) -> tuple[np.ndarray, np.ndarray]:
    """Dict table -> aligned (tokens_sorted_asc, rank_of_token) arrays.

    Bounded collect: the LIMIT probe fails loudly BEFORE materializing an
    over-budget vocabulary on the driver.
    """
    # one action total: the LIMIT rides the same job as the collect, so the
    # counts+rank lineage is computed once, and an over-budget vocabulary
    # fails loudly after materializing at most max_vocab+1 tiny rows
    pdf = dict_df.select("token", "rank").limit(max_vocab + 1).toPandas()
    if len(pdf) > max_vocab:
        raise ValueError(
            f"global dictionary exceeds max_vocab={max_vocab} entries — a"
            " broadcast remap no longer pays; use the per-block 'dict' codec"
            " or raise max_vocab explicitly"
        )
    toks = pdf["token"].to_numpy(dtype=np.int64)
    ranks = pdf["rank"].to_numpy(dtype=np.int64)
    order = np.argsort(toks, kind="stable")
    toks, ranks = toks[order], ranks[order]
    if toks.size and np.any(toks[1:] == toks[:-1]):
        raise ValueError("duplicate token values in dictionary table")
    v = ranks.size
    if v and (ranks.min() != 0 or ranks.max() != v - 1 or np.unique(ranks).size != v):
        raise ValueError("dictionary ranks are not dense 0..V-1")
    return toks, ranks


def _dense_lut(toks: np.ndarray, ranks32: np.ndarray) -> np.ndarray | None:
    """token - toks[0] -> rank (-1 for absent) as one int32 LUT, or None when
    the token span exceeds ``_DENSE_RANGE_CAP`` (8 MB of int32 per task)."""
    if not toks.size or int(toks[-1]) - int(toks[0]) + 1 > _DENSE_RANGE_CAP:
        return None
    lut = np.full(int(toks[-1]) - int(toks[0]) + 1, -1, dtype=np.int32)
    lut[(toks - np.int64(toks[0])).astype(np.intp)] = ranks32
    return lut


def _remap_flat(
    flat: np.ndarray, toks: np.ndarray, ranks32: np.ndarray, lut: np.ndarray | None, strict: bool
) -> np.ndarray:
    """token -> int32 rank over a flat token array (-1 for unknowns when not
    ``strict``).  Every real tokenizer vocabulary spans a compact id range,
    so token -> rank is one LUT gather (O(n)); sparse/wide vocabularies
    (``lut is None``) take a searchsorted (O(n log V)).  Identical results."""
    if toks.size == 0:
        if strict and flat.size:
            raise ValueError("empty global dictionary with non-empty tokens")
        return np.full(flat.shape, -1, dtype=np.int32)
    if lut is not None:
        lo_t = np.int64(toks[0])
        hi_t = np.int64(toks[-1])
        # chunked gather: the int64 index temporary stays ~16 MB so
        # worker heap is reused batch-to-batch (engine
        # _KERNEL_SLICE_TOKENS rationale)
        out = np.empty(flat.shape, dtype=np.int32)
        ch = 2_000_000
        for s0 in range(0, flat.size, ch):
            seg = flat[s0 : s0 + ch]
            inb = (seg >= lo_t) & (seg <= hi_t)
            if inb.all():
                out[s0 : s0 + ch] = lut[(seg.astype(np.int64) - lo_t)]
            else:
                o = np.full(seg.shape, -1, dtype=np.int32)
                if inb.any():
                    o[inb] = lut[(seg[inb].astype(np.int64) - lo_t)]
                out[s0 : s0 + ch] = o
    else:
        toks_t = toks.astype(flat.dtype, copy=False)
        pos = np.searchsorted(toks_t, flat)
        safe = np.minimum(pos, toks_t.size - 1)
        hit = (pos < toks_t.size) & (toks_t[safe] == flat)
        out = np.where(hit, ranks32[safe], np.int32(-1))
    if strict and flat.size:
        miss = int((out < 0).sum())
        if miss:
            raise ValueError(
                f"{miss} token(s) absent from the global"
                " dictionary — rebuild the dict over the full"
                " corpus or pass strict=False (maps to -1)"
            )
    return out


def _remap_fn(tokens_col: str, bc, strict: bool, inverse: bool):
    """Shared Arrow kernel for remap (token -> rank) and unmap (gather)."""
    import pyarrow as pa

    def fn(batches: Iterator) -> Iterator:
        toks, ranks = bc.value
        # gather tables in int32 (max_vocab bounds both values): the kernel
        # then runs int32 in -> int32 out with no widening copies — the old
        # int64 path copied every batch twice (flatten widen + final cast)
        ranks32 = ranks.astype(np.int32, copy=False)
        if inverse:
            # ranks are dense 0..V-1 -> direct int32 gather table
            inv = np.empty(ranks.size, dtype=np.int32)
            inv[ranks] = toks.astype(np.int32)
        else:
            lut = _dense_lut(toks, ranks32)
        for rb in batches:
            idx = rb.schema.get_field_index(tokens_col)
            tok_arr = rb.column(idx)
            flat, lens = _flatten_arrow(tok_arr, dtype=None)
            if inverse:
                if flat.size and (flat.min() < 0 or flat.max() >= ranks.size):
                    raise ValueError(
                        "rank outside dictionary range — table was not"
                        " produced by remap_tokens with this dictionary"
                    )
                out = inv[flat] if flat.size else flat.astype(np.int32)
            else:
                out = _remap_flat(flat, toks, ranks32, lut, strict)
            offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
            new_col = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(out.astype(np.int32, copy=False), type=pa.int32()),
            )
            arrays = [
                new_col if i == idx else rb.column(i) for i in range(rb.num_columns)
            ]
            fields = [
                pa.field(tokens_col, pa.list_(pa.int32())) if i == idx else rb.schema.field(i)
                for i in range(rb.num_columns)
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

    return fn


def _out_schema(df: DataFrame, tokens_col: str):
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    fields = [
        StructField(tokens_col, ArrayType(IntegerType(), containsNull=False), f.nullable)
        if f.name == tokens_col
        else f
        for f in df.schema.fields
    ]
    return StructType(fields)


def remap_tokens(
    df: DataFrame,
    dict_df: DataFrame | None = None,
    tokens_col: str = "tokens",
    strict: bool = True,
    max_vocab: int = DEFAULT_MAX_VOCAB,
) -> DataFrame:
    """Rewrite ``tokens_col`` to global frequency ranks (map-only pass).

    ``dict_df`` defaults to ``build_global_dict(df)``.  ``strict=True``
    raises on a token missing from the dictionary (the encode-side
    contract); ``strict=False`` maps unknowns to -1 for exploratory use.
    All other columns pass through untouched.
    """
    if dict_df is None:
        dict_df = build_global_dict(df, tokens_col)
    toks, ranks = _collect_dict(dict_df, max_vocab)
    bc = df.sparkSession.sparkContext.broadcast((toks, ranks))
    return df.mapInArrow(
        _remap_fn(tokens_col, bc, strict, inverse=False), _out_schema(df, tokens_col)
    )


def unmap_tokens(
    df: DataFrame,
    dict_df: DataFrame,
    tokens_col: str = "tokens",
    max_vocab: int = DEFAULT_MAX_VOCAB,
) -> DataFrame:
    """Inverse of :func:`remap_tokens`: ranks back to original token values.

    Exact inverse for any table produced by a strict remap with the same
    dictionary (``unmap(remap(df)) == df`` bit-identical) — the property the
    round-trip tests assert, mirroring the engine's lossless contract.
    """
    toks, ranks = _collect_dict(dict_df, max_vocab)
    bc = df.sparkSession.sparkContext.broadcast((toks, ranks))
    return df.mapInArrow(
        _remap_fn(tokens_col, bc, strict=True, inverse=True), _out_schema(df, tokens_col)
    )


def unigram_logprob(
    df: DataFrame,
    counts: DataFrame | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_vocab: int = DEFAULT_MAX_VOCAB,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-doc mean unigram log2-probability under the corpus distribution —
    the classic LM-quality proxy (the CCNet/Gopher-style filter signal:
    docs whose tokens are improbable under the corpus itself are boilerplate,
    encoding junk, or wrong-language).  No reference analog (time-series
    codec library); this lives in the LLM-pipeline layer next to
    ``quality_score``, which scores SURFACE features — this scores the
    token distribution itself.

    ``P(t) = (c_t + alpha) / (N + alpha * (V + 1))`` — add-alpha smoothing
    over the vocabulary plus one out-of-vocabulary outcome, so unseen (or
    beyond-cap) tokens get a finite floor probability.  ``N`` (total
    tokens) and ``V`` (distinct tokens) are exact regardless of the cap.

    Scale shape: ``counts`` is the one corpus-wide pass (``token_counts``,
    vocabulary-row shuffle — pass a precomputed/persisted table to skip
    it); the top-``max_vocab`` count table rides a task broadcast as two
    aligned numpy arrays, and scoring is map-only — one ``searchsorted``
    lookup + two ``add.reduceat`` segment sums per Arrow batch, no joins,
    no token shuffle.  Tokens outside the broadcast cap fall to the OOV
    floor — exact for every real tokenizer vocabulary (≤ 16M entries),
    documented approximation beyond.

    Returns ``(id_col, n_tok int, sum_cnt long, logprob double)`` —
    ``sum_cnt`` is the integer sum of corpus counts at each token position
    (the engine-portable, SQL-checkable part of the computation; the q69
    oracle verifies it exactly), ``logprob`` the mean log2 P(t) (0.0 for
    empty docs).
    """
    import pyarrow as pa

    if counts is None:
        counts = token_counts(df, tokens_col=tokens_col)
    totals = counts.agg(
        F.sum("cnt").alias("n"), F.count("*").alias("v")
    ).first()
    n_total = int(totals["n"] or 0)
    v_total = int(totals["v"] or 0)
    top = (
        counts.orderBy(F.col("cnt").desc(), "token")
        .limit(max_vocab)
        .orderBy("token")
        .collect()
    )
    toks = np.array([r["token"] for r in top], dtype=np.int64)
    cnts = np.array([r["cnt"] for r in top], dtype=np.int64)
    bc = df.sparkSession.sparkContext.broadcast((toks, cnts))
    denom = float(n_total) + alpha * (v_total + 1)

    def fn(batches: Iterator) -> Iterator:
        from gorilla_stream_spark.engine import _token_batch_slices

        vt, vc = bc.value
        for rb0 in batches:
          for rb in _token_batch_slices(rb0, 1):
            if rb.num_rows == 0:
                continue
            ids = rb.column(0)
            flat, lens = _flatten_arrow(rb.column(1))
            if vt.size:
                idx = np.searchsorted(vt, flat).clip(max=vt.size - 1)
                hit = vt[idx] == flat
                c = np.where(hit, vc[idx], 0)
            else:
                c = np.zeros(flat.size, dtype=np.int64)
            offs = np.concatenate(([0], np.cumsum(lens)))[:-1]
            nz = lens > 0
            sum_cnt = np.zeros(lens.size, dtype=np.int64)
            logprob = np.zeros(lens.size, dtype=np.float64)
            if flat.size and nz.any():
                # reduceat over NON-EMPTY segments only: empty docs would
                # need out-of-range/duplicate offsets that corrupt their
                # neighbors' segments; consecutive non-empty starts bound
                # each doc exactly (empty docs between them add no tokens)
                offs_nz = offs[nz]
                sum_cnt[nz] = np.add.reduceat(c, offs_nz)
                logprob[nz] = (
                    np.add.reduceat(np.log2((c + alpha) / denom), offs_nz)
                    / lens[nz]
                )
            yield pa.RecordBatch.from_arrays(
                [
                    ids.cast(pa.string()),
                    pa.array(lens.astype(np.int32), pa.int32()),
                    pa.array(sum_cnt, pa.int64()),
                    pa.array(logprob, pa.float64()),
                ],
                names=[id_col, "n_tok", "sum_cnt", "logprob"],
            )

    slim = df.select(F.col(id_col).cast("string"), tokens_col)
    return slim.mapInArrow(
        fn, f"{id_col} string, n_tok int, sum_cnt long, logprob double"
    )
