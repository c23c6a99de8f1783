"""Single-thread replay of encoded blocks through the package's per-page
calls, with no Spark in the timed region.

For token blocks each block buffer is decoded, every page is re-selected
with ``selector.select_codec_cached`` and the block is re-encoded with
``codecs.encode_paged``; the re-encoded buffer must equal the stored one
byte for byte.  Selection cost is thereby separated from codec cost
(``encode_paged`` selects again inside, so codec time is its wall time
minus the selection time).

Two module attributes are wrapped while a replay runs, from this process
only and restored afterwards: ``selector.block_estimate`` (to read the
estimate behind each choice without estimating twice) and the ``fsst``
module's ``fsst_encode`` as the selector sees it (to count FSST trials).
The encoders' own FSST reference is a separate binding and stays untouched.
"""

from __future__ import annotations

import statistics
import struct
import time
import zlib
from contextlib import contextmanager

import numpy as np

INT_CODECS = ("raw", "for", "forc", "rle", "dict", "delta", "dod", "fsst")


@contextmanager
def _selector_probes(state: dict):
    from gorilla_stream_spark import selector
    from gorilla_stream_spark.codecs import fsst

    orig_est, orig_fsst = selector.block_estimate, fsst.fsst_encode

    def block_estimate(*a, **kw):
        feats, sizes = orig_est(*a, **kw)
        if state["active"]:
            state["sizes"] = sizes
        return feats, sizes

    def fsst_encode(*a, **kw):
        if state["active"]:
            state["trials"] += 1
        return orig_fsst(*a, **kw)

    selector.block_estimate, fsst.fsst_encode = block_estimate, fsst_encode
    try:
        yield
    finally:
        selector.block_estimate, fsst.fsst_encode = orig_est, orig_fsst


def _page_sizes(buf: bytes) -> list[int]:
    """Encoded size of each page of an ``encode_paged`` buffer (a single
    page when the block fits in one)."""
    from gorilla_stream_spark.codecs import PAGED

    if buf[0] != PAGED:
        return [len(buf)]
    npages, _ = struct.unpack_from("<II", buf, 1)
    return list(struct.unpack_from(f"<{npages}I", buf, 9))


def replay_token_blocks(table, tracer) -> dict:
    """Per-layer selector/codec/crc numbers for a token-block table (a
    pyarrow table with the encoded ``buffer`` column)."""
    from gorilla_stream_spark.codecs import decode_array, encode_paged
    from gorilla_stream_spark.engine import DEFAULT_PAGE_TOKENS as PAGE
    from gorilla_stream_spark.selector import select_codec_cached

    state = {"active": False, "sizes": None, "trials": 0}
    select_s = paged_s = decode_s = crc_s = 0.0
    pages = {c: 0 for c in INT_CODECS}
    est_sum = actual_sum = fsst_wins = mismatches = 0
    buffers = table.column("buffer")
    with _selector_probes(state):
        for b in range(table.num_rows):
            buf = buffers[b].as_py()
            t0 = time.perf_counter()
            flat = decode_array(buf)
            decode_s += time.perf_counter() - t0
            flat32 = flat.astype(np.int32)
            t0 = time.perf_counter()
            zlib.crc32(flat32.astype("<i4").tobytes())
            zlib.crc32(buf)
            crc_s += time.perf_counter() - t0
            chosen, est = [], []
            with tracer.span("select", block=b):
                for lo in range(0, max(flat32.size, 1), PAGE):
                    page = flat32[lo : lo + PAGE]
                    state["active"] = True
                    t0 = time.perf_counter()
                    codec, _ = select_codec_cached(page)
                    select_s += time.perf_counter() - t0
                    state["active"] = False
                    chosen.append(codec)
                    est.append(state["sizes"][codec])
            with tracer.span("encode_paged", block=b):
                t0 = time.perf_counter()
                rebuf, _ = encode_paged(flat32, codec="auto", page_tokens=PAGE)
                paged_s += time.perf_counter() - t0
            mismatches += rebuf != buf
            for codec in chosen:
                pages[codec] += 1
                fsst_wins += codec == "fsst"
            est_sum += sum(est)
            actual_sum += sum(_page_sizes(rebuf))
    n_pages = sum(pages.values())
    out = {
        "selector.select_s": select_s,
        "selector.pages": n_pages,
        "selector.fsst_trials": state["trials"],
        "selector.fsst_trial_win_frac": fsst_wins / state["trials"] if state["trials"] else 0.0,
        "selector.est_over_actual": est_sum / actual_sum if actual_sum else 0.0,
        "codecs.encode_s": paged_s - select_s,
        "codecs.decode_s": decode_s,
        "engine.crc_s": crc_s,
        "replay.mismatched_blocks": mismatches,
    }
    out.update({f"selector.pages_{c}": n for c, n in pages.items()})
    return out


def replay_timeseries_blocks(table) -> dict:
    """Re-encode each timeseries block's columns with the codec families
    the engine uses (int ``auto`` for timestamps, float ``fauto`` for
    values); the buffers must match the stored ones."""
    from gorilla_stream_spark.codecs import decode_array, encode_array

    ts_s = float_s = decode_s = 0.0
    mismatches = 0
    tcol, vcol = table.column("ts_buffer"), table.column("val_buffer")
    for b in range(table.num_rows):
        tbuf, vbuf = tcol[b].as_py(), vcol[b].as_py()
        t0 = time.perf_counter()
        ts, vals = decode_array(tbuf), decode_array(vbuf)
        decode_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        t2 = encode_array(ts, codec="auto")
        ts_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        v2 = encode_array(vals, codec="fauto")
        float_s += time.perf_counter() - t0
        mismatches += (t2 != tbuf) + (v2 != vbuf)
    return {
        "codecs.ts_encode_s": ts_s,
        "codecs.float_encode_s": float_s,
        "codecs.decode_s": decode_s,
        "replay.mismatched_blocks": mismatches,
    }


def q5f_series(n: int) -> tuple[np.ndarray, np.ndarray]:
    """The exact series ``bench.py``'s q5f/q5g rows encode (deterministic,
    no seed), so the kernel reading can be compared with theirs."""
    i = np.arange(n, dtype=np.int64)
    vals = np.round(np.sin(i / 1440.0 * 6.283185307179586) * 10.0
                    + np.sin(i * 12.9898) * 0.5 + 20.0, 3)
    return 1_600_000_000 + i * 60, vals


def ts_kernel(ts: np.ndarray, vals: np.ndarray, reps: int = 3) -> dict:
    """``bench.py``'s q5f/q5g: the whole series through ``encode_array`` /
    ``decode_array`` on one thread, sorted by time, one array per column;
    the median of ``reps`` passes.  Round trip must be bit-identical."""
    from gorilla_stream_spark.codecs import decode_array, encode_array

    order = np.argsort(ts, kind="stable")
    ts = np.ascontiguousarray(ts[order], dtype=np.int64)
    vals = np.ascontiguousarray(vals[order], dtype=np.float64)
    enc, dec = [], []
    ok = True
    for _ in range(reps):
        t0 = time.perf_counter()
        tbuf = encode_array(ts, codec="auto")
        vbuf = encode_array(vals, codec="fauto")
        enc.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        ts2, vals2 = decode_array(tbuf), decode_array(vbuf)
        dec.append(time.perf_counter() - t0)
        ok = ok and np.array_equal(ts2, ts) and np.array_equal(
            np.asarray(vals2, dtype=np.float64).view(np.uint64), vals.view(np.uint64)
        )
    return {
        "codecs.ts_kernel_encode_points_per_s": ts.size / statistics.median(enc),
        "codecs.ts_kernel_decode_points_per_s": ts.size / statistics.median(dec),
        "replay.mismatched_blocks_kernel": 0 if ok else 1,
    }
