"""The four workloads: fixture generation, the timed operation, the
round-trip digest gate, and the per-layer numbers each one reports.

Every input derives from the run's ``--seed``; the package receives only
the generated tables.  Input sizes are fixed per workload (the seed
changes content, not size), so run-to-run spread measures the system and
not the fixture.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import zlib

import numpy as np

from replay import q5f_series, replay_timeseries_blocks, replay_token_blocks, ts_kernel

PARTITIONS = 4

# (normal, tiny) sizes: tiny is the self-test scale (~1k docs or points)
MIXED_DOCS = (6_000, 1_000)
SHORT_DOCS = (300_000, 1_000)
SHORT_MAX_TOKENS = 48
TS_POINTS = (1_000_000, 1_000)
Q5F_POINTS = (5_000_000, 1_000)  # bench.py's q5f/q5g size
GPT2_VOCAB = 50257


def _dir_bytes(path: str) -> int:
    """On-disk bytes of the data files of a Spark output directory (the
    Hadoop ``.crc`` side files and ``_SUCCESS`` marker are not output)."""
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith((".", "_"))
    )


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def digest(df, cols: tuple[str, ...]) -> tuple[int, int, int]:
    """Order-independent row digest: row count and the two 32-bit halves of
    ``Σ xxhash64(cols)`` (split so the sums cannot overflow a long).  For
    tokens the columns are (doc_id, tokens); for points, ts and the value's
    bits (``xxhash64`` hashes a double by its bit pattern)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*cols)
    row = df.agg(
        F.count("*"),
        F.sum(h.bitwiseAND(0xFFFFFFFF)),
        F.sum(F.shiftrightunsigned(h, 32)),
    ).first()
    return tuple(int(x or 0) for x in row)


TOKEN_COLS = ("doc_id", "tokens")
POINT_COLS = ("ts", "value")


def fingerprint(path: str, cols: list[str]) -> list[tuple]:
    """Sorted per-block crc32s of an encoded table's buffer columns: equal
    fingerprints mean byte-identical encoded content, whatever the file
    layout."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["block_id", *cols])
    bufs = [t.column(c).to_pylist() for c in cols]
    ids = t.column("block_id").to_pylist()
    return sorted((ids[i], *(zlib.crc32(b[i]) for b in bufs)) for i in range(t.num_rows))


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def short_zipf_df(spark, n_docs: int, seed: int):
    """~``n_docs`` documents of 1..48 tokens drawn Zipf(1.1) from a
    GPT-2-sized vocabulary, generated vectorized in ``mapInArrow``.  Each
    document derives only from (seed, its index), so the table is the same
    at any parallelism or batch size."""
    import pyarrow as pa
    import pyarrow.compute as pc

    weights = 1.0 / np.arange(1, GPT2_VOCAB + 1, dtype=np.float64) ** 1.1
    cdf = np.cumsum(weights) / weights.sum()
    key_len = np.uint64(seed * 2 + 1)
    key_tok = np.uint64(seed * 2 + 2) << np.uint64(40)

    def fn(batches):
        for rb in batches:
            ids = rb.column(0).to_numpy().astype(np.uint64)
            lens = (1 + _splitmix64(ids ^ key_len) % np.uint64(SHORT_MAX_TOKENS)).astype(np.int64)
            offs = np.concatenate(([0], np.cumsum(lens)))
            doc = np.repeat(ids, lens)
            pos = np.arange(offs[-1], dtype=np.uint64) - np.repeat(offs[:-1], lens).astype(np.uint64)
            u = (_splitmix64(key_tok ^ (doc * np.uint64(64) + pos)) >> np.uint64(11)) * 2.0**-53
            toks = np.minimum(np.searchsorted(cdf, u, side="right"), GPT2_VOCAB - 1)
            padded = pc.utf8_lpad(pc.cast(rb.column(0), pa.string()), width=10, padding="0")
            yield pa.RecordBatch.from_arrays(
                [
                    pc.binary_join_element_wise(pa.scalar("z"), padded, pa.scalar("")),
                    pa.ListArray.from_arrays(
                        pa.array(offs.astype(np.int32)), pa.array(toks.astype(np.int32))
                    ),
                    pa.array(lens.astype(np.int32)),
                    pa.array(np.full(lens.size, "short_zipf", dtype=object), pa.string()),
                ],
                names=["doc_id", "tokens", "n_tok", "source"],
            )

    return spark.range(0, n_docs, 1, PARTITIONS).mapInArrow(
        fn, "doc_id string, tokens array<int>, n_tok int, source string"
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _stage_s(stages, pred) -> float:
    return sum(s.get("executorRunTime", 0) for s in stages if pred(s)) / 1000.0


class Ctx:
    """What a workload needs from the run: the session, its scratch
    directory, the seed and scale, the phase labeller, and (traced runs
    only) the tracer's spans and stage rollups."""

    def __init__(self, spark, work: str, seed: int, tiny: bool, tracer, rollup) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.tracer = tracer
        self.rollup = rollup

    def size(self, pair: tuple[int, int]) -> int:
        return pair[1] if self.tiny else pair[0]

    def phase(self, name: str) -> None:
        """Label the Spark jobs that follow, so the status API can say which
        stage belongs to which workload phase."""
        self.spark.sparkContext.setJobGroup(name, name)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def mixed_df(ctx):
    from gorilla_stream_spark.generator import tokens_df

    return tokens_df(ctx.spark, ctx.size(MIXED_DOCS), seed=ctx.seed, num_partitions=PARTITIONS)


def short_df(ctx):
    return short_zipf_df(ctx.spark, ctx.size(SHORT_DOCS), ctx.seed)


class _TokenBase:
    unit = "tokens"

    def __init__(self, name: str, fixture_df) -> None:
        self.name = name
        self._fixture_df = fixture_df

    def _make_input(self, ctx) -> None:
        import pyarrow.parquet as pq

        self.inp = ctx.path("input")
        ctx.phase("setup.fixture")
        self._fixture_df(ctx).write.mode("overwrite").parquet(self.inp)
        self.expected = digest(ctx.spark.read.parquet(self.inp), TOKEN_COLS)
        self.units = int(pq.read_table(self.inp, columns=["n_tok"]).column("n_tok").to_numpy().sum())
        self.raw_bytes = 4 * self.units

    def verify(self, ctx, out: str, tag: str) -> bool:
        from gorilla_stream_spark import decode

        ctx.phase(f"verify.{tag}")
        return digest(decode(ctx.spark.read.parquet(out)), TOKEN_COLS) == self.expected

    def fingerprint(self, out: str) -> list[tuple]:
        return fingerprint(out, ["buffer"])

    def stored_bytes(self, out: str) -> int:
        return _dir_bytes(out)

    def _encode_to(self, ctx, out: str) -> None:
        from gorilla_stream_spark import encode

        df = ctx.spark.read.parquet(self.inp)
        (encode(df, codec="auto", num_partitions=PARTITIONS)
         .write.mode("overwrite").option("compression", "snappy").parquet(out))

    def _block_layers(self, ctx, enc_path: str) -> dict:
        import pyarrow.parquet as pq

        t = pq.read_table(enc_path, columns=["n_docs", "enc_bytes", "raw_bytes", "enc_us", "buffer"])
        n_blocks = t.num_rows
        enc_bytes = int(np.sum(t.column("enc_bytes").to_numpy()))
        raw = int(np.sum(t.column("raw_bytes").to_numpy()))
        disk = _dir_bytes(enc_path)
        out = {
            "engine.blocks": n_blocks,
            "engine.docs_per_block": float(np.mean(t.column("n_docs").to_numpy())) if n_blocks else 0.0,
            "engine.manifest_bytes_per_raw_byte": (disk - enc_bytes) / raw,
            "codecs.enc_us_sum_s": int(np.sum(t.column("enc_us").to_numpy())) / 1e6,
            "codecs.bytes_per_raw_byte": enc_bytes / raw,
        }
        with ctx.tracer.span("replay.blocks", blocks=n_blocks):
            out.update(replay_token_blocks(t, ctx.tracer))
        return out


class EncodeTokens(_TokenBase):
    """The production encode job: scan parquet, salted repartition,
    ``encode(codec="auto")``, snappy parquet sink."""

    def setup(self, ctx) -> None:
        self._make_input(ctx)

    def op(self, ctx, tag: str) -> str:
        out = ctx.path(f"enc-{tag}")
        ctx.phase(f"op.{tag}.encode")
        self._encode_to(ctx, out)
        return out

    def discard(self, out: str) -> None:
        _rmtree(out)

    def layers(self, ctx, out: str, rolls: list[dict]) -> dict:
        res = self._block_layers(ctx, out)
        res.update(_spark_layers(ctx, rolls, "encode"))
        res["spark.scan_input_bytes"] = _dir_bytes(self.inp)
        res["engine.encode_nonkernel_s"] = res["engine.encode_stage_s"] - res["codecs.enc_us_sum_s"]
        return res


class DecodeMixed(_TokenBase):
    """The training read path: ``decode`` of the table the mixed corpus
    encodes to (built during set-up, not timed) into a no-op sink, so every
    decoded column is materialized without adding write cost."""

    def setup(self, ctx) -> None:
        self._make_input(ctx)
        self.enc = ctx.path("encoded")
        ctx.phase("setup.encode")
        self._encode_to(ctx, self.enc)

    def op(self, ctx, tag: str) -> str:
        from gorilla_stream_spark import decode

        ctx.phase(f"op.{tag}.decode")
        decode(ctx.spark.read.parquet(self.enc)).write.format("noop").mode("overwrite").save()
        return self.enc

    def discard(self, out: str) -> None:
        pass

    def layers(self, ctx, out: str, rolls: list[dict]) -> dict:
        res = self._block_layers(ctx, out)
        res.update(_spark_layers(ctx, rolls, "decode"))
        res["spark.scan_input_bytes"] = _dir_bytes(self.enc)
        return res


class TimeseriesRoundtrip:
    """``encode_timeseries`` + parquet write + ``decode_timeseries`` of a
    minute-interval sine-plus-noise series (the shape of the reference's
    five-million-point benchmark, at 1 M points so a run fits its budget;
    the kernel reading on ``bench.py``'s q5f series keeps 5 M)."""

    name = "timeseries_roundtrip"
    unit = "points"

    def setup(self, ctx) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = ctx.size(TS_POINTS)
        self.inp = ctx.path("input")
        os.makedirs(self.inp, exist_ok=True)
        rng = np.random.default_rng(ctx.seed)
        i = np.arange(n, dtype=np.int64)
        ts = 1_600_000_000 + int(rng.integers(0, 1_000_000)) * 60 + i * 60
        vals = np.round(
            10.0 * np.sin(i * (2 * math.pi / 1440.0) + rng.uniform(0, 2 * math.pi))
            + rng.normal(0.0, 0.5, n) + 20.0,
            3,
        )
        step = -(-n // PARTITIONS)
        for p in range(PARTITIONS):
            sl = slice(p * step, min(n, (p + 1) * step))
            pq.write_table(pa.table({"ts": ts[sl], "value": vals[sl]}),
                           os.path.join(self.inp, f"part-{p:05d}.parquet"))
        ctx.phase("setup.fixture")
        self.expected = digest(ctx.spark.read.parquet(self.inp), POINT_COLS)
        self.units = n
        self.raw_bytes = 16 * n

    def op(self, ctx, tag: str) -> str:
        from gorilla_stream_spark import decode_timeseries, encode_timeseries

        out = ctx.path(f"enc-{tag}")
        ctx.phase(f"op.{tag}.encode")
        (encode_timeseries(ctx.spark.read.parquet(self.inp), num_partitions=PARTITIONS)
         .write.mode("overwrite").option("compression", "snappy").parquet(out))
        ctx.phase(f"op.{tag}.decode")
        decode_timeseries(ctx.spark.read.parquet(out)).write.format("noop").mode("overwrite").save()
        return out

    def verify(self, ctx, out: str, tag: str) -> bool:
        from gorilla_stream_spark import decode_timeseries

        ctx.phase(f"verify.{tag}")
        return digest(decode_timeseries(ctx.spark.read.parquet(out)), POINT_COLS) == self.expected

    def fingerprint(self, out: str) -> list[tuple]:
        return fingerprint(out, ["ts_buffer", "val_buffer"])

    def stored_bytes(self, out: str) -> int:
        return _dir_bytes(out)

    def discard(self, out: str) -> None:
        _rmtree(out)

    def layers(self, ctx, out: str, rolls: list[dict]) -> dict:
        import pyarrow.parquet as pq

        t = pq.read_table(out, columns=["ts_min", "n_points", "enc_bytes", "raw_bytes",
                                        "ts_buffer", "val_buffer"])
        res = {
            "engine.blocks": t.num_rows,
            "codecs.bytes_per_raw_byte": int(np.sum(t.column("enc_bytes").to_numpy()))
            / int(np.sum(t.column("raw_bytes").to_numpy())),
        }
        res.update(_spark_layers(ctx, rolls, "encode"))
        res.update(_spark_layers(ctx, rolls, "decode"))
        res["spark.scan_input_bytes"] = _dir_bytes(self.inp) + _dir_bytes(out)
        with ctx.tracer.span("replay.ts_blocks", blocks=t.num_rows):
            res.update(replay_timeseries_blocks(t))
        src = pq.read_table(self.inp)
        with ctx.tracer.span("replay.ts_kernel", points=src.num_rows):
            res.update(ts_kernel(src.column("ts").to_numpy(), src.column("value").to_numpy()))
        # record-only: the same kernel reading on bench.py's q5f series
        n_q5f = ctx.size(Q5F_POINTS)
        with ctx.tracer.span("replay.ts_kernel_q5f_series", points=n_q5f):
            q5f = ts_kernel(*q5f_series(n_q5f))
        res.update({f"{k}.q5f_series": v for k, v in q5f.items()})
        return res


def _spark_layers(ctx, rolls: list[dict], kind: str) -> dict:
    """Stage rollups of the traced iterations -> medians per layer metric.

    Scan bytes are not taken from here: Spark's ``inputBytes`` misses the
    parquet reader's reads on the local filesystem (it reports ~23 KB for a
    ~40 MB scan), so callers report the on-disk size of what the op reads.

    In an encode phase the shuffle-writing stages are the salted (or range)
    exchange and the stages with sink output run the kernel; a decode
    phase's stages all run the decode kernel."""
    sink, shuf, exch, enc, dec, skew = [], [], [], [], [], []
    for roll in rolls:
        stages = [s for ph, ss in roll["stages"].items() if ph.endswith("." + kind) for s in ss]
        totals = roll["totals"]
        sink.append(totals.get("output_bytes", 0))
        if kind == "encode":
            shuf.append(sum(s.get("shuffleWriteBytes", 0) for s in stages))
            exch.append(_stage_s(stages, lambda s: s.get("shuffleWriteBytes", 0) > 0))
            sink_stages = [s for s in stages if s.get("outputBytes", 0) > 0]
            enc.append(_stage_s(sink_stages, lambda s: True))
            if sink_stages:
                top = max(sink_stages, key=lambda s: s.get("executorRunTime", 0))
                q = ctx.rollup.task_quantiles(top)
                if q is not None:
                    skew.append(q[1] / q[0] if q[0] > 0 else 1.0)
        else:
            dec.append(_stage_s(stages, lambda s: True))
    out = {"spark.sink_output_bytes": _median(sink)}
    if kind == "encode":
        out.update({
            "skew.shuffle_write_bytes": _median(shuf),
            "skew.exchange_stage_s": _median(exch),
            "skew.task_s_max_over_median": _median(skew),
            "engine.encode_stage_s": _median(enc),
        })
    else:
        out["engine.decode_stage_s"] = _median(dec)
    return out


WORKLOADS = {
    "encode_mixed": lambda: EncodeTokens("encode_mixed", mixed_df),
    "decode_mixed": lambda: DecodeMixed("decode_mixed", mixed_df),
    "encode_short_zipf": lambda: EncodeTokens("encode_short_zipf", short_df),
    "timeseries_roundtrip": TimeseriesRoundtrip,
}
