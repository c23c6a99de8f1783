#!/usr/bin/env python3
"""Benchmark of the encode and decode paths at ``local[4]``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout (the directory holding
``gorilla_stream_spark/`` and ``BENCHMARK.json``).  One process starts one
Spark session (4 cores, 4 shuffle partitions, status UI on), builds the
workload's seeded fixture, runs five untimed warm-ups, then repeats the
timed operation until the timed seconds reach ``--seconds``.  Every
iteration's output is checked against the input's round-trip digest
outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced iterations, replays the last traced output through the
per-page selector and codec calls, and prints the per-layer metrics plus
the tracing overhead.  The last stdout line is the JSON result; a run
record and the spans go to ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from probes import ProcTree, RssSampler, StageRollup, Tracer, calib_probe, process_age_s
from workloads import WORKLOADS, Ctx

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "gorilla_stream_spark"
MAX_FAILURES = 3
# untimed passes before timing: with fewer, the op kept getting faster
# (wall and CPU seconds both ~20%) through the first timed iterations
WARMUP_OPS = 5
_STAGE_KEYS = ("stageId", "numTasks", "executorRunTime", "executorCpuTime", "inputBytes",
               "outputBytes", "shuffleReadBytes", "shuffleWriteBytes", "name")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="self-test scale: ~1k documents or points")
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    run's work directory, and let Python workers import the package from
    any working directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    old_pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([old_pp] if old_pp else []))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData".strip()
    )
    # the launcher JVM that spark-submit runs first reads only this one
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    import tempfile

    tempfile.tempdir = None


def _start_spark(work: str):
    from gorilla_stream_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master="local[4]", shuffle_partitions=4, ui=True)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark, tree) -> None:
    """Stop the session, end the gateway JVM (it exits on EOF of its stdin)
    and wait until every descendant process has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tree.descendants():
        print(f"perfbench: killing leftover process {pid}", file=sys.stderr)
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}", file=sys.stderr)
        return 2
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        print(f"perfbench: {spec_path} missing", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    t_anchor = time.perf_counter() - process_age_s()
    calib_before = calib_probe()

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    records = os.path.join(work_root, "records")
    os.makedirs(records, exist_ok=True)
    _prepare_env(work)

    tree = ProcTree()
    tracer = Tracer(bool(args.trace), t_anchor)
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        with tracer.span("setup", workload=wl.name):
            spark = _start_spark(work)
            rollup = StageRollup(spark) if args.trace else None
            ctx = Ctx(spark, work, args.seed, args.tiny, tracer, rollup)
            with tracer.span("setup.fixture"):
                wl.setup(ctx)
            for w in range(WARMUP_OPS):
                with tracer.span("setup.warmup"):
                    wl.discard(wl.op(ctx, f"warmup{w}"))
        setup_s = time.perf_counter() - t_anchor - calib_before
        result = _measure(args, wl, ctx, tree, tracer)
        result["setup_s"] = setup_s
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop_spark(spark, tree)
        shutil.rmtree(work, ignore_errors=True)
        stop_s = time.perf_counter() - t_stop
    calib_after = calib_probe()

    metrics = _metrics(spec, args, wl, result)
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "tiny": args.tiny,
        "input": {"unit": wl.unit, "units": wl.units, "raw_bytes": wl.raw_bytes},
        "calib_sec": {"before": calib_before, "after": calib_after},
        "stop_s": stop_s,
        "iterations": result["iters"],
        "layers": result.get("layers", {}),
        "stage_rollups": result.get("stages", []),
        "metrics": metrics,
    }
    stem = os.path.join(records, f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=float)
    if args.trace:
        tracer.dump(stem + ".spans.json")

    attempted = len(result["iters"])
    failed = sum(not it["ok"] for it in result["iters"])
    # a traced run also requires its replay to reproduce the stored bytes
    replay_bad = {k: v for k, v in record["layers"].items()
                  if k.startswith("replay.mismatched") and v}
    print(f"# {wl.name} seed={args.seed} trace={args.trace}: {wl.units} {wl.unit} in, "
          f"{attempted} iterations, calib_sec {calib_before:.3f} -> {calib_after:.3f}")
    for name, m in metrics.items():
        print(f"#   {name} = {m['value']:.6g} {m['unit']}")
    print(f"#   failed_frac = {failed / attempted:.3g} ({failed}/{attempted})")
    if failed:
        for it in result["iters"]:
            if it.get("error"):
                print(f"# iteration {it['i']}: {it['error']}", file=sys.stderr)
    if replay_bad:
        print(f"# replay mismatches: {replay_bad}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and not replay_bad, "attempted": attempted,
                      "failed": failed,
                      "metrics": metrics}))
    return 0


def _measure(args, wl, ctx, tree, tracer) -> dict:
    """Timed loop.  In a traced run odd iterations carry spans and stage
    rollups and even ones do not, so the overhead is read in one process."""
    iters: list[dict] = []
    rolls: list[dict] = []
    spent = 0.0
    keep = None
    ref_fp = None
    i = 0
    while True:
        traced = bool(args.trace) and i % 2 == 1
        tracer.enabled = traced
        tag = str(i)
        it = {"i": i, "traced": traced, "ok": False}
        out = None
        try:
            if traced:
                ctx.rollup.begin()
            cpu0 = tree.cpu_s()
            with RssSampler(tree) as rss, tracer.span("op", iteration=i):
                t0 = time.perf_counter()
                out = wl.op(ctx, tag)
                wall = time.perf_counter() - t0
            cpu1 = tree.cpu_s()
            if traced:
                rolls.append(ctx.rollup.end(f"op.{tag}."))
            it.update(
                wall_s=wall,
                cpu_s={k: cpu1[k] - cpu0[k] for k in cpu0},
                peak_worker_rss_bytes=rss.peak_bytes,
                stored_bytes=wl.stored_bytes(out),
            )
            with tracer.span("verify", iteration=i):
                # the first output gets the full round-trip digest; a later
                # one passes when its encoded bytes equal that verified
                # output's, and gets the full check when they differ
                fp = wl.fingerprint(out)
                if ref_fp is not None and fp == ref_fp:
                    it["ok"], it["check"] = True, "bytes"
                else:
                    it["ok"], it["check"] = bool(wl.verify(ctx, out, tag)), "digest"
                    if it["ok"] and ref_fp is None:
                        ref_fp = fp
            if not it["ok"]:
                it["error"] = "round-trip digest mismatch"
            spent += wall
        except Exception as e:  # a failed iteration is counted, not fatal
            it["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        iters.append(it)
        if out is not None:
            if traced and it["ok"]:
                if keep is not None:
                    wl.discard(keep)
                keep = out
            else:
                wl.discard(out)
        i += 1
        failures = sum(not x["ok"] for x in iters)
        have_traced = not args.trace or any(x["traced"] and x["ok"] for x in iters)
        have_plain = any(not x["traced"] and x["ok"] for x in iters)
        if failures >= MAX_FAILURES or (spent >= args.seconds and have_traced and have_plain):
            break
    tracer.enabled = bool(args.trace)
    res = {"iters": iters}
    if args.trace and keep is not None:
        with tracer.span("layers"):
            res["layers"] = wl.layers(ctx, keep, rolls)
        res["stages"] = [
            {"totals": r["totals"],
             "stages": {ph: [{k: st.get(k) for k in _STAGE_KEYS} for st in ss]
                        for ph, ss in r["stages"].items()}}
            for r in rolls
        ]
        wl.discard(keep)
    return res


def _metrics(spec, args, wl, result) -> dict:
    good = [it for it in result["iters"] if it["ok"]]
    plain = [it for it in good if not it["traced"]] or good
    e2e = {
        "setup_s": result["setup_s"],
        "throughput_per_s": _median([wl.units / it["wall_s"] for it in plain]),
        "cpu_s": _median([sum(it["cpu_s"].values()) for it in plain]),
        "stored_bytes_per_raw_byte": _median([it["stored_bytes"] / wl.raw_bytes for it in good]),
        "peak_worker_rss_mb": _median([it["peak_worker_rss_bytes"] / 2**20 for it in plain]),
    }
    if not args.trace:
        return {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    traced = [it for it in good if it["traced"]]
    layers = dict(result.get("layers", {}))
    for kind in ("worker", "jvm", "driver"):
        layers[f"proc.{kind}_cpu_s"] = _median([it["cpu_s"][kind] for it in traced])
    t_med = _median([it["wall_s"] for it in traced])
    p_med = _median([it["wall_s"] for it in good if not it["traced"]])
    layers["trace.overhead_frac"] = t_med / p_med - 1.0 if p_med else 0.0
    layers["trace.untraced_throughput_per_s"] = e2e["throughput_per_s"]
    # metrics that do not apply to this workload read 0 (e.g. the
    # timeseries codec rows on a token workload)
    return {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
