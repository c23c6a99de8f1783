"""Times the per-task Python-worker prologue: what a reused worker does
between receiving a task and running its UDF's first line, with and
without gorilla_stream_spark imported in the worker.  Usage:
  python scripts/probe_worker_prologue.py [reps] [rows]
Each mode starts its own local[4] session whose spark.python.daemon.module
is a timing wrapper around pyspark.daemon, written to this probe's temp dir
(nothing else sets that conf).  Every rep runs an identity mapInArrow over
`rows` rows in 4 partitions; for every task it prints the ms from job
submit to the task's first byte, to the end of setup_spark_files and to
the UDF's first line.  On CPython 3.11 without the package,
setup_spark_files' importlib.invalidate_caches() re-reads pyspark.zip and
the spark-core jar once per zipimporter: a median ~0.4 s per task with 4
workers busy on a 4-core host (job wall ~0.9 s).  With it, a worker pays
one re-read per archive in the task after its first import and ~0.6 ms
from then on (job wall ~0.4 s).
"""
import os, shutil, sys, tempfile, time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "gss_prologue_daemon"
DAEMON_SRC = '''
import time
import pyspark.daemon as daemon
import pyspark.worker as worker

MARKS = {}
TASKS = [0]
_main, _setup = daemon.worker_main, worker.setup_spark_files

def _timed_setup(infile):
    _setup(infile)
    MARKS["setup_end"] = time.time()

def _timed_main(infile, outfile):
    MARKS.clear()
    infile.peek(1)  # blocks until the task's first byte arrives
    MARKS["first_byte"] = time.time()
    TASKS[0] += 1
    MARKS["task"] = TASKS[0]
    return _main(infile, outfile)

daemon.worker_main, worker.setup_spark_files = _timed_main, _timed_setup
daemon.manager()
'''
COLS = ("pid", "task", "first_byte", "setup_end", "udf_first")


def make_udf(import_pkg):
    def identity(batches):
        udf_first = time.time()
        import os, sys
        import pyarrow as pa
        if import_pkg:
            import gorilla_stream_spark  # noqa: F401
        marks = getattr(sys.modules["__main__"], "MARKS", {})
        extra = (os.getpid(), marks.get("task", 0), marks.get("first_byte", 0.0),
                 marks.get("setup_end", 0.0), udf_first)
        for b in batches:
            cols = b.columns + [pa.array([v] * b.num_rows) for v in extra]
            yield pa.RecordBatch.from_arrays(cols, names=b.schema.names + list(COLS))
    return identity


def run_mode(import_pkg, reps, rows):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.appName("probe_worker_prologue").master("local[4]")
             .config("spark.python.daemon.module", DAEMON)
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    schema = "id long, pid long, task long, first_byte double, setup_end double, udf_first double"
    mode = "with_pkg" if import_pkg else "without_pkg"
    setup_ms = []
    for rep in range(reps):
        df = spark.range(rows, numPartitions=4).mapInArrow(make_udf(import_pkg), schema)
        t_submit = time.time()
        got = df.drop("id").distinct().collect()
        wall = (time.time() - t_submit) * 1e3
        for r in sorted(got, key=lambda r: r["first_byte"]):
            ms = [(r[c] - t_submit) * 1e3 for c in ("first_byte", "setup_end", "udf_first")]
            print(f"{mode} rep={rep} pid={r['pid']} task#{r['task']} first_byte={ms[0]:.0f}ms"
                  f" setup_end={ms[1]:.0f}ms udf_first_line={ms[2]:.0f}ms", flush=True)
            if r["task"] >= 3:  # the first patched pass (task 2) records the stat keys
                setup_ms.append(ms[1] - ms[0])
        print(f"{mode} rep={rep} job wall {wall:.0f}ms", flush=True)
    spark.stop()
    return mode, setup_ms


if __name__ == "__main__":
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    tmp = tempfile.mkdtemp(prefix="probe_prologue_")
    with open(os.path.join(tmp, DAEMON + ".py"), "w") as f:
        f.write(DAEMON_SRC)
    old_pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([tmp, ROOT] + ([old_pp] if old_pp else []))
    print(f"python {sys.version.split()[0]}", flush=True)
    try:
        summary = [run_mode(False, reps, rows), run_mode(True, reps, rows)]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for mode, ms in summary:
        if ms:
            print(f"{mode}: first byte -> end of setup_spark_files, tasks 3+ of each worker:"
                  f" median {median(ms):.1f}ms over {len(ms)} tasks")
