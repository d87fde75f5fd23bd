#!/usr/bin/env python3
"""Table-to-snapshot benchmark for caraspark.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 12 --trace 0

Run it from the repository root.  One run generates the workload's input
from ``--seed``, starts ``local[<cores>]`` from this single driver process,
times the workload's operation for at least ``--seconds`` seconds of timed
wall, checks every output row against the serial engine, and prints the
metrics by name with their units.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer ledger with
``--trace 1``.  A failed output check prints ``"correct": false`` and exits
1; a tree without the program exits 2 without a result.

Workloads (why each exists is in BENCHMARK.json):

* ``crawl_mix``    -- ``jobs.extract_job.run_job`` over a writer-order
  table of the 79-recipe mix into a zstd snapshot (the production path);
* ``html_recrawl`` -- ``upsert_recrawl`` of an HTML-only batch into a copy
  of a prebuilt base snapshot (the write layer as a rewrite);
* ``giant_skew``   -- ``extract(salt="giants", nbytes_col="nbytes")`` over
  the ``corpus.write_size_layout`` table into a parquet sink (the shuffle).

Every number is taken from outside the program: wall clocks around public
entry points, ``/proc`` for CPU and memory, and Spark event logs enabled
through ``get_spark(extra_conf=...)`` for the task ledger.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3  # session starts per run; setup_s is their median

END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "setup_s": "s",
    "docs_ok_frac": "fraction",
    "stored_bytes_ratio": "ratio",
    "worker_peak_rss_mb": "MB",
}

PER_LAYER = {
    "pdfengine.api.docs_per_s": "docs/s",
    "pdfengine.api.doc_ms_p50": "ms",
    "pdfengine.api.doc_ms_p99": "ms",
    "pdfengine.parser.ms_per_pdf": "ms",
    "pdfengine.parser.objects_per_pdf": "count",
    "pdfengine.xref.ms_per_pdf": "ms",
    "pdfengine.crypto.ms_per_pdf": "ms",
    "pdfengine.filters.ms_per_pdf": "ms",
    "pdfengine.filters.decoded_bytes_per_pdf": "bytes",
    "pdfengine.document.self_ms_per_pdf": "ms",
    "pdfengine.typecheck.ms_per_pdf": "ms",
    "pdfengine.textextract.ms_per_pdf": "ms",
    "htmlengine.ms_per_html": "ms",
    "extract.arrow_ms_per_doc": "ms",
    "extract.arrow_out_bytes_per_doc": "bytes",
    "extract.noop_s": "s",
    "extract.task_busy_s": "s",
    "extract.python_bytes_sent_per_doc": "bytes",
    "extract.python_bytes_received_per_doc": "bytes",
    "spark.scan_s": "s",
    "spark.gc_frac": "fraction",
    "spark.core_util": "fraction",
    "spark.task_max_over_p50": "ratio",
    "spark.shuffle_bytes": "bytes",
    "spark.framework_eff": "fraction",
    "extract_job.stage_s": "s",
    "extract_job.extract_write_s": "s",
    "extract_job.recount_s": "s",
    "extract_job.chunks": "count",
    "extract_job.upsert_rewrite_s": "s",
    "extract_job.touched_buckets": "count",
    "manifest.commit_s": "s",
    "manifest.commits": "count",
    "trace.wall_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_frac": "fraction",
}


def _die(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _union_s(intervals, t0: float, t1: float) -> float:
    """Length of the union of (start, end) intervals clipped to [t0, t1]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            total += (cur_b - cur_a) if cur_b is not None else 0.0
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + ((cur_b - cur_a) if cur_b is not None else 0.0)


class Bench:
    """Paths, sessions and the shutdown of every process a run starts."""

    def __init__(self, workload: str, seed: int):
        self.work = os.path.join(HERE, "_work", f"{workload}-s{seed}-{os.getpid()}")
        self.traces = os.path.join(HERE, "_work", "traces")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "eventlog"):
            os.makedirs(os.path.join(self.work, d))
        os.makedirs(self.traces, exist_ok=True)
        # the JVM and the Python workers inherit these: workers import the
        # program from the checkout, and all scratch stays inside it
        tmp = os.path.join(self.work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        # every JVM (the launcher and the driver): temp files here, and no
        # /tmp/hsperfdata_* performance-counter file
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}") if p
        )
        import tempfile

        tempfile.tempdir = tmp
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def session(self, event_log: bool = False):
        from caraspark.session import get_spark

        from perfbench import eventlog, procstat

        conf = {
            "spark.driver.memory": "4g",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update(eventlog.conf(self.path("eventlog")))
        self.spark = get_spark(
            "caraspark-perfbench", master=f"local[{procstat.CORES}]", extra_conf=conf
        )
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every descendant to exit."""
        from pyspark import SparkContext

        from perfbench import procstat

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        # the JVM's children are re-parented away when it exits; anything
        # still below this process after a grace period is killed
        deadline = time.time() + 30
        while (left := procstat.descendants()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in left:
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
        while procstat.descendants() and time.time() < deadline + 10:
            time.sleep(0.2)
        shutil.rmtree(self.work, ignore_errors=True)


def measure(bench, wl, seconds: float, checked) -> tuple[dict, dict]:
    """Set up ``SETUPS`` times, then time a fixed number of passes worth
    about ``seconds`` of wall (at least two).  The count depends only on
    ``seconds``, so every run takes the same path through the JVM's warm-up.
    Returns the end-to-end metrics but ``docs_ok_frac``, and the raw
    figures behind them."""
    from perfbench import procstat

    setups = []
    for _ in range(SETUPS):
        bench.stop_session()
        t0 = time.perf_counter()
        spark = bench.session()
        wl.warm(spark)
        setups.append(time.perf_counter() - t0)
    wl.prepare(spark)
    walls, cpus, ndocs = [], [], []
    with procstat.WorkerPeakRss() as rss:
        for i in range(max(2, round(seconds / wl.PASS_S))):
            wl.before_pass(i)
            c0, t0 = procstat.cpu_seconds(), time.perf_counter()
            ndocs.append(wl.run_pass(spark, i))
            walls.append(time.perf_counter() - t0)
            cpus.append(procstat.cpu_seconds() - c0)
    checked(spark, len(walls) - 1)
    metrics = {
        "docs_per_s": statistics.median(n / w for n, w in zip(ndocs, walls)),
        "cpu_s_per_kdoc": statistics.median(1000.0 * c / n for n, c in zip(ndocs, cpus)),
        "setup_s": statistics.median(setups),
        "stored_bytes_ratio": wl.stored_bytes(len(walls) - 1) / wl.input_bytes(),
        "worker_peak_rss_mb": rss.mb,
    }
    raw = {"setups_s": setups, "pass_walls_s": walls, "workers": len(rss.peak_kb)}
    return metrics, raw


def trace(bench, wl, ref, e2e: dict, raw: dict, checked, name: str) -> dict:
    """The per-layer ledger: one traced pass in a session that writes an
    event log, a timed scan, and the serial engine and Arrow figures."""
    from caraspark.extract import extract

    from perfbench import eventlog, layers
    from perfbench.procstat import CORES

    bench.stop_session()
    spark = bench.session(event_log=True)
    wl.warm(spark)
    i = len(raw["pass_walls_s"])  # the next unused pass number
    wl.before_pass(i)
    jobs = layers.Tracer(clock=time.time)
    with jobs.patched(wl.job_layers()):
        t0 = time.time()
        n = wl.run_pass(spark, i)
        t1 = time.time()
    checked(spark, i)
    n0 = time.perf_counter()
    extract(spark.read.parquet(wl.scan_path())).write.format("noop").mode("overwrite").save()
    noop_s = time.perf_counter() - n0
    scans = []
    for _ in range(3):
        s0 = time.perf_counter()
        spark.read.parquet(wl.scan_path()).write.format("noop").mode("overwrite").save()
        scans.append(time.perf_counter() - s0)
    bench.stop_session()  # flushes and closes the event log
    log = eventlog.read(bench.path("eventlog")).window(t0, t1)

    engine = layers.Tracer()
    metrics = layers.engine_ledger(wl.doc_counts(), ref.ms, engine)
    metrics.update(layers.arrow_ledger(wl.docs[:1024]))
    wall = t1 - t0
    py = log.python_tasks
    durs = sorted(t.finish_s - t.launch_s for t in py)
    run_s = sum(t.run_s for t in log.tasks)
    metrics.update({
        "extract.noop_s": noop_s,
        "extract.task_busy_s": sum(t.run_s for t in py),
        "extract.python_bytes_sent_per_doc": sum(t.python_sent for t in py) / n,
        "extract.python_bytes_received_per_doc": sum(t.python_received for t in py) / n,
        "spark.scan_s": statistics.median(scans),
        "spark.gc_frac": sum(t.gc_s for t in log.tasks) / run_s,
        "spark.core_util": run_s / (wall * CORES),
        "spark.task_max_over_p50": durs[-1] / statistics.median(durs),
        "spark.shuffle_bytes": sum(t.shuffle_write_bytes for t in log.tasks),
        "spark.framework_eff":
            e2e["docs_per_s"] / (CORES * metrics["pdfengine.api.docs_per_s"]),
        "trace.wall_s": wall,
        # against the last untraced pass, the one nearest in JVM warm-up
        "trace.overhead_frac": wall / raw["pass_walls_s"][-1] - 1.0,
    })
    parts, attributed = wl.job_ledger(jobs, log, t0, t1)
    metrics.update(parts)
    metrics["trace.unattributed_s"] = wall - _union_s(attributed, t0, t1)
    engine.write(os.path.join(bench.traces, f"{name}-engine-spans.jsonl"))
    jobs.write(
        os.path.join(bench.traces, f"{name}-job-spans.jsonl"),
        extra=[{"name": "sql", "id": s.id, "start": s.start_s, "dur": s.end_s - s.start_s}
               for s in log.sqls],
    )
    return metrics


def run(args) -> int:
    from perfbench import check
    from perfbench.workloads import WORKLOADS

    bench = Bench(args.workload, args.seed)
    wl = WORKLOADS[args.workload](args.seed, bench)
    outcomes = []

    phases = {"check_s": 0.0}

    def checked(spark, i: int) -> None:
        t0 = time.perf_counter()
        got = check.observed_keys(wl.observed(spark, i))
        outcomes.append(check.compare(wl.expected(ref), got))
        phases["check_s"] += time.perf_counter() - t0

    t = time.perf_counter()
    try:
        docs = wl.make_inputs()
        print(f"{args.workload} input: {json.dumps(wl.properties())}")
        ref = check.Reference()
        ref.add(docs, reps=3 if args.trace else 1)
        phases["inputs_s"] = time.perf_counter() - t
        metrics, raw = measure(bench, wl, args.seconds, checked)
        phases["measure_s"] = time.perf_counter() - t - phases["inputs_s"]
        if args.trace:
            metrics.update(trace(bench, wl, ref, metrics, raw, checked,
                                 f"{args.workload}-s{args.seed}"))
    finally:
        bench.close()
    phases["total_s"] = time.perf_counter() - t

    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    correct = bool(outcomes) and all(o.ok for o in outcomes)
    metrics["docs_ok_frac"] = 1.0 - failed / attempted
    units = PER_LAYER if args.trace else END_TO_END
    missing = [k for k in units if not math.isfinite(metrics.get(k, math.nan))]
    if missing:
        print(f"perfbench: missing metrics {missing}", file=sys.stderr)
        correct = False
    for k, unit in {**END_TO_END, **(PER_LAYER if args.trace else {})}.items():
        print(f"{args.workload:13s} {k:42s} {metrics.get(k, math.nan):14.6g} {unit}")
    print(f"{args.workload:13s} {'docs_failed_frac':42s} "
          f"{failed / max(attempted, 1):14.6g} fraction")
    print(f"{args.workload} detail: {json.dumps({**raw, **phases})}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


def _check_manifest() -> None:
    """BENCHMARK.json and this file must name the same metrics."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        theirs = {m["name"]: m["unit"] for m in spec[key]}
        if theirs != ours:
            _die(f"BENCHMARK.json {key} differs from perfbench/run.py", 1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "caraspark", "__init__.py")):
        _die("run from the repository root: caraspark/ not found", 2)
    sys.path[:0] = [ROOT]
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", 2)
    _check_manifest()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
