#!/usr/bin/env python3
"""Job-surface benchmark for the extraction engine.

    python3 perfbench/run.py --workload fresh-mixed --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` in this process, then
drives the engine's job-path functions (``pipeline.run_extraction_job``,
``pipeline.rerun_failed``) in a long-lived ``local[1]`` session and a
long-lived ``local[4]`` session, one after the other in the same JVM, in
the workload's order, after an untimed session that only warms the JVM
where the workload has one. Each session is warmed for the workload's
fixed number of calls (README.md records the per-pass series behind the
counts); a timed session is then timed for half of ``--seconds``. Every
warm-up call's wall time and every timed call's wall and CPU time are
logged to stderr. The table written by the last timed ``local[4]`` call
is read back and checked. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (Spark event log on, engine calls wrapped in spans).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# one scratch directory per process, so two runs in a checkout cannot collide
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
OUT = os.path.join(ROOT, ".perfbench_out")

MIN_TIMED_CALLS = 2
DRIVER_MEMORY = "2g"


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _conf(name: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed set of JIT compiler threads, so their CPU can be told
        # apart from the work's for the whole run (procstat.py)
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(WORK, "tmp")
        + " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if trace:
        log_dir = os.path.join(WORK, "events", name)
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Level:
    """One long-lived session at a core level and what it measured."""

    def __init__(self, cores: int):
        self.cores = cores
        self.session_s = 0.0
        self.setup_s = 0.0
        self.walls: list[float] = []
        self.docs: list[int] = []
        self.cpu_s: list[float] = []
        self.calls: list[str] = []
        self.failures: list[str] = []
        self.peak_rss_mb = 0.0

    def docs_per_s(self) -> float:
        return _median([d / w for d, w in zip(self.docs, self.walls)])

    def cpu_ms_per_doc(self) -> float:
        return _median([1000.0 * c / d for c, d in zip(self.cpu_s, self.docs)])


def run_level(
    wl, cores: int, warmup: int, seconds: float | None, tracer, check: bool
) -> Level:
    """One session: ``warmup`` calls, then timed calls for ``seconds``
    (none if ``seconds`` is None), then the check of the last table."""
    from pdf_extractor_spark.session import build_session

    import procstat

    lv = Level(cores)
    # an untimed session logs its events apart, so that per_layer reads
    # only the timed session's
    name = f"c{cores}" if seconds is not None else f"c{cores}-untimed"
    t0 = time.perf_counter()
    with tracer.span("session.build_session", call=f"{name}-session"):
        spark = build_session(
            app_name=f"perfbench-{wl.name}-{name}",
            master=f"local[{cores}]",
            extra_conf=_conf(name, tracer.enabled),
        )
    lv.session_s = time.perf_counter() - t0
    try:
        prepared = wl.prepare(spark)
        input_df = wl.input_df(spark)
        warm = []
        for i in range(warmup - prepared):
            table = wl.before_call()
            t = time.perf_counter()
            with tracer.call(spark, f"pipeline.{wl.job}", f"{name}-warm{i}"):
                wl.call(spark, input_df, table)
            warm.append(time.perf_counter() - t)
        _log(f"{name} warm-up passes: " + " ".join(f"{w:.2f}" for w in warm))
        lv.setup_s = time.perf_counter() - t0
        lv.peak_rss_mb = procstat.python_worker_hwm_mb()
        t_meas = time.perf_counter()
        while seconds is not None and (
            len(lv.walls) < MIN_TIMED_CALLS
            or time.perf_counter() - t_meas < seconds
        ):
            table = wl.before_call()
            call_id = f"c{cores}-timed{len(lv.walls)}"
            cpu0 = procstat.tree_work_cpu_s()
            t = time.perf_counter()
            with tracer.call(spark, f"pipeline.{wl.job}", call_id):
                n = wl.call(spark, input_df, table)
            lv.walls.append(time.perf_counter() - t)
            lv.cpu_s.append(procstat.tree_work_cpu_s() - cpu0)
            lv.docs.append(n)
            lv.calls.append(call_id)
            lv.peak_rss_mb = max(lv.peak_rss_mb, procstat.python_worker_hwm_mb())
        _log(f"c{cores} timed passes: " + " ".join(f"{w:.2f}" for w in lv.walls))
        _log(f"c{cores} timed CPU s: " + " ".join(f"{c:.2f}" for c in lv.cpu_s))
        t = time.perf_counter()
        if check:
            lv.failures = [f"local[{cores}] {f}" for f in wl.check(wl.collect(spark, table))]
        _log(f"{name} session {lv.session_s:.2f}s, set-up {lv.setup_s:.2f}s, "
             f"check {time.perf_counter() - t:.2f}s")
    finally:
        spark.stop()
        _forget_jvm_udf()
    return lv


def _forget_jvm_udf() -> None:
    """Drop the JVM function the engine's module-level extract UDF cached.

    PySpark builds it on first use with the accumulator of the session
    that was active then; a later session in the same JVM would send its
    accumulator updates to the stopped session's server and log an error
    per task."""
    from pdf_extractor_spark.extract import udfs

    udfs.extract_udf._unwrapped._judf_placeholder = None


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_for_children(timeout: float = 60.0) -> None:
    import procstat

    deadline = time.monotonic() + timeout
    while procstat.descendants():
        if time.monotonic() > deadline:
            raise RuntimeError("child processes still running after shutdown")
        time.sleep(0.2)


def end_to_end(levels: dict[int, Level], sessions: list[Level], gen_s: float) -> dict:
    n4, n1 = levels[4], levels[1]
    # wall-time throughput is printed, not gated: neighbour load on a
    # shared host moves it far more than CPU time (README.md)
    _log(f"docs_per_s_n={n1.docs_per_s():.2f} docs/s, docs_per_s_4n={n4.docs_per_s():.2f} docs/s")
    return {
        "cpu_ms_per_doc_n": (n1.cpu_ms_per_doc(), "ms"),
        "cpu_ms_per_doc_4n": (n4.cpu_ms_per_doc(), "ms"),
        "worker_peak_rss_mb": (max(lv.peak_rss_mb for lv in sessions), "MB"),
        "setup_s": (gen_s + sum(lv.setup_s for lv in sessions), "s"),
    }


PARSER_SAMPLE = 400  # payloads of each kind timed single-process
TIMING_ROUNDS = 3


def _best_times(fn, items) -> list[float]:
    """Per item, the best of TIMING_ROUNDS timed calls; rounds interleave
    so a slow stretch of the machine hits one round, not one item."""
    best = [math.inf] * len(items)
    for _ in range(TIMING_ROUNDS):
        for i, x in enumerate(items):
            t = time.perf_counter()
            fn(x)
            best[i] = min(best[i], time.perf_counter() - t)
    return best


def parser_layers(wl) -> dict:
    """Single-process parser and dispatch timings on the workload's
    payloads; a workload without payloads of one kind borrows them from
    the fixture mix of the same seed."""
    import gzip

    from pdf_extractor_spark.extract.html_parser import extract_html_one
    from pdf_extractor_spark.extract.pdf_parser import extract_pdf_one
    from pdf_extractor_spark.extract.udfs import extract_one

    import workloads

    def plain(p: bytes) -> bytes:
        return gzip.decompress(p) if p[:2] == b"\x1f\x8b" else p

    def parse(p: bytes):
        return extract_pdf_one(p) if p.startswith(b"%PDF-") else extract_html_one(p)

    decoded = [(plain(r["html"]), r) for r in wl.rows]
    html = [p for p, _ in decoded if not p.startswith(b"%PDF-")]
    pdf = [(p, wl.pages(r)) for p, r in decoded if p.startswith(b"%PDF-")]
    if not html or not pdf:
        mix = workloads._mix_rows(wl.seed, PARSER_SAMPLE)
        html = html or [r["html"] for r in mix if not r["html"].startswith(b"%PDF-")]
        pdf = pdf or [
            (r["html"], workloads._n_pages(r["html"]))
            for r in mix
            if r["html"].startswith(b"%PDF-")
        ]
    html, pdf = html[:PARSER_SAMPLE], pdf[:PARSER_SAMPLE]
    t_html = sum(_best_times(extract_html_one, html))
    t_pdf = sum(_best_times(extract_pdf_one, [p for p, _ in pdf]))
    # dispatch = extract_one (gzip, sniffing, result building) minus the
    # parser it dispatches to, on the same payloads of the timed call
    payloads = [r["html"] for r in wl.call_inputs][:PARSER_SAMPLE]
    t_one = sum(_best_times(extract_one, payloads))
    t_parse = sum(_best_times(parse, [plain(p) for p in payloads]))
    return {
        "html_parser.docs_per_s": (len(html) / t_html, "docs/s"),
        "html_parser.mb_per_s": (sum(map(len, html)) / 1e6 / t_html, "MB/s"),
        "pdf_parser.docs_per_s": (len(pdf) / t_pdf, "docs/s"),
        "pdf_parser.pages_per_s": (sum(n for _, n in pdf) / t_pdf, "pages/s"),
        "udfs.dispatch_us_per_doc": (1e6 * (t_one - t_parse) / len(payloads), "us"),
    }


def per_layer(wl, levels: dict[int, Level], sessions: list[Level], tracer) -> dict:
    """Per-layer metrics: medians over the traced local[4] timed calls."""
    from pdf_extractor_spark.session import ARROW_MAX_RECORDS_PER_BATCH

    import eventlog

    lv = levels[4]
    raw = eventlog.per_call(os.path.join(WORK, "events", "c4"), ARROW_MAX_RECORDS_PER_BATCH)
    rows = []
    for call, docs in zip(lv.calls, lv.docs):
        t = defaultdict(float, raw.get(call, {}))
        rows.append(
            {
                "pipeline.spark_jobs": (t["jobs"], "count"),
                "pipeline.sql_executions": (t["sql_executions"], "count"),
                "pipeline.tasks": (t["tasks"], "count"),
                "pipeline.extractions_per_doc": (t["udf_rows"] / docs, "ratio"),
                "pipeline.executor_cpu_s": (t["executor_cpu_ns"] / 1e9, "s"),
                "pipeline.gc_s": (t["gc_ms"] / 1e3, "s"),
                "udfs.python_run_s": (t["python_run_ms"] / 1e3, "s"),
                "udfs.python_start_s": (t["python_start_ms"] / 1e3, "s"),
                "udfs.sent_mb": (t["sent_bytes"] / 1e6, "MB"),
                "udfs.returned_mb": (t["returned_bytes"] / 1e6, "MB"),
                "udfs.batches": (t["batches"], "count"),
                "partitioning.heavy_hosts_s": (
                    tracer.seconds("partitioning.heavy_hosts", call),
                    "s",
                ),
                "partitioning.shuffle_mb": (t["shuffle_bytes"] / 1e6, "MB"),
                "partitioning.shuffle_write_s": (t["shuffle_write_ns"] / 1e9, "s"),
                "partitioning.task_skew": (t["task_skew"], "ratio"),
                "catalog.scan_s": (t["scan_ms"] / 1e3, "s"),
                "catalog.scan_mb": (t["scan_bytes"] / 1e6, "MB"),
                "catalog.commit_s": (tracer.seconds("catalog.commit_snapshot", call), "s"),
                "catalog.written_mb": (t["written_bytes"] / 1e6, "MB"),
            }
        )
    out = {k: (_median([r[k][0] for r in rows]), unit) for k, (_, unit) in rows[0].items()}
    # wall-time throughput of the traced calls: not gated, see end_to_end
    out["pipeline.docs_per_s_n"] = (levels[1].docs_per_s(), "docs/s")
    out["pipeline.docs_per_s_4n"] = (lv.docs_per_s(), "docs/s")
    out["session.start_s"] = (sum(x.session_s for x in sessions), "s")
    out.update(parser_layers(wl))
    os.makedirs(OUT, exist_ok=True)
    tracer.write(
        os.path.join(OUT, f"trace-{wl.name}-seed{wl.seed}.json"),
        {"event_log_per_call": raw},
    )
    return out


def run(args) -> dict:
    import workloads
    from tracing import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    if tracer.enabled:
        from pdf_extractor_spark.plans import partitioning
        from pdf_extractor_spark.sources import catalog

        tracer.wrap(partitioning, "heavy_hosts", "partitioning.heavy_hosts")
        tracer.wrap(catalog, "commit_snapshot", "catalog.commit_snapshot")
    try:
        t = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](args.seed, WORK)
        gen_s = time.perf_counter() - t
        _log(f"inputs generated in {gen_s:.2f}s")
        sessions, levels = [], {}
        for cores, warmup, timed in wl.sessions:
            # the timed local[4] session's output is read back and checked
            sessions.append(
                run_level(
                    wl,
                    cores,
                    warmup,
                    args.seconds / 2 if timed else None,
                    tracer,
                    timed and cores == 4,
                )
            )
            if timed:
                levels[cores] = sessions[-1]
    finally:
        shutdown_jvm()
        tracer.restore()
    wait_for_children()
    attempted = sum(wl.docs_per_call * len(lv.docs) for lv in levels.values())
    committed = sum(sum(lv.docs) for lv in levels.values())
    failures = [f for lv in levels.values() for f in lv.failures]
    for f in failures:
        _log("CHECK FAILED: " + f)
    if tracer.enabled:
        metrics = per_layer(wl, levels, sessions, tracer)
    else:
        metrics = end_to_end(levels, sessions, gen_s)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": attempted - committed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def prepare_workdir() -> None:
    """A fresh scratch directory in the checkout, used for every file
    Python, Spark and the JVM write while the benchmark runs."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # the Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def cleanup_workdir() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(WORK))
    except OSError:  # another run still has its directory there
        pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pdf_extractor_spark")):
        _log(f"no engine source next to {HERE}: run from a checkout of the repo")
        return 2
    sys.path.insert(1, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2

    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    prepare_workdir()
    try:
        result = run(args)
    finally:
        cleanup_workdir()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
