#!/usr/bin/env python3
"""Layer-resolved benchmark of the ocr_spark extraction job.

    python3 perfbench/run.py --workload ocr_warm --seed 1 --seconds 15 --trace 0

Runs ``ocr_spark.pipeline.job.extract()`` -- what ``ocr_spark.cli extract``
runs -- on ``local[nproc]`` over a seeded corpus (``corpus.py``), as a
closed loop: one driver submits one job, waits for it and times it. Every
repetition starts a fresh SparkContext, so its Python workers have never seen
the corpus, and writes to a fresh output directory; after a first, untimed
repetition that warms the JVM, repetitions run until ``--seconds`` have
passed (at least MIN_REPS). Every repetition's committed spans are checked
against the corpus truth.

``--trace 0`` prints the end-to-end metrics (medians over repetitions).
``--trace 1`` additionally runs one repetition with the Spark event log on,
replays the kernel, stripper and PDF parser on the driver over the
workload's own inputs, and prints the per-layer metrics instead. The last
stdout line is the result object; the line before it is run context
(per-repetition figures and hypervisor steal), which is not a metric.

All scratch state (corpora, Spark dirs, outputs, event logs) lives in
``.perfbench/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

MIN_REPS = 3
# untimed extract() calls before the first timed one, on a corpus of the
# same shape: the first job in a JVM runs about twice as long as later ones
WARMUP_JOBS = 1
WARMUP_SEED = 0
# pages of the kernel replay in a traced run: the first distinct pages of
# the corpus, enough for steady per-page figures at a bounded cost
REPLAY_PAGES = 300


def _isolate() -> None:
    """Point every temp and Spark directory into WORK, before pyspark or
    tempfile is first used, and let the Python workers import ocr_spark."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _warm_workers(spark, n: int) -> None:
    """Start one Python worker per core and import the kernel, stripper and
    PDF modules in it; no corpus data is touched."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def warm(ids: pd.Series) -> pd.Series:
        import ocr_spark.html.strip  # noqa: F401
        import ocr_spark.kernel.engine  # noqa: F401
        import ocr_spark.pdf  # noqa: F401
        import ocr_spark.png  # noqa: F401

        return ids

    spark.range(0, n, 1, n).select(warm("id")).write.format("noop").mode("overwrite").save()


class Bench:
    """One JVM for the whole run; a fresh SparkContext per repetition."""

    def __init__(self):
        import host

        self.n = host.nproc()
        self.driver_mb = host.driver_memory_mb()
        self.jobs = 0

    def _session(self, eventlog: str | None = None):
        from pyspark.sql import SparkSession

        from ocr_spark.pipeline.job import configure

        tmp = os.path.join(WORK, "tmp")
        b = (
            SparkSession.builder.master(f"local[{self.n}]")
            .appName("perfbench")
            .config("spark.driver.memory", f"{self.driver_mb}m")
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
            .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.eventLog.enabled", "true" if eventlog else "false")
        )
        if eventlog:
            os.makedirs(eventlog, exist_ok=True)
            b = (
                b.config("spark.eventLog.dir", "file://" + eventlog)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        spark = configure(b, self.n).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _extract(self, spark, cdir: str, buckets: int) -> str:
        from ocr_spark.pipeline.job import extract

        self.jobs += 1
        out = os.path.join(WORK, "out", f"job{self.jobs}")
        shutil.rmtree(out, ignore_errors=True)
        extract(spark, cdir, out, run_id=f"job{self.jobs}", buckets=buckets)
        return out

    @staticmethod
    def _failed(out: str, truth) -> int:
        import check

        failed = check.failed_docs(truth, check.read_committed(out))
        shutil.rmtree(out, ignore_errors=True)
        return failed

    def warm_up(self, cdir: str, buckets: int, truth, jobs: int) -> int:
        """Untimed extract() calls in one session; the failed documents."""
        spark = self._session()
        outs = []
        try:
            for _ in range(jobs):
                outs.append(self._extract(spark, cdir, buckets))
        finally:
            spark.stop()
        return sum(self._failed(o, truth) for o in outs)

    def rep(self, cdir: str, buckets: int, truth, eventlog: str | None = None) -> dict:
        """One timed repetition: set-up of a fresh session, then extract()."""
        from pyspark import SparkContext

        import host
        from ocr_spark.pipeline.udfs import default_alphabet, load_alphabet
        from ocr_spark.procstat import StealMeter

        t = time.perf_counter()
        spark = self._session(eventlog)
        load_alphabet.cache_clear()
        default_alphabet()
        _warm_workers(spark, self.n)
        setup_s = time.perf_counter() - t

        # garbage of earlier sessions would otherwise be collected at a
        # random point of some later timed job
        SparkContext._jvm.System.gc()
        jvm = SparkContext._gateway.proc.pid
        rss = host.WorkerRss(jvm)
        rss.start()
        steal = StealMeter()
        cpu0 = host.tree_cpu_s(jvm)
        w0 = int(time.time() * 1000)
        t = time.perf_counter()
        try:
            out = self._extract(spark, cdir, buckets)
            wall_s = time.perf_counter() - t
            w1 = int(time.time() * 1000) + 1
            jvm_s, py_s = (b - a for a, b in zip(cpu0, host.tree_cpu_s(jvm)))
        finally:
            rss_mb = rss.stop()
            app = spark.sparkContext.applicationId
            spark.stop()
        return {
            "setup_s": setup_s, "wall_s": wall_s, "cpu_s": jvm_s + py_s, "py_cpu_s": py_s,
            "rss_mb": rss_mb, "workers": sorted(rss.peak_kb),
            "failed": self._failed(out, truth), "steal_pct": steal.pct(),
            "eventlog": os.path.join(eventlog, app) if eventlog else None,
            "window_ms": (w0, w1),
        }

    def close(self) -> None:
        """Stop the JVM and wait until it and every process it started (the
        Python daemons and workers of its sessions) have ended."""
        from pyspark import SparkContext

        import host

        gw = SparkContext._gateway
        if gw is not None:
            below = host.descendants(gw.proc.pid)
            gw.shutdown()
            gw.proc.terminate()
            gw.proc.wait()
            host.wait_gone(below)


def _layers(cdir: str, traced: dict, untraced: dict) -> dict[str, float]:
    import pyarrow.parquet as pq

    import corpus
    import eventlog
    import replay
    from ocr_spark.kernel.segment import Settings
    from ocr_spark.pipeline.udfs import default_alphabet

    out = eventlog.parse(traced["eventlog"], *traced["window_ms"])
    os.remove(traced["eventlog"])
    media = pq.read_table(os.path.join(cdir, "media.parquet")).slice(0, REPLAY_PAGES)
    out.update(replay.kernel(media.column("png").to_pylist(), default_alphabet(),
                             Settings(character_spacing=corpus.CHAR_SPACING)))
    spans = pq.read_table(os.path.join(cdir, "documents.parquet")).column("spans").to_pylist()
    out.update(replay.strip([s["text"] for d in spans for s in d if s["kind"] == "text"]))
    pdfs = os.path.join(cdir, "pdfs.parquet")
    out.update(replay.pdf(pq.read_table(pdfs).column("pdf").to_pylist()
                          if os.path.exists(pdfs) else []))
    # docs/s lost to tracing, against the repetition just before the traced
    # one: the JVM is still warming up over the first repetitions, so the
    # run median would make tracing look free
    out["trace_overhead_pct"] = 100.0 * (1.0 - untraced["wall_s"] / traced["wall_s"])
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0):
    """(result, context) of one benchmark run."""
    import pyarrow.parquet as pq

    import corpus
    import host

    shape = corpus.WORKLOADS[workload]
    if scale != 1.0:
        shape = corpus.scaled(shape, scale)
    croot = os.path.join(WORK, "corpus")
    t = time.perf_counter()
    cdir = corpus.ensure(croot, workload, shape, seed, procs=host.nproc())
    corpus_s = time.perf_counter() - t
    # the warm-up corpus does not depend on the seed, so it is built once.
    # Both are built before any table is read: the generator forks
    wdir = corpus.ensure(croot, workload, shape, WARMUP_SEED, procs=host.nproc())
    truth = pq.read_table(os.path.join(cdir, "truth.parquet"))
    docs = _docs(truth)
    wtruth = pq.read_table(os.path.join(wdir, "truth.parquet"))

    bench = Bench()
    phase_s = {"corpus": corpus_s}
    try:
        t = time.perf_counter()
        failed = bench.warm_up(wdir, shape.buckets, wtruth, WARMUP_JOBS)
        attempted = _docs(wtruth) * WARMUP_JOBS
        phase_s["warm_up"] = time.perf_counter() - t
        reps = []
        t0 = time.perf_counter()
        while len(reps) < MIN_REPS or time.perf_counter() - t0 < seconds:
            reps.append(bench.rep(cdir, shape.buckets, truth))
        traced = bench.rep(cdir, shape.buckets, truth, os.path.join(WORK, "eventlog")) if trace else None
        phase_s["timed"] = time.perf_counter() - t0
    finally:
        t = time.perf_counter()
        bench.close()
        phase_s["close"] = time.perf_counter() - t

    timed = reps + ([traced] if traced else [])
    failed += sum(r["failed"] for r in timed)
    attempted += docs * len(timed)
    med = lambda key: statistics.median(r[key] for r in reps)  # noqa: E731
    if trace:
        metrics = {"failed_doc_frac": failed / attempted,
                   **_layers(cdir, traced, reps[-1])}
        units = _units("per_layer")
    else:
        # throughput and CPU pool every timed extract() call: with three
        # calls a run, their total is steadier than their median
        done = docs * len(reps)
        metrics = {
            "docs_per_s": done / sum(r["wall_s"] for r in reps),
            "cpu_ms_per_doc": 1e3 * sum(r["cpu_s"] for r in reps) / done,
            "setup_s": med("setup_s"),
            "worker_peak_rss_mb": med("rss_mb"),
        }
        units = _units("end_to_end")
    if metrics.keys() != units.keys():
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(metrics.keys() ^ units.keys())}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    kinds = truth.column("kind").to_pylist()
    refs = [r for r, k in zip(truth.column("media_ref").to_pylist(), kinds) if k == "media"]
    context = {
        "workload": workload, "seed": seed, "nproc": bench.n,
        "driver_memory_mb": bench.driver_mb, "phase_s": phase_s,
        "docs": docs, "spans": len(kinds),
        "span_share": {k: round(kinds.count(k) / len(kinds), 4) for k in ("media", "text", "pdf")},
        "media_distinct_per_occurrence": round(len(set(refs)) / max(len(refs), 1), 4),
        "reps": [{k: r[k] for k in ("setup_s", "wall_s", "cpu_s", "py_cpu_s", "rss_mb", "workers", "failed", "steal_pct")}
                 for r in reps],
    }
    return result, context


def _docs(truth) -> int:
    return len(set(truth.column("doc_id").to_pylist()))


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ocr_warm", "ocr_cold"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the workload's document count (self-tests)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ocr_spark")):
        print(f"perfbench: no ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    _isolate()
    result, context = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
