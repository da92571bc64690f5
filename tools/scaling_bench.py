#!/usr/bin/env python3
"""Two-cluster-size scaling evidence (BASELINE.md protocol).

A real N vs 4N executor comparison cannot run in this sandbox, so the same
job runs at two local[k] parallelism levels on the same input (fresh
warehouse each run, separate JVMs) and we report throughput at both plus

    efficiency = (docs/sec at local[4N]) / (4 * docs/sec at local[N])

Usage:
    python3 tools/scaling_bench.py --docs 8000 --pages 1600 --cpus 8,32 \
        [--skew] [--md BENCH/BASELINE.md]

Each run times the FULL job (bucketed extraction + manifest commits), i.e.
what `ocr_spark.cli extract` executes, measured in-process so JVM startup
is excluded (startup is constant, not a scaling property).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def single(cpus: int, corpus: str, out_dir: str, buckets: int,
           fonts: str = "arial") -> None:
    from pyspark.sql import SparkSession

    from ocr_spark.pipeline.job import configure, extract, read_output
    from ocr_spark.procstat import StealMeter

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"ocr_spark-scaling-{cpus}")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.ui.enabled", "false")
        # single-JVM local mode: the driver heap IS the executor heap; the
        # 1g default GC-thrashes with 32 concurrent tasks
        .config("spark.driver.memory", os.environ.get("OCR_SPARK_DRIVER_MEM", "24g"))
    )
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    meter = StealMeter()
    t0 = time.perf_counter()
    metrics = extract(spark, corpus, out_dir, run_id=f"scale-{cpus}", buckets=buckets,
                      fonts=tuple(f for f in fonts.split(",") if f))
    wall = time.perf_counter() - t0
    out = read_output(spark, out_dir)
    n_docs = out.select("doc_id").distinct().count()
    n_spans = metrics["spans"]
    print(
        "RESULT " + json.dumps(
            {
                "cpus": cpus,
                "wall_s": round(wall, 2),
                "docs": n_docs,
                "spans": n_spans,
                "docs_per_sec": round(n_docs / wall, 2),
                "spans_per_sec": round(n_spans / wall, 2),
                "steal_pct": meter.pct(),
            }
        )
    )
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=8000)
    ap.add_argument("--pages", type=int, default=1600)
    ap.add_argument("--cpus", default="8,32")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--skew", action="store_true")
    ap.add_argument(
        "--fonts", default="arial",
        help="comma list of font sheets to learn (multi-font leg: "
             "arial,courier doubles the 1-NN template matrix)",
    )
    ap.add_argument("--md", default=None, help="write/update this markdown report")
    ap.add_argument("--single", nargs=3, metavar=("CPUS", "CORPUS", "OUT"), default=None)
    ap.add_argument(
        "--prewarm", action="store_true",
        help="read the corpus into page cache before each timed run so both "
             "parallelism levels see identical input I/O state",
    )
    ap.add_argument(
        "--taskset", action="store_true",
        help="confine each run's ENTIRE process tree (JVM, GC threads, Python "
             "workers) to its k cores via taskset. Without this, a local[2] "
             "run still spreads JVM service threads over every core, "
             "flattering the small-N baseline — a real 2-core cluster cannot "
             "do that, so pinned runs are the faithful cluster-size analogue",
    )
    args = ap.parse_args()

    if args.single:
        single(int(args.single[0]), args.single[1], args.single[2], args.buckets,
               fonts=args.fonts)
        return

    from ocr_spark.fixtures import FIXTURE_VERSION, ensure_built, write_corpus

    tag = f"{args.docs}x{args.pages}{'_skew' if args.skew else ''}"
    corpus = f"/tmp/ocr_spark_scaling/{tag}"
    ensure_built(
        corpus, f"v{FIXTURE_VERSION} {tag}",
        lambda: write_corpus(corpus, n_docs=args.docs, n_pages=args.pages, skew=args.skew),
    )

    results = []
    for k in [int(c) for c in args.cpus.split(",")]:
        out_dir = f"/tmp/ocr_spark_scaling/out_{tag}_{k}"
        shutil.rmtree(out_dir, ignore_errors=True)
        if args.prewarm:
            for name in os.listdir(corpus):
                with open(os.path.join(corpus, name), "rb") as f:
                    while f.read(1 << 24):
                        pass
        cmd = [sys.executable, os.path.abspath(__file__), "--single", str(k), corpus, out_dir,
               "--buckets", str(args.buckets), "--fonts", args.fonts]
        if args.taskset:
            cmd = ["taskset", "-c", f"0-{k - 1}"] + cmd
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
        if not line:
            sys.stderr.write(proc.stdout + "\n" + proc.stderr + "\n")
            raise SystemExit(f"run local[{k}] produced no RESULT line")
        results.append(json.loads(line[-1][len("RESULT "):]))
        print(json.dumps(results[-1]))

    if len(results) >= 2:
        lo, hi = results[0], results[-1]
        factor = hi["cpus"] / lo["cpus"]
        eff = hi["docs_per_sec"] / (factor * lo["docs_per_sec"])
        summary = {
            "input_docs": args.docs,
            "input_pages": args.pages,
            "skew": args.skew,
            "runs": results,
            "scaling_factor": factor,
            "efficiency": round(eff, 3),
        }
        print(json.dumps(summary))
        if args.md:
            _write_md(args.md, summary)


def _write_md(path: str, s: dict) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    lines = [
        "# BENCH — measured scaling evidence",
        "",
        "Two-parallelism stand-in for the N vs 4N executor rule (BASELINE.md):",
        "identical job (bucketed extraction + manifest commits), identical input,",
        "separate JVMs, fresh output each run; synth generation excluded.",
        "",
        f"Input: {s['input_docs']} docs / {s['input_pages']} distinct pages"
        + (" (with 3 hot media-heavy docs)" if s["skew"] else "") + ".",
        "",
        "| run | wall s | docs/s | spans/s | steal % |",
        "|---|---|---|---|---|",
    ]
    for r in s["runs"]:
        lines.append(
            f"| local[{r['cpus']}] | {r['wall_s']} | {r['docs_per_sec']} | "
            f"{r['spans_per_sec']} | {r.get('steal_pct')} |"
        )
    lines += [
        "",
        f"**Scaling efficiency ({s['runs'][0]['cpus']} -> {s['runs'][-1]['cpus']} cores, "
        f"factor {s['scaling_factor']:.0f}x): {s['efficiency']}** (gate: >= 0.8).",
        "",
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
