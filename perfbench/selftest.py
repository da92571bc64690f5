#!/usr/bin/env python3
"""Self-tests of the benchmark, at tiny size (a few minutes on 4 cores).

    python3 perfbench/selftest.py

1. The correctness check flags one injected wrong span, a missing span, a
   missing document and an extra document, each as one failed document.
2. Every workload runs end to end, traced, with no failed document, and
   prints exactly the per-layer metric names of BENCHMARK.json; an untraced
   run prints exactly the end-to-end names.
3. Two ocr_cold runs back to back show no warm-cache drift: no Python worker
   serves two repetitions, no later repetition needs much less Python CPU
   than the first, and the two runs agree on cpu_ms_per_doc.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# warm caches cut the cold kernel's CPU to about a quarter; host noise alone
# stays well inside these ratios
MIN_CPU_RATIO = 0.6


def check_flags_injected_spans() -> None:
    import pyarrow as pa

    from check import failed_docs

    truth = pa.table({
        "doc_id": ["a", "a", "b", "c"],
        "ord": pa.array([0, 1, 0, 0], pa.int32()),
        "kind": ["text", "media", "pdf", "text"],
        "text": ["x y z", "Data scan", "p q", "u v w"],
        "media_ref": [None, "pg-1", "pdf-1", None],
    })
    assert failed_docs(truth, truth) == 0
    rows = truth.to_pylist()

    def variant(edit) -> pa.Table:
        return pa.Table.from_pylist(edit([dict(r) for r in rows]), schema=truth.schema)

    def wrong_text(rs):
        rs[1]["text"] = "Data scam"
        return rs

    extra = {"doc_id": "z", "ord": 0, "kind": "text", "text": "", "media_ref": None}
    for name, edit in [
        ("wrong span", wrong_text),
        ("missing span", lambda rs: rs[:1] + rs[2:]),
        ("missing document", lambda rs: rs[:3]),
        ("extra document", lambda rs: rs + [extra]),
    ]:
        got = failed_docs(truth, variant(edit))
        assert got == 1, f"{name}: {got} failed documents, expected 1"


def bench(workload: str, trace: int, scale: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--scale", str(scale)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}"
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    return {**result, **json.loads(lines[-2])}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {sec: {m["name"] for m in spec[sec]} for sec in ("end_to_end", "per_layer")}

    check_flags_injected_spans()
    print("ok: the check flags injected wrong, missing and extra spans")

    for w in spec["workloads"]:
        r = bench(w["name"], 1, 0.1)
        assert set(r["metrics"]) == names["per_layer"], set(r["metrics"]) ^ names["per_layer"]
        print(f"ok: {w['name']} traced run, {len(r['metrics'])} per-layer metrics")

    runs = [bench("ocr_cold", 0, 0.5) for _ in range(2)]
    for r in runs:
        assert set(r["metrics"]) == names["end_to_end"], set(r["metrics"]) ^ names["end_to_end"]
        reps = r["context"]["reps"]
        pids = [set(rep["workers"]) for rep in reps]
        assert all(p and not (p & q) for i, p in enumerate(pids) for q in pids[i + 1 :]), pids
        first = reps[0]["py_cpu_s"]
        assert all(rep["py_cpu_s"] >= MIN_CPU_RATIO * first for rep in reps), reps
    a, b = (r["metrics"]["cpu_ms_per_doc"]["value"] for r in runs)
    assert min(a, b) >= MIN_CPU_RATIO * max(a, b), (a, b)
    print(f"ok: two ocr_cold runs, fresh workers per repetition, cpu_ms_per_doc {a:.1f} / {b:.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
