"""Self-test of the benchmark on the small sf0.01 catalog.

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` once untraced and once traced
(short runs) and fails unless

- each run exits 0 and ends with the result object, with no failed op;
- the untraced run prints exactly the end-to-end metrics, the traced run
  exactly the per-layer metrics, each with the unit ``BENCHMARK.json``
  gives it, and every end-to-end value is above 0;
- in the traced run, the child spans of every op (build, plans, exec, or
  the sink call) add up to the op's wall time within ``SPAN_TOL_MS`` plus
  ``SPAN_TOL_SHARE`` of the op.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import sibling_catalog
from spans import duration_ms, self_times_ms

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "sf0.01"
SPAN_TOL_MS = 5.0
SPAN_TOL_SHARE = 0.02


def run(workload: str, trace: int) -> tuple[dict, list[dict]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf-dir", sibling_catalog(SF)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    spans = [json.loads(ln[6:]) for ln in lines if ln.startswith("SPANS ")]
    return json.loads(lines[-1]), (spans[0] if spans else [])


def check_spans(workload: str, spans: list[dict]) -> int:
    """Every op's self time (wall minus its child spans) is within tolerance."""
    self_ms = self_times_ms(spans)
    ops = [s for s in spans if s["name"] == "op"]
    assert ops, f"{workload}: no op spans recorded"
    for s in ops:
        wall = duration_ms(s)
        assert 0 <= self_ms[s["id"]] <= SPAN_TOL_MS + SPAN_TOL_SHARE * wall, (
            f"{workload}: op {s['op']} wall {wall:.1f} ms, {self_ms[s['id']]:.1f} ms "
            "of it outside its build, plans and exec spans")
    return len(ops)


def main() -> int:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, spans = run(w, trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            if trace:
                n = check_spans(w, spans)
                print(f"ok {w} trace=1: {len(got)} metrics, {n} ops' spans sum to their wall")
            else:
                zero = [k for k, v in result["metrics"].items() if not v["value"] > 0]
                assert not zero, f"{w}: end-to-end metrics at 0: {zero}"
                print(f"ok {w} trace=0: {len(got)} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
