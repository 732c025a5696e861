"""Fast self-test of the benchmark at the smallest input scale.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced on
perfbench/data/sf0.001 (same seed) and asserts that:

- the last stdout line is the result object with every metric that
  BENCHMARK.json names for that mode, each with its unit;
- no op failed (failed_ratio is 0);
- the traced run wrote its span file.

It also prints each workload's tracing overhead: the traced run's wall time
minus the untraced run's, next to the overhead the traced run measured in
its own instrumentation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
           "--seconds", "0", "--trace", str(trace), "--sf-dir", os.path.join(HERE, "data", "sf0.001")]
    res = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if res.returncode != 0:
        raise SystemExit(f"FAIL {' '.join(cmd)} rc={res.returncode}\n{res.stderr[-3000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def _check(workload: str, mode: str, result: dict, spec: list[dict]) -> list[str]:
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(result)}")
    if result.get("failed") != 0 or result.get("correct") is not True or result.get("attempted", 0) < 1:
        errs.append(f"failed={result.get('failed')} of attempted={result.get('attempted')}")
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        errs.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                    f"extra {sorted(set(got) - set(want))}, "
                    f"unit mismatches {sorted(k for k in set(want) & set(got) if want[k] != got[k])}")
    return [f"{workload} {mode}: {e}" for e in errs]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errs: list[str] = []
    for w in (x["name"] for x in bench["workloads"]):
        plain = _run(w, 0)
        traced = _run(w, 1)
        errs += _check(w, "trace=0", plain, bench["end_to_end"])
        errs += _check(w, "trace=1", traced, bench["per_layer"])
        span_file = os.path.join(ROOT, ".bench_work", "trace", f"{w}-seed{SEED}.jsonl")
        if not os.path.isfile(span_file) or os.path.getsize(span_file) == 0:
            errs.append(f"{w} trace=1: no span file {span_file}")
        m = traced["metrics"]
        print(f"{w}: wall_s untraced {plain['metrics']['wall_s']['value']:.3f} s, "
              f"traced {m['trace.wall_s']['value']:.3f} s; "
              f"instrumentation inside ops {m['trace.overhead_s']['value']:.4f} s")
    for e in errs:
        print("FAIL " + e)
    print("selftest " + ("FAILED" if errs else "passed"))
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
