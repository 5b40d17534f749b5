"""Fast self-test of the benchmark at tiny input size.

For each workload it makes two runs through ``run.py``:
- untraced and clean: every end-to-end metric of BENCHMARK.json prints
  with its unit, the run is correct, and ``ok_frac`` is 1;
- traced with one answer deliberately corrupted: every per-layer metric
  prints with its unit, and the corrupted answer is counted as failed.

    python3 benchsuite/selftest.py [workload ...]

Takes about a minute per run on 4 cores; exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALL = ("registry", "screen", "screen_memo")


def _run(workload: str, trace: int, inject: bool) -> dict:
    cmd = [
        sys.executable, os.path.join(ROOT, "benchsuite", "run.py"), "--workload", workload,
        "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
    ] + (["--inject-fault"] if inject else [])
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        raise AssertionError(f"{workload}: run.py exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_metrics(workload: str, result: dict, spec: list[dict]) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{workload}: result keys {sorted(result)}")
    for m in spec:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            raise AssertionError(f"{workload}: metric {m['name']} missing or wrong: {got}")
    extra = set(result["metrics"]) - {m["name"] for m in spec}
    if extra:
        raise AssertionError(f"{workload}: unexpected metrics {sorted(extra)}")


def main(argv=None) -> int:
    workloads = (argv if argv is not None else sys.argv[1:]) or ALL
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    try:
        for w in workloads:
            clean = _run(w, trace=0, inject=False)
            _check_metrics(w, clean, bench["end_to_end"])
            if not clean["correct"] or clean["failed"] or clean["metrics"]["ok_frac"]["value"] != 1.0:
                raise AssertionError(f"{w}: clean run not correct: {clean}")
            print(f"ok  {w} untraced: {len(clean['metrics'])} metrics, {clean['attempted']} ops correct")
            bad = _run(w, trace=1, inject=True)
            _check_metrics(w, bad, bench["per_layer"])
            if bad["correct"] or bad["failed"] < 1:
                raise AssertionError(f"{w}: corrupted answer not counted as failed: {bad}")
            print(f"ok  {w} traced: {len(bad['metrics'])} metrics, wrong answer counted "
                  f"({bad['failed']}/{bad['attempted']} failed)")
    except AssertionError as e:
        print(f"FAIL {e}")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
