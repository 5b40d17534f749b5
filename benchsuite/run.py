"""Benchmark launcher: pins the environment, runs one workload in a child
process group, reaps the whole group, and prints the result.

    python3 benchsuite/run.py --workload registry --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``); the line before it is the run's detail record.

Pinned environment (recorded under ``pinned`` in the detail record):
inherited ``SPARK_GRAFT_*`` and ``SCREEN_*`` variables are dropped; the
driver memory, core count, hash seed, and every scratch location (Spark
local dirs, TMPDIR, the JVM temp dir, streaming checkpoints) are set to
a run directory under ``.benchsuite_run/`` in the checkout, which is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"
TIMEOUT_S = 170


def pinned_env(rundir: str) -> tuple[dict, dict]:
    cpus = str(len(os.sched_getaffinity(0)))
    pins = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={rundir}/tmp"
        ),
        "SPARK_GRAFT_STREAM_CKPT": f"{rundir}/stream_ckpt",
        "SPARK_LOCAL_DIRS": f"{rundir}/local",
        "TMPDIR": f"{rundir}/tmp",
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "SCREEN_"))}
    env.update(pins)
    return env, pins


def _group_alive(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2 :].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(name))
    return out


def reap_group(proc: subprocess.Popen) -> None:
    """Give the child's group time to exit, then stop what is left of it
    and wait until no process of the group remains."""
    pgid = proc.pid
    for sig, grace in ((None, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            break
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if proc.poll() is None:
                try:
                    proc.wait(timeout=0.2)
                except subprocess.TimeoutExpired:
                    pass
            if not _group_alive(pgid):
                break
            time.sleep(0.1)
    proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one checked answer (self-test of the checks)")
    args = ap.parse_args(argv)
    for need in ("catlas_spark/__init__.py", "configs/example_screen.yml", "scripts/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"missing {need}: run from a full checkout of the repository", file=sys.stderr)
            return 2

    rundir = os.path.join(ROOT, ".benchsuite_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "stream_ckpt"):
        os.makedirs(os.path.join(rundir, sub), exist_ok=True)
    env, pins = pinned_env(rundir)
    out = os.path.join(rundir, "result.json")
    cmd = [
        sys.executable, "-m", "benchsuite.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--rundir", rundir, "--out", out,
    ] + (["--inject-fault"] if args.inject_fault else [])
    t0 = time.monotonic()
    # the worker's stdout goes to stderr: only this launcher writes stdout
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        reap_group(proc)
    try:
        with open(out) as f:
            got = json.load(f)
    except (OSError, ValueError):
        got = None
    shutil.rmtree(rundir, ignore_errors=True)
    if rc != 0 or got is None:
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"benchmark worker {why}; no result", file=sys.stderr)
        return 1
    detail = got["detail"]
    detail["pinned"] = {k: v.replace(rundir, "<rundir>") for k, v in pins.items() if k != "PYTHONPATH"}
    detail["run_s"] = time.monotonic() - t0
    print(json.dumps(detail))
    print(json.dumps(got["result"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
