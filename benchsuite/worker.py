"""One benchmark run inside the pinned environment that ``run.py`` sets up.

Closed loop, one client: operations are sent one at a time to Spark
``local[N]``; each result is checked after its timer stops.

Protocol:
1. Set-up: start a SparkSession (this launches the JVM) and generate the
   inputs from the seed.
2. Preparation, which is also the warm-up: the workload's references
   (oracle, reference screen, memo seeding) and its cold pass.
3. The measured window: whole passes until ``--seconds`` have elapsed,
   and at least ``MIN_PASSES``. With ``--trace 1`` the window is at least
   five passes: an untraced first pass, which still carries the cold
   pass's after-effects, then traced, untraced, untraced, traced, so that
   a linear drift cancels out of ``trace.overhead_frac``; the traced
   passes give the per-layer metrics.

``setup_s`` is set-up plus preparation, as the run paid them.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

from . import probes
from .trace import Tracer
from .workloads import WORKLOADS

# two passes, because a run must fit in about a minute
MIN_PASSES = 2


class Ctx:
    def __init__(self, args):
        self.root = os.getcwd()
        self.seed = args.seed
        self.size = args.size
        self.rundir = args.rundir
        self.inject_fault = args.inject_fault
        self.tracer = Tracer()
        self.counts: dict[str, int] = defaultdict(int)
        self.last: dict = {}  # facts the latest check recorded


def _session(ctx):
    from catlas_spark.session import get_spark

    return get_spark(
        f"benchsuite-{ctx.seed}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(ctx.rundir, "warehouse"),
        },
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _halves(xs):
    h = len(xs) // 2
    return [_median(xs[:h]) if h else None, _median(xs[h:])]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    ap.add_argument("--inject-fault", action="store_true")
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    ctx = Ctx(args)
    tracer = ctx.tracer
    wl = WORKLOADS[args.workload](ctx)
    if args.trace:
        import catlas_spark.queries  # noqa: F401  (bind names before wrapping)

        tracer.install()

    # 1. set-up
    t0 = time.perf_counter()
    spark = _session(ctx)
    session_s = time.perf_counter() - t0
    gen_info = wl.generate(spark, os.path.join(ctx.rundir, "inputs"))
    gen_s = time.perf_counter() - t0 - session_s

    # 2. preparation: references and cold pass
    t1 = time.perf_counter()
    prep = wl.prepare(spark)
    prep_s = time.perf_counter() - t1
    setup_s = time.perf_counter() - t0

    # 3. measured window
    status = probes.StatusDelta(spark) if args.trace else None
    passes, traced_flags, op_lat = [], [], defaultdict(list)
    per_pass_layer: list[dict] = []
    cpu_passes, items, attempted, failed = [], [], 0, 0
    host0 = probes.host_stat()
    t_window = time.perf_counter()
    min_passes = 5 if args.trace else MIN_PASSES
    while len(passes) < min_passes or time.perf_counter() - t_window < args.seconds:
        traced = bool(args.trace) and len(passes) >= 1 and (len(passes) - 1) % 4 in (0, 3)
        wl.before_pass()
        ops = wl.ops()
        tracer.enabled = traced
        ctx.counts.clear()
        if traced:
            status.mark()
        sched = defaultdict(float)
        facts = {}
        cpu = defaultdict(float)
        pass_s = 0.0
        for op in ops:
            attempted += 1
            cpu0 = probes.cpu_sample()
            t0 = time.perf_counter()
            try:
                res, ok = op.run(), True
            except Exception:  # a failed operation is counted, the run goes on
                print(f"operation {op.name} failed:", file=sys.stderr)
                traceback.print_exc()
                res, ok = None, False
            dt = time.perf_counter() - t0
            pass_s += dt
            for k, v in probes.cpu_delta(cpu0, probes.cpu_sample()).items():
                cpu[k] += v
            if traced:
                for k, v in status.delta().items():
                    sched[k] += v
                sched["wall_s"] += dt
            tracer.enabled = False
            try:
                ok = ok and bool(op.check(res))
            except Exception:
                print(f"check of {op.name} raised:", file=sys.stderr)
                traceback.print_exc()
                ok = False
            tracer.enabled = traced
            if traced:
                status.mark()  # the check's own Spark jobs are not the operation's
            failed += not ok
            op_lat[op.name].append(dt)
            if "adslab_rows" in ctx.last:
                items.append(ctx.last["adslab_rows"] / dt)
            facts.update(ctx.last)
            ctx.last.clear()
        tracer.enabled = False
        passes.append(pass_s)
        traced_flags.append(traced)
        cpu_passes.append(cpu["total"])
        if traced:
            per_pass_layer.append({"spans": tracer.take(), "sched": dict(sched), "cpu": cpu,
                                   "facts": facts, "counts": dict(ctx.counts)})
    window_s = time.perf_counter() - t_window
    host = probes.host_share(host0, probes.host_stat())
    peak_rss = probes.peak_rss_mb()

    op_medians = {n: _median(v) for n, v in op_lat.items()}
    untraced = [p for p, t in zip(passes[1:], traced_flags[1:]) if not t]
    traced_p = [p for p, t in zip(passes, traced_flags) if t]
    if args.trace:
        metrics = _layer_metrics(per_pass_layer, session_s, traced_p, untraced, peak_rss, spark)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (_median(passes), "s"),
            "op_geomean_s": (math.exp(statistics.fmean(math.log(v) for v in op_medians.values())), "s"),
            "items_per_s": (_median(items) if items else len(op_medians) / _median(passes), "1/s"),
            "cpu_s_per_pass": (_median(cpu_passes), "s"),
            "ok_frac": ((attempted - failed) / attempted, "frac"),
        }
    slowest = max(op_medians, key=op_medians.get)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "inputs": gen_info,
        "setup": {"session_start_s": session_s, "generate_s": gen_s, "prepare_s": prep_s},
        "prepare": prep,
        "passes_s": passes,
        "traced": traced_flags,
        "pass_half_medians_s": _halves(passes),
        "samples": len(passes),
        "window_s": window_s,
        "op_median_s": op_medians,
        "tail": {"slowest_op": slowest, "slowest_median_s": op_medians[slowest],
                 "op_max_s": {n: max(v) for n, v in op_lat.items()}, "samples_per_op": len(passes)},
        "host_share": host,
        "cpus": spark.sparkContext.defaultParallelism,
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    spark.stop()
    with open(args.out, "w") as f:
        json.dump({"result": result, "detail": detail}, f)
    return 0


def _layer_metrics(layers, session_s, traced_p, untraced, peak_rss, spark) -> dict:
    def med(get):
        return _median([get(p) for p in layers])

    def self_s(layer):
        return med(lambda p: p["spans"]["self_s"].get(layer, 0.0))

    def total_s(layer):
        return med(lambda p: p["spans"]["total_s"].get(layer, 0.0))

    def calls(layer):
        return med(lambda p: p["spans"]["calls"].get(layer, 0))

    def fact(name):
        return med(lambda p: p["facts"].get(name, 0))

    def sched(name):
        return med(lambda p: p["sched"].get(name, 0))

    cores = spark.sparkContext.defaultParallelism
    lookups = sum(p["counts"].get("plan_cache_lookups", 0) for p in layers)
    hits = sum(p["counts"].get("plan_cache_hits", 0) for p in layers)
    m = {
        "session.start_s": (session_s, "s"),
        "queries.build_s": (total_s("queries.build"), "s"),
        "queries.plan_cache_hit_frac": (hits / lookups if lookups else 0.0, "frac"),
        "queries.exec_s": (total_s("queries.exec"), "s"),
        "operators.dedup.self_s": (self_s("operators.dedup"), "s"),
        "operators.similarity.self_s": (self_s("operators.similarity"), "s"),
        "streaming.self_s": (self_s("streaming"), "s"),
        "caching.materialize_calls": (calls("caching.materialize"), "count"),
        "caching.small_input_exec_calls": (calls("caching.small_input_exec"), "count"),
        "pipeline.build_s": (self_s("pipeline.build"), "s"),
        "sinks.write_s": (total_s("sinks.write"), "s"),
        "sinks.files_written": (fact("files"), "count"),
        "sinks.bytes_written": (fact("bytes"), "bytes"),
        "memo.self_s": (self_s("memo"), "s"),
        "memo.append_rows": (fact("memo_append_rows"), "count"),
        "memo.hit_frac": (fact("memo_hit_frac"), "frac"),
        "memo.table_files": (fact("memo_table_files"), "count"),
        "caching.pin_s": (total_s("caching.pin"), "s"),
    }
    for stage in ("bulks_in", "bulks_filtered", "surfaces", "adslabs", "results"):
        m[f"lineage.rows.{stage}"] = (med(lambda p: p["facts"].get("lineage", {}).get(f"rows.{stage}", 0)), "count")
    m["lineage.live_rows.results"] = (
        med(lambda p: p["facts"].get("lineage", {}).get("live_rows.results", 0)), "count")
    m.update({
        "scheduler.jobs": (sched("jobs"), "count"),
        "scheduler.stages": (sched("stages"), "count"),
        "scheduler.tasks": (sched("tasks"), "count"),
        "scheduler.slot_util": (med(lambda p: p["sched"]["run_s"] / (p["sched"]["wall_s"] * cores)), "frac"),
        "executor.run_s": (sched("run_s"), "s"),
        "executor.cpu_s": (sched("cpu_s"), "s"),
        "executor.gc_s": (sched("gc_s"), "s"),
        "shuffle.read_bytes": (sched("read_bytes"), "bytes"),
        "shuffle.write_bytes": (sched("write_bytes"), "bytes"),
        "shuffle.spill_bytes": (sched("spill_bytes"), "bytes"),
        "pyworker.cpu_s": (med(lambda p: p["cpu"]["pyworker"]), "s"),
        "driver.cpu_s": (med(lambda p: p["cpu"]["driver"]), "s"),
        "jvm.cpu_s": (med(lambda p: p["cpu"]["jvm"]), "s"),
        "proc.peak_rss_mb": (peak_rss, "MB"),
        "trace.overhead_frac": (_median(traced_p) / _median(untraced) - 1.0 if untraced else 0.0, "frac"),
    })
    return m


if __name__ == "__main__":
    raise SystemExit(main())
