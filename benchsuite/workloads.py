"""The three workloads. Each generates its inputs from the seed, prepares
its references outside the timed region, and defines one pass as a list
of operations whose results it checks after the timer stops.

- ``registry``: 14 registry queries, each a build plus a noop sink.
  After the timer, the DataFrame the operation executed is collected and
  compared with the DuckDB oracle's answer on the same generated tables.
- ``screen``: the example screen config over generated bulks, then
  ``write_results``. Each pass's written rows and lineage counts must
  equal those of an untimed reference run.
- ``screen_memo``: the same screen with a memo table on both inference
  steps. Each operation restores the memo snapshot filled from the base
  bulks, then screens the base plus one fresh slice; its rows must equal
  the plain screen's rows for those bulks.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback

SIZES = {
    # registry scale factor; screen bulks; memo base bulks, slice bulks, slices
    "full": {"sf": 0.01, "bulks": 1000, "memo_base": 400, "memo_slice": 100, "slices": 2},
    "tiny": {"sf": 0.001, "bulks": 60, "memo_base": 40, "memo_slice": 20, "slices": 2},
}

REGISTRY_QUERIES = (
    # expected to hit the plan cache
    "above_customer_avg",
    "conditional_functions",
    "doc_fingerprint",
    "explode_word_counts",
    "grouped_reservoir_sample",
    "lookup_join_supplier_nation",
    "pivot_status_priority",
    "required_elements_filter",
    "scd2_intervals",
    "time_weighted_average",
    "ann_cosine_topk",
    # eager builders
    "dedup_ngram_jaccard",
    "incremental_dedup_memo",
    # streaming
    "streaming_tumbling_counts",
)


class Op:
    """One operation: ``run()`` is timed, ``check(result)`` is not."""

    def __init__(self, name: str, run, check):
        self.name, self.run, self.check = name, run, check


class Registry:
    name = "registry"

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]

    def generate(self, spark, in_dir: str) -> dict:
        from .gen import write_star

        self.dir = in_dir
        return {"sf": self.size["sf"], "rows": write_star(in_dir, self.ctx.seed, self.size["sf"])}

    def prepare(self, spark) -> dict:
        """The oracle's answers, then the cold pass: every operation once,
        checked like the window's. Returns per-query cold seconds and the
        queries that failed in the cold pass."""
        import time

        import duckdb

        from catlas_spark import queries as Q
        from catlas_spark.sources.star import STAR_TABLES

        self.Q = Q
        self.spark = spark
        self.qs = Q.queries()
        oracles = Q.oracle_sql()
        con = duckdb.connect()
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        self.oracle = {name: con.execute(oracles[name]).fetchdf() for name in REGISTRY_QUERIES}
        con.close()
        cold, failed = {}, []
        for op in self.ops():
            t0 = time.perf_counter()
            try:
                df = op.run()
                cold[op.name] = time.perf_counter() - t0
                ok = op.check(df)
            except Exception:  # recorded; the window counts its own failures
                traceback.print_exc()
                ok = False
            if not ok:
                failed.append(op.name)
        return {"cold_s": cold, "cold_failed": failed}

    def before_pass(self) -> None:
        self.spark.catalog.clearCache()

    def ops(self) -> list[Op]:
        return [self._op(n) for n in REGISTRY_QUERIES]

    def _op(self, name: str) -> Op:
        ctx, spark, fn = self.ctx, self.spark, self.qs[name]
        key = (spark.sparkContext.applicationId, self.dir, name)

        def run():
            ctx.counts["plan_cache_lookups"] += 1
            ctx.counts["plan_cache_hits"] += key in self.Q._PLAN_CACHE
            df = ctx.tracer.span("queries.build", fn, spark, self.dir)
            ctx.tracer.span("queries.exec", df.write.format("noop").mode("overwrite").save)
            return df

        def check(df) -> bool:
            # runs right after the timed execution, so a plan-cache hit is
            # collected under the execution profile the hit switched to
            from scripts.check_oracle import compare

            got = df.toPandas()
            if ctx.inject_fault and name == REGISTRY_QUERIES[0]:
                got = got.iloc[:-1]
            err = compare(got, self.oracle[name])
            if err:
                print(f"{name} differs from the oracle: {err}", file=sys.stderr)
            return err is None

        return Op(name, run, check)


def _read_rows(results_dir: str) -> dict:
    """Written screen results as {surface+adsorbate key: canonical row}."""
    import pyarrow.dataset as ds

    def canon(v):
        if isinstance(v, list):
            return tuple(canon(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, canon(x)) for k, x in v.items()))
        return v

    rows = ds.dataset(results_dir, format="parquet", partitioning="hive").to_table().to_pylist()
    out = {}
    for r in rows:
        key = (r["bulk_id"], tuple(r["slab_millers"]), r["slab_shift"], r["slab_top"], r["adsorbate_smiles"])
        out[key] = tuple(sorted((k, canon(v)) for k, v in r.items()))
    return out


def _dir_stats(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


class Screen:
    """The plain screen over the generated bulks."""

    name = "screen"
    memo = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.n_op = 0

    def generate(self, spark, in_dir: str) -> dict:
        from .gen import write_adsorbates, write_bulks

        os.makedirs(in_dir, exist_ok=True)
        self.dir = in_dir
        write_adsorbates(spark, f"{in_dir}/adsorbates.parquet")
        if not self.memo:
            return write_bulks(f"{in_dir}/base.parquet", self.ctx.seed, 0, self.size["bulks"])
        base = self.size["memo_base"]
        info = write_bulks(f"{in_dir}/base.parquet", self.ctx.seed, 0, base)
        for i in range(self.size["slices"]):
            start = base + i * self.size["memo_slice"]
            write_bulks(f"{in_dir}/slice{i}.parquet", self.ctx.seed, start, self.size["memo_slice"])
        return {**info, "slice_bulks": self.size["memo_slice"], "slices": self.size["slices"]}

    def _config(self, memo_root: str | None) -> dict:
        from catlas_spark.run import load_config

        cfg = load_config(os.path.join(self.ctx.root, "configs", "example_screen.yml"))
        if memo_root:
            for step in cfg["adslab_prediction_steps"]:
                if step["step"] == "inference":
                    step["memo_table"] = os.path.join(memo_root, step["label"])
        return cfg

    def _screen(self, files: list[str], cfg: dict, out_dir: str):
        """Timed body: read, run_screen, write_results; returns the lineage."""
        from catlas_spark.lineage import Lineage
        from catlas_spark.pipeline import run_screen
        from catlas_spark.sinks import write_results

        spark = self.spark
        lin = Lineage()
        result = run_screen(
            spark, cfg, spark.read.parquet(*files),
            spark.read.parquet(f"{self.dir}/adsorbates.parquet"), {}, lin,
        )
        write_results(result, out_dir, partition_by=["adsorbate_smiles"])
        return lin

    def _out(self) -> str:
        self.n_op += 1
        return os.path.join(self.ctx.rundir, "out", f"op{self.n_op}")

    def prepare(self, spark) -> dict:
        self.spark = spark
        self.cfg = self._config(None)
        out = self._out()
        lin = self._screen([f"{self.dir}/base.parquet"], self.cfg, out)
        self.expected_rows = _read_rows(f"{out}/results")
        self.expected_lineage = _lineage_counts(lin)
        shutil.rmtree(out)
        return {"reference_lineage": self.expected_lineage}

    def before_pass(self) -> None:
        pass

    def ops(self) -> list[Op]:
        out = self._out()

        def run():
            return self._screen([f"{self.dir}/base.parquet"], self.cfg, out)

        return [Op("screen", run, lambda lin: self._check(out, lin, self.expected_rows, self.expected_lineage))]

    def _check(self, out: str, lin, rows: dict, lineage: dict) -> bool:
        got = _read_rows(f"{out}/results")
        counts = _lineage_counts(lin)
        ctx = self.ctx
        ctx.last["lineage"] = counts
        ctx.last["adslab_rows"] = len(got)
        ctx.last["files"], ctx.last["bytes"] = _dir_stats(f"{out}/results")
        if ctx.inject_fault and got:
            got.pop(next(iter(got)))
        shutil.rmtree(out, ignore_errors=True)
        return got == rows and counts == lineage


def _lineage_counts(lin) -> dict:
    out = {}
    for s in lin.summary():
        out[f"rows.{s['stage']}"] = s["rows"]
        if "live_rows" in s:
            out[f"live_rows.{s['stage']}"] = s["live_rows"]
    return out


class ScreenMemo(Screen):
    """The screen with memo tables on both inference steps."""

    name = "screen_memo"
    memo = True

    def prepare(self, spark) -> dict:
        import time

        from catlas_spark.operators.filters import BULK_FILTERS, apply_filters

        t0 = time.perf_counter()
        self.spark = spark
        n_slices = self.size["slices"]
        base = f"{self.dir}/base.parquet"
        self.slices = [f"{self.dir}/slice{i}.parquet" for i in range(n_slices)]
        # reference: the plain screen over every bulk any operation reads
        plain = self._config(None)
        out = self._out()
        self._screen([base, *self.slices], plain, out)
        ref = _read_rows(f"{out}/results")
        shutil.rmtree(out)
        passing = {
            r.bulk_id
            for r in apply_filters(
                spark.read.parquet(base, *self.slices), plain.get("bulk_filters", {}),
                BULK_FILTERS, {}, None,
            ).select("bulk_id").collect()
        }
        # bulk ids of each operation's input: the base plus one slice
        ids_base = {f"mp-{i}" for i in range(self.size["memo_base"])}
        self.expect = []
        for i in range(n_slices):
            start = self.size["memo_base"] + i * self.size["memo_slice"]
            ids = ids_base | {f"mp-{j}" for j in range(start, start + self.size["memo_slice"])}
            rows = {k: v for k, v in ref.items() if k[0] in ids}
            live = sum(1 for v in rows.values() if dict(v).get("filter_reason") is None)
            surfaces = {k[:4] for k in rows}
            self.expect.append((rows, {
                "rows.bulks_in": len(ids),
                "rows.bulks_filtered": len(ids & passing),
                "rows.surfaces": len(surfaces),
                "rows.adslabs": len(rows),
                "rows.results": len(rows),
                "live_rows.results": live,
            }))
        t_ref = time.perf_counter() - t0
        # seed the memo from the base bulks, then snapshot it
        self.memo_dir = os.path.join(self.ctx.rundir, "memo")
        self.snap_dir = os.path.join(self.ctx.rundir, "memo_snapshot")
        self.cfg = self._config(self.memo_dir)
        out = self._out()
        self._screen([base], self.cfg, out)
        shutil.rmtree(out)
        shutil.copytree(self.memo_dir, self.snap_dir)
        self.snap_files = set(_memo_files(self.snap_dir))
        self.snap_rows = _memo_rows(self.snap_dir, self.snap_files)
        return {"memo_seed_rows": self.snap_rows, "memo_seed_files": len(self.snap_files),
                "reference_s": t_ref, "seed_s": time.perf_counter() - t0 - t_ref}

    def before_pass(self) -> None:
        shutil.rmtree(self.memo_dir, ignore_errors=True)
        shutil.copytree(self.snap_dir, self.memo_dir)

    def ops(self) -> list[Op]:
        i = self.n_op % len(self.slices)
        out = self._out()
        files = [f"{self.dir}/base.parquet", self.slices[i]]
        rows, lineage = self.expect[i]

        def run():
            return self._screen(files, self.cfg, out)

        def check(lin):
            ok = self._check(out, lin, rows, lineage)
            new = set(_memo_files(self.memo_dir)) - self.snap_files
            appended = _memo_rows(self.memo_dir, new)
            last = self.ctx.last
            last["memo_append_rows"] = appended
            last["memo_table_files"] = len(self.snap_files) + len(new)
            # every base key was seeded into the snapshot, so the snapshot's
            # rows are this operation's hits and the appended rows its misses
            last["memo_hit_frac"] = self.snap_rows / (self.snap_rows + appended)
            return ok

        return [Op("screen_memo", run, check)]


def _memo_files(path: str) -> list[str]:
    """Parquet files of a memo directory, relative to it."""
    out = []
    for root, _, names in os.walk(path):
        out += [os.path.relpath(os.path.join(root, n), path) for n in names if n.endswith(".parquet")]
    return out


def _memo_rows(root: str, rel_files) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(root, f)).num_rows for f in rel_files)


WORKLOADS = {w.name: w for w in (Registry, Screen, ScreenMemo)}
