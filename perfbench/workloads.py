"""The three workloads: each a single-client closed loop on one session.

Every workload follows the same shape:

1. set-up, once: the cold session start (JVM launch included) plus
   input/layer registration, ``setup_s``;
2. warm-up, excluded from the pass metrics: for the query mixes one pass
   that checks every operation's output against its DuckDB twin.
   ``medallion_refresh`` has none: its full build is part of its one
   timed pass;
3. timed passes: for the query mixes at least ``min_passes`` (three),
   then more only while ``seconds`` have not elapsed. Keep ``seconds``
   below the time of ``min_passes`` passes so the pass count stays fixed:
   a faster commit then gets no extra, warmer passes that would lower its
   median. With tracing on, passes alternate untraced/traced in ABBA
   order, so the same run also gives the tracing overhead.
   ``medallion_refresh`` runs the build and one refresh cycle, then
   checks gold.

Between operations, outside every timed window, cached data is
unpersisted and the JVM collects garbage, so no operation pays for the
previous one's leftovers.
"""

from __future__ import annotations

import gc
import math
import os
import statistics
import time
import uuid

import numpy as np

from perfbench import gen
from perfbench.check import Twins, compare, medallion_twins
from perfbench.trace import (
    CATALOG_METHODS,
    RUNCONTEXT_METHODS,
    JobWatcher,
    Tracer,
    calibrate,
    plan_shape,
    tree_peak_rss_mb,
)

#: every per-layer metric a traced run reports, with the direction that
#: counts as better; a layer a workload never reaches reports 0
PER_LAYER = (
    ("session.start_s", "lower"),
    ("plan.build_s", "lower"), ("plan.build_jobs", "lower"),
    ("plan.exchanges", "lower"), ("plan.sorts", "lower"),
    ("plan.python_nodes", "lower"),
    ("exec.action_s", "lower"), ("exec.jobs", "lower"), ("exec.stages", "lower"),
    ("exec.tasks", "lower"), ("exec.task_s", "lower"), ("exec.task_cpu_s", "lower"),
    ("exec.gc_s", "lower"), ("exec.busy_ratio", "higher"),
    ("exec.driver_gap_s", "lower"), ("exec.shuffle_read_mb", "lower"),
    ("exec.shuffle_write_mb", "lower"), ("exec.spill_mb", "lower"),
    ("scan.input_mb", "lower"), ("scan.input_rows", "lower"),
    ("write.output_mb", "lower"), ("write.output_rows", "lower"),
    ("bronze.s", "lower"), ("bronze.jobs", "lower"), ("bronze.task_s", "lower"),
    ("bronze.rows_per_s", "higher"),
    ("silver.s", "lower"), ("silver.jobs", "lower"), ("silver.task_s", "lower"),
    ("gold.s", "lower"), ("gold.jobs", "lower"), ("gold.task_s", "lower"),
    ("silver_incremental.s", "lower"), ("silver_incremental.jobs", "lower"),
    ("silver_incremental.task_s", "lower"),
    ("gold_incremental.s", "lower"), ("gold_incremental.jobs", "lower"),
    ("gold_incremental.task_s", "lower"),
    ("gold_incremental.rebuilt_month_ratio", "lower"),
    ("refresh.write_amp", "lower"),
    ("catalog.calls", "lower"), ("catalog.s", "lower"),
    ("ops.calls", "lower"), ("ops.s", "lower"),
    ("trace.overhead_s", "lower"),
)

#: analyst read path: registry keys over the warehouse tables plus a
#: CSV-replay key over the seeded reference CSVs (q76, the gold-star
#: customer report, was half of a pass and did not fit the run budget)
WAREHOUSE_KEYS = ("q01", "q09", "q12", "q15", "q60", "q71")
#: LLM-data path: the ROADMAP's two hottest keys, the curation funnel and
#: the quality classifier
CORPUS_KEYS = ("qd37", "qd66")


def _purge(spark) -> None:
    gc.collect()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.sparkContext._jvm.System.gc()


def quartiles(values) -> dict:
    v = sorted(values)
    if not v:  # every operation raised
        return {"n": 0, "median": math.nan, "q1": math.nan, "q3": math.nan}
    if len(v) == 1:
        return {"n": 1, "median": v[0], "q1": v[0], "q3": v[0]}
    q1, med, q3 = statistics.quantiles(v, n=4)
    return {"n": len(v), "median": statistics.median(v), "q1": q1, "q3": q3}


class Workload:
    """The shared run: set-up, warm-up check, timed passes, tracing."""

    name = ""
    #: what one timed pass is called in the printed metrics
    pass_metric = "mix_s"

    def __init__(self, ctx, seed: int, trace: bool):
        self.ctx = ctx  # perfbench.run.Context: session factory + dirs
        self.seed = seed
        self.trace = trace
        self.rng = np.random.default_rng([seed, 3])
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = Tracer() if trace else None
        self.watcher = None
        self.layer: dict[str, list[float]] = {}

    # -- hooks ---------------------------------------------------------------
    def make_inputs(self) -> dict:
        raise NotImplementedError

    def register(self, spark) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def timed(self, spark, seconds: float) -> dict:
        raise NotImplementedError

    # -- shared --------------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failures.append(what)

    def record(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def setup(self) -> tuple[object, float, float]:
        """One cold set-up: the JVM launch and session start a user's
        first job pays, then input/layer registration. Returns (session,
        set-up seconds, session-start seconds)."""
        t0 = time.perf_counter()
        spark = self.ctx.start_session()
        t1 = time.perf_counter()
        self.register(spark)
        return spark, time.perf_counter() - t0, t1 - t0

    def run(self, seconds: float) -> dict:
        phases = {}
        t0 = time.perf_counter()
        inputs = self.make_inputs()
        phases["inputs_s"] = time.perf_counter() - t0
        spark, setup_s, start_s = self.setup()
        try:
            if self.trace:
                self.watcher = JobWatcher(spark)
            t0 = time.perf_counter()
            self.warm_up(spark)
            phases["warm_up_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            timed = self.timed(spark, seconds)
            phases["timed_s"] = time.perf_counter() - t0
            timed["peak_rss_mb"] = tree_peak_rss_mb()
        finally:
            spark.stop()
        timed["setup_s"] = [setup_s]
        if self.trace:
            self.record("session.start_s", start_s)
            self.tracer.dump(os.path.join(self.ctx.out_dir, f"{self.name}.spans.jsonl"))
        return {"inputs": inputs, "timed": timed, "layer": self.layer,
                "phases": phases}

    def record_exec(self, total: dict, pass_wall: float) -> None:
        """Per-pass Spark execution totals of one traced pass."""
        cpus = self.ctx.cpus
        self.record("exec.jobs", total["jobs"])
        self.record("exec.stages", total["stages"])
        self.record("exec.tasks", total["tasks"])
        self.record("exec.task_s", total["task_s"])
        self.record("exec.task_cpu_s", total["task_cpu_s"])
        self.record("exec.gc_s", total["gc_s"])
        self.record("exec.busy_ratio", total["task_s"] / (pass_wall * cpus))
        self.record("exec.driver_gap_s", max(pass_wall - total["covered_s"], 0.0))
        self.record("exec.shuffle_read_mb", total["shuffle_read_mb"])
        self.record("exec.shuffle_write_mb", total["shuffle_write_mb"])
        self.record("exec.spill_mb", total["spill_mb"])
        self.record("scan.input_mb", total["input_mb"])
        self.record("scan.input_rows", total["input_rows"])
        self.record("write.output_mb", total["output_mb"])
        self.record("write.output_rows", total["output_rows"])


def _sum_stats(stats: list[dict]) -> dict:
    keys = stats[0].keys()
    return {k: sum(s[k] for s in stats) for k in keys}


class QueryMix(Workload):
    """A fixed mix of registry keys, each built then forced with a noop
    write in the timed passes and collected in the warm-up check."""

    keys: tuple = ()
    min_passes = 3

    def traced_pass(self, i: int) -> bool:
        """Untraced, traced, traced, untraced, ...: both kinds sit at the
        same mean position, so the warm-up trend across passes does not
        bias the tracing overhead."""
        return self.trace and i % 4 in (1, 2)

    def more_passes(self, i: int, deadline: float) -> bool:
        """At least ``min_passes`` untraced passes (plus the traced ones
        between them), then until the deadline."""
        return (i < self.min_passes + self.trace
                or (self.trace and i % 4 != 0)
                or time.perf_counter() < deadline)

    def make_inputs(self) -> dict:
        from __spark_entry__ import queries

        registry = queries()
        self.fns = {}
        for prefix in self.keys:
            match = [k for k in registry if k.split("_", 1)[0] == prefix]
            if len(match) != 1:
                raise KeyError(f"registry has no single key {prefix}: {match}")
            self.fns[match[0]] = registry[match[0]]
        info = self.ctx.make_warehouse(
            self.seed if self.input_seed is None else self.input_seed)
        if self.uses_csv:
            info.update(self.ctx.make_sources(self.seed))
        return info

    uses_csv = False
    input_seed = None  # a fixed input seed; None: inputs follow --seed

    def register(self, spark) -> None:
        from sql_data_warehouse_analytics_project_spark.sources.readers import (
            register_views,
        )

        register_views(spark, self.ctx.sf_dir)

    def warm_up(self, spark) -> None:
        from __spark_entry__ import oracle_sql
        from sql_data_warehouse_analytics_project_spark.sources.readers import TABLES

        twins = Twins(self.ctx.sf_dir, TABLES, oracle_sql())
        try:
            for key, fn in self.fns.items():
                self.attempted += 1
                _purge(spark)
                try:
                    err = twins.check(key, fn(spark, self.ctx.sf_dir))
                except Exception as e:  # noqa: BLE001 — a failing key stays in the mix
                    err = f"raised {type(e).__name__}: {str(e)[:300]}"
                if err:
                    self.fail(f"{key}: {err}")
        finally:
            twins.close()

    def _op(self, spark, key: str, traced: bool):
        fn, sf = self.fns[key], self.ctx.sf_dir
        if not traced:
            t0 = time.perf_counter()
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, None
        tr, w = self.tracer, self.watcher
        tr.op = key
        w.mark()
        with tr.span("plan.build", "plan"):
            t0 = time.perf_counter()
            df = fn(spark, sf)
            build = time.perf_counter() - t0
        build_stats = w.collect()
        with tr.span("exec.action", "exec"):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            action = time.perf_counter() - t0
        stats = _sum_stats([build_stats, w.collect()])
        stats.update(plan_shape(df))
        stats.update(build_s=build, action_s=action, build_jobs=build_stats["jobs"])
        return build + action, stats

    def timed(self, spark, seconds: float) -> dict:
        keys = list(self.fns)
        passes, norm, traced_walls, latencies, per_op, cals = [], [], [], [], [], []
        deadline = time.perf_counter() + seconds
        i = 0
        while self.more_passes(i, deadline):
            traced = self.traced_pass(i)
            order = [keys[j] for j in self.rng.permutation(len(keys))]
            wall, stats, cal = 0.0, [], [calibrate()]
            for key in order:
                _purge(spark)
                self.attempted += 1
                try:
                    lat, st = self._op(spark, key, traced)
                except Exception as e:  # noqa: BLE001 — counted, stays in the mix
                    self.fail(f"{key}: raised {type(e).__name__}: {str(e)[:300]}")
                    continue
                finally:
                    cal.append(calibrate())
                wall += lat
                if traced:
                    stats.append(st)
                else:
                    latencies.append(lat)
                    per_op.append((i, key, lat))
            cals += cal
            if traced:
                traced_walls.append(wall)
                if stats:
                    self._record_pass(_sum_stats(stats), wall)
            else:
                passes.append(wall)
                norm.append(wall / min(cal))
            i += 1
        if self.trace:
            self.record(
                "trace.overhead_s",
                statistics.median(traced_walls) - statistics.median(passes),
            )
        return {"mix_s": passes, "mix_norm": norm, "op_s": latencies,
                "ops": per_op, "calibration_s": cals}

    def _record_pass(self, total: dict, wall: float) -> None:
        self.record("plan.build_s", total["build_s"])
        self.record("plan.build_jobs", total["build_jobs"])
        self.record("exec.action_s", total["action_s"])
        for k in ("exchanges", "sorts", "python_nodes"):
            self.record(f"plan.{k}", total[k])
        self.record_exec(total, wall)


class WarehouseQueries(QueryMix):
    name = "warehouse_queries"
    keys = WAREHOUSE_KEYS
    uses_csv = True


class CorpusCuration(QueryMix):
    """Fixed corpus (``documents``/``embeddings`` do not depend on the
    seed, as the engine's own sf corpora are fixed); the seed orders each
    pass. Fixed inputs let the costly twins be checked by digest."""

    name = "corpus_curation"
    keys = CORPUS_KEYS
    input_seed = 0


class MedallionRefresh(Workload):
    """Full bronze→silver→gold build over batch 1 through
    ``pipeline.Warehouse``, then one incremental refresh cycle over a
    delta batch.

    There is no warm-up pass: a build runs ~260 Spark jobs and a cycle
    ~400 (~35 s and ~30 s on 4 cores), so a run holds one of each. Both
    are timed (``build_s``, ``refresh_s``); the gated ``mix_norm`` is
    their sum divided by the fastest of the calibrations taken before the
    build and after every stage. A traced run traces the build and the
    cycle."""

    name = "medallion_refresh"
    pass_metric = "refresh_s"

    def make_inputs(self) -> dict:
        info = self.ctx.make_sources(self.seed, 1)
        self.batch1, self.delta = self.ctx.ref_dir, self.ctx.deltas[0]
        return info

    def register(self, spark) -> None:
        from sql_data_warehouse_analytics_project_spark.pipeline import Warehouse

        wh = Warehouse(spark, prefix=f"pb{uuid.uuid4().hex[:8]}_")
        if self.trace:
            self.tracer.wrap(wh.catalog, "catalog", CATALOG_METHODS)
        wh.setup()
        if self.trace:
            self.tracer.wrap(wh.ctx, "ops", RUNCONTEXT_METHODS)
        self.wh = wh
        self.instrument_s = 0.0  # the tracer's own time, outside the stages

    @staticmethod
    def _src(root: str) -> tuple[str, str]:
        return (os.path.join(root, "datasets", "source_crm"),
                os.path.join(root, "datasets", "source_erp"))

    def _stage(self, name: str, fn, traced: bool):
        """Run one pipeline stage as one operation; returns (seconds,
        result, stats)."""
        self.attempted += 1
        if traced:
            self.tracer.op = name
            t0 = time.perf_counter()
            self.watcher.mark()
            self.instrument_s += time.perf_counter() - t0
            sp0 = len(self.tracer.spans)
            with self.tracer.span(name, "medallion"):
                t0 = time.perf_counter()
                out = fn()
                secs = time.perf_counter() - t0
            t0 = time.perf_counter()
            stats = self.watcher.collect()
            self.instrument_s += time.perf_counter() - t0
            for layer in ("catalog", "ops"):
                calls, s = self.tracer.layer_totals(layer, sp0)
                stats[f"{layer}.calls"], stats[f"{layer}.s"] = calls, s
            return secs, out, stats
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out, None

    def warm_up(self, spark) -> None:
        """None: the build is part of the timed pass."""

    def _build(self) -> None:
        """The full build, traced in a traced run."""
        from sql_data_warehouse_analytics_project_spark.medallion import silver

        wh, traced = self.wh, self.trace
        crm, erp = self._src(self.batch1)
        self.cal = [calibrate()]
        b_s, res, b_st = self._stage("bronze", lambda: wh.run_bronze(crm, erp), traced)
        self.cal.append(calibrate())
        s_s, _, s_st = self._stage("silver", wh.run_silver, traced)
        self.cal.append(calibrate())
        g_s, _, g_st = self._stage("gold", wh.run_gold, traced)
        self.cal.append(calibrate())
        # a full build bypasses the batch ledgers: record batch 1 so the
        # incremental refreshes do not apply it a second time
        t0 = time.perf_counter()
        for table, r in res.items():
            silver._record_batches(wh.catalog, table, [r["batch_id"]])
        seed_s = time.perf_counter() - t0
        rows = sum(r["rows_loaded"] for r in res.values())
        if traced:
            for stage, secs, st in (("bronze", b_s, b_st), ("silver", s_s, s_st),
                                    ("gold", g_s, g_st)):
                self.record(f"{stage}.s", secs)
                self.record(f"{stage}.jobs", st["jobs"])
                self.record(f"{stage}.task_s", st["task_s"])
            self.record("bronze.rows_per_s", rows / b_s)
        self.build_s = b_s + s_s + g_s + seed_s
        self.ingest_rows_per_s = rows / b_s

    def _cycle(self, spark, traced: bool) -> tuple[float, list[float]]:
        """The refresh cycle, a calibration after each stage; returns
        (seconds, stage seconds)."""
        wh = self.wh
        crm, erp = self._src(self.delta)
        stages = (("bronze_delta", lambda: wh.run_bronze(crm, erp)),
                  ("silver_incremental", wh.run_silver_incremental),
                  ("gold_incremental", wh.run_gold_incremental))
        secs, stats = [], []
        for name, fn in stages:
            s, res, st = self._stage(name, fn, traced)
            self.cal.append(calibrate())
            secs.append(s)
            stats.append(st)
        wall = sum(secs)
        if traced:
            for stage, s, st in zip(("silver_incremental", "gold_incremental"),
                                    secs[1:], stats[1:]):
                self.record(f"{stage}.s", s)
                self.record(f"{stage}.jobs", st["jobs"])
                self.record(f"{stage}.task_s", st["task_s"])
            t0 = time.perf_counter()
            months = spark.table(wh.catalog.qualified("gold", "fact_sales")) \
                .select("order_month").distinct().count()
            self.instrument_s += time.perf_counter() - t0
            self.record("gold_incremental.rebuilt_month_ratio",
                        len(res.get("rebuilt_months") or []) / max(months, 1))
            total = _sum_stats(stats)
            self.record("refresh.write_amp",
                        total["output_mb"] * 1e6 / gen.dir_bytes(self.delta))
            for layer in ("catalog", "ops"):
                self.record(f"{layer}.calls", total[f"{layer}.calls"])
                self.record(f"{layer}.s", total[f"{layer}.s"])
            self.record_exec(total, wall)
        return wall, secs

    def _check(self, spark, applied: list[str]) -> None:
        """Gold after the refreshes must equal DuckDB's full rebuild over
        every batch applied so far."""
        import duckdb

        con = duckdb.connect()
        try:
            for table, sql in medallion_twins([self.batch1, *applied]).items():
                self.attempted += 1
                res = con.execute(sql)
                d_cols = [d[0] for d in res.description]
                got = spark.table(self.wh.catalog.qualified("gold", table)).select(*d_cols)
                err = compare(table, got.columns, got.collect(), d_cols, res.fetchall())
                if err:
                    self.fail(f"gold.{table} after {len(applied)} refreshes: {err}")
        finally:
            con.close()

    def timed(self, spark, seconds: float) -> dict:
        self._build()
        _purge(spark)
        self.instrument_s = 0.0
        wall, secs = self._cycle(spark, self.trace)
        self._check(spark, [self.delta])
        if self.trace:
            # one cycle leaves no untraced twin to subtract: the overhead
            # is the instrument's own time (status-store reads, the month
            # count), all of it outside the stage timings
            self.record("trace.overhead_s", self.instrument_s)
        # the gated pass is the whole write path, build plus refresh: a
        # pipeline run starts in a fresh process, so users pay the cold
        # build too, and twice the work per sample steadies the median
        norm = (self.build_s + wall) / min(self.cal)
        return {"mix_s": [wall], "mix_norm": [norm], "calibration_s": self.cal,
                "op_s": secs, "build_s": [self.build_s],
                "ingest_rows_per_s": [self.ingest_rows_per_s]}


WORKLOADS = {w.name: w for w in (WarehouseQueries, MedallionRefresh, CorpusCuration)}
