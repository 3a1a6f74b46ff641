"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload warehouse_queries --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. Everything the run writes stays under
``.perfbench/`` in the checkout: generated inputs, the Spark warehouse,
temp and scratch directories, and the artifacts (``results/``). The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The lines before it print every
end-to-end metric of the workload with its unit, sample count and
quartiles. See ``perfbench/README.md`` for what each workload and metric
means.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"
#: the engine sources a run needs; a checkout without them is refused
REQUIRED = (
    "sql_data_warehouse_analytics_project_spark/__init__.py",
    "__spark_entry__.py",
    "tools/oracle_check.py",
    "tools/local_oracles.py",
)
FINGERPRINT_PATHS = (
    "sql_data_warehouse_analytics_project_spark", "__spark_entry__.py",
    "tools/oracle_check.py", "tools/local_oracles.py", "perfbench",
)

#: the end-to-end metrics every workload reports in its result line
RESULT_METRICS = ("setup_s", "mix_norm", "peak_rss_mb")
#: unit of a per-layer metric, by the last part of its name
PER_LAYER_UNITS = {
    "rows_per_s": "rows/s", "mb": "MB", "rows": "rows", "ratio": "ratio",
    "amp": "ratio", "s": "s",
}


def unit_of(name: str) -> str:
    tail = name.rsplit(".", 1)[1]
    for suffix, unit in PER_LAYER_UNITS.items():
        if tail == suffix or tail.endswith("_" + suffix):
            return unit
    return "count"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def stop_jvm(timeout: float = 60) -> None:
    """End the JVM the session launched and wait until it and the Python
    workers under it have exited."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    if gateway is None:
        return
    procs = descendants(os.getpid())
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on stdin EOF
    gateway.proc.wait(timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in procs):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {procs}")
        time.sleep(0.1)


def fingerprint() -> str:
    h = hashlib.sha256()
    for rel in FINGERPRINT_PATHS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(".py")
        )
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


class Context:
    """Directories, settings and the session factory of one run."""

    def __init__(self, work: str, cpus: int):
        self.work = work
        self.cpus = cpus
        self.sf_dir = os.path.join(work, "inputs", "warehouse")
        self.ref_dir = os.path.join(work, "inputs", "reference")
        self.out_dir = os.path.join(BENCH, "results")
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
                                             f"-Dderby.system.home={work}",
        }
        self.settings = {
            "cpus": cpus, "master": f"local[{cpus}]",
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "shuffle_partitions": cpus, **self.conf,
        }

    def start_session(self):
        from sql_data_warehouse_analytics_project_spark.session import get_spark

        return get_spark("perfbench", master=f"local[{self.cpus}]",
                         shuffle_partitions=self.cpus, extra_conf=self.conf)

    def make_warehouse(self, seed: int) -> dict:
        """The warehouse parquet tables (300 customers, ~12k lineitems)."""
        from perfbench import gen

        rows = gen.write_warehouse(self.sf_dir, seed, scale=0.002)
        return {"warehouse_rows": rows, "warehouse_bytes": gen.dir_bytes(self.sf_dir)}

    def make_sources(self, seed: int, n_deltas: int = 0) -> dict:
        """Batch 1 of the reference CSVs plus ``n_deltas`` delta batches."""
        from perfbench import gen

        rng = np.random.default_rng([seed, 2])
        state = gen.SourceState()
        rows = gen.write_sources(self.ref_dir, rng, state, **BATCH1)
        self.deltas = []
        for k in range(n_deltas):
            d = os.path.join(self.work, "inputs", f"delta{k:02d}")
            gen.write_sources(d, rng, state, **DELTA)
            self.deltas.append(d)
        return {"reference_rows": rows, "reference_bytes": gen.dir_bytes(self.ref_dir),
                "delta_bytes": [gen.dir_bytes(d) for d in self.deltas]}


BATCH1 = dict(n_customers=500, n_products=100, n_sales=2500, months=12)
DELTA = dict(n_customers=20, n_products=3, n_sales=400, months=1,
             updates=5, new_versions=2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-digests", action="store_true",
                    help="recompute twin_digests.json for corpus_curation")
    args = ap.parse_args(argv)
    if not args.write_digests and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}",
              file=sys.stderr)
        return 2

    os.makedirs(BENCH, exist_ok=True)
    # one Spark process at a time: runs share the checkout's directories
    lock = open(os.path.join(BENCH, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    work = os.path.join(BENCH, "work")
    shutil.rmtree(work, ignore_errors=True)  # leftover layer dirs of a killed run
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))

    cpus = cpu_count()
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_PERSISTENT_CATALOG": "0",
        "SPARK_GRAFT_REFERENCE_DIR": os.path.join(work, "inputs", "reference"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.write_digests:
        return write_digests(Context(work, cpus))
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    ctx = Context(work, cpus)
    wl = WORKLOADS[args.workload](ctx, args.seed, bool(args.trace))
    t0 = time.perf_counter()
    try:
        out = wl.run(args.seconds)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    report = summarize(wl, out)
    report.update(
        workload=wl.name, seed=args.seed, trace=args.trace,
        seconds=args.seconds, run_wall_s=time.perf_counter() - t0,
        fingerprint=fingerprint(), settings=ctx.settings, inputs=out["inputs"],
        phases=out["phases"], ops=out["timed"].get("ops", []),
        cpu_calibration_s=out["timed"]["calibration_s"],
    )
    os.makedirs(ctx.out_dir, exist_ok=True)
    with open(os.path.join(
            ctx.out_dir, f"{wl.name}.seed{args.seed}.trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    for name, m in report["end_to_end"].items():
        q = "" if "n" not in m else (
            f"  (n={m['n']}, q1={m['q1']:.4f}, q3={m['q3']:.4f})")
        print(f"{wl.name}  {name:<18} {m['value']:.4f} {m['unit']}{q}")
    for f in wl.failures:
        print(f"{wl.name}  PROGRAM DEFECT  {f}")
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in report["per_layer"].items()}
    else:
        metrics = {k: {"value": report["end_to_end"][k]["value"],
                       "unit": report["end_to_end"][k]["unit"]}
                   for k in RESULT_METRICS}
    print(json.dumps({
        "correct": not wl.failures, "attempted": wl.attempted,
        "failed": len(wl.failures), "metrics": metrics,
    }))
    return 0


def write_digests(ctx: Context) -> int:
    from __spark_entry__ import oracle_sql, queries
    from perfbench.check import Twins
    from perfbench.workloads import CorpusCuration
    from sql_data_warehouse_analytics_project_spark.sources.readers import TABLES

    ctx.make_warehouse(CorpusCuration.input_seed)
    keys = [k for k in queries() if k.split("_", 1)[0] in CorpusCuration.keys]
    twins = Twins(ctx.sf_dir, TABLES, oracle_sql())
    twins.write_digests(ctx.sf_dir, TABLES, keys)
    twins.close()
    print(f"wrote digests of {len(keys)} twins")
    return 0


def summarize(wl, out: dict) -> dict:
    from perfbench.workloads import PER_LAYER, quartiles

    timed = out["timed"]
    e2e = {}

    def add(name, unit, samples, value=None):
        q = quartiles(samples)
        e2e[name] = {"value": q["median"] if value is None else value,
                     "unit": unit, **q}

    add("setup_s", "s", timed["setup_s"])
    add(wl.pass_metric, "s", timed["mix_s"])
    add("mix_norm", "ratio", timed["mix_norm"])
    add("op_p50_s", "s", timed["op_s"])
    if len(timed["op_s"]) >= 100:
        add("op_p90_s", "s", timed["op_s"], float(np.percentile(timed["op_s"], 90)))
    for extra, unit in (("build_s", "s"), ("ingest_rows_per_s", "rows/s")):
        if extra in timed:
            add(extra, unit, timed[extra])
    e2e["peak_rss_mb"] = {"value": timed["peak_rss_mb"], "unit": "MB"}
    e2e["failed_ops_ratio"] = {
        "value": len(wl.failures) / max(wl.attempted, 1), "unit": "ratio"}
    per_layer = {k: statistics.median(out["layer"].get(k, [0.0])) for k, _ in PER_LAYER}
    return {"end_to_end": e2e, "per_layer": per_layer,
            "per_layer_samples": {k: len(v) for k, v in out["layer"].items()},
            "failures": wl.failures, "attempted": wl.attempted}


if __name__ == "__main__":
    sys.exit(main())
