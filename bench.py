"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop-format write (full computation
on executors, zero driver collection).

Design notes for comparability across rounds:

- ``cpu_calibration_sec`` is a fixed single-thread workload timed at start.
  Rounds run on different VMs with very different single-core speed; the
  bench here is dominated by fixed per-job costs (driver scheduling, janino
  codegen compile, Python worker spin-up) that scale with box speed, NOT
  with data. Divide by the calibration ratio before comparing rounds.
- Box speed also drifts WITHIN a run (measured 2.5× in round 4), so the
  calibration workload is re-timed before every pass and once at the end
  (``calibrations`` in the artifact), and each query's normalized best-of
  uses the calibration of the pass each timing came from — a slow VM
  window can no longer manufacture a phantom per-query regression.
- Bronze ingest (the reference's only published baseline number,
  >10,000 rows/s) runs FIRST so a driver-side timeout can never starve it.
- ``bench_result.json`` is rewritten after every query: if the harness
  kills the process mid-run, the file still holds ingest + calibration +
  every per-query time measured so far. The stdout JSON line is printed
  once, last, after spark.stop().
- ``cpus`` is ``$SPARK_GRAFT_CPUS`` when it holds a positive integer,
  else the cores in the process's CPU affinity mask
  (``session.default_cpus``); the session runs on exactly that many cores.
- Each run stands alone: nothing merges with a previous artifact, so
  every number comes from the code and box of this run.
- Each timed query runs inside ``ops.spark_metrics.capture``, and
  ``query_work`` in the artifact records, per key and from the final
  pass, where its time went: ``build_s`` (until the query function
  returned its DataFrame), Spark ``jobs``/``stages``/``tasks``, executor
  ``task_s``, shuffle read/write MB and spill MB. The status-store lookup
  runs after the end timestamp, outside the timed window. To profile a
  few keys: ``SPARK_GRAFT_BENCH_QUERIES=k1,k2 python bench.py``.
- A subset of ``queries()`` is excluded from the BENCH set (still in the
  correctness gate): the md5-portable oracle twins (qd13/14/15/17/18/20 —
  intentionally slow, exist only so DuckDB can replay the math) and two of
  the three recall gates (qd26/27 — qd25 stays as the representative;
  each gate re-runs two full pipelines, so benching all three triples an
  already-measured cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sql_data_warehouse_analytics_project_spark.ops.spark_metrics import capture  # noqa: E402
from sql_data_warehouse_analytics_project_spark.session import (  # noqa: E402
    default_cpus as _cpus,
    get_spark,
)

import __spark_entry__ as entrymod  # noqa: E402

# Oracle-only twins / redundant gates — correctness-gate coverage, not
# headline performance rows (rationale in the module docstring).
BENCH_EXCLUDE = {
    "qd13_minhash_portable",
    "qd14_simhash_portable",
    "qd15_lsh_signatures_portable",
    "qd17_minhash_band_pairs_portable",
    "qd18_rolling_fingerprint",
    "qd20_tfidf_top_terms",
    "qd26_lsh_ann_recall_gate",
    "qd27_ivf_ann_recall_gate",
    # write-pipeline correctness replay (two full incremental medallion
    # rounds = ~15 tiny managed-table writes of fixed job overhead on
    # inline rows — a gate artifact, not a data-scaled query)
    "q80_gold_incremental_replay",
    # streaming-sink maintenance lifecycle replay (3 micro-batch sink
    # rounds + dataset compaction rewrites + fold = fixed write/job
    # overhead; the data-scaled BM25 costs are already benched via
    # qd45/qd46)
    "qd50_bm25_sink_compact_lifecycle",
    # on-disk bucketed-index maintenance replay (persist + bucket-dir
    # swaps = disk-write overhead; same rationale as qd50)
    "qd52_bm25_bucketed_disk_update",
    # CDC lifecycle replay (4 sink micro-batch rounds + 2 manifest-
    # committed rewrites + fold = fixed write/job overhead — measured
    # near-FLAT from sf0.01 to sf0.1; the data-scaled BM25 costs are
    # benched via qd45/qd46, the drift-sink fold via qd55)
    "qd54_bm25_cdc_retire_compact",
    # persisted-index round-trip replay (write + manifest publish + read
    # + disk-vs-memory equality = disk-write overhead; the data-scaled
    # IVF-PQ search cost is benched via qd56)
    "qd58_ivfpq_disk_index",
    # incremental-index maintenance lifecycle replay (build + persist +
    # update + pinned-rebuild equality + file-level asserts = fixed
    # write/job overhead, the qd50/qd52/qd54 rationale; the data-scaled
    # IVF-PQ costs are benched via qd56)
    "qd63_ivfpq_incremental_update",
    # streaming-sink maintenance lifecycle replay for the ANN index
    # (build + persist + 3 sink micro-batches incl. a replay + ledger
    # fold + pinned-rebuild equality = fixed write/job overhead, the
    # qd50/qd54/qd63 rationale; data-scaled IVF-PQ costs are benched
    # via qd56)
    "qd69_ivfpq_streaming_sink",
    # streaming-sketch maintenance lifecycle replay (3 sink micro-batch
    # slice writes + fold = fixed write/job overhead, the qd50/qd69
    # rationale; the data-scaled sketch costs are benched via qd76/qd77)
    "qd80_streaming_sketch_maintenance",
}

# Keys whose Arrow-GEMM kernels measured up to 8x swings on IDENTICAL
# code from box/thread-scheduling noise (round-9/10 notes: qd07 ran
# 1.1 s → 8.4 s with no code change on its path, muddying every
# round-over-round read). These keys are measured VOLATILE_REPEATS
# times per pass and record the MEDIAN, so one slow scheduling window
# cannot define the key in any single run.
BENCH_VOLATILE = {"qd07_embedding_dupes"}
_VOLATILE_REPEATS = 3

# 3 passes: per-query best-of-N is the steady-state estimator, and the
# measured single-core VM drift (calibration swinging 0.35→0.89 WITHIN
# one run, round 4) poisons adjacent queries for a whole pass — a third
# pass costs ~1 steady total and halves the odds a slow window defines
# a query's "best". No further pass starts after half the budget.
_PASSES = 3
_BUDGET_S = 900.0

_RESULT_PATH = os.environ.get(
    "SPARK_GRAFT_BENCH_OUT",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_result.json"),
)


# the code a bench run actually measures: the engine package, the query
# registry, and this harness — docs/notes/artifact commits don't count
_MEASURED_PATHS = (
    "sql_data_warehouse_analytics_project_spark",
    "__spark_entry__.py",
    "bench.py",
)


def _semantic_digest(blob: bytes) -> str:
    """Digest of a Python source file that ignores comments, whitespace,
    and docstrings: the AST (which never contains comments) is dumped
    with every docstring slot removed, so only executable structure
    feeds the hash. Non-parseable sources fall back to the raw bytes."""
    import ast
    import hashlib

    try:
        tree = ast.parse(blob)
    except (SyntaxError, ValueError):
        return hashlib.sha256(blob).hexdigest()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                del body[0]
    return hashlib.sha256(
        ast.dump(tree, include_attributes=False).encode()
    ).hexdigest()


def _code_fingerprint(root: str | None = None) -> str | None:
    """Content hash of the MEASURED code paths as they sit in the
    WORKING TREE — identifies the code a bench run measured, while
    committing notes or bench artifacts keeps the fingerprint stable.

    Python sources hash via :func:`_semantic_digest` (AST minus
    docstrings), NOT raw bytes: a docstring/comment-only edit cannot
    change what a run measures, so it keeps the fingerprint; any
    executable change rotates it.

    ``root`` (tests only) points the scan at a different git tree so the
    protocol tests can mutate a THROWAWAY copy of a measured file — the
    live working tree is never written by a fingerprint probe."""
    import hashlib
    import subprocess

    try:
        here = root or os.path.dirname(os.path.abspath(__file__))
        ls = subprocess.run(
            ["git", "ls-files", "--cached", "--others", "--exclude-standard",
             "--", *_MEASURED_PATHS],
            cwd=here, capture_output=True, text=True, timeout=30,
        )
        if ls.returncode != 0:
            return None
        h = hashlib.sha256()
        for rel in sorted(set(ls.stdout.splitlines())):
            path = os.path.join(here, rel)
            try:
                with open(path, "rb") as fh:
                    blob = fh.read()
            except OSError:  # tracked but deleted from the working tree
                h.update(f"!{rel}\n".encode())
                continue
            if rel.endswith(".py"):
                digest = _semantic_digest(blob)
            else:
                digest = hashlib.sha256(blob).hexdigest()
            h.update(f"{rel}:{digest}\n".encode())
        return h.hexdigest()[:24]
    except Exception:  # noqa: BLE001
        return None


def _cpu_calibration() -> float:
    """Fixed single-thread workload; seconds. ~0.5 s on a fast core."""
    t0 = time.time()
    x = 0
    for i in range(10_000_000):
        x += i
    return round(time.time() - t0, 3)


def _run_query(spark, name: str, fn, sf_dir: str) -> "tuple[float, dict]":
    """Time one query end to end through a noop sink; returns its wall
    seconds and its ``query_work`` record (module docstring)."""
    with capture(spark, f"bench:{name}") as work:
        t0 = time.time()
        df = fn(spark, sf_dir)
        t_build = time.time()
        df.write.format("noop").mode("overwrite").save()
        t_end = time.time()

    def total(*keys: str) -> float:
        return sum(work.get(k, (0.0, ""))[0] for k in keys)

    return t_end - t0, {
        "build_s": round(t_build - t0, 3),
        "jobs": int(total("jobs")),
        "stages": int(total("n_stages")),
        "tasks": int(total("tasks")),
        "task_s": round(total("task_time"), 3),
        "shuffle_read_mb": round(total("shuffle_read_mb"), 3),
        "shuffle_write_mb": round(total("shuffle_write_mb"), 3),
        "spill_mb": round(total("spill_memory_mb", "spill_disk_mb"), 3),
    }


def _write_partial(out: dict) -> None:
    tmp = _RESULT_PATH + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(json.dumps(out) + "\n")
    os.replace(tmp, _RESULT_PATH)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    calib = _cpu_calibration()
    start = time.time()

    cpus = _cpus()
    spark = get_spark(
        "bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    qs = {
        name: fn
        for name, fn in entrymod.queries().items()
        if name not in BENCH_EXCLUDE
    }
    # targeted subset (profiling, quick local iteration): comma list of keys
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        want = {s.strip() for s in subset.split(",") if s.strip()}
        unknown = want - set(qs)
        if unknown:
            raise SystemExit(f"unknown bench queries: {sorted(unknown)}")
        qs = {n: f for n, f in qs.items() if n in want}

    fingerprint = _code_fingerprint()

    out: dict = {
        "metric": "headline_queries_total_runtime",
        "value": None,
        "unit": "sec",
        "queries": {},
        "query_work": {},
        "passes": 0,
        "sf": sf_val,
        "cpus": cpus,
        "cpu_calibration_sec": calib,
        "code_fingerprint": fingerprint,
        # Completeness marker: a harness kill mid-pass leaves a partial sum
        # under the same metric name; this flag is flipped to true only in
        # the final write after the pass loop so rounds are comparable.
        "complete": False,
    }

    # Bronze ingestion throughput vs the reference's one published target
    # (>10,000 rows/s, BASELINE.md) — measured over its actual six CSVs
    # when present. Runs FIRST: it is the only baseline-comparable number,
    # so it must never be starved by a driver-side timeout.
    crm = "/root/reference/datasets/source_crm"
    erp = "/root/reference/datasets/source_erp"
    if os.path.isdir(crm) and os.path.isdir(erp):
        try:
            from sql_data_warehouse_analytics_project_spark.catalog import Catalog
            from sql_data_warehouse_analytics_project_spark.medallion import bronze

            cat = Catalog(spark, prefix="benchbronze_")
            cat.drop_layers()
            cat.create_layers()
            t0 = time.time()
            res = bronze.load_sources(cat, crm, erp)
            rows = sum(r.get("rows_loaded", 0) for r in res.values())
            out["bronze_rows_per_second"] = round(
                rows / max(time.time() - t0, 1e-9), 1
            )
            cat.drop_layers()
        except Exception:  # noqa: BLE001
            pass
    _write_partial(out)

    # Timed passes. Per-query best across passes (steady state): the first
    # pass is dominated by one-time costs that don't scale with data —
    # janino codegen compilation, Python worker spin-up, JIT warmup — which
    # at real scale amortize to nothing. The cold first-pass total is
    # reported alongside for transparency. The result file is rewritten
    # after every query so a harness kill still leaves a usable artifact.
    passes: list[dict[str, float]] = []
    pass_calibs: list[float] = []

    def _bests(all_passes):
        # best over EVERY name seen in ANY pass — not just the current
        # one, or a kill mid-pass-2 would leave a file whose headline
        # total covers only the few queries re-run so far. Normalized
        # best-of uses each pass's OWN calibration (0.40 s reference
        # core), so mid-run VM drift can't poison a query's number.
        seen = {n for p in all_passes for n in p}
        best = {n: min(p[n] for p in all_passes if n in p) for n in seen}
        nbest = {
            n: min(
                p[n] * (0.40 / max(c, 1e-6))
                for p, c in zip(all_passes, pass_calibs)
                if n in p
            )
            for n in seen
        }
        return best, nbest

    def _record(all_passes):
        best, nbest = _bests(all_passes)
        out["queries"] = {k: round(v, 2) for k, v in best.items()}
        out["queries_normalized"] = {k: round(v, 2) for k, v in nbest.items()}
        out["value"] = round(sum(best.values()), 3)
        out["value_normalized"] = round(sum(nbest.values()), 3)
        out["passes"] = len(all_passes)
        out["calibrations"] = {
            "start": calib, "passes": pass_calibs[: len(all_passes)],
        }

    def _purge_context() -> None:
        # Measurement hygiene (round 9): several operators localCheckpoint
        # intermediates; the checkpointed RDD blocks stay pinned in the
        # block manager until Python GC releases the wrapper and the
        # ContextCleaner gets around to them — across a 137-query pass
        # they accumulate into real storage-memory pressure that slows
        # LATER queries (measured: a 1 s GEMM query decays to 8 s by
        # plain repetition). Each query is measured on a clean context,
        # the way a real cluster job starts. Purge time is excluded from
        # every query's timing.
        import gc

        gc.collect()
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
        except Exception:  # noqa: BLE001 — purge is best-effort
            pass
        # ALSO collect the JVM: Spark's ContextCleaner reclaims shuffle
        # files and broadcast blocks only when a JVM GC notices the dead
        # references, and spark.cleaner.periodicGC.interval defaults to
        # 30 min — longer than a whole pass, so ~140 queries of shuffle/
        # broadcast state pile up and late Python-kernel queries measured
        # 10-20x their standalone cost (round 11). Purge time is outside
        # every query's timed window.
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass

    for _ in range(_PASSES):
        pass_calibs.append(_cpu_calibration())
        timings: dict[str, float] = {}
        for name, fn in qs.items():
            reps = _VOLATILE_REPEATS if name in BENCH_VOLATILE else 1
            runs = []
            for _r in range(reps):
                _purge_context()
                runs.append(_run_query(spark, name, fn, sf_dir))
            runs.sort(key=lambda run: run[0])
            wall, work = runs[len(runs) // 2]
            timings[name] = round(wall, 3)
            out["query_work"][name] = work
            _record(passes + [timings])
            if not passes:
                out["cold_total"] = round(sum(timings.values()), 2)
            _write_partial(out)
        passes.append(timings)
        # never let a repeat pass push us past the harness's patience
        if time.time() - start > _BUDGET_S / 2:
            break

    _record(passes)
    out["cold_total"] = round(sum(passes[0].values()), 2)
    out["calibrations"]["end"] = _cpu_calibration()
    out["complete"] = True
    _write_partial(out)

    # The stdout metrics line must (a) survive the harness's stdout tail
    # capture and (b) be SMALL enough to parse — the full 99-entry per-query
    # map (~4 KB) outgrew the tail three rounds running ("parsed": null).
    # Print a compact (<1 KB) summary as the very last stdout bytes; the
    # full per-query map lives only in bench_result.json.
    slowest = dict(
        sorted(out["queries"].items(), key=lambda kv: -kv[1])[:10]
    )
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "value_normalized": out.get("value_normalized"),
        "cold_total": out["cold_total"],
        "passes": out["passes"],
        "sf": out["sf"],
        "cpus": cpus,
        "cpu_calibration_sec": calib,
        "calibrations": out["calibrations"],
        "bronze_rows_per_second": out.get("bronze_rows_per_second"),
        "n_queries": len(out["queries"]),
        # kept for stdout-line compatibility: runs never merge
        "merged_runs": 1,
        "complete": True,
        "queries": slowest,
    }
    line = json.dumps(compact)
    # Stop Spark first (its shutdown chatter can interleave), then make the
    # JSON line the final stdout bytes.
    try:
        spark.stop()
    except Exception:  # noqa: BLE001
        pass
    print(line, flush=True)


if __name__ == "__main__":
    main()
