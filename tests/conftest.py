from __future__ import annotations

import atexit
import csv
import datetime as dt
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import pytest

#: the repository root (this file lives in ``<root>/tests``)
_REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO_ROOT))

from sql_data_warehouse_analytics_project_spark.session import get_spark

# ---------------------------------------------------------------------------
# Reference dataset. The medallion tests and the CSV-replay query keys read
# the reference's six source CSVs under ``$SPARK_GRAFT_REFERENCE_DIR``
# (default ``/root/reference``; see queries_medallion). When the variable
# is unset and the default root holds no dataset, the session writes a
# seeded stand-in with the profiled defects (SURVEY.md §1.4) from
# ``perfbench.gen.write_sources``, points the variable at it and removes it
# at exit. This runs in pytest_configure, before any test module is
# imported: queries_medallion reads the root when it is first imported.
# Shard workers inherit the variable and write nothing.
# ---------------------------------------------------------------------------

_REFERENCE_ENV = "SPARK_GRAFT_REFERENCE_DIR"
#: Set to the stand-in's root when this session wrote it; test modules
#: derive their expectations from its CSVs instead of the real dataset's
#: constants.
_STANDIN_ENV = "_SPARK_GRAFT_TEST_STANDIN"


def _csv_records(path: str) -> list[dict]:
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.DictReader(fh))


def _is_yyyymmdd(v: str) -> bool:
    """An 8-digit calendar date in ``yyyymmdd`` form."""
    if len(v) != 8 or not v.isdigit():
        return False
    try:
        dt.datetime.strptime(v, "%Y%m%d")
    except ValueError:
        return False
    return True


def _missing_defects(root: str) -> list[str]:
    """The profiled defects the cleansing assertions depend on that the
    dataset under ``root`` lacks (each check passes vacuously without its
    defect)."""
    crm = os.path.join(root, "datasets", "source_crm")
    erp = os.path.join(root, "datasets", "source_erp")
    cust = _csv_records(f"{crm}/cust_info.csv")
    prd = _csv_records(f"{crm}/prd_info.csv")
    sales = _csv_records(f"{crm}/sales_details.csv")
    erp_c = _csv_records(f"{erp}/CUST_AZ12.csv")
    loc = _csv_records(f"{erp}/LOC_A101.csv")
    ids = [r["cst_id"].strip() for r in cust]
    named = [r[c] for r in cust for c in ("cst_firstname", "cst_lastname")]
    today = dt.date.today().isoformat()

    def bad_sales(r) -> bool:
        if not r["sls_sales"].strip():
            return True
        if not r["sls_price"].strip():
            return False
        return int(r["sls_sales"]) != int(r["sls_quantity"]) * int(r["sls_price"])

    present = {
        "null cst_id": "" in ids,
        "duplicated cst_id": len(set(ids) - {""}) < len([i for i in ids if i]),
        "padded name": any(v != v.strip() for v in named),
        "blank cst_gndr": any(not r["cst_gndr"].strip() for r in cust),
        "prd_end_dt before prd_start_dt": any(
            r["prd_end_dt"].strip() and r["prd_end_dt"] < r["prd_start_dt"]
            for r in prd
        ),
        "sls_sales null or not quantity*price": any(map(bad_sales, sales)),
        "invalid sls_order_dt": any(
            not _is_yyyymmdd(r["sls_order_dt"].strip()) for r in sales
        ),
        "NAS-prefixed CID": any(r["CID"].strip().startswith("NAS") for r in erp_c),
        "future BDATE": any(r["BDATE"].strip() > today for r in erp_c),
        "'-' in LOC_A101 CID": any("-" in r["CID"] for r in loc),
        "US/DE country code": any(r["CNTRY"].strip() in ("US", "DE") for r in loc),
    }
    return [name for name, ok in present.items() if not ok]


def pytest_configure(config):
    """Write the stand-in reference dataset when the real one is absent."""
    if _REFERENCE_ENV in os.environ or Path("/root/reference/datasets").is_dir():
        return
    import numpy as np

    from perfbench import gen

    root = tempfile.mkdtemp(prefix="spark_graft_reference_")
    atexit.register(shutil.rmtree, root, True)
    # sizes follow the SURVEY.md §1.4 profile (60,398 sales, ~18.5k
    # customers, 397 product rows, 37 order months)
    gen.write_sources(
        root, np.random.default_rng([1, 2]), gen.SourceState(),
        n_customers=18400, n_products=200, n_sales=60398, months=37,
    )
    missing = _missing_defects(root)
    if missing:
        raise RuntimeError(
            "stand-in reference dataset lacks the profiled defects: "
            + ", ".join(missing)
        )
    os.environ[_REFERENCE_ENV] = root
    os.environ[_STANDIN_ENV] = root


SF_SMOKE = "/root/testdata/sf0.001"

#: Shard-worker marker env var. Set in workers so they run the normal
#: sequential loop (and never re-shard recursively).
_SHARD_ENV = "_SPARK_GRAFT_TEST_SHARD"
#: Per-worker warehouse dir (managed-table writes must not collide).
_WAREHOUSE_ENV = "_SPARK_GRAFT_TEST_WAREHOUSE"
#: Worker-side per-test outcome log (tab-separated: outcome, nodeid).
_RESULTS_ENV = "_SPARK_GRAFT_TEST_RESULTS"


def pytest_runtest_logreport(report):
    """In shard WORKERS, append each test's final outcome to the results
    file the parent reads back — the parent replays them as TestReports
    so the top-level run prints the true '[N] passed' summary (and exits
    nonzero on failures) exactly like a sequential run."""
    path = os.environ.get(_RESULTS_ENV)
    if not path:
        return
    final = (
        report.when == "call"
        or (report.when in ("setup", "teardown") and report.outcome != "passed")
    )
    if not final:
        return
    with open(path, "a", encoding="utf-8") as fh:
        fh.write(f"{report.outcome}\t{report.when}\t{report.nodeid}\n")


@pytest.fixture(scope="session")
def spark():
    # A crashed previous run can leave managed-table directories behind while
    # the (in-memory) metastore forgets them, making saveAsTable fail with
    # LOCATION_ALREADY_EXISTS. The warehouse dir is pure test scratch — start
    # each session from a clean slate before the JVM pins it.
    warehouse = os.environ.get(
        _WAREHOUSE_ENV, str(_REPO_ROOT / "spark-warehouse")
    )
    shutil.rmtree(Path(warehouse), ignore_errors=True)
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


# ---------------------------------------------------------------------------
# Sharded execution (round-12, verdict item 1: the 315-test suite at
# 43–48 min outran the driver's verify window — `tests_ok: false`).
#
# pytest-xdist is not installable here (no network), so the conftest
# shards the collected items itself: the top-level `pytest tests/ -x -q`
# process collects as usual, then — instead of running — splits the item
# ids round-robin (sorted by module, so every worker gets a proportional
# slice of the heavy modules) across N subprocess workers, each a plain
# `pytest <ids> -q` with its own SparkSession, its own warehouse dir,
# and a fair share of the cores. Workers inherit this same conftest but
# run the normal loop (the _SPARK_GRAFT_TEST_SHARD guard). Safety:
# tests already isolate state per test (unique catalog prefixes,
# tmp_path); the only cross-process hazards — the shared warehouse dir
# and core oversubscription — are handled via _SPARK_GRAFT_TEST_WAREHOUSE
# and SPARK_GRAFT_CPUS derating.
#
# SPARK_GRAFT_TEST_SHARDS=1 disables sharding (plain sequential run);
# any orchestration error falls back to the sequential loop rather than
# failing the suite.
# ---------------------------------------------------------------------------


def _shard_count() -> int:
    env = os.environ.get("SPARK_GRAFT_TEST_SHARDS")
    if env is not None:
        try:
            return max(1, int(env))
        except ValueError:
            return 1
    cpus = os.cpu_count() or 8
    return max(1, min(6, cpus // 5))


def pytest_runtestloop(session):
    if os.environ.get(_SHARD_ENV) is not None:
        return None  # worker: normal sequential loop
    if session.config.option.collectonly:
        return None
    n = _shard_count()
    if n <= 1 or len(session.items) < 2 * n:
        return None
    try:
        return _run_sharded(session, n)
    except Exception as exc:  # noqa: BLE001 — orchestration must not
        # lose the suite; fall back to the plain sequential loop
        sys.stderr.write(f"\n[shard] orchestration failed ({exc}); "
                         "running sequentially\n")
        return None


#: Modules whose tests may run in DIFFERENT workers: verified to have
#: no module-scoped fixture that accumulates cross-test state (test_llm's
#: module fixtures are read-only parquet frames; the other four have
#: none). Everything else ships as one unit to one worker — e.g.
#: test_ops's `ctx` fixture logs errors that later tests in the module
#: assert on, so splitting it would manufacture failures.
_SPLIT_OK = {
    "tests/test_entry.py",
    "tests/test_incremental.py",
    "tests/test_llm.py",
    "tests/test_properties.py",
    "tests/test_streaming.py",
}

#: Approximate per-module wall seconds (round-12 baseline `--durations`
#: profile of the full sequential run) — bin-packing weights, not
#: assertions; unknown modules default small.
_MODULE_WEIGHTS = {
    "tests/test_streaming.py": 731,
    "tests/test_entry.py": 624,
    "tests/test_incremental.py": 322,
    "tests/test_llm.py": 309,
    "tests/test_ops.py": 242,
    "tests/test_medallion.py": 180,
    "tests/test_properties.py": 144,
    "tests/test_operators.py": 76,
    "tests/test_sources.py": 56,
    "tests/test_dml.py": 32,
    "tests/test_cli.py": 25,
    "tests/test_plans.py": 21,
    "tests/test_local_oracles.py": 16,
    "tests/test_edges.py": 12,
}


def _run_sharded(session, n: int) -> bool:
    t0 = time.time()
    # Work units: (weight, [nodeids]) — whole modules by default,
    # per-item for the _SPLIT_OK modules; greedy heaviest-first onto the
    # least-loaded worker. Items keep collection order within a worker.
    by_module: dict[str, list] = {}
    for it in session.items:
        by_module.setdefault(it.nodeid.split("::", 1)[0], []).append(it)
    units: list[tuple[float, list[str]]] = []
    for mod, its in by_module.items():
        w = float(_MODULE_WEIGHTS.get(mod, 10))
        if mod in _SPLIT_OK:
            units.extend((w / len(its), [it.nodeid]) for it in its)
        else:
            units.append((w, [it.nodeid for it in its]))
    units.sort(key=lambda u: -u[0])
    loads = [0.0] * n
    order: list[list[tuple[int, str]]] = [[] for _ in range(n)]
    pos = {it.nodeid: j for j, it in enumerate(session.items)}
    for w, ids in units:
        k = loads.index(min(loads))
        loads[k] += w
        order[k].extend((pos[i], i) for i in ids)
    shards = [
        [nid for _, nid in sorted(bucket)] for bucket in order if bucket
    ]
    items = session.items

    cpus = os.cpu_count() or 8
    per_worker_cpus = str(max(3, cpus // len(shards)))
    # -x/--exitfirst is stored as maxfail=1: only then do workers get -x
    # and peers stop on the first failing shard. A larger --maxfail lets
    # every shard run to completion so all failures are reported.
    exitfirst = session.config.getoption("maxfail", 0) == 1

    out_dir = Path(f"/tmp/spark_graft_test_shards_{os.getpid()}")
    out_dir.mkdir(parents=True, exist_ok=True)
    procs = []
    for i, ids in enumerate(shards):
        env = dict(
            os.environ,
            **{
                _SHARD_ENV: str(i),
                _WAREHOUSE_ENV: f"/tmp/spark_graft_test_wh_{os.getpid()}_{i}",
                _RESULTS_ENV: str(out_dir / f"shard_{i}.results"),
                "SPARK_GRAFT_CPUS": per_worker_cpus,
                "SPARK_DRIVER_MEMORY": os.environ.get(
                    "SPARK_DRIVER_MEMORY", "12g"
                ),
            },
        )
        cmd = [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider"]
        if exitfirst:
            cmd.append("-x")
        cmd += ids
        # stdout goes to a FILE, not a pipe: a worker dumping large
        # tracebacks into a full pipe buffer would block forever with
        # nobody reading until exit
        log = open(out_dir / f"shard_{i}.out", "w+", encoding="utf-8")
        procs.append(
            (
                i,
                subprocess.Popen(
                    cmd,
                    cwd=str(_REPO_ROOT),
                    env=env,
                    stdout=log,
                    stderr=subprocess.STDOUT,
                    text=True,
                ),
                log,
            )
        )

    outputs: dict[int, str] = {}
    rcs: dict[int, int] = {}
    failed_early = False
    pending = {i: (p, log) for i, p, log in procs}
    while pending:
        for i, (p, log) in list(pending.items()):
            rc = p.poll()
            if rc is None:
                continue
            log.flush()
            log.seek(0)
            outputs[i] = log.read()
            log.close()
            rcs[i] = rc
            del pending[i]
            sys.stderr.write(f"[shard {i}] done rc={rc} "
                             f"({time.time() - t0:.0f}s)\n")
            if rc not in (0, 1) or (rc != 0 and exitfirst):
                failed_early = True
        if failed_early and pending:
            for p, _log in pending.values():
                p.terminate()
            for i, (p, log) in pending.items():
                try:
                    p.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    p.kill()
                    p.wait(timeout=30)
                log.flush()
                log.seek(0)
                outputs[i] = log.read()
                log.close()
                rcs[i] = p.returncode if p.returncode is not None else -1
            pending.clear()
        time.sleep(0.5)

    # Replay each worker's per-test outcomes as real TestReports: the
    # standard terminal reporter then prints the true combined summary
    # ("N passed, M skipped in ...s") as the final line, Session counts
    # testsfailed itself, and the exit status falls out exactly as in a
    # sequential run.
    from _pytest.reports import TestReport

    tw = session.config.get_terminal_writer()
    seen = 0
    for i in sorted(outputs):
        res_path = out_dir / f"shard_{i}.results"
        lines = []
        if res_path.exists():
            lines = res_path.read_text(encoding="utf-8").splitlines()
        for line in lines:
            outcome, when, nodeid = line.split("\t", 2)
            seen += 1
            longrepr = None
            if outcome == "skipped":
                longrepr = (nodeid.split("::")[0], 0, "skipped (in shard)")
            elif outcome == "failed":
                longrepr = f"failed in shard {i} — full output above"
            rep = TestReport(
                nodeid=nodeid,
                location=(nodeid.split("::")[0], None, nodeid),
                keywords={},
                outcome=outcome,
                longrepr=longrepr,
                when=when,
                sections=[],
                duration=0.0,
                start=0.0,
                stop=0.0,
            )
            session.ihook.pytest_runtest_logreport(report=rep)
        if rcs[i] != 0:
            tw.line(f"\n===== shard {i} output (rc={rcs[i]}) =====")
            tw.write(outputs[i])
    # a worker that died without reporting all its tests (crash, rc>1)
    # must fail the run even if every written outcome passed
    bad_rc = any(rc not in (0, 1) for rc in rcs.values())
    if (seen < len(items) and not exitfirst) or bad_rc:
        session.testsfailed += 1
        tw.line(
            f"\n[shards] INCOMPLETE: {seen}/{len(items)} outcomes "
            f"reported, worker rcs={rcs}"
        )
    tw.line(f"\n[shards: {len(shards)}] wall {time.time() - t0:.1f}s")
    return True
