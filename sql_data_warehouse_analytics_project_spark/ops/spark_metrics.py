"""Executor-level telemetry from Spark's own status store (SURVEY §4:
"re-point the reference's psutil-based perf telemetry at Spark metrics
— task time, shuffle bytes — via the status/listener infrastructure";
reference anchor: ``logs/performance_monitor.py:184-334``, whose
MetricsCollector samples driver-process psutil numbers that say nothing
about where a distributed job actually spent its time).

:func:`capture` is the engine's one Spark-work counter: ``RunContext``
(``measure()`` blocks and auto-captured writes) and ``bench.py`` both
call it. It runs a block under its own Spark JOB GROUP and, on exit,
totals the stages of exactly the jobs that carried the group — so two
captures interleaving on one SparkContext (the parallel bronze loader
threads) never cross-attribute each other's stages. The job group rides
Spark's thread-local ``spark.jobGroup.id`` property (PySpark pins Python
threads to JVM threads, so a group set on the capturing thread tags
precisely that thread's jobs). Jobs are looked up by group and stages by
id, so Python touches only the block's own jobs and stages, never every
job and stage the store retains. A block that ran no job of its own records nothing, and
any extraction failure does the same: telemetry must never break a
write.

Units: byte-valued stage totals are recorded in MB (1e6 bytes), not raw
bytes — the ``performance_metrics`` value column is DECIMAL(15,4)
(~9.3e10 max), which a single 100 GB+ shuffle would overflow as bytes;
as MB the same column holds exabyte-scale totals with 100-byte
resolution.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager

#: StageData accessor -> (metric key, unit, scale) for the totals a
#: bottleneck analysis needs; executorRunTime is milliseconds in the
#: store; byte counters record as MB (see module docstring)
_STAGE_FIELDS = (
    ("shuffleWriteBytes", "shuffle_write_mb", "MB", 1e-6),
    ("shuffleReadBytes", "shuffle_read_mb", "MB", 1e-6),
    ("executorRunTime", "task_time", "seconds", 1e-3),
    ("memoryBytesSpilled", "spill_memory_mb", "MB", 1e-6),
    ("diskBytesSpilled", "spill_disk_mb", "MB", 1e-6),
)

#: Spark's thread-local job-group property (what ``sc.setJobGroup`` sets
#: and ``JobData.jobGroup`` reports).
_JOB_GROUP_PROP = "spark.jobGroup.id"

#: makes every capture's job group unique, so a tag reused across
#: captures (a bench key timed once per pass) never counts earlier jobs
_seq = itertools.count()


@contextmanager
def capture(spark, tag: str):
    """Run the block's Spark jobs under a job group named after ``tag``
    and yield a dict that is filled on exit with ``{key: (value, unit)}``:
    ``jobs``, ``tasks``, ``n_stages`` and the ``_STAGE_FIELDS`` totals
    over the COMPLETE stages of the block's jobs (SKIPPED stages reused
    an earlier stage's output). The dict stays empty when no job carried
    the group — a block that ran no Spark job, or any status-store
    failure — so callers record nothing rather than zeros that would
    skew per-metric percentiles.

    The thread's previous job group is restored on exit, so a nested
    capture attributes its own stages to ITS tag; the outer block
    deliberately does not double-count them."""
    sc = spark.sparkContext
    group = f"{tag}#{next(_seq)}"
    work: dict[str, tuple[float, str]] = {}
    try:
        prev = sc.getLocalProperty(_JOB_GROUP_PROP)
        sc.setLocalProperty(_JOB_GROUP_PROP, group)
    except Exception:  # noqa: BLE001 — telemetry is best-effort
        prev = None
    try:
        yield work
    finally:
        try:
            sc.setLocalProperty(_JOB_GROUP_PROP, prev)
            work.update(_group_work(sc, group))
        except Exception:  # noqa: BLE001 — telemetry is best-effort
            pass


def _group_work(sc, group: str) -> "dict[str, tuple[float, str]]":
    """Totals of the jobs that ran under ``group`` (empty when none did).
    Waits for the listener bus first, so the status store has seen the
    block's last stage complete."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    if not job_ids:
        return {}
    store = jsc.statusStore()
    stage_ids: set[int] = set()
    for jid in job_ids:
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            stage_ids.add(int(it.next()))
    # stageData(id, details, taskStatus, withSummaries, quantiles) lists a
    # stage's attempts, oldest first, and is empty for a stage the store
    # evicted (SKIPPED ones go first); lastStageAttempt raises there, and
    # a py4j exception costs several lookups
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    totals = dict.fromkeys((key for _, key, _, _ in _STAGE_FIELDS), 0.0)
    n_stages = tasks = 0
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        if attempts.isEmpty():
            continue
        s = attempts.last()
        if str(s.status()) != "COMPLETE":
            continue
        n_stages += 1
        tasks += s.numCompleteTasks()
        for accessor, key, _unit, scale in _STAGE_FIELDS:
            totals[key] += float(getattr(s, accessor)()) * scale
    work = {key: (totals[key], unit) for _, key, unit, _ in _STAGE_FIELDS}
    work["n_stages"] = (float(n_stages), "count")
    work["jobs"] = (float(len(job_ids)), "count")
    work["tasks"] = (float(tasks), "count")
    return work

