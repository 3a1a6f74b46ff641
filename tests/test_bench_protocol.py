"""bench.py measurement-protocol invariants.

The code fingerprint identifies the code a bench artifact measured. It
is SEMANTIC — AST minus docstrings — so a docstring-only commit keeps
it, and these tests pin that contract, the core-count resolution, and
the schema of the per-key ``query_work`` record (the one test here that
needs a Spark session).
"""

from __future__ import annotations

from pathlib import Path

import bench

ENGINE_INIT = (
    Path(bench.__file__).resolve().parent
    / "sql_data_warehouse_analytics_project_spark"
    / "__init__.py"
)


def test_semantic_digest_ignores_comments_and_docstrings():
    base = b'''
"""Module doc."""

def f(x):
    """f doc."""
    return x + 1


class C:
    """C doc."""

    def g(self):
        return 2
'''
    cosmetic = b'''
"""A completely rewritten module docstring.

With extra lines.
"""

# a new comment block
def f(x):
    # inline commentary
    return x + 1  # trailing note


class C:
    def g(self):
        """g grew a docstring."""
        return 2
'''
    behavioral = base.replace(b"return x + 1", b"return x + 2")
    assert bench._semantic_digest(base) == bench._semantic_digest(cosmetic)
    assert bench._semantic_digest(base) != bench._semantic_digest(behavioral)


def test_semantic_digest_falls_back_on_syntax_error():
    bad = b"def broken(:\n"
    # non-parseable sources hash by content — still deterministic
    assert bench._semantic_digest(bad) == bench._semantic_digest(bad)
    assert bench._semantic_digest(bad) != bench._semantic_digest(bad + b"x")


def test_code_fingerprint_stable_and_docstring_insensitive(tmp_path):
    # probe a THROWAWAY git tree holding a copy of a measured engine
    # file — the live working tree is never written (a hard kill
    # mid-test used to leave it dirty and rotate the bench fingerprint)
    import subprocess

    pkg = tmp_path / "sql_data_warehouse_analytics_project_spark"
    pkg.mkdir()
    probe = pkg / "__init__.py"
    original = ENGINE_INIT.read_bytes()
    probe.write_bytes(original)
    subprocess.run(
        ["git", "init", "-q"], cwd=tmp_path, check=True, timeout=30
    )
    root = str(tmp_path)

    fp0 = bench._code_fingerprint(root=root)
    assert fp0 is not None and len(fp0) == 24
    assert bench._code_fingerprint(root=root) == fp0

    # a comment appended to a MEASURED engine file must not rotate the
    # fingerprint (the round-9 overwrite trigger)
    probe.write_bytes(original + b"\n# bench fingerprint probe\n")
    assert bench._code_fingerprint(root=root) == fp0
    # an executable change MUST rotate it
    probe.write_bytes(original + b"\n_BENCH_PROBE = 1\n")
    assert bench._code_fingerprint(root=root) != fp0
    probe.write_bytes(original)
    assert bench._code_fingerprint(root=root) == fp0

    # the live tree's fingerprint computes read-only
    assert bench._code_fingerprint() is not None


def test_cpus_from_env_else_cpu_count(monkeypatch):
    """``SPARK_GRAFT_CPUS`` sets the core count only when it is a
    positive integer; unset or malformed values fall back to the cores
    the process may run on (its affinity mask) instead of a hard-coded
    guess or a crash."""
    import os

    cores = len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench._cpus() == cores
    for bad in ("", "four", "2.5", "0", "-3"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        assert bench._cpus() == cores, bad
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 6 ")
    assert bench._cpus() == 6


def test_query_work_record_schema(spark, sf_dir):
    """One timed query yields its wall seconds and a ``query_work``
    record with exactly the documented fields, counting the Spark work
    the query's own jobs ran."""
    import __spark_entry__ as entrymod

    fn = entrymod.queries()["q01_filter_project"]
    wall, rec = bench._run_query(spark, "q01_filter_project", fn, sf_dir)
    assert set(rec) == {
        "build_s", "jobs", "stages", "tasks", "task_s",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    }
    assert rec["jobs"] >= 1 and rec["stages"] >= 1
    assert rec["tasks"] >= rec["stages"]
    assert 0 <= rec["build_s"] <= wall
    assert rec["task_s"] >= 0 and rec["spill_mb"] >= 0
