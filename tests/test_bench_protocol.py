"""bench.py measurement-protocol invariants (no Spark session needed).

The code fingerprint identifies the code a bench artifact measured. It
is SEMANTIC — AST minus docstrings — so a docstring-only commit keeps
it, and these tests pin that contract plus the core-count resolution.
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
    positive integer; unset or malformed values fall back to the box's
    ``os.cpu_count()`` instead of a hard-coded guess or a crash."""
    import os

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench._cpus() == (os.cpu_count() or 1)
    for bad in ("", "four", "2.5", "0", "-3"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        assert bench._cpus() == (os.cpu_count() or 1), bad
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 6 ")
    assert bench._cpus() == 6
