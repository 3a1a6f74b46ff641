"""Interleaved A/B bench: HEAD vs a pinned prior commit on the same box
hour (round-6 verdict #5b).

Box speed drifts 50%+ between bench runs (NOTES_r6: six same-code runs
spanned 92–144 normalized), so "run old, then run new" confounds code
deltas with neighbor noise. This tool alternates single-pass bench runs
of the CURRENT repo and a git ref checked out into a throwaway worktree
— A B A B … — so both sides sample the same box windows, then merges
each side best-of and prints the calibration-normalized,
bronze-control-corrected diff via :mod:`tools.bench_diff` machinery.

Usage:
    python tools/bench_ab.py REF [--alternations 2]
        [--sf-dir /root/testdata/sf0.1] [--queries q01_...,q07_...]

Each pass is its own python process (two code versions can't share one
interpreter, and Spark processes must never overlap — they run strictly
sequentially). Artifacts land in /tmp/bench_ab/<side>_<i>.json; the
merged per-side artifacts and the diff are written to
``bench_ab_result.json`` at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_pass(code_dir: str, out_path: str, *, sf_dir: str, queries: str | None) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_PASSES="1",
        SPARK_GRAFT_BENCH_OUT=out_path,
        SPARK_GRAFT_SF_DIR=sf_dir,
    )
    if queries:
        env["SPARK_GRAFT_BENCH_QUERIES"] = queries
    else:
        env.pop("SPARK_GRAFT_BENCH_QUERIES", None)
    r = subprocess.run(
        [sys.executable, "bench.py"], cwd=code_dir, env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    if r.returncode != 0 or not os.path.exists(out_path):
        raise SystemExit(f"bench pass failed in {code_dir} (rc={r.returncode})")
    with open(out_path) as fh:
        return json.load(fh)


def _merge_side(runs: list[dict]) -> dict:
    """Per-side best-of across that side's interleaved passes — the same
    estimator bench.py uses across its own passes."""
    queries: dict[str, float] = {}
    norm: dict[str, float] = {}
    bronze = 0.0
    for r in runs:
        for k, v in r.get("queries", {}).items():
            queries[k] = min(queries.get(k, v), v)
        for k, v in r.get("queries_normalized", {}).items():
            norm[k] = min(norm.get(k, v), v)
        bronze = max(bronze, r.get("bronze_rows_per_second") or 0.0)
    out = {
        "queries": queries,
        "queries_normalized": norm,
        "value": round(sum(queries.values()), 3),
        "value_normalized": round(sum(norm.values()), 3),
        "cpu_calibration_sec": min(
            (r.get("cpu_calibration_sec") for r in runs if r.get("cpu_calibration_sec")),
            default=None,
        ),
        "n_runs": len(runs),
    }
    if bronze:
        out["bronze_rows_per_second"] = bronze
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ref", help="git ref for the OLD side (e.g. HEAD~1, a sha)")
    ap.add_argument("--alternations", type=int, default=2,
                    help="bench passes per side, interleaved (default 2)")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=None,
                    help="comma list to restrict both sides (targeted A/B)")
    args = ap.parse_args()

    sha = subprocess.run(
        ["git", "rev-parse", args.ref], cwd=_REPO,
        capture_output=True, text=True,
    ).stdout.strip()
    if not sha:
        raise SystemExit(f"unknown ref: {args.ref}")

    scratch = os.path.join(tempfile.gettempdir(), "bench_ab")
    os.makedirs(scratch, exist_ok=True)
    worktree = os.path.join(scratch, f"wt_{sha[:12]}")
    if not os.path.isdir(worktree):
        r = subprocess.run(
            ["git", "worktree", "add", "--detach", worktree, sha],
            cwd=_REPO, capture_output=True, text=True,
        )
        if r.returncode != 0:
            raise SystemExit(f"git worktree add failed: {r.stderr.strip()}")

    # hold the MEASUREMENT HARNESS constant across sides: the old ref's
    # bench.py may predate the OUT/QUERIES env knobs, and a harness diff
    # would confound the code A/B anyway — only the measured package and
    # query registry should differ between sides
    import shutil

    shutil.copy2(os.path.join(_REPO, "bench.py"),
                 os.path.join(worktree, "bench.py"))

    old_runs: list[dict] = []
    new_runs: list[dict] = []
    try:
        for i in range(max(args.alternations, 1)):
            # ABBA order: pass 0 runs old→new, pass 1 new→old, … — a fixed
            # per-pass order would hand one side systematically earlier
            # windows under monotonic box drift; alternating cancels the
            # first-order trend across pass pairs
            sides = [
                ("old", worktree, old_runs, f"old_{i}.json", f"old ({sha[:12]})"),
                ("new", _REPO, new_runs, f"new_{i}.json", "new (HEAD)"),
            ]
            if i % 2 == 1:
                sides.reverse()
            for _tag, cwd, runs, out_name, label in sides:
                print(f"[bench_ab] pass {i + 1}/{args.alternations}: {label}",
                      flush=True)
                runs.append(_run_pass(
                    cwd, os.path.join(scratch, out_name),
                    sf_dir=args.sf_dir, queries=args.queries,
                ))
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", worktree],
            cwd=_REPO, capture_output=True,
        )

    old_m, new_m = _merge_side(old_runs), _merge_side(new_runs)
    result = {
        "ref": args.ref, "sha": sha, "alternations": args.alternations,
        "sf_dir": args.sf_dir, "queries_filter": args.queries,
        "old": old_m, "new": new_m,
    }
    out_path = os.path.join(_REPO, "bench_ab_result.json")
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"[bench_ab] merged artifacts -> {out_path}", flush=True)

    # reuse bench_diff for the human-readable comparison
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fo:
        json.dump(old_m, fo)
        old_p = fo.name
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fn:
        json.dump(new_m, fn)
        new_p = fn.name
    rc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "bench_diff.py"),
         old_p, new_p],
    ).returncode
    os.unlink(old_p)
    os.unlink(new_p)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
