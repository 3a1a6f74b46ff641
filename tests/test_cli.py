"""CLI smoke tests for ``python -m sql_data_warehouse_analytics_project_spark``.

Runs ``main(argv)`` in-process (NOT a subprocess: a second concurrent
Spark JVM would fight the test session over the Derby metastore;
``get_spark`` getOrCreate-reuses the active session instead), so this
covers arg parsing → pipeline call → output layout → report JSON.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from sql_data_warehouse_analytics_project_spark.__main__ import main


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="cli_out_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_cli_curate_smoke(spark, outdir, capsys):
    """--curate on a tiny corpus: exit 0, SUCCESS JSON with the stage
    funnel, split-partitioned curated parquet + decisions audit trail,
    found through the generation directories the JSON names."""
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away to the hills where it meets other animals living freely"
    )
    rows = [(1, base), (2, base)]  # exact dups
    rows += [(i, f"{base} variant {i}") for i in range(3, 8)]  # near dups
    rows += [
        (10, "completely different text about distributed query engines "
             "processing analytical workloads with columnar storage and "
             "vectorized execution across many worker nodes efficiently"),
        (11, "tiny"),  # fails the min-length quality gate
    ]
    docs_path = os.path.join(outdir, "docs_in")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs_path)

    rc = main(["--curate", "--docs", docs_path, "--out", outdir])
    captured = capsys.readouterr()
    assert rc == 0, captured.err
    report = json.loads(captured.out.strip().splitlines()[-1])
    assert report["status"] == "SUCCESS"
    funnel = report["funnel"]
    assert funnel["exact_dedup"] == 8          # one of 9 was an exact dup
    assert funnel["near_dedup"] < funnel["exact_dedup"]
    assert funnel["quality_filter"] <= funnel["near_dedup"]
    assert funnel["curated"] == funnel["quality_filter"]

    # split-partitioned curated output + decisions audit trail on disk,
    # each the current generation of its dataset under --out
    datasets = report["datasets"]
    curated_dir = datasets["curated"]
    assert curated_dir.startswith(os.path.join(outdir, "curated", "_generations"))
    assert any(p.startswith("split=") for p in os.listdir(curated_dir))
    curated = spark.read.parquet(curated_dir)
    assert curated.count() == funnel["curated"]
    assert "split" in curated.columns
    assert datasets["decisions"].startswith(
        os.path.join(outdir, "decisions", "_generations")
    )
    decisions = spark.read.parquet(datasets["decisions"])
    assert decisions.count() > 0


def test_cli_requires_curate_args():
    with pytest.raises(SystemExit):
        main(["--curate"])  # missing --docs/--out → argparse error exit
