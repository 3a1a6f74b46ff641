"""CLI entry point (maps reference ``main.py``: --setup / --bronze /
--silver / --gold / --all, ``main.py:787-813``). The heavy lifting lives
in ``pipeline.Warehouse``; this is argument parsing plus exit codes.

    python -m sql_data_warehouse_analytics_project_spark --setup
    python -m sql_data_warehouse_analytics_project_spark --all \
        --crm-dir datasets/source_crm --erp-dir datasets/source_erp
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sql_data_warehouse_analytics_project_spark")
    ap.add_argument("--setup", action="store_true", help="create layer databases + logs tables")
    ap.add_argument("--bronze", action="store_true", help="ingest source CSVs to bronze")
    ap.add_argument("--silver", action="store_true", help="cleanse bronze → silver")
    ap.add_argument(
        "--silver-incremental", action="store_true",
        help="cleanse only bronze batches not yet reflected in silver",
    )
    ap.add_argument("--gold", action="store_true", help="build the gold star schema")
    ap.add_argument(
        "--gold-incremental", action="store_true",
        help="refresh gold for silver batches not yet reflected in it "
        "(partition-scoped fact rebuild)",
    )
    ap.add_argument("--all", action="store_true", help="setup + bronze + silver + gold")
    ap.add_argument("--crm-dir", default=None)
    ap.add_argument("--erp-dir", default=None)
    ap.add_argument("--prefix", default="", help="layer database prefix (isolation)")
    ap.add_argument(
        "--curate", action="store_true",
        help="run the corpus curation pipeline (dedup -> filter -> split)",
    )
    ap.add_argument("--docs", default=None, help="--curate: documents parquet path")
    ap.add_argument("--out", default=None, help="--curate: output directory")
    args = ap.parse_args(argv)

    if args.curate:
        if not (args.docs and args.out):
            ap.error("--curate requires --docs and --out")
        return _run_curate(args.docs, args.out)

    if not any(
        (args.setup, args.bronze, args.silver, args.silver_incremental,
         args.gold, args.gold_incremental, args.all)
    ):
        ap.print_help()
        return 2

    from sql_data_warehouse_analytics_project_spark.pipeline import Warehouse
    from sql_data_warehouse_analytics_project_spark.session import get_spark

    wh = Warehouse(get_spark("warehouse-cli"), prefix=args.prefix)
    results: dict = {}
    try:
        if args.all:
            if not (args.crm_dir and args.erp_dir):
                ap.error("--all requires --crm-dir and --erp-dir")
            results = wh.run_all(args.crm_dir, args.erp_dir)
        else:
            wh.setup()
            if args.bronze:
                if not (args.crm_dir and args.erp_dir):
                    ap.error("--bronze requires --crm-dir and --erp-dir")
                results["bronze"] = wh.run_bronze(args.crm_dir, args.erp_dir)
            if args.silver:
                results["silver"] = wh.run_silver()
            if args.silver_incremental:
                results["silver_incremental"] = wh.run_silver_incremental()
            if args.gold:
                results["gold"] = wh.run_gold()
            if args.gold_incremental:
                results["gold_incremental"] = wh.run_gold_incremental()
    except Exception as e:  # noqa: BLE001 — CLI boundary: report + exit code
        print(json.dumps({"status": "FAILED", "error": str(e)}), file=sys.stderr)
        return 1
    print(json.dumps({"status": "SUCCESS", "results": results}, default=str))
    return 0


def _run_curate(docs_path: str, out_dir: str) -> int:
    """Curation pipeline CLI: documents parquet in, curated corpus out.

    Writes the datasets ``<out>/curated`` (split-partitioned parquet —
    each of train/val/test is its own pruning-friendly directory) and
    ``<out>/decisions`` (per-doc keep/drop + reasons, the audit trail),
    and prints the stage funnel as JSON, with the current generation
    directory of each dataset under ``datasets`` for readers outside the
    engine (a dataset root holds only its manifest and generations)."""
    import os

    from sql_data_warehouse_analytics_project_spark.llm import curate
    from sql_data_warehouse_analytics_project_spark.session import get_spark
    from sql_data_warehouse_analytics_project_spark.sources import manifest
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        write_dataset,
    )

    spark = get_spark("curate-cli")
    try:
        docs = spark.read.parquet(docs_path)
        stages = curate.curate_corpus(docs)
        roots = {
            name: os.path.join(out_dir, name) for name in ("curated", "decisions")
        }
        write_dataset(stages["curated"], roots["curated"], partition_by=["split"])
        write_dataset(stages["decisions"], roots["decisions"])
        funnel = {
            r["stage"]: r["n_docs"]
            for r in curate.curation_report(stages).collect()
        }
    except Exception as e:  # noqa: BLE001 — CLI boundary: report + exit code
        print(json.dumps({"status": "FAILED", "error": str(e)}), file=sys.stderr)
        return 1
    datasets = {name: manifest.resolve(root) for name, root in roots.items()}
    print(json.dumps(
        {"status": "SUCCESS", "funnel": funnel, "datasets": datasets}, default=str
    ))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
