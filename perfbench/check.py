"""Output checks: every benchmarked operation against its DuckDB twin.

The comparison is the repository gate's own (``tools/oracle_check.py``):
columns sorted by name, rows sorted, every cell normalized to its
shortest round-trip string, so it is order-insensitive and bit-exact.
``q60`` alone keeps the gate's documented 2-ulp ``corr`` tolerance.

Twins that cost more than the workload itself (``qd37`` and ``qd66`` take
longer on DuckDB than a whole timed pass on Spark) run over inputs that
do not depend on the seed, so their normalized rows are digested once
and committed (``twin_digests.json``, written by
``python3 perfbench/run.py --write-digests``). A digest is used only
while the generated inputs hash to the value recorded with it and the
twin's SQL hashes to the value recorded next to the digest; otherwise the
twin runs live.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb

import __spark_entry__  # noqa: F401 — this checkout's registry, before the gate's import
import sql_data_warehouse_analytics_project_spark  # noqa: F401

_path = list(sys.path)
from tools.oracle_check import _ULP_TOLERANT, _norm_rows, _rows_within_ulps  # noqa: E402

sys.path[:] = _path  # the gate module prepends its own checkout path

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "twin_digests.json")


def compare(key: str, s_cols, s_rows, d_cols, d_rows) -> str | None:
    """None when Spark's rows equal the twin's, else what differs."""
    sc, sr = _norm_rows(list(s_cols), [tuple(r) for r in s_rows])
    dc, dr = _norm_rows(list(d_cols), [tuple(r) for r in d_rows])
    if sc != dc:
        return f"columns differ: spark={sc} duckdb={dc}"
    if len(sr) != len(dr):
        return f"row counts differ: spark={len(sr)} duckdb={len(dr)}"
    if sr == dr or (key in _ULP_TOLERANT and _rows_within_ulps(sr, dr)):
        return None
    diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:2]
    return f"values differ: first {diffs}"


def digest(cols, rows) -> str:
    sc, sr = _norm_rows(list(cols), [tuple(r) for r in rows])
    return hashlib.sha256(json.dumps([sc, sr]).encode()).hexdigest()


def sql_hash(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def usable_digests(doc: dict, inputs_sha256: str, sql: dict[str, str]) -> dict:
    """The committed digests that still describe their twins: taken over
    these very inputs, with the twin SQL as it is now."""
    if doc.get("inputs_sha256") != inputs_sha256:
        return {}
    return {k: d for k, d in doc["twins"].items()
            if k in sql and d.get("sql_sha256") == sql_hash(sql[k])}


def inputs_hash(sf_dir: str, tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Twins:
    """A DuckDB connection over one warehouse directory, holding the
    registry's twins plus the gate's local xxh64 twins, and the committed
    digests that still describe them."""

    def __init__(self, sf_dir: str, tables, oracles: dict[str, str]):
        from tools import local_oracles

        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        local_oracles.register(self.con)
        self.sql = {**oracles, **local_oracles.local_oracle_sql()}
        self.digests = {}
        if os.path.exists(DIGESTS):
            with open(DIGESTS) as fh:
                doc = json.load(fh)
            self.digests = usable_digests(doc, inputs_hash(sf_dir, tables), self.sql)

    def rows(self, sql: str):
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def check(self, key: str, df) -> str | None:
        """Collect ``df`` and compare it with ``key``'s twin (or the
        twin's committed digest)."""
        if key in self.digests and key not in _ULP_TOLERANT:
            want = self.digests[key]
            rows = df.collect()
            if digest(df.columns, rows) == want["sha256"]:
                return None
            return (f"rows differ from the twin's digest "
                    f"(spark {len(rows)} rows, twin {want['rows']})")
        d_cols, d_rows = self.rows(self.sql[key])
        return compare(key, df.columns, df.collect(), d_cols, d_rows)

    def write_digests(self, sf_dir: str, tables, keys) -> None:
        twins = {}
        for key in keys:
            cols, rows = self.rows(self.sql[key])
            twins[key] = {"rows": len(rows), "sha256": digest(cols, rows),
                          "sql_sha256": sql_hash(self.sql[key])}
        with open(DIGESTS, "w") as fh:
            json.dump({"inputs_sha256": inputs_hash(sf_dir, tables),
                       "twins": twins}, fh, indent=1)
            fh.write("\n")

    def close(self) -> None:
        self.con.close()


def medallion_twins(batch_roots: list[str]) -> dict[str, str]:
    """DuckDB twins of gold ``fact_sales``, ``dim_customers`` and
    ``dim_products`` rebuilt from scratch over every batch in
    ``batch_roots``: what an incremental refresh must converge to."""
    from sql_data_warehouse_analytics_project_spark import queries_medallion as qm

    ctes = qm._SILVER_CTES
    for src_dir, sub in ((qm.CRM_DIR, "source_crm"), (qm.ERP_DIR, "source_erp")):
        for fname in ("cust_info.csv", "prd_info.csv", "sales_details.csv",
                      "CUST_AZ12.csv", "LOC_A101.csv", "PX_CAT_G1V2.csv"):
            files = ", ".join(
                f"'{r}/datasets/{sub}/{fname}'" for r in batch_roots
            )
            ctes = ctes.replace(f"'{src_dir}/{fname}'", f"[{files}]")
    base = ctes + qm._GOLD_CTES
    return {
        "fact_sales": base + """
SELECT order_number, product_key, customer_key, order_date, sales_amount,
       quantity, price, CAST(date_trunc('month', order_date) AS DATE) AS order_month
FROM fact""",
        "dim_customers": base + "\nSELECT * FROM dim_c",
        "dim_products": base + "\nSELECT * FROM dim_p",
    }
