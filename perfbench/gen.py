"""Seeded input generator for the benchmark.

Two input families, both a pure function of ``seed``:

* the warehouse tables (``region`` … ``embeddings``), the same schema and
  value shapes as the TPC-H-ish sf corpora in TESTDATA.md, written as one
  parquet file each so ``sources.readers.load_table`` reads them;
* the six reference-shaped source CSVs (cust_info, prd_info,
  sales_details, CUST_AZ12, LOC_A101, PX_CAT_G1V2) with their profiled
  defects, laid out as ``<root>/datasets/source_{crm,erp}`` so the CSV
  replay keys find them through ``SPARK_GRAFT_REFERENCE_DIR``, plus small
  delta batches in the same layout for incremental refreshes.

The CSVs keep the determinism conditions the replay twins rely on:
``(cst_id, cst_create_date)`` and ``(prd_key, prd_start_dt)`` are unique,
ERP ``cid`` (after its NAS / '-' normalization) and the current
``product_number`` are unique, dates are ISO strings, money columns are
integers, and "future" birthdates lie decades past today. Every delta
column carries at least one non-null value so bronze's schema inference
lands on the batch-1 types.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the data spark query table row column key value join sort hash "
    "group agg filter scan merge window stream batch vector line part "
    "order customer small big fast slow"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENTS = ("click", "view", "signup", "purchase", "error")
_ADJ = ("blue", "red", "hot", "cold", "small", "big", "old", "new")
_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "pipe")
_PTYPES = ("SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO")


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    """Naive microsecond timestamps ``seconds`` after ``base``."""
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds())
    return pa.array((epoch + seconds) * 1_000_000, pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def warehouse_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten warehouse tables; ``scale`` = 1.0 means 150k customers."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 5)
    n_part = max(int(200_000 * scale), 50)
    n_ord = n_cust * 10
    day = 86_400
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    price = np.round(900 + rng.integers(0, 1000, n_part) / 10, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                              rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })
    odays = rng.integers(0, 2400, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), odays * day),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": _ts(
            dt.datetime(1995, 1, 1),
            (odays[okey] + rng.integers(1, 122, n_li)) * day,
        ),
    })
    n_ev = max(int(1_000_000 * scale), 200)
    ev_s = np.sort(rng.integers(0, 30 * day * 1_000_000, n_ev))
    base_ns = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds())
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(base_ns * 1_000_000_000 + ev_s * 1000, pa.int64()).cast(
            pa.timestamp("ns")
        ),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENTS, n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, 500)
    t["embeddings"] = _embeddings(rng, 500)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents with exact and near duplicates, so the dedup,
    filter and split stages of the curation keys have work to drop."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if texts and r < 0.03:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.10:
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 110)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Gaussian clusters around ``k`` centroids, one label per centroid."""
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n)
    vec = centers[label] + rng.normal(0, 0.6, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_warehouse(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the warehouse parquet files; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in warehouse_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# Reference-shaped source CSVs
# ---------------------------------------------------------------------------

_FIRST = ("Jon", "Eugene", "Ruben", "Christy", "Elizabeth", "Julio", "Marco",
          "Rob", "Shannon", "Jacquelyn", "Curtis", "Lauren", "Ian", "Sydney")
_LAST = ("Yang", "Huang", "Torres", "Zhu", "Johnson", "Ruiz", "Mehta",
         "Verhoff", "Carlson", "Suarez", "Lu", "Walker", "Jenkins", "Bennett")
_CATS = {  # PX_CAT id -> (cat, subcat)
    "AC_BR": ("Accessories", "Bike Racks"), "AC_BS": ("Accessories", "Bike Stands"),
    "AC_HE": ("Accessories", "Helmets"), "AC_LO": ("Accessories", "Locks"),
    "BI_MB": ("Bikes", "Mountain Bikes"), "BI_RB": ("Bikes", "Road Bikes"),
    "BI_TB": ("Bikes", "Touring Bikes"), "CL_GL": ("Clothing", "Gloves"),
    "CL_JE": ("Clothing", "Jerseys"), "CL_SH": ("Clothing", "Shorts"),
    "CO_BR": ("Components", "Brakes"), "CO_CH": ("Components", "Chains"),
    "CO_HB": ("Components", "Handlebars"), "CO_RF": ("Components", "Road Frames"),
}
_COUNTRIES = ("Australia", "Canada", "France", "Germany", "DE", "US", "USA",
              "United States", "United Kingdom", "")
_GENS = ("Male", "Female", "M", "F", "", " Male", "Female ")


class SourceState:
    """What batch 1 and earlier deltas created, so each later delta can add
    customers, updates, product versions and sales that stay unique."""

    def __init__(self) -> None:
        self.next_cst = 11000
        self.customers: list[int] = []
        self.cst_dates: dict[int, set] = {}
        self.next_prd_id = 200
        self.products: dict[str, dict] = {}  # prd_key -> {"starts": [...], ...}
        self.next_order = 43000
        self.next_cat = 0
        self.last_month = (2021, 1)


def _iso(d: dt.date) -> str:
    return d.isoformat()


def _pad(rng, s: str) -> str:
    r = rng.random()
    return f" {s}" if r < 0.1 else f"{s}  " if r < 0.2 else s


def _write_csv(path: str, header: str, rows: list[tuple]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(header + "\n")
        for r in rows:
            fh.write(",".join("" if v is None else str(v) for v in r) + "\n")


def _month_days(rng, year: int, month: int, n: int) -> list[dt.date]:
    first = dt.date(year, month, 1)
    return [first + dt.timedelta(days=int(d)) for d in rng.integers(0, 28, n)]


def write_sources(
    root: str,
    rng,
    state: SourceState,
    *,
    n_customers: int,
    n_products: int,
    n_sales: int,
    months: int,
    updates: int = 0,
    new_versions: int = 0,
) -> dict[str, int]:
    """Write one batch of the six CSVs under ``root/datasets``. The first
    call (empty ``state``) is batch 1; later calls are deltas whose sales
    fall in the ``months`` months after the previous batch's last one."""
    crm = os.path.join(root, "datasets", "source_crm")
    erp = os.path.join(root, "datasets", "source_erp")
    first = not state.customers
    y0, m0 = state.last_month
    month_list = []
    for k in range(months):
        mm = m0 - 1 + k + (0 if first else 1)
        month_list.append((y0 + mm // 12, mm % 12 + 1))
    state.last_month = month_list[-1]
    batch_day = dt.date(*month_list[0], 1)

    # -- customers: new ids, a few later-dated updates, defects ------------
    cust_rows, erp_cust, erp_loc = [], [], []
    new_ids = list(range(state.next_cst, state.next_cst + n_customers))
    state.next_cst += n_customers
    for cid in new_ids:
        d = batch_day + dt.timedelta(days=int(rng.integers(0, 28)))
        state.cst_dates[cid] = {d}
        cust_rows.append((cid, d))
    dup_ids = list(rng.choice(new_ids, max(1, n_customers // 200), replace=False))
    if state.customers and updates:
        dup_ids += list(rng.choice(state.customers, updates, replace=False))
    for cid in dup_ids:
        d = max(state.cst_dates[int(cid)]) + dt.timedelta(days=int(rng.integers(1, 60)))
        state.cst_dates[int(cid)].add(d)
        cust_rows.append((int(cid), d))
    state.customers += new_ids
    out_cust = []
    for cid, d in cust_rows:
        out_cust.append((
            cid, f"AW{cid:08d}", _pad(rng, str(rng.choice(_FIRST))),
            _pad(rng, str(rng.choice(_LAST))),
            rng.choice(("M", "S", "M", "S", "")) if rng.random() > 0.0004 else "",
            "" if rng.random() < 0.25 else str(rng.choice(("M", "F"))),
            _iso(d),
        ))
    if first:  # null-id rows (dropped by the cleaner)
        out_cust += [(None, f"AW{9000 + i:08d}", "X", "Y", "S", "", _iso(batch_day))
                     for i in range(3)]
    for cid in new_ids:
        key = f"AW{cid:08d}"
        future = rng.random() < 0.01
        bdate = dt.date(2095 + int(rng.integers(0, 5)), 1 + int(rng.integers(0, 12)), 3) \
            if future else dt.date(1935, 1, 1) + dt.timedelta(days=int(rng.integers(0, 25000)))
        erp_cust.append((("NAS" + key) if rng.random() < 0.4 else key,
                         _iso(bdate), str(rng.choice(_GENS))))
        erp_loc.append((f"AW-{cid:08d}", str(rng.choice(_COUNTRIES))))

    # -- categories: the fixed set in batch 1, one new id per delta --------
    if first:
        cat_rows = [(k, c, s, "Yes" if i % 3 else "No")
                    for i, (k, (c, s)) in enumerate(_CATS.items())]
    else:
        state.next_cat += 1
        cat_rows = [(f"ZZ_{state.next_cat:02d}", "Accessories",
                     f"New Line {state.next_cat}", "Yes")]
    cat_ids = [r[0] for r in cat_rows] if not first else list(_CATS) + ["CO_PE"]

    # -- products: new keys (SCD2 histories in batch 1) + new versions -----
    prd_rows = []

    def add_version(key: str, start: dt.date) -> None:
        info = state.products[key]
        info["starts"].append(start)
        end = start - dt.timedelta(days=int(rng.integers(1, 400)))  # inverted
        cost = None if rng.random() < 0.02 else int(rng.integers(1, 2000))
        prd_rows.append((
            state.next_prd_id, key, info["name"], cost,
            str(rng.choice(("M ", "R ", "S ", "T ", ""))), _iso(start),
            _iso(end) if rng.random() < 0.7 else None,
        ))
        state.next_prd_id += 1

    for i in range(n_products):
        cat = str(rng.choice(cat_ids)).replace("_", "-")
        key = f"{cat}-{chr(65 + i % 26)}{len(state.products):05d}"
        state.products[key] = {"name": f"Product {len(state.products)}", "starts": []}
        nver = int(rng.integers(1, 4)) if first else 1
        start = dt.date(2010, 1, 1) + dt.timedelta(days=int(rng.integers(0, 3000))) \
            if first else batch_day
        for _ in range(nver):
            add_version(key, start)
            start += dt.timedelta(days=int(rng.integers(200, 500)))
    if not first:
        olds = [k for k in state.products if len(state.products[k]["starts"]) and
                max(state.products[k]["starts"]) < batch_day]
        for key in rng.choice(olds, min(new_versions, len(olds)), replace=False):
            add_version(str(key), batch_day + dt.timedelta(days=int(rng.integers(0, 28))))
    # one written cost and end date keep those columns' inferred types
    r = prd_rows[-1]
    prd_rows[-1] = (r[0], r[1], r[2], r[3] if r[3] is not None else 1, r[4], r[5],
                    r[6] or _iso(dt.date.fromisoformat(r[5]) - dt.timedelta(days=9)))

    # -- sales in this batch's months, with the profiled defects -----------
    prd_numbers = [k[6:] for k in state.products]
    sales_rows = []
    n_orders = max(1, n_sales // 3)
    for o in range(n_orders):
        onum = f"SO{state.next_order + o}"
        cust = int(rng.choice(state.customers))
        ym = month_list[int(rng.integers(0, len(month_list)))]
        od = _month_days(rng, *ym, 1)[0]
        for _ in range(int(rng.integers(1, 6))):
            if len(sales_rows) >= n_sales:
                break
            qty = int(rng.integers(1, 4))
            price = int(rng.integers(2, 3500))
            sales = qty * price
            r = rng.random()
            if r < 0.002:
                sales = None
            elif r < 0.004:
                sales = sales + int(rng.integers(1, 50))
            elif r < 0.005:
                sales = -sales
            pr = rng.random()
            price_out = None if pr < 0.002 else -price if pr < 0.003 else price
            odi = int(od.strftime("%Y%m%d"))
            if rng.random() < 0.0005:
                odi = 0 if rng.random() < 0.5 else int(rng.integers(1000, 99999))
            sales_rows.append((
                onum, str(rng.choice(prd_numbers)), cust, odi,
                int((od + dt.timedelta(days=7)).strftime("%Y%m%d")),
                int((od + dt.timedelta(days=12)).strftime("%Y%m%d")),
                sales, qty, price_out,
            ))
        if len(sales_rows) >= n_sales:
            break
    state.next_order += n_orders

    _write_csv(f"{crm}/cust_info.csv",
               "cst_id,cst_key,cst_firstname,cst_lastname,cst_marital_status,"
               "cst_gndr,cst_create_date", out_cust)
    _write_csv(f"{crm}/prd_info.csv",
               "prd_id,prd_key,prd_nm,prd_cost,prd_line,prd_start_dt,prd_end_dt",
               prd_rows)
    _write_csv(f"{crm}/sales_details.csv",
               "sls_ord_num,sls_prd_key,sls_cust_id,sls_order_dt,sls_ship_dt,"
               "sls_due_dt,sls_sales,sls_quantity,sls_price", sales_rows)
    _write_csv(f"{erp}/CUST_AZ12.csv", "CID,BDATE,GEN", erp_cust)
    _write_csv(f"{erp}/LOC_A101.csv", "CID,CNTRY", erp_loc)
    _write_csv(f"{erp}/PX_CAT_G1V2.csv", "ID,CAT,SUBCAT,MAINTENANCE", cat_rows)
    return {
        "cust_info": len(out_cust), "prd_info": len(prd_rows),
        "sales_details": len(sales_rows), "CUST_AZ12": len(erp_cust),
        "LOC_A101": len(erp_loc), "PX_CAT_G1V2": len(cat_rows),
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )
