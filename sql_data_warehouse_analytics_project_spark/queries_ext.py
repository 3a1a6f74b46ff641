"""Oracle-checked queries: remaining Spark-surface coverage — CUBE
grouping sets, date/interval arithmetic, non-equi (theta) broadcast
joins, array functions, RANGE window frames, correlated subqueries
(SURVEY.md §2.3 theta-ON, §2.5 frame specs, §2.7 free extensions, §2.8
date/array scalar rows, P5 correlation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_data_warehouse_analytics_project_spark.functions.scalars import money
from sql_data_warehouse_analytics_project_spark.plans import lineage
from sql_data_warehouse_analytics_project_spark.queries import register
from sql_data_warehouse_analytics_project_spark.session import local_rows
from sql_data_warehouse_analytics_project_spark.sources.readers import load_table


@register(
    "q28_cube",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE (order_year, o_orderstatus)
    """,
)
def q28_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all 4 combinations of (year, status) subtotals.
    One pass: Spark expands grouping sets map-side, no extra scans."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            "o_orderstatus",
            money("o_totalprice").alias("v"),
        )
        .cube("order_year", "o_orderstatus")
        .agg(
            F.sum("v").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "q29_date_arithmetic",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           ROUND(CAST(SUM(date_diff('day', o_orderdate, l_shipdate)) AS DOUBLE)
                 / COUNT(*), 4) AS avg_ship_delay_days,
           CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY order_year, order_quarter
    """,
)
def q29_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 date/time scalars — datediff, date_add(INTERVAL), year/quarter
    (reference EXTRACT/AGE/INTERVAL sites, ``common_queries.py:374-378,
    540``). Avg is computed as SUM/COUNT in double on both sides so the
    arithmetic is bit-identical."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    j = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
    return (
        j.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(
                F.sum(F.datediff("l_shipdate", "o_orderdate")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_ship_delay_days"),
            F.sum(
                F.when(
                    F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_late"),
        )
    )


#: Price bands for the theta join — half-open [lo, hi).
PRICE_BANDS = [
    ("budget", 0, 50_000),
    ("mid", 50_000, 150_000),
    ("premium", 150_000, 300_000),
    ("luxury", 300_000, 10_000_000),
]


@register(
    "q30_theta_band_join",
    f"""
    SELECT b.band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN (VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)})
         AS b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def q30_theta_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 theta-ON — non-equi join against a tiny banding dimension.
    The band table is explicitly broadcast: Spark plans a
    BroadcastNestedLoopJoin, so the fact side streams with no shuffle —
    the only sane physical strategy for interval predicates at scale."""
    orders = load_table(spark, sf_dir, "orders")
    bands = local_rows(spark, PRICE_BANDS, "band string, lo long, hi long")
    j = orders.join(
        F.broadcast(bands),
        (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
    )
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(money("o_totalprice")).cast("double").alias("revenue"),
    )


@register(
    "q31_array_functions",
    """
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
           CAST(len(list(l_linenumber)) AS INTEGER) AS n_lines,
           list_contains(list(l_linenumber), 7) AS has_line_7
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    GROUP BY l_orderkey
    """,
)
def q31_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 array scalars — collect_list/sort_array/size/array_contains
    (reference ARRAY path accumulator, ``data_lineage.py:393,413,420``).
    collect_list is order-nondeterministic distributed, so the array is
    sorted before compare.  The array itself drives size/contains, then is
    serialized with array_join in the final projection — the driver's
    canonicalizer hashes result cells with pandas and cannot sort list
    cells, so array-typed OUTPUT columns must leave as strings (the array
    semantics are still fully exercised upstream)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_orderkey") % 100 == 0)
        .groupBy("l_orderkey")
        .agg(
            F.sort_array(F.collect_list("l_linenumber")).alias("arr"),
            F.count(F.lit(1)).cast("int").alias("n_lines"),
        )
        .select(
            "l_orderkey",
            F.array_join(F.col("arr").cast("array<string>"), ",").alias(
                "line_numbers"
            ),
            "n_lines",
            F.array_contains("arr", 7).alias("has_line_7"),
        )
    )


@register(
    "q32_range_frame",
    """
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 29 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_30d_spend
    FROM orders
    """,
)
def q32_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 frame specs — RANGE frame (value-based, vs q12's ROWS frame):
    30-day rolling spend per customer. Spark range frames need a numeric
    ORDER BY, so the date becomes a day index; RANGE semantics (all peers
    of the current value included) then match the oracle's INTERVAL frame
    exactly."""
    orders = load_table(spark, sf_dir, "orders")
    day_idx = F.datediff("o_orderdate", F.lit("1990-01-01"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day_idx)
        .rangeBetween(-29, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(money("o_totalprice")).over(w).cast("double").alias("rolling_30d_spend"),
    )


@register(
    "q33_correlated_subquery",
    """
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders o
    WHERE o_totalprice > (
        SELECT 1.5 * CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
        FROM orders i WHERE i.o_custkey = o.o_custkey
    )
    """,
)
def q33_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 correlation — orders 50% above their customer's average order
    value. The DataFrame plan is the decorrelated form (groupBy + equi
    join) — exactly the rewrite a SQL optimizer applies; the per-customer
    aggregate is tiny relative to the fact side and shuffles once on the
    join key. Average computed as SUM/COUNT in double on both sides."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        (
            F.lit(1.5)
            * F.sum(money("o_totalprice")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bar")
    )
    return (
        orders.join(per_cust, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("avg_bar"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )


@register(
    "q34_recursive_traversal",
    """
    WITH RECURSIVE edges AS (
      SELECT DISTINCT 'crm.customer_' || (c_custkey % 100) AS src,
                      'src.nation_' || c_nationkey AS dst
      FROM customer
      UNION
      SELECT DISTINCT 'src.nation_' || n_nationkey,
                      'silver.region_' || n_regionkey
      FROM nation
      UNION
      SELECT DISTINCT 'silver.region_' || r_regionkey, 'gold.world'
      FROM region
    ), walk AS (
      SELECT 'gold.world' AS node, 0 AS depth, ['gold.world'] AS path
      UNION ALL
      SELECT e.src, w.depth + 1, list_append(w.path, e.src)
      FROM walk w JOIN edges e ON e.dst = w.node
      WHERE NOT list_contains(w.path, e.src) AND w.depth < 4
    )
    SELECT node,
           CAST(MIN(depth) AS INTEGER) AS depth,
           CAST(COUNT(DISTINCT array_to_string(path, '/')) AS BIGINT) AS n_paths
    FROM walk WHERE depth > 0 GROUP BY node
    """,
)
def q34_recursive_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/U3/L8 — recursive upstream traversal (reference recursive CTE
    with ARRAY path + cycle guard, ``logs/data_lineage.py:378-435``) as the
    engine's driver-side BFS over the collected edge list (``lineage.
    traverse``), oracle-checked against DuckDB's real
    WITH RECURSIVE on the same edge list. The DAG is derived from the
    TPC-H FK structure (customer-bucket → nation → region → world), so
    fan-out and multi-path counts are data-dependent, not hand-written."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # no per-arm .distinct(): traverse's _edges dedups the union in ONE
    # shuffle — per-arm distincts would add three more for the same rows
    e1 = customer.select(
        F.lit("crm").alias("source_schema"),
        F.concat(F.lit("customer_"), F.col("c_custkey") % 100).alias("source_table"),
        F.lit("src").alias("target_schema"),
        F.concat(F.lit("nation_"), F.col("c_nationkey")).alias("target_table"),
    )
    e2 = nation.select(
        F.lit("src").alias("source_schema"),
        F.concat(F.lit("nation_"), F.col("n_nationkey")).alias("source_table"),
        F.lit("silver").alias("target_schema"),
        F.concat(F.lit("region_"), F.col("n_regionkey")).alias("target_table"),
    )
    e3 = region.select(
        F.lit("silver").alias("source_schema"),
        F.concat(F.lit("region_"), F.col("r_regionkey")).alias("source_table"),
        F.lit("gold").alias("target_schema"),
        F.lit("world").alias("target_table"),
    )
    edges = e1.unionByName(e2).unionByName(e3)
    walk = lineage.traverse(edges, "gold.world", "upstream", max_depth=4)
    return walk.groupBy("node").agg(
        F.min("depth").cast("int").alias("depth"),
        F.countDistinct(F.array_join("path", "/")).alias("n_paths"),
    )


@register(
    "q35_grouping_sets",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(GROUPING(order_year) * 2 + GROUPING(o_orderstatus) AS INTEGER)
             AS grouping_level
    FROM orders
    GROUP BY GROUPING SETS ((order_year, o_orderstatus), (o_orderstatus), ())
    """,
)
def q35_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (arbitrary combos, unlike rollup/cube's
    fixed lattice) + grouping_id disambiguation of the NULL rows."""
    orders = load_table(spark, sf_dir, "orders")
    orders.select(
        F.year("o_orderdate").alias("order_year"),
        "o_orderstatus",
        money("o_totalprice").alias("v"),
    ).createOrReplaceTempView("_q35")
    return spark.sql(
        """
        SELECT order_year, o_orderstatus,
               CAST(SUM(v) AS DOUBLE) AS revenue,
               CAST(GROUPING(order_year) * 2 + GROUPING(o_orderstatus) AS INT)
                 AS grouping_level
        FROM _q35
        GROUP BY GROUPING SETS ((order_year, o_orderstatus), (o_orderstatus), ())
        """
    )


@register(
    "q36_window_navigation",
    """
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(first_value(o_orderkey) OVER w AS BIGINT) AS cheapest_key,
           CAST(last_value(o_orderkey) OVER
                (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS BIGINT) AS priciest_key
    FROM orders
    WHERE o_orderkey % 50 = 0
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def q36_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 breadth — ntile/percent_rank/cume_dist/first_value/last_value
    (last_value needs the full-partition frame; the default frame stops at
    CURRENT ROW — a classic window gotcha, asserted here on both engines).
    Total order via the (price, key) tie-break keeps ntile deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(wfull).alias("priciest_key"),
    )


@register(
    "q37_unpivot",
    """
    WITH wide AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS fulfilled,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_,
             CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS partial
      FROM orders GROUP BY order_year
    )
    SELECT order_year, status, n_orders
    FROM wide
    UNPIVOT (n_orders FOR status IN (fulfilled, open_, partial))
    """,
)
def q37_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8's melt direction — wide→tall unpivot (Spark ``stack``), the
    inverse of q05's pivot."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.sum((F.col("o_orderstatus") == "F").cast("long")).alias("fulfilled"),
        F.sum((F.col("o_orderstatus") == "O").cast("long")).alias("open_"),
        F.sum((F.col("o_orderstatus") == "P").cast("long")).alias("partial"),
    )
    return wide.select(
        "order_year",
        F.expr(
            "stack(3, 'fulfilled', fulfilled, 'open_', open_, 'partial', partial)"
            " as (status, n_orders)"
        ),
    )


@register(
    "q38_lateral_explode",
    """
    SELECT p_partkey, part_word,
           CAST(length(part_word) AS INTEGER) AS word_len
    FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS part_word
          FROM part WHERE p_partkey % 200 = 0)
    WHERE part_word <> ''
    """,
)
def q38_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW / explode — one row per array element (the §2.8 array
    surface in generator position; DuckDB twin is unnest)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") % 200 == 0)
        .select(
            "p_partkey",
            F.explode(F.split("p_name", " ")).alias("part_word"),
        )
        .filter(F.col("part_word") != "")
        .withColumn("word_len", F.length("part_word").cast("int"))
    )


@register(
    "q39_incremental_batch",
    """
    SELECT o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_orderdate > DATE '1997-06-30'
    ORDER BY o_orderdate, o_orderkey
    LIMIT 1000
    """,
)
def q39_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5/O5 — incremental high-watermark load slice: watermark filter
    (pushes to the scan; partition pruning when the table is partitioned
    on the watermark date) + deterministic ORDER BY with a key tie-break
    + LIMIT batch. The tie-break matters: LIMIT under a non-total order
    is nondeterministic distributed (SURVEY.md §7.2 risk 4)."""
    from sql_data_warehouse_analytics_project_spark import dml

    orders = load_table(spark, sf_dir, "orders")
    batch = dml.incremental_batch(orders, "o_orderdate", "1997-06-30")
    return (
        batch.orderBy("o_orderdate", "o_orderkey")
        .limit(1000)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )


@register(
    "q40_asof_join",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, c.click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS micros_since_click
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q40_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — each purchase matched to the user's most recent click
    at-or-before it, checked against DuckDB's NATIVE ASOF JOIN. The
    operator (operators/joins.asof_join) is the union+ordered-window merge
    formulation: one shuffle on user_id, no per-key pair blowup."""
    from sql_data_warehouse_analytics_project_spark.operators import joins

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = joins.asof_join(
        p, c, ["user_id"], left_ts="ts", right_ts="ts", right_values=["click_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("click_id_asof").alias("click_id"),
        (F.unix_micros("ts") - F.unix_micros("ts_asof")).alias("micros_since_click"),
    )


@register(
    "q41_distribution_windows",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume_d
    FROM orders
    WINDOW w AS (PARTITION BY year(o_orderdate)
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def q41_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 distribution functions: ntile / percent_rank / cume_dist per
    order-year. The window orders by (price, key): ntile depends on ROW
    order, so a non-total ordering would be nondeterministic distributed
    (same risk class as LIMIT without total order, SURVEY §7.2 r4)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy(F.year("o_orderdate")).orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_d"),
    )


@register(
    "q42_approx_sketches",
    """
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
           TRUE AS hll_within_5pct,
           TRUE AS median_within_2pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def q42_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for 100 TB cardinality work: HyperLogLog++
    (``approx_count_distinct``) and t-digest-style quantiles
    (``approx_percentile``) — mergeable, fixed-size state, one pass, vs
    the exact versions' full shuffle of distinct values.

    Sketches have no cross-engine twin, so the oracle checks an ACCURACY
    GATE instead of values: the query emits booleans asserting the sketch
    landed within its error envelope (HLL rsd=2% gated at 5%, quantile
    accuracy 10⁻⁴ gated at 2%) and the oracle emits literal TRUE — a
    drifting sketch hash-mismatches and turns the row red.

    The exact distinct count is computed as a two-phase groupBy — mixing
    ``count_distinct`` into the sketch aggregation forces Catalyst's
    Expand rewrite (every row duplicated per aggregate group, codegen
    disabled by the imperative sketch buffers): measured 8× slower than
    the split plan, and the Expand blowup scales WITH the data."""
    orders = load_table(spark, sf_dir, "orders")
    sketches = orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("hll"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_median"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("approx_median"),
    )
    exact = (
        orders.groupBy("o_orderstatus", "o_custkey")
        .agg(F.lit(1).alias("_"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("exact_custkeys"))
    )
    agg = sketches.join(exact, "o_orderstatus")
    return agg.select(
        "o_orderstatus",
        "exact_custkeys",
        (
            F.abs(F.col("hll") - F.col("exact_custkeys"))
            / F.col("exact_custkeys")
            <= 0.05
        ).alias("hll_within_5pct"),
        (
            F.abs(F.col("approx_median") - F.col("exact_median"))
            / F.col("exact_median")
            <= 0.02
        ).alias("median_within_2pct"),
    )


@register(
    "q43_salted_join_parity",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q43_salted_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew machinery correctness: ``salted_join`` (the manual remedy for
    a pathological hot key that outgrows even AQE's skew splitting) must
    be semantically invisible — same rows as the plain equi join, here
    aggregated against the plain-join oracle. Salt replicates only the
    orders side (×8) and splits each lineitem key across 8 shuffle
    partitions."""
    from sql_data_warehouse_analytics_project_spark.operators import joins

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = joins.salted_join(li, orders, ["l_orderkey"], salt_buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(money("l_extendedprice")).cast("double").alias("revenue"),
    )


@register(
    "q44_range_join",
    """
    WITH e AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ), c AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id,
           CAST(COUNT(c.ts) AS BIGINT) AS n_clicks_2min,
           CAST(round(COALESCE(SUM(c.value), 0.0), 6) AS DOUBLE) AS click_value_2min
    FROM e LEFT JOIN c
      ON c.user_id = e.user_id
     AND c.ts BETWEEN e.ts - INTERVAL 120 SECOND AND e.ts
    GROUP BY e.event_id, e.user_id
    """,
)
def q44_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (point-in-interval) join — click activity in the 2 minutes
    before each error event, per user, checked against DuckDB's plain
    inequality join. The operator (operators/joins.range_join) bucketizes
    time so the plan is an EQUI join on (user, bucket) + exact filter —
    no BroadcastNestedLoopJoin, no per-key cross product; ~2× left-side
    blowup with bucket = window length."""
    from sql_data_warehouse_analytics_project_spark.operators import joins

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 120 SECOND")).alias("win_start"),
        F.col("ts").alias("win_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), "value"
    )
    j = joins.range_join(
        errors,
        clicks,
        ["user_id"],
        left_start="win_start",
        left_end="win_end",
        right_point="click_ts",
        bucket_seconds=120,
        how="left",
    )
    return j.groupBy("event_id", "user_id").agg(
        F.count("click_ts").alias("n_clicks_2min"),
        F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 6).alias("click_value_2min"),
    )


@register(
    "q45_string_functions",
    """
    SELECT p_partkey,
           CAST(levenshtein(lower(p_name), lower(p_type)) AS INTEGER) AS name_type_dist,
           reverse(p_name) AS rev_name,
           lpad(p_brand, 12, '*') AS brand_padded,
           translate(p_name, 'aeiou', '12345') AS name_translated,
           split_part(p_name, ' ', 1) AS first_word,
           CAST(strpos(p_name, 'e') AS INTEGER) AS first_e_pos,
           repeat(substr(p_type, 1, 3), 2) AS type_echo
    FROM part
    """,
)
def q45_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 string-scalar battery — levenshtein / reverse / lpad /
    translate / split_part / instr / repeat / substring, every value
    oracle-checked (both engines implement the same SQL semantics:
    1-based positions, 0 when absent, Levenshtein edit distance)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.levenshtein(F.lower("p_name"), F.lower("p_type")).cast("int").alias("name_type_dist"),
        F.reverse("p_name").alias("rev_name"),
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.translate("p_name", "aeiou", "12345").alias("name_translated"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.instr("p_name", "e").cast("int").alias("first_e_pos"),
        F.repeat(F.substring("p_type", 1, 3), 2).alias("type_echo"),
    )


@register(
    "q46_resample_gap_fill",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             count(*) AS n, round(sum(value), 6) AS day_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), rng AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
    ), spine AS (
      SELECT user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM rng
    ), j AS (
      SELECT s.user_id, s.day,
             coalesce(d.n, 0) AS n_events, d.day_value
      FROM spine s LEFT JOIN daily d USING (user_id, day)
    )
    SELECT user_id, day,
           CAST(n_events AS BIGINT) AS n_events,
           round(last_value(day_value IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS value_ffill
    FROM j
    """,
)
def q46_resample_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: daily purchase activity per user with the
    EMPTY days materialized (date_spine) and the last seen daily value
    carried forward (forward_fill) — a sparse series densified without
    driver-side loops. Spine generation and the fill are both per-key
    distributed ops; the oracle replays spine, join, and fill exactly."""
    from sql_data_warehouse_analytics_project_spark.operators import windows as W

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("day_value"),
        )
    )
    spine = W.date_spine(daily, ["user_id"], "day")
    j = spine.join(daily, ["user_id", "day"], "left")
    filled = W.forward_fill(j, ["user_id"], "day", ["day_value"])
    return filled.select(
        "user_id",
        "day",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        F.round("day_value_ffill", 6).alias("value_ffill"),
    )


@register(
    "q47_key_skew",
    """
    WITH c AS (
      SELECT o_custkey, COUNT(*) AS n_rows FROM orders GROUP BY o_custkey
    ), t AS (
      SELECT CAST(SUM(n_rows) AS DOUBLE) AS tot,
             AVG(n_rows) AS avg_n,
             MAX(n_rows) AS max_n,
             COUNT(*) AS nk
      FROM c
    )
    SELECT c.o_custkey,
           CAST(c.n_rows AS BIGINT) AS n_rows,
           ROUND(c.n_rows / t.tot, 6) AS share,
           CAST(t.nk AS BIGINT) AS n_distinct_keys,
           ROUND(t.max_n / t.avg_n, 4) AS skew_ratio
    FROM c, t
    ORDER BY c.n_rows DESC, c.o_custkey
    LIMIT 20
    """,
)
def q47_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics (``aggregates.key_skew_stats``): the
    pre-flight check that decides salting/AQE-skew-split before a 100 TB
    join. One map-side-combined shuffle + broadcast-back of a 1-row
    summary; top-N via TakeOrderedAndProject with a deterministic
    tiebreak."""
    from sql_data_warehouse_analytics_project_spark.operators.aggregates import (
        key_skew_stats,
    )

    orders = load_table(spark, sf_dir, "orders")
    return key_skew_stats(orders, ["o_custkey"], top_n=20)


@register(
    "q48_incremental_rollup",
    """
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*) AS avg_price,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY o_custkey
    """,
)
def q48_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup maintenance (``plans/incremental.py``): the
    pre-1997 slice is aggregated into mergeable partial state, the rest
    arrives as a delta and is merged WITHOUT touching the old slice's
    rows again — the oracle recomputes the whole rollup from scratch and
    must agree exactly (merge(agg(old), agg(delta)) == agg(full))."""
    from sql_data_warehouse_analytics_project_spark.plans import incremental

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    is_old = F.col("o_orderdate") < cutoff
    old = orders.filter(is_old)
    # NULL order dates (none expected, but never silently dropped) go to
    # the delta side so old+delta always tiles the full table.
    delta = orders.filter(~F.coalesce(is_old, F.lit(False)))
    keys = ["o_custkey"]
    measures = {
        "n_orders": ("count", F.lit(1)),
        "revenue": ("sum", money("o_totalprice")),
        "min_price": ("min", money("o_totalprice")),
        "max_price": ("max", money("o_totalprice")),
    }
    state = incremental.partial_aggs(old, keys, measures)
    merged = incremental.incremental_refresh(state, delta, keys, measures)
    fin = incremental.finalize(merged, keys, measures)
    return fin.select(
        "o_custkey",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue").cast("double").alias("revenue"),
        # unrounded: both engines perform the identical IEEE double/int64
        # division, so the quotient is bit-exact; rounding it re-introduces
        # engine-specific last-digit differences.
        (F.col("revenue").cast("double") / F.col("n_orders")).alias("avg_price"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    )


@register(
    "q49_jsonl_roundtrip",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT)
                         AS BIGINT) % 1000000007) AS BIGINT) AS content_checksum,
           CAST(0 AS BIGINT) AS n_corrupt
    FROM documents
    GROUP BY source
    """,
)
def q49_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange round-trip (``sources.write_jsonl`` →
    ``sources.read_jsonl`` with an explicit schema + PERMISSIVE corrupt
    capture): per-source doc counts, char totals, and an md5-based
    content checksum must survive the trip bit-exactly — the oracle reads
    the ORIGINAL table, so any loss/mangling (newlines, unicode, nulls)
    in either sink or scan breaks the match. n_corrupt pins the corrupt
    column to all-NULL on well-formed data."""
    import os

    from sql_data_warehouse_analytics_project_spark.llm.text import md5_60bit
    from sql_data_warehouse_analytics_project_spark.sources.readers import read_jsonl
    from sql_data_warehouse_analytics_project_spark.sources.writers import write_jsonl

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    path = os.path.join(
        "/tmp", "spark_graft_roundtrip", os.path.basename(os.path.normpath(sf_dir))
    )
    write_jsonl(docs, path)
    back = read_jsonl(
        spark, path, schema="doc_id BIGINT, source STRING, text STRING"
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
        F.sum(md5_60bit(F.col("text")) % F.lit(1000000007))
        .cast("bigint")
        .alias("content_checksum"),
        F.count(F.col("_corrupt_record")).cast("bigint").alias("n_corrupt"),
    )


def _zorder_oracle() -> str:
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        zorder_key_sql,
    )

    return (
        "SELECT doc_id, CAST("
        + zorder_key_sql(["doc_id", "n_chars"], bits=8)
        + " AS BIGINT) AS zkey FROM documents"
    )


@register("q50_zorder_key", _zorder_oracle())
def q50_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key (``sources.writers.zorder_key``): bit
    interleave of two bucketed dimensions, the sort key that keeps parquet
    min/max stats tight on BOTH columns at write time. Pure codegen'd bit
    arithmetic; the oracle replays the interleave with engine-portable
    div/mod arithmetic, so every bit of every row's key is value-checked."""
    from sql_data_warehouse_analytics_project_spark.sources.writers import zorder_key

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", zorder_key(["doc_id", "n_chars"], bits=8).alias("zkey")
    )


_PROFILE_COLS = ("c_custkey", "c_name", "c_nationkey", "c_mktsegment")


@register(
    "q51_table_profile",
    " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_value,
               CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM customer
        """
        for c in _PROFILE_COLS
    ),
)
def q51_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profiling (``validate.profile_table``): row/null/
    distinct counts + stringified min/max per column, one column-pruned
    aggregate branch per column (never the N-way count_distinct Expand
    blowup — NOTES lesson 7). Floating-point columns are excluded from
    the ORACLE projection only because engines format doubles as strings
    differently; the operator itself profiles any type."""
    from sql_data_warehouse_analytics_project_spark.operators.validate import (
        profile_table,
    )

    customer = load_table(spark, sf_dir, "customer")
    return profile_table(customer, _PROFILE_COLS)


@register(
    "q52_incremental_distinct",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           TRUE AS estimate_ok
    FROM orders
    GROUP BY order_year
    """,
)
def q52_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained DISTINCT count: the one aggregate exact
    arithmetic cannot refresh (distinct(old)+distinct(delta) double-counts
    returning keys). HLL sketch state merges losslessly across refresh
    generations; the split-merge path here must land within 5% of the
    oracle's from-scratch exact count per group (ACCURACY GATE pattern,
    like q42: the oracle emits literal TRUE, so any group where the
    merged sketch drifts past the gate hash-mismatches the row)."""
    from sql_data_warehouse_analytics_project_spark.plans import incremental

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    cutoff = F.lit("1997-01-01").cast("timestamp")
    is_old = F.col("o_orderdate") < cutoff
    old = orders.filter(is_old)
    delta = orders.filter(~F.coalesce(is_old, F.lit(False)))
    keys = ["order_year"]
    measures = {"apx": ("approx_distinct", "o_custkey")}
    state = incremental.partial_aggs(old, keys, measures)
    merged = incremental.incremental_refresh(state, delta, keys, measures)
    est = incremental.finalize(merged, keys, measures)
    exact = orders.groupBy("order_year").agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    )
    return exact.join(est, "order_year").select(
        F.col("order_year").cast("int"),
        F.col("exact_distinct").cast("bigint"),
        (
            F.abs(F.col("apx") - F.col("exact_distinct"))
            <= F.col("exact_distinct") * 0.05
        ).alias("estimate_ok"),
    )


@register(
    "q54_partitioned_dataset_roundtrip",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY order_year, o_orderstatus
    """,
)
def q54_partitioned_dataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-aware dataset sink through the driver gate: orders written
    with ``write_dataset`` (partitioned by year, sorted by order key
    within files, records-per-file capped), read back through the
    manifest with ``read_dataset``, aggregated — the oracle reads the
    ORIGINAL table, so any row lost/duplicated/mangled by the partitioned
    write (incl. the partition column's round trip through directory
    names) breaks the hash compare. Each run publishes a new generation
    of one fixed dataset per scale; the publish deletes all but the two
    newest, so repeated runs do not grow the disk."""
    import os

    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        read_dataset,
        write_dataset,
    )

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    # a managed write refuses a root holding unmanaged files, so this is
    # not the directory name older code wrote plain datasets under
    path = os.path.join(
        "/tmp", "spark_graft_dataset_roundtrip",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    write_dataset(
        orders,
        path,
        partition_by=["order_year"],
        sort_by=["o_orderkey"],
        max_records_per_file=50_000,
    )
    back = read_dataset(spark, path)
    return back.groupBy(F.col("order_year").cast("int"), "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(money("o_totalprice")).cast("double").alias("revenue"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


@register(
    "q55_linear_interpolation",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, round(sum(value), 6) AS day_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), rng AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
    ), spine AS (
      SELECT user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM rng
    ), j AS (
      SELECT s.user_id, s.day, d.day_value
      FROM spine s LEFT JOIN daily d USING (user_id, day)
    ), w AS (
      SELECT user_id, day, day_value,
             last_value(day_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             first_value(day_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             last_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS po,
             first_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS no_
      FROM j
    )
    SELECT user_id, day,
           round(COALESCE(
             CASE WHEN pv IS NOT NULL AND nv IS NOT NULL AND no_ <> po
                  THEN pv + (nv - pv) * (CAST(day - po AS DOUBLE) / (no_ - po))
             END, pv, nv), 6) AS value_interp
    FROM w
    """,
)
def q55_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the densified purchase series
    (``windows.interpolate_linear``): every empty day gets the
    straight-line value between its neighboring observed days (edges
    fall back to nearest-known). Same one-shuffle two-frame window shape
    as forward_fill; the oracle replays neighbors, day fractions, and
    edge fallbacks for every (user, day)."""
    from sql_data_warehouse_analytics_project_spark.operators import windows as W

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("day_value"))
    )
    spine = W.date_spine(daily, ["user_id"], "day")
    j = spine.join(daily, ["user_id", "day"], "left")
    filled = W.interpolate_linear(j, ["user_id"], "day", ["day_value"])
    return filled.select(
        "user_id", "day", F.round("day_value_interp", 6).alias("value_interp")
    )


@register(
    "q58_fuzzy_match",
    """
    WITH c AS (
      SELECT c_custkey, c_name, substr(c_name, 1, length(c_name) - 2) AS blk
      FROM customer
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_distance
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def q58_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (``joins.fuzzy_join``): candidate pairs from
    an equi join on a blocking key (here: name minus its last two chars),
    Levenshtein-pruned within blocks — the entity-resolution shape that
    never goes all-pairs. Every surviving pair's edit distance is
    value-checked (Spark and DuckDB implement the same Levenshtein)."""
    from sql_data_warehouse_analytics_project_spark.operators.joins import fuzzy_join

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.expr("substr(c_name, 1, length(c_name) - 2)").alias("blk"),
    )
    out = fuzzy_join(
        cust, cust, ["blk"], "c_name", "c_name", max_distance=2
    ).filter(F.col("l_c_custkey") < F.col("r_c_custkey"))
    return out.select(
        F.col("l_c_custkey").alias("id_a"),
        F.col("r_c_custkey").alias("id_b"),
        F.col("edit_distance").cast("int"),
    )


@register(
    "q59_histogram",
    """
    WITH b AS (
      SELECT least(greatest(CAST(floor((o_totalprice - 0.0) / 25000.0) AS INTEGER), 0), 23) AS bin
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT bin,
           0.0 + bin * 25000.0 AS bin_lo,
           0.0 + (bin + 1) * 25000.0 AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM b GROUP BY bin
    """,
)
def q59_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (``aggregates.histogram``) of order values:
    24 bins over [0, 600k) with under/overflow clamped into the edge bins
    so the row count is conserved. One bin-keyed map-side-combined
    shuffle; bin edges and counts value-checked per bin."""
    from sql_data_warehouse_analytics_project_spark.operators.aggregates import (
        histogram,
    )

    orders = load_table(spark, sf_dir, "orders")
    return histogram(orders, "o_totalprice", lo=0.0, hi=600_000.0, n_bins=24)


@register(
    "q60_grouped_correlation",
    """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CASE WHEN n >= 2 AND (sxx - sx * sx / n) > 0 AND (syy - sy * sy / n) > 0
                THEN (sxy - sx * sy / n)
                     / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
           END AS corr
    FROM m
    """,
)
def q60_grouped_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation (``aggregates.grouped_corr``) between
    quantity and extended price, computed from EXACT decimal moments —
    order-insensitive sums make the coefficient bit-reproducible, so the
    oracle compares the raw double, no rounding tolerance needed (a float
    corr buffer would drift with accumulation order at scale)."""
    from sql_data_warehouse_analytics_project_spark.operators.aggregates import (
        grouped_corr,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("y"),
    )
    return grouped_corr(li, ["l_returnflag"], "x", "y", alias="corr")


@register(
    "q61_bag_setops",
    """
    WITH a AS (
      SELECT o_custkey FROM orders WHERE o_totalprice < 100000
    ), b AS (
      SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1997
    )
    SELECT 'except_all' AS op, o_custkey
    FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
    UNION ALL
    SELECT 'intersect_all' AS op, o_custkey
    FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
    """,
)
def q61_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 multiset set ops — EXCEPT ALL / INTERSECT ALL keep per-row
    MULTIPLICITY (n minus m copies / min(n, m) copies), which the
    distinct variants (q22/q23) collapse. Spark plans both as
    count-tagged aggregations + a generate — no join blowup; every
    surviving copy's count is hash-compared against the oracle's bag
    semantics."""
    from sql_data_warehouse_analytics_project_spark.operators.setops import (
        except_all,
        intersect_all,
    )

    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") < 100_000).select("o_custkey")
    b = orders.filter(F.year("o_orderdate") >= 1997).select("o_custkey")
    ex = except_all(a, b).select(F.lit("except_all").alias("op"), "o_custkey")
    ia = intersect_all(a, b).select(F.lit("intersect_all").alias("op"), "o_custkey")
    return ex.unionByName(ia)


@register(
    "q62_scd2_intervals",
    """
    WITH v AS (SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
               FROM orders)
    SELECT o_custkey,
           d AS valid_from,
           lead(d) OVER w - 1 AS valid_to,
           (lead(d) OVER w) IS NULL AS is_current
    FROM v
    WINDOW w AS (PARTITION BY o_custkey ORDER BY d)
    """,
)
def q62_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 validity-window repair (`cleansing.scd2_end_dates` —
    the reference's prd_info silver rule: end date := day before the next
    version's start, NULL ⇒ current; reference
    ``setup_orchestrator.py:484-516`` product dim + SURVEY §1.4),
    exercised over testdata: distinct (customer, order date) pairs as
    version starts. One key-partitioned window — single shuffle. The
    DISTINCT pre-pass makes the lead() pairing deterministic (ties in
    the order column would otherwise make the windows engine-dependent)."""
    from sql_data_warehouse_analytics_project_spark.operators.cleansing import (
        scd2_end_dates,
    )

    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    ).distinct()
    out = scd2_end_dates(v, ["o_custkey"], "d", "valid_to")
    return out.select(
        "o_custkey",
        F.col("d").alias("valid_from"),
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


@register(
    "q63_cdc_keep_latest",
    """
    WITH r AS (
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
             CAST(o_totalprice AS DOUBLE) AS tp,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT o_custkey, o_orderkey,
           od AS latest_order_date,
           tp AS latest_totalprice
    FROM r WHERE rn = 1
    """,
)
def q63_cdc_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The append-only CDC ``_is_current`` semantic (M6,
    `dml.recompute_is_current` — reference ``bronze.py:112`` /
    BRONZE_LAYER_PLAN.md:38,83) verified standalone through the driver
    gate: latest row per key via row_number()==1 over a desc composite
    order (orderkey tiebreak keeps same-day winners deterministic).
    Single key-partitioned window shuffle."""
    from sql_data_warehouse_analytics_project_spark.dml import recompute_is_current

    orders = load_table(spark, sf_dir, "orders")
    flagged = recompute_is_current(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"], "_cur"
    )
    return flagged.filter(F.col("_cur")).select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("latest_order_date"),
        F.col("o_totalprice").cast("double").alias("latest_totalprice"),
    )


@register(
    "q64_keyset_pagination",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(o_totalprice AS DOUBLE) AS totalprice
    FROM orders
    WHERE CAST(o_orderdate AS DATE) > DATE '1995-06-15'
       OR (CAST(o_orderdate AS DATE) = DATE '1995-06-15' AND o_orderkey > 0)
    ORDER BY order_date, o_orderkey
    LIMIT 25
    """,
)
def q64_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset ("seek") pagination (`relational.keyset_paginate`) — the
    scale-correct O2/O3 companion: q17's OFFSET pagination ranks the
    whole relation per page (O(offset)); the keyset predicate is
    sargable and the page plans as TakeOrderedAndProject, so page N
    costs page 1. Resumes after the key tuple (1995-06-15, 0)."""
    import datetime

    from sql_data_warehouse_analytics_project_spark.operators.relational import (
        keyset_paginate,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_totalprice").cast("double").alias("totalprice"),
    )
    return keyset_paginate(
        orders,
        ["order_date", "o_orderkey"],
        25,
        after=(datetime.date(1995, 6, 15), 0),
    ).select("o_orderkey", "order_date", "totalprice")


@register(
    "q65_cumulative_distinct",
    """
    WITH flagged AS (
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
             o_orderpriority,
             CASE WHEN row_number() OVER (
                    PARTITION BY o_custkey, o_orderpriority
                    ORDER BY o_orderdate, o_orderkey) = 1
                  THEN 1 ELSE 0 END AS f
      FROM orders
    )
    SELECT o_custkey, o_orderkey, od AS order_date,
           CAST(SUM(f) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_distinct_cum
    FROM flagged
    """,
)
def q65_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative windowed COUNT(DISTINCT) (`windows.cumulative_distinct`)
    — distinct order priorities each customer has used up to each order.
    Spark rejects count_distinct in window frames and the collect_set
    workaround is O(distinct) memory per row; the first-occurrence-flag +
    running-sum formulation is exact with bounded state. The oracle
    replays the same two-window formulation (engine-portable)."""
    from sql_data_warehouse_analytics_project_spark.operators.windows import (
        cumulative_distinct,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_orderpriority",
    )
    out = cumulative_distinct(
        orders, ["o_custkey"], ["order_date", "o_orderkey"], "o_orderpriority"
    )
    return out.select(
        "o_custkey", "o_orderkey", "order_date", "n_distinct_cum"
    )


@register(
    "q66_interval_overlap_join",
    """
    WITH li AS (
      SELECT l_orderkey, l_linenumber, l_suppkey,
             date_diff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) AS s,
             date_diff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE))
               + CAST(l_quantity AS INTEGER) % 20 + 1 AS e
      FROM lineitem WHERE l_suppkey <= 3
    )
    SELECT a.l_suppkey,
           a.l_orderkey AS a_orderkey, a.l_linenumber AS a_linenumber,
           b.l_orderkey AS b_orderkey, b.l_linenumber AS b_linenumber,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_days
    FROM li a JOIN li b
      ON a.l_suppkey = b.l_suppkey
     AND (a.l_orderkey, a.l_linenumber) < (b.l_orderkey, b.l_linenumber)
     AND a.s < b.e AND b.s < a.e
    """,
)
def q66_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (`joins.interval_overlap_join`) —
    shipment transit windows of the same supplier that overlap in time
    (end synthesized as ship + quantity%20+1 days). The operator
    bucketizes both interval sets into fixed cells and equi-joins on
    (key, cell) with a canonical-cell dedup, so Catalyst never plans the
    per-key cross product the oracle's inequality join expresses; every
    pair's overlap length is value-checked."""
    from sql_data_warehouse_analytics_project_spark.operators.joins import (
        interval_overlap_join,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 3)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate").cast("date"), F.lit("1990-01-01")).alias("s"),
            (
                F.datediff(F.col("l_shipdate").cast("date"), F.lit("1990-01-01"))
                + F.col("l_quantity").cast("int") % 20
                + 1
            ).alias("e"),
        )
    )
    out = interval_overlap_join(
        li,
        li,
        ["l_suppkey"],
        left_start="s",
        left_end="e",
        right_start="s",
        right_end="e",
        bucket=16,
    ).filter(
        (F.col("l_l_orderkey") < F.col("r_l_orderkey"))
        | (
            (F.col("l_l_orderkey") == F.col("r_l_orderkey"))
            & (F.col("l_l_linenumber") < F.col("r_l_linenumber"))
        )
    )
    return out.select(
        "l_suppkey",
        F.col("l_l_orderkey").alias("a_orderkey"),
        F.col("l_l_linenumber").alias("a_linenumber"),
        F.col("r_l_orderkey").alias("b_orderkey"),
        F.col("r_l_linenumber").alias("b_linenumber"),
        (F.least("l_e", "r_e") - F.greatest("l_s", "r_s"))
        .cast("bigint")
        .alias("overlap_days"),
    )
