"""Scale-path operators: range/interval/salted joins, deterministic
sampling, exact statistical aggregates, histograms, distribution windows,
and IVF similarity search — each with a value-exact DuckDB oracle.

None of these exist in the reference (its only join shape is a
broadcast-sized inner equi-join, fotmob-dag.py:144-148); they are the
operators a 100 TB training-data pipeline needs, written as the plan
shape that survives scale (see operators/joins.py, operators/sampling.py,
operators/similarity.py docstrings) and proven row/value-identical to the
naive relational form by the oracle.

Determinism notes follow plans/catalog.py: decimal sums for
order-insensitive money/measure math, integer-µs time arithmetic,
sequential-fold dot products, unique tiebreaks before every rank/limit.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share
from fotmobdatapipeline_spark.operators import joins as J
from fotmobdatapipeline_spark.operators import sampling as SA
from fotmobdatapipeline_spark.operators import similarity as S
from fotmobdatapipeline_spark.plans.catalog import register
from fotmobdatapipeline_spark.plans.llmdata import _sql_dot
from fotmobdatapipeline_spark.sources.registry import read_table

# Exact decimal sum of a 2-dp money column, surfaced as DOUBLE — the
# stored doubles are exactly 2-dp, so the decimal cast recovers the exact
# value in both engines and the sum is order-insensitive (catalog.py
# rules; same pattern as plans/core.py).
def _dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(12,2))) AS DOUBLE)"


def _spark_dsum(col):
    return F.sum(col.cast("decimal(12,2)")).cast("double")


# --------------------------------------------------------------------------
# Range join, scale path: uniform price bands via arithmetic band ids.
# The oracle is the *inequality join* form — proving the O(1)-per-row
# rewrite produces exactly the rows a nested-loop range join would.
# --------------------------------------------------------------------------
_BAND_W = 50_000.0
_N_BANDS = 10


@register(
    "join_range_banded",
    oracle=f"""
    WITH bands AS (
      SELECT CAST(i AS INT) AS band_id,
             i * {_BAND_W} AS band_lo, (i + 1) * {_BAND_W} AS band_hi
      FROM range(0, {_N_BANDS}) AS t(i)
    )
    SELECT band_id, band_lo, band_hi, COUNT(*) AS n_orders,
           {_dsum('o_totalprice')} AS sum_price
    FROM orders
    JOIN bands ON o_totalprice >= band_lo
              AND (o_totalprice < band_hi OR band_id = {_N_BANDS - 1})
    GROUP BY band_id, band_lo, band_hi
    """,
    tags=("join", "range"),
    doc="Uniform-band range join rewritten as arithmetic banding (no join).",
)
def join_range_banded(spark: SparkSession, sf_dir: str):
    orders = read_table(spark, sf_dir, "orders")
    banded = J.range_band_join(orders, "o_totalprice", _BAND_W, _N_BANDS)
    return banded.groupBy("band_id", "band_lo", "band_hi").agg(
        F.count("*").alias("n_orders"),
        _spark_dsum(F.col("o_totalprice")).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# Skew-salted join: row-identical to the plain equi-join (the oracle), but
# physically spread over n_salts shuffle partitions per key.
# --------------------------------------------------------------------------
@register(
    "join_salted_agg",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("join", "skew"),
    doc="Salted equi-join (skew splinter); result equals the plain join.",
)
def join_salted_agg(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    joined = J.salted_join(
        li, orders, key="l_orderkey", probe_salt=F.col("l_linenumber") % 8, n_salts=8
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )


# --------------------------------------------------------------------------
# Interval self-join: purchases paired with same-user views in the
# preceding 10 minutes.  Oracle is the naive inequality join; the engine
# runs the bucketed equi-join (operators/joins.py::interval_bucket_join).
# --------------------------------------------------------------------------
_IVAL_S = 600


@register(
    "events_interval_join",
    oracle=f"""
    SELECT a.user_id AS user, a.event_id AS a_id, b.event_id AS b_id,
           epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) > epoch_us(a.ts) - {_IVAL_S * 1_000_000}
     AND epoch_us(b.ts) <= epoch_us(a.ts)
    WHERE a.event_type = 'purchase' AND b.event_type = 'view'
    """,
    tags=("join", "interval", "events"),
    doc="Time-bounded self-join via 2-bucket equi-join (no nested loop).",
)
def events_interval_join(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    pairs = J.interval_bucket_join(
        ev,
        left_filter=F.col("event_type") == "purchase",
        right_filter=F.col("event_type") == "view",
        window_seconds=_IVAL_S,
    )
    return pairs.select(
        "user",
        "a_id",
        "b_id",
        (F.unix_micros("a_ts") - F.unix_micros("b_ts")).alias("gap_us"),
    )


# --------------------------------------------------------------------------
# Deterministic content-hash sampling (~10%): same rows in or out of the
# sample regardless of partitioning, cluster size, or engine.
# --------------------------------------------------------------------------
_SAMPLE_BOUND = 26  # round(0.1 * 256)

# DuckDB twin of operators/sampling.py::hash_bucket_256 (no conv() there:
# two hex nibbles decoded by strpos arithmetic).
_SQL_BUCKET = (
    "((strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)"
)


@register(
    "sample_hash_agg",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n,
           {_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE {_SQL_BUCKET} < {_SAMPLE_BOUND}
    GROUP BY o_orderstatus
    """,
    tags=("sampling",),
    doc="Partitioning-independent md5 sampling; map-side only.",
)
def sample_hash_agg(spark: SparkSession, sf_dir: str):
    orders = read_table(spark, sf_dir, "orders")
    return (
        SA.hash_sample(orders, "o_orderkey", 0.1)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            _spark_dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# Statistical aggregates with order-insensitive math: mean / stddev / corr
# derived from exact decimal power sums, final formulas in DOUBLE.  Naive
# stddev_samp/corr over doubles is partitioning-dependent (float sum
# order); this is the reproducible form a data-quality layer should use.
# --------------------------------------------------------------------------
# Exact power sums: the stored doubles are 2-dp, so DECIMAL(12,2) casts
# are exact and decimal products/sums are exact in both engines.
_DQ = "CAST(l_quantity AS DECIMAL(12,2))"
_DP = "CAST(l_extendedprice AS DECIMAL(12,2))"
_SX = f"CAST(SUM({_DQ}) AS DOUBLE)"
_SY = f"CAST(SUM({_DP}) AS DOUBLE)"
_SXX = f"CAST(SUM({_DQ} * {_DQ}) AS DOUBLE)"
_SYY = f"CAST(SUM({_DP} * {_DP}) AS DOUBLE)"
_SXY = f"CAST(SUM({_DQ} * {_DP}) AS DOUBLE)"


@register(
    "agg_stats_exact",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             {_SX} AS sx, {_SY} AS sy, {_SXX} AS sxx, {_SYY} AS syy, {_SXY} AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           sx / n AS mean_qty,
           sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS stddev_qty,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
    FROM s
    """,
    tags=("agg", "stats"),
    doc="Deterministic mean/stddev/corr from exact decimal power sums.",
)
def agg_stats_exact(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(p * p).cast("double").alias("syy"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        "n",
        (sx / n).alias("mean_qty"),
        F.sqrt((n * sxx - sx * sx) / (n * (n - 1))).alias("stddev_qty"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_price"),
    )


# --------------------------------------------------------------------------
# Exact quantiles (PERCENTILE_CONT) per group, from one per-group sort;
# interpolation formula mirrored verbatim in the oracle (see
# operators/stats.py for the at-scale guidance vs approx sketches).
# --------------------------------------------------------------------------
def _sql_pct(p: float) -> str:
    pos = f"(n - 1) * {p}"
    flo, frac = f"FLOOR({pos})", f"({pos} - FLOOR({pos}))"
    return (
        f"SUM(CASE WHEN rn = {flo} THEN v * (1 - {frac}) "
        f"WHEN {frac} > 0 AND rn = {flo} + 1 THEN v * {frac} "
        f"ELSE 0.0 END)"
    )


@register(
    "agg_exact_quantiles",
    oracle=f"""
    WITH r AS (
      SELECT l_returnflag, l_quantity AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag, {_sql_pct(0.5)} AS p50, {_sql_pct(0.9)} AS p90
    FROM r GROUP BY l_returnflag
    """,
    tags=("agg", "quantiles"),
    doc="Exact PERCENTILE_CONT per group via rank arithmetic.",
)
def agg_exact_quantiles(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.stats import exact_group_quantiles

    li = read_table(spark, sf_dir, "lineitem")
    return exact_group_quantiles(li, "l_quantity", ["l_returnflag"], ps=(0.5, 0.9))


# --------------------------------------------------------------------------
# Fixed-width histogram: one map + one hash aggregate (the 100 TB-safe way
# to histogram — no sort, no global pass to find bounds).
# --------------------------------------------------------------------------
@register(
    "histogram_fixed_buckets",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS INT) AS bucket,
           COUNT(*) AS n, MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
    FROM lineitem
    GROUP BY bucket
    """,
    tags=("agg", "histogram"),
)
def histogram_fixed_buckets(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 5000.0).cast("int")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )


# --------------------------------------------------------------------------
# Distribution window functions: ntile / percent_rank / cume_dist per
# market segment, ordered by a unique (acctbal, custkey) tiebreak.
# --------------------------------------------------------------------------
@register(
    "window_distribution",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cum_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window", "distribution"),
)
def window_distribution(spark: SparkSession, sf_dir: str):
    cust = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


# --------------------------------------------------------------------------
# RANGE-frame window: trailing 1-hour sum of `value` per user over event
# time (integer-µs range frame; decimal sum -> frame-order-insensitive).
# --------------------------------------------------------------------------
@register(
    "window_trailing_range",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_1h
    FROM events
    """,
    tags=("window", "range-frame", "events"),
)
def window_trailing_range(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("trailing_1h"),
    )


# --------------------------------------------------------------------------
# Market share (TPC-H Q8 shape): revenue share of one region's suppliers
# within a part segment, per order year — a 6-table join tree + pivoted
# conditional aggregate, the optimizer-stress flagship.
# --------------------------------------------------------------------------
_REV_DEC = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)


@register(
    "market_share",
    oracle=f"""
    WITH sales AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             {_REV_DEC} AS rev,
             r.r_name AS region
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN region = 'ASIA' THEN rev ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             AS asia_rev,
           CAST(SUM(rev) AS DOUBLE) AS total_rev,
           CAST(SUM(CASE WHEN region = 'ASIA' THEN rev ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE) AS mkt_share
    FROM sales GROUP BY o_year
    """,
    tags=("join", "flagship", "tpch"),
    doc="Q8-shape market share: 6-way join + conditional decimal agg.",
)
def market_share(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")

    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    # part/supplier/nation/region are true dims -> explicit broadcast;
    # orders scales with the fact -> no hint (auto-threshold/AQE decides:
    # broadcast at bench SFs, shuffle join at cluster scale).
    sales = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            rev.alias("rev"),
            F.col("r_name").alias("region"),
        )
    )
    zero = F.lit(0).cast("decimal(12,2)")
    asia = F.sum(F.when(F.col("region") == "ASIA", F.col("rev")).otherwise(zero)).cast(
        "double"
    )
    total = F.sum("rev").cast("double")
    return sales.groupBy("o_year").agg(
        asia.alias("asia_rev"),
        total.alias("total_rev"),
        (asia / total).alias("mkt_share"),
    )


# --------------------------------------------------------------------------
# Sole-late-supplier (TPC-H Q21 shape, date-adapted): in multi-supplier
# orders, find the supplier who alone shipped late (> 90 days after the
# order date) — nested quantified predicates expressed as one grouped
# aggregation instead of correlated EXISTS/NOT EXISTS re-scans.
# --------------------------------------------------------------------------
@register(
    "late_sole_supplier",
    oracle="""
    WITH per_supp AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_orderkey, l.l_suppkey
    ),
    flagged AS (
      SELECT l_orderkey, l_suppkey, is_late,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supps,
             SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
      FROM per_supp
    )
    SELECT f.l_suppkey, s.s_name, COUNT(*) AS numwait
    FROM flagged f JOIN supplier s ON f.l_suppkey = s.s_suppkey
    WHERE f.n_supps > 1 AND f.n_late = 1 AND f.is_late = 1
    GROUP BY f.l_suppkey, s.s_name
    ORDER BY numwait DESC, l_suppkey ASC
    LIMIT 10
    """,
    tags=("join", "window", "tpch"),
    doc="Q21-shape sole-late-supplier via grouped flags, no correlated re-scan.",
)
def late_sole_supplier(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    supplier = read_table(spark, sf_dir, "supplier")

    late = F.max(
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    # orders is fact-sized — no broadcast hint (see market_share note).
    per_supp = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(late.alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.select(
        "*",
        F.count("*").over(w).alias("n_supps"),
        F.sum("is_late").over(w).alias("n_late"),
    )
    return (
        flagged.filter(
            (F.col("n_supps") > 1) & (F.col("n_late") == 1) & (F.col("is_late") == 1)
        )
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")), flagged.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("l_suppkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Data-quality: FK integrity audit across the star — orphan counts per
# relationship via anti-join (the operational check before any fact load).
# --------------------------------------------------------------------------
@register(
    "dq_fk_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', COUNT(*)
    FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem->part', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem->supplier', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    """,
    tags=("dq", "anti-join"),
    doc="FK-integrity audit: orphan counts via anti-joins.",
)
def dq_fk_integrity(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")

    def orphans(child, parent, left_key, right_key, name):
        return (
            child.join(
                F.broadcast(parent),
                child[left_key] == parent[right_key],
                "left_anti",
            )
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(name).alias("fk"), "n_orphans")
        )

    # ONE lineitem scan for its three FK probes (r15): chained
    # broadcast LEFT joins against the DISTINCT parent keys, orphan =
    # parent key NULL after the join — with de-duplicated keys this is
    # exactly the anti-join count (a left join on unique keys cannot
    # multiply rows), and the fact table is read once instead of once
    # per FK (runtime audit: 3 lineitem scans, 0 Reused).  The
    # .distinct() keeps the semantics honest even on a parent that
    # violates PK uniqueness; the parent sides are broadcast-sized dims.
    okey = orders.select("o_orderkey").distinct()
    pkey = part.select("p_partkey").distinct()
    skey = supplier.select("s_suppkey").distinct()
    li_probes = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(F.broadcast(okey), li["l_orderkey"] == okey["o_orderkey"], "left")
        .join(F.broadcast(pkey), li["l_partkey"] == pkey["p_partkey"], "left")
        .join(F.broadcast(skey), li["l_suppkey"] == skey["s_suppkey"], "left")
        .agg(
            F.count_if(F.col("o_orderkey").isNull()).alias("no_orders"),
            F.count_if(F.col("p_partkey").isNull()).alias("no_part"),
            F.count_if(F.col("s_suppkey").isNull()).alias("no_supplier"),
        )
        # One row, three union-branch consumers: checkpoint so the
        # lineitem aggregate runs once, not once per branch.
        .transform(share)
    )

    def li_row(name, col):
        return li_probes.select(
            F.lit(name).alias("fk"), F.col(col).alias("n_orphans")
        )

    return (
        li_row("lineitem->orders", "no_orders")
        .unionByName(orphans(orders, customer.select("c_custkey"), "o_custkey", "c_custkey", "orders->customer"))
        .unionByName(li_row("lineitem->part", "no_part"))
        .unionByName(li_row("lineitem->supplier", "no_supplier"))
    )


# --------------------------------------------------------------------------
# Dual-dialect SQL (EP3 surface proof): ONE ANSI SQL string executed
# verbatim by BOTH engines — the builder runs the oracle text itself
# through spark.sql over registered views, so any drift between our SQL
# surface and the oracle's dialect assumptions fails loudly.
# --------------------------------------------------------------------------
_DUAL_SQL = """
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           o.o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           CAST(SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
                    THEN CAST(o.o_totalprice AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS building_total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY year(o.o_orderdate), o.o_orderpriority
"""


@register(
    "sql_dual_dialect",
    oracle=_DUAL_SQL,
    tags=("sql",),
    doc="One ANSI SQL string run verbatim by Spark AND DuckDB.",
)
def sql_dual_dialect(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.sources.registry import register_views

    register_views(spark, sf_dir, only=("orders", "customer"))
    return spark.sql(_DUAL_SQL)


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE), dual-dialect: per-user event
# walk from the first event until the first purchase — an arbitrary-
# length path the fixed-join funnel entries cannot express — run
# verbatim by BOTH engines.  The walk is depth-capped at 25 steps
# (deterministic semantics: "within the first 25 events"), which also
# keeps every scale factor inside Spark's recursion-level limit
# (spark.sql.cteRecursionLevelLimit, default 100).  Scale doctrine:
# a recursive CTE is driver-sequenced iterative joins — right for
# bounded-depth walks like this; for data-scale graph closure use the
# dedicated iterative operators (connected components' pointer jumping,
# PageRank's fixed rounds) whose per-round plans are pinned.
# --------------------------------------------------------------------------
_RECURSIVE_SQL = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), walk AS (
  SELECT user_id, rn, event_type, 1 AS steps
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, s.event_type, w.steps + 1
  FROM seq s JOIN walk w
    ON s.user_id = w.user_id AND s.rn = w.rn + 1
  WHERE w.event_type <> 'purchase' AND w.steps < 25
)
SELECT user_id,
       CAST(MAX(steps) AS INT) AS n_steps,
       CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT)
         AS reached_purchase
FROM walk
GROUP BY user_id
"""


@register(
    "sql_recursive_walk",
    oracle=_RECURSIVE_SQL,
    tags=("sql", "recursive", "events"),
    doc="WITH RECURSIVE per-user walk to first purchase, verbatim both engines.",
)
def sql_recursive_walk(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.sources.registry import register_views

    register_views(spark, sf_dir, only=("events",))
    return spark.sql(_RECURSIVE_SQL)


# --------------------------------------------------------------------------
# Null-semantics battery: the SQL-surface corner cases every engine must
# agree on — NULLIF-manufactured nulls, null-safe equality, COALESCE,
# COUNT(col) vs COUNT(*), and explicit NULLS FIRST ordering.
# --------------------------------------------------------------------------
@register(
    "null_semantics",
    oracle="""
    WITH n AS (
      SELECT o_orderkey,
             NULLIF(o_orderstatus, 'O') AS status_n,
             CASE WHEN o_totalprice < 5000 THEN NULL ELSE o_totalprice END AS price_n
      FROM orders
    )
    SELECT COALESCE(status_n, '?') AS status,
           COUNT(*) AS n_rows,
           COUNT(price_n) AS n_priced,
           COUNT(*) - COUNT(price_n) AS n_null_price,
           COUNT(*) FILTER (WHERE status_n IS NOT DISTINCT FROM NULL) AS n_null_safe_eq,
           MIN(price_n) AS min_price,
           CAST(SUM(CAST(COALESCE(price_n, 0) AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM n
    GROUP BY status_n
    ORDER BY status_n ASC NULLS FIRST
    """,
    tags=("sql", "nulls"),
    doc="Null semantics: NULLIF/COALESCE/null-safe equality/count/ordering.",
)
def null_semantics(spark: SparkSession, sf_dir: str):
    orders = read_table(spark, sf_dir, "orders")
    status_n = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    price_n = F.when(F.col("o_totalprice") < 5000, F.lit(None)).otherwise(
        F.col("o_totalprice")
    )
    n = orders.select(status_n.alias("status_n"), price_n.alias("price_n"))
    return (
        n.groupBy("status_n")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("price_n").alias("n_priced"),
            (F.count("*") - F.count("price_n")).alias("n_null_price"),
            F.count_if(F.col("status_n").eqNullSafe(F.lit(None))).alias(
                "n_null_safe_eq"
            ),
            F.min("price_n").alias("min_price"),
            F.sum(F.coalesce(F.col("price_n"), F.lit(0)).cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy(F.col("status_n").asc_nulls_first())
        .select(
            F.coalesce(F.col("status_n"), F.lit("?")).alias("status"),
            "n_rows",
            "n_priced",
            "n_null_price",
            "n_null_safe_eq",
            "min_price",
            "sum_price",
        )
    )


# --------------------------------------------------------------------------
# Key-skew profiler: the measure-before-salting diagnostic
# (operators/profiling.py).  Heavy hitters + share + multiples-of-average.
# --------------------------------------------------------------------------
@register(
    "profile_key_skew",
    oracle="""
    WITH c AS (
      SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
    ),
    s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT c.l_suppkey, c.n, s.n_keys,
           CAST(c.n AS DOUBLE) / CAST(s.total AS DOUBLE) AS share,
           CAST(c.n AS DOUBLE)
             / (CAST(s.total AS DOUBLE) / CAST(s.n_keys AS DOUBLE)) AS skew_vs_avg
    FROM c, s
    ORDER BY c.n DESC, c.l_suppkey ASC
    LIMIT 10
    """,
    tags=("profiling", "skew"),
    doc="Heavy-hitter key profile: the input to salting decisions.",
)
def profile_key_skew(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.profiling import key_distribution

    return key_distribution(read_table(spark, sf_dir, "lineitem"), ["l_suppkey"], top_k=10)


# --------------------------------------------------------------------------
# IVF similarity search (nprobe=1): centroids = vectors 0..7, every vector
# assigned to its nearest centroid cell, queries scored only against their
# own cell's inverted list.  The cell key is the storage partitioning a
# 100 TB vector table would use -> probe = partition-pruned scan.
# --------------------------------------------------------------------------
_N_CELLS = 8
_N_QUERIES = 10


@register(
    "sim_ivf_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    c AS (
      SELECT vec_id AS cell, embedding AS c_vec, nrm AS c_norm
      FROM v WHERE vec_id < {_N_CELLS}
    ),
    assign AS (
      SELECT vid, cell FROM (
        SELECT v.vec_id AS vid, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_sql_dot('v.embedding', 'c.c_vec')} / (v.nrm * c.c_norm) DESC,
                          c.cell ASC
               ) AS rk
        FROM v, c
      ) WHERE rk = 1
    ),
    av AS (
      SELECT a.vid, a.cell, v.embedding, v.nrm
      FROM assign a JOIN v ON v.vec_id = a.vid
    ),
    pairs AS (
      SELECT q.vid AS query_id, q.cell,
             s.vid AS neighbor_id,
             {_sql_dot('q.embedding', 's.embedding')} / (q.nrm * s.nrm) AS cos_sim
      FROM av q JOIN av s ON q.cell = s.cell AND q.vid != s.vid
      WHERE q.vid < {_N_QUERIES}
    )
    SELECT query_id, cell, neighbor_id, cos_sim, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM pairs
    ) WHERE rk <= 5
    """,
    tags=("similarity", "ivf", "topk"),
    doc="IVF ANN: cell-partitioned search replaces the |Q|x|C| cross join.",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return S.ivf_topk(
        emb.filter(F.col("vec_id") < _N_QUERIES), emb, centroids, k=5
    )


# --------------------------------------------------------------------------
# Embedding near-dup via quantization: grid-cell grouping, no pairwise
# work at all (tier below LSH pairs).
# --------------------------------------------------------------------------
@register(
    "dedup_embedding_quantized",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             array_to_string(list_transform(embedding,
               x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) * 10, 0) AS INT) AS VARCHAR)),
               ',') AS qkey
      FROM embeddings
    )
    SELECT MIN(vec_id) AS vec_id, qkey, COUNT(*) AS n_dups
    FROM q GROUP BY qkey
    """,
    tags=("dedup", "embedding"),
)
def dedup_embedding_quantized(spark: SparkSession, sf_dir: str):
    return S.quantized_dedup_groups(read_table(spark, sf_dir, "embeddings"), scale=10)


# --------------------------------------------------------------------------
# Minimum-cost supplier per part (TPC-H Q2 shape, adapted: no partsupp
# table in the testdata, so lineitem serves as the part<->supplier offer
# relation).  The reference has no quantified-predicate queries at all;
# this is the classic correlated-MIN argmin shape.
#
# Scale shape: the oracle's nested correlated MIN subqueries would re-scan
# offers per row; the Spark plan computes the argmin in ONE extra
# aggregation via lexicographic struct-min (cost, then suppkey tiebreak).
# Min-over-struct is not hash-aggregable, so Spark plans a SortAggregate
# -- but it KEEPS the map-side partial, so at most one row per part
# crosses the wire; measured 1.6x faster warm than the row_number-window
# argmin at sf0.1 (the window form ships every offer row unsorted).
# Dims join broadcast; no join-back, no correlated re-scan.
# --------------------------------------------------------------------------
@register(
    "min_cost_supplier",
    oracle="""
    WITH offers AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_size >= 40
      GROUP BY 1, 2
    )
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
           CAST(o.cost AS DOUBLE) AS min_cost
    FROM offers o
    JOIN part p     ON o.partkey = p.p_partkey
    JOIN supplier s ON o.suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE o.cost = (SELECT MIN(o2.cost) FROM offers o2
                    WHERE o2.partkey = o.partkey)
      AND o.suppkey = (SELECT MIN(o3.suppkey) FROM offers o3
                       WHERE o3.partkey = o.partkey
                         AND o3.cost = (SELECT MIN(o4.cost) FROM offers o4
                                        WHERE o4.partkey = o.partkey))
    """,
    tags=("join", "tpch", "subquery"),
    doc="Q2-shape argmin: struct-min replaces nested correlated MINs.",
)
def min_cost_supplier(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")

    offers = (
        li.join(
            F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(12,2)")).alias("cost"))
    )
    # Lexicographic struct-min = min cost with min-suppkey tiebreak, in a
    # single aggregation with map-side partial combine.
    winner = (
        offers.groupBy("l_partkey")
        .agg(F.min(F.struct(F.col("cost"), F.col("l_suppkey"))).alias("m"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("m.cost").alias("cost"),
            F.col("m.l_suppkey").alias("suppkey"),
        )
    )
    return (
        winner.join(
            F.broadcast(part.select("p_partkey", "p_name")),
            winner.partkey == F.col("p_partkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name", "s_nationkey")),
            winner.suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.col("cost").cast("double").alias("min_cost"),
        )
    )


# --------------------------------------------------------------------------
# Above-average-value parts (TPC-H Q11 shape): parts whose revenue exceeds
# a fixed fraction (1/2000) of GLOBAL revenue -- the global-scalar-
# subquery threshold shape.
#
# Scale shape: the global total is a one-row aggregate, broadcast into a
# map-side cross join against the per-part rollup; the threshold compare
# is integer-scaled decimal (val*2000 > total), exact in both engines --
# no double rounding at the predicate boundary.
# --------------------------------------------------------------------------
@register(
    "important_parts",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey AS partkey, SUM({_REV_DEC}) AS val
      FROM lineitem GROUP BY 1
    )
    SELECT partkey, CAST(val AS DOUBLE) AS part_value
    FROM pv
    WHERE val * 2000 > (SELECT SUM(val) FROM pv)
    """,
    tags=("tpch", "subquery", "agg"),
    doc="Q11-shape global-threshold filter via broadcast scalar.",
)
def important_parts(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    pv = li.groupBy(F.col("l_partkey").alias("partkey")).agg(F.sum(rev).alias("val"))
    total = pv.agg(F.sum("val").alias("total"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("val") * 2000 > F.col("total"))
        .select("partkey", F.col("val").cast("double").alias("part_value"))
    )


# --------------------------------------------------------------------------
# Dominant promo-part suppliers (TPC-H Q20 shape): suppliers that shipped
# more than 15% of the total shipped quantity of at least one PROMO part
# -- nested IN-subquery with a correlated per-group threshold.
#
# Scale shape: the correlated per-part total becomes an unordered window
# sum over the (part, supp) rollup -- one shuffle on partkey, no sort
# (whole-partition frame), no join-back, no re-scan.  The surviving
# supplier set is tiny -> broadcast semi-join into supplier.
# --------------------------------------------------------------------------
@register(
    "dominant_promo_suppliers",
    oracle="""
    WITH sq AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
      GROUP BY 1, 2
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT suppkey FROM sq
      WHERE qty * 20 > 3 * (SELECT SUM(q2.qty) FROM sq q2
                            WHERE q2.partkey = sq.partkey)
    )
    """,
    tags=("join", "tpch", "subquery"),
    doc="Q20-shape nested IN + correlated threshold via window sum.",
)
def dominant_promo_suppliers(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")

    sq = (
        li.join(
            F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty"))
    )
    # Unordered window -> whole-partition frame: the per-part total without
    # a sort or a join-back.  Integer-scaled decimal threshold is exact.
    w = Window.partitionBy("l_partkey")
    dominant = (
        sq.withColumn("total_qty", F.sum("qty").over(w))
        .filter(F.col("qty") * 20 > F.col("total_qty") * 3)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            F.broadcast(dominant), supplier.s_suppkey == F.col("l_suppkey"), "left_semi"
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )


# --------------------------------------------------------------------------
# Python DataSource API round-trip (Spark 4 extension point): stage the
# documents table as JSONL shards, read them back through the custom
# `jsonl_docs` source (one task per shard, Arrow-batched), and aggregate.
# The oracle runs the same aggregate on the original table, so the gate
# proves the source is lossless end-to-end.
# --------------------------------------------------------------------------
@register(
    "pyds_jsonl_roundtrip",
    oracle="""
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents GROUP BY source, lang
    """,
    tags=("source", "python-datasource"),
    doc="Custom Python data source (JSONL shards) proven lossless.",
)
def pyds_jsonl_roundtrip(spark: SparkSession, sf_dir: str):
    import os

    from fotmobdatapipeline_spark.sources.python_datasource import (
        register_python_sources,
    )

    staged = f"/tmp/spark_graft_pyds/{os.path.basename(os.path.normpath(sf_dir))}"
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    docs.repartition(8).write.mode("overwrite").json(staged)
    register_python_sources(spark)
    return (
        spark.read.format("jsonl_docs")
        .load(staged)
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# --------------------------------------------------------------------------
# Small-quantity revenue (TPC-H Q17 shape): lineitems below 20% of their
# part's average quantity.  The oracle keeps the correlated per-part AVG
# subquery; the Spark plan decorrelates it into an unordered window —
# and the avg compare is integer-scaled (q*5*cnt < sum, all decimal), so
# there is NO cross-engine float division at the predicate boundary.
# --------------------------------------------------------------------------
@register(
    "small_qty_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey AND p_brand = 'Brand#4'
    WHERE CAST(l.l_quantity AS DECIMAL(12,2)) * 5
            * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
          < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(12,2))) FROM lineitem l3
             WHERE l3.l_partkey = l.l_partkey)
    """,
    tags=("tpch", "subquery", "window"),
    doc="Q17-shape correlated AVG, decorrelated to a window; exact compare.",
)
def small_qty_revenue(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")

    # The correlated subqueries range over ALL lineitem rows of the part,
    # which (post part-join) is exactly the joined subset — so one
    # unordered window computes both per-part scalars in a single pass.
    w = Window.partitionBy("l_partkey")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    joined = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .withColumn("part_cnt", F.count("*").over(w))
        .withColumn("part_qty_sum", F.sum(qty).over(w))
    )
    return joined.filter(qty * 5 * F.col("part_cnt") < F.col("part_qty_sum")).agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double") / 7.0)
        .alias("avg_yearly"),
        F.count("*").alias("n_lines"),
    )


# --------------------------------------------------------------------------
# Large-volume orders (TPC-H Q18 shape): IN over a grouped HAVING.  The
# Spark plan turns the IN into a join against the pre-aggregated order
# quantities (map-side combine on the fact, tiny survivor set), then
# broadcasts the survivors into orders and customer.
# --------------------------------------------------------------------------
@register(
    "large_volume_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(q.order_qty AS DOUBLE) AS order_qty
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS order_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
    ) q ON o.o_orderkey = q.l_orderkey
    """,
    tags=("tpch", "join", "agg"),
    doc="Q18-shape IN-over-HAVING as pre-agg + broadcast survivor join.",
)
def large_volume_orders(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")

    qty = F.col("l_quantity").cast("decimal(12,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("order_qty_dec"))
        .filter(F.col("order_qty_dec") > 250)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("order_qty_dec").cast("double").alias("order_qty"),
        )
    )


# --------------------------------------------------------------------------
# Z-order clustered scan (operators/zorder.py): stage the events table
# z-ordered on (user_id, ts), then answer a user-slab box query from the
# clustered copy.  The oracle computes the same answer from the original
# table, proving the layout rewrite is lossless; the file-skipping win
# itself is measured in tests/test_zorder.py (footer min/max audit).
# --------------------------------------------------------------------------
@register(
    "zorder_box_scan",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           MIN(event_id) AS min_event, MAX(event_id) AS max_event
    FROM events
    WHERE user_id BETWEEN 10 AND 40
    GROUP BY event_type
    """,
    tags=("events", "layout", "scale"),
    doc="Z-order clustered copy answers a box query losslessly.",
)
def zorder_box_scan(spark: SparkSession, sf_dir: str):
    import os

    from fotmobdatapipeline_spark.operators.zorder import write_zordered

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        "event_type", "value",
    )
    staged = f"/tmp/spark_graft_zorder/{os.path.basename(os.path.normpath(sf_dir))}"
    write_zordered(ev, staged, "user_id", "ts_us", n_files=16)
    return (
        spark.read.parquet(staged)
        .filter(F.col("user_id").between(10, 40))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
    )



# --------------------------------------------------------------------------
# Multi-probe IVF: each query searches its 2 nearest cells — the recall
# lever (probe cost x2, recall up; tests/test_properties.py pins the
# recall@k monotonicity against brute force).  Candidates stay stored in
# exactly one cell; only the query-side assignment widens.
# --------------------------------------------------------------------------
@register(
    "sim_ivf_multiprobe",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    c AS (
      SELECT vec_id AS cell, embedding AS c_vec, nrm AS c_norm
      FROM v WHERE vec_id < {_N_CELLS}
    ),
    ranked AS (
      SELECT v.vec_id AS vid, c.cell,
             ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_sql_dot('v.embedding', 'c.c_vec')} / (v.nrm * c.c_norm) DESC,
                        c.cell ASC
             ) AS rk
      FROM v, c
    ),
    qassign AS (SELECT vid, cell FROM ranked WHERE rk <= 2),
    sassign AS (SELECT vid, cell FROM ranked WHERE rk = 1),
    qv AS (SELECT a.vid, a.cell, v.embedding, v.nrm FROM qassign a
           JOIN v ON v.vec_id = a.vid WHERE a.vid < {_N_QUERIES}),
    sv AS (SELECT a.vid, a.cell, v.embedding, v.nrm FROM sassign a
           JOIN v ON v.vec_id = a.vid),
    pairs AS (
      SELECT q.vid AS query_id, s.cell,
             s.vid AS neighbor_id,
             {_sql_dot('q.embedding', 's.embedding')} / (q.nrm * s.nrm) AS cos_sim
      FROM qv q JOIN sv s ON q.cell = s.cell AND q.vid != s.vid
    )
    SELECT query_id, cell, neighbor_id, cos_sim, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM pairs
    ) WHERE rk <= 5
    """,
    tags=("similarity", "ivf", "topk"),
    doc="Multi-probe IVF (nprobe=2): the recall lever, still cell-joined.",
)
def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.ivf_topk(queries, emb, centroids, k=5, n_probes=2)


# --------------------------------------------------------------------------
# Customer order-count distribution (TPC-H Q13 shape): LEFT join with an
# extra join-side predicate, then a distribution-of-counts double
# aggregate — the "histogram of group sizes" shape.
# --------------------------------------------------------------------------
@register(
    "customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    tags=("tpch", "join", "agg"),
    doc="Q13-shape: outer join + group-size histogram (double aggregate).",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str):
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --------------------------------------------------------------------------
# Disjunctive-predicate join (TPC-H Q19 shape): OR of (brand, quantity
# band) conjuncts.  Catalyst extracts the common quantity envelope
# [1, 30] as a pushable conjunct and evaluates the disjunction post-join
# — the shape that breaks naive predicate-pushdown implementations.
# --------------------------------------------------------------------------
@register(
    "disjunctive_promo_revenue",
    oracle=f"""
    SELECT COUNT(*) AS n_lines, {_dsum("l_extendedprice")} AS gross
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "join", "pushdown"),
    doc="Q19-shape OR-of-ANDs predicate over a join.",
)
def disjunctive_promo_revenue(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.count("*").alias("n_lines"),
            _spark_dsum(F.col("l_extendedprice")).alias("gross"),
        )
    )


# --------------------------------------------------------------------------
# Wealthy quiet customers (TPC-H Q22 shape, adapted: every customer here
# has SOME order, so "no orders" becomes "no large orders"): global
# scalar average + NOT EXISTS anti join.  The average compare is
# integer-scaled exact decimal (bal * cnt > sum) — no float AVG at the
# predicate boundary.
# --------------------------------------------------------------------------
@register(
    "wealthy_quiet_customers",
    oracle="""
    WITH pos AS (
      SELECT CAST(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer
      WHERE c_acctbal > 0
    ),
    stats AS (SELECT SUM(bal) AS s, COUNT(*) AS n FROM pos)
    SELECT c.c_custkey, c.c_name,
           CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
    FROM customer c, stats
    WHERE CAST(c.c_acctbal AS DECIMAL(12,2)) * stats.n > stats.s
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """,
    tags=("tpch", "subquery", "anti-join"),
    doc="Q22-shape: scalar-average threshold + anti join, exact compare.",
)
def wealthy_quiet_customers(spark: SparkSession, sf_dir: str):
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    stats = customer.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal).alias("s"), F.count("*").alias("n")
    )
    big_orders = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(stats))
        .filter(bal * F.col("n") > F.col("s"))
        .join(big_orders, customer.c_custkey == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", bal.cast("double").alias("acctbal"))
    )


# --------------------------------------------------------------------------
# Returned-item customer ranking (TPC-H Q10 shape): revenue lost to
# returns per customer, top 20 — selective fact filter + join tree +
# ranked output with a unique tiebreak.
# --------------------------------------------------------------------------
@register(
    "returned_item_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM({_REV_DEC}) AS DOUBLE) AS lost_revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY lost_revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
    doc="Q10-shape: returns-filtered join tree, ranked with unique tiebreak.",
)
def returned_item_customers(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_name", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Supplier diversity per part class (TPC-H Q16 shape): NOT IN exclusion
# subquery + COUNT(DISTINCT) per group.  The NOT IN becomes a broadcast
# anti join; the distinct count is the two-level aggregate Spark plans
# with partial distinct-expansion.
# --------------------------------------------------------------------------
@register(
    "supplier_diversity",
    oracle="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
    tags=("tpch", "subquery", "agg"),
    doc="Q16-shape: NOT IN exclusion + per-class distinct supplier count.",
)
def supplier_diversity(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad_supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(bad_supp, li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


# --------------------------------------------------------------------------
# Late-line order priority counts (TPC-H Q4 shape): correlated EXISTS
# with a date-arithmetic inequality (any line shipped > 60 days after
# the order date).  The EXISTS decorrelates to a left-semi join; the
# date compare is integer-µs timestamp + exact interval in both engines.
# --------------------------------------------------------------------------
@register(
    "late_order_priorities",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("tpch", "subquery", "semi-join"),
    doc="Q4-shape correlated EXISTS with date inequality, as a semi join.",
)
def late_order_priorities(spark: SparkSession, sf_dir: str):
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# --------------------------------------------------------------------------
# Forecast revenue change (TPC-H Q6 shape): the pure scan query — every
# predicate (date range, discount band, quantity cap) is pushable, no
# join, one agg.  The plan should be scan -> filter -> partial/final agg
# with PushedFilters covering all three columns; at 100 TB this query IS
# its scan, so pushdown is the whole game.  Discount literals compare as
# doubles (same correctly-rounded literal in both engines); the summed
# product is decimal-exact.
# --------------------------------------------------------------------------
@register(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue_delta,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tpch", "scan", "pushdown", "agg"),
    doc="Q6-shape: all-pushable predicates, joinless revenue-delta agg.",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_discount").cast("decimal(4,2)")
            )
            .cast("double")
            .alias("revenue_delta"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Cross-nation shipping volume (TPC-H Q7 shape): the two-role dimension
# pattern — nation joins the fact tree TWICE (supplier's nation and
# customer's nation) with a disjunctive pair filter, grouped by the
# (supp_nation, cust_nation, year) triple.  Both nation joins broadcast;
# the only big shuffle is lineitem ⋈ orders.
# --------------------------------------------------------------------------
@register(
    "nation_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS volume,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
    tags=("tpch", "join", "agg"),
    doc="Q7-shape: dual-role nation dim with pair filter, yearly volume.",
)
def nation_volume_shipping(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            F.sum(rev).cast("double").alias("volume"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Product-line profit (TPC-H Q9 shape, adapted: the testdata has no
# partsupp, so supply cost is modeled as 80% of the part's retail price —
# still decimal-exact: DECIMAL * DECIMAL(2,1) * DECIMAL).  Pattern-
# filtered part dim joined into the fact, profit aggregated by
# (supplier nation, order year).
# --------------------------------------------------------------------------
@register(
    "product_type_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS order_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                    - CAST(p.p_retailprice AS DECIMAL(12,2))
                      * CAST(0.8 AS DECIMAL(2,1))
                      * CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
    tags=("tpch", "join", "agg"),
    doc="Q9-shape: pattern-filtered part dim, profit by nation-year.",
)
def product_type_profit(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ) - F.col("p_retailprice").cast("decimal(12,2)") * F.lit("0.8").cast(
        "decimal(2,1)"
    ) * F.col("l_quantity").cast("decimal(12,2)")
    return (
        li.join(
            F.broadcast(
                part.filter(F.col("p_name").like("%gear%")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


# --------------------------------------------------------------------------
# Late-shipment priority counts (TPC-H Q12 shape, adapted: the testdata
# has no ship mode, so lines group by l_linestatus; "late" = shipped
# more than 60 days after the order date).  The CASE-conditional double
# count over a date-arithmetic join predicate is the Q12 skeleton.
# --------------------------------------------------------------------------
@register(
    "late_shipment_priorities",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_linestatus
    """,
    tags=("tpch", "join", "agg", "datetime"),
    doc="Q12-shape: date-arithmetic predicate + CASE double counts.",
)
def late_shipment_priorities(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Promo revenue share (TPC-H Q14 shape): conditional-over-total ratio.
# Both sums are exact decimals; ONLY the final ratio is a double, and the
# expression (100.0 * promo / total) is written identically in both
# engines so the single float division is bit-identical.
# --------------------------------------------------------------------------
@register(
    "promo_revenue_share",
    oracle="""
    WITH r AS (
      SELECT CASE WHEN p.p_type = 'PROMO' THEN
               CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
             ELSE CAST(0 AS DECIMAL(12,2)) END AS promo_rev,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1996-04-01'
    )
    SELECT 100.0 * CAST(SUM(promo_rev) AS DOUBLE) / CAST(SUM(rev) AS DOUBLE)
             AS promo_share_pct,
           COUNT(*) AS n_lines
    FROM r
    """,
    tags=("tpch", "join", "agg"),
    doc="Q14-shape: conditional/total ratio, one float division.",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")),
              li.l_partkey == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_share_pct"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Top revenue supplier (TPC-H Q15 shape): an aggregate "view" (supplier
# quarterly revenue) consumed twice — once for the global MAX scalar,
# once to pick the suppliers achieving it.  The revenue equality compare
# is safe because both sides are the same exact-decimal-derived double.
# --------------------------------------------------------------------------
@register(
    "top_revenue_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    tags=("tpch", "subquery", "agg"),
    doc="Q15-shape: reused aggregate view + scalar-max equality pick.",
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    best = rev.agg(F.max("total_revenue").alias("best_rev"))
    return (
        supplier.select("s_suppkey", "s_name")
        .join(rev, F.col("s_suppkey") == rev.l_suppkey)
        .crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# LATERAL correlated subquery in FROM (SQL:1999, Spark 3.2+): per-nation
# top-2 customers via an ORDER BY ... LIMIT inside the lateral — the
# dual-dialect twin of topk_per_group's window form.  The IDENTICAL SQL
# string runs on Spark (temp views) and DuckDB; Spark decorrelates the
# lateral into a ranked window under the hood, so this also pins that
# rewrite's correctness.
# --------------------------------------------------------------------------
_LATERAL_SQL = """
    SELECT n.n_name, t.c_name,
           CAST(CAST(t.c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
    FROM nation n CROSS JOIN LATERAL (
      SELECT c_name, c_acctbal
      FROM customer WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t
"""


@register(
    "lateral_topk_per_nation",
    oracle=_LATERAL_SQL,
    tags=("sql", "lateral", "subquery", "dual-dialect"),
    doc="LATERAL per-group top-k: one SQL string, two engines, same rows.",
)
def lateral_topk_per_nation(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.sources.registry import register_views

    register_views(spark, sf_dir, only=("nation", "customer"))
    return spark.sql(_LATERAL_SQL)


# --------------------------------------------------------------------------
# Deterministic mode / argmax aggregate: the most frequent l_linestatus
# per return flag with an explicit (count DESC, value ASC) tiebreak.
# Built-in mode() is tie-nondeterministic in both engines, so the shape
# here is the two-level aggregate + struct-max argmax — the same trick
# as min_cost_supplier (Q2), kept hash-aggregable and map-side partial.
# --------------------------------------------------------------------------
@register(
    "agg_mode_argmax",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    r AS (
      SELECT l_returnflag, l_linestatus, n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, l_linestatus ASC) AS rk
      FROM c
    )
    SELECT l_returnflag, l_linestatus AS mode_status, n AS mode_n
    FROM r WHERE rk = 1
    """,
    tags=("agg", "mode", "argmax"),
    doc="Deterministic mode via two-level agg + struct-max argmax.",
)
def agg_mode_argmax(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))
    # argmax by (n DESC, status ASC) == max of struct(n, <inverted status>);
    # statuses are single chars, so invert via negated code point.
    pick = F.max(
        F.struct(
            F.col("n"),
            (-F.ascii("l_linestatus")).alias("inv"),
            F.col("l_linestatus"),
        )
    ).alias("p")
    return counts.groupBy("l_returnflag").agg(pick).select(
        "l_returnflag",
        F.col("p.l_linestatus").alias("mode_status"),
        F.col("p.n").alias("mode_n"),
    )


# --------------------------------------------------------------------------
# Stratified deterministic sampling: per-stratum keep rates (keep all
# rare 'error' events, thin the common ones) via the same md5 bucket as
# sample_hash_agg — map-side only, partitioning-independent, and a row's
# fate is stable across re-runs.  The dataset-mixture primitive at the
# row level (operators/sampling.py::stratified_sample).
# --------------------------------------------------------------------------
_STRATA_RATES = {"click": 0.5, "error": 1.0, "purchase": 0.25, "view": 0.05}

_SQL_EVENT_BUCKET = (
    "((strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1)"
)

_SQL_STRATA_BOUND = (
    "CASE event_type "
    + " ".join(
        f"WHEN '{s}' THEN {round(r * 256)}" for s, r in sorted(_STRATA_RATES.items())
    )
    + " ELSE 0 END"
)


@register(
    "sample_stratified",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE {_SQL_EVENT_BUCKET} < {_SQL_STRATA_BOUND}
    GROUP BY event_type
    """,
    tags=("sampling", "stratified"),
    doc="Per-stratum md5 keep rates; map-side, partitioning-independent.",
)
def sample_stratified(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    return (
        SA.stratified_sample(ev, "event_type", "event_id", _STRATA_RATES)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


# --------------------------------------------------------------------------
# Winsorized (robust) aggregation: clip each group's values at its own
# discrete p05/p95 before summing, so a handful of outliers can't move a
# 100 TB metric.  Bounds come from rank arithmetic (value at position
# ceil(p*n) — percentile_disc semantics, deterministic under ties because
# the *value* at a rank is order-unique even when row_number isn't).
#
# Scale shape (fixed round 12): the original spelling ranked RAW rows
# with a window partitioned by l_returnflag — only 3 partitions, each
# data-scale, i.e. three single-task sorts (the sf10 probe measured the
# superlinear bite: 1.08 s at sf0.1 → 140 s at sf10, 130× on 100× —
# while the doctrine-shaped trimmed mean stayed linear).  Now it rides
# the same machinery as agg_trimmed_mean: collapse to distinct-value
# CELLS (grp, v, cnt), run the distributed grouped prefix scan for
# cumulative counts, read both percentile values as min(v | cum >= rank)
# (rank arithmetic in pure integers: ceil(p·n) = (p_num·n + den-1) div
# den, exactly DuckDB's decimal-ceil), and assemble the clipped sum and
# clip counters FROM THE CELLS — the raw table is scanned exactly once.
# --------------------------------------------------------------------------
@register(
    "agg_winsorized",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    bounds AS (
      SELECT l_returnflag,
             MIN(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT) THEN v END) AS lo,
             MIN(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN v END) AS hi
      FROM r GROUP BY l_returnflag
    )
    SELECT r.l_returnflag, MAX(r.n) AS n,
           -- DuckDB LEAST/GREATEST promote DECIMAL to DOUBLE; recast so the
           -- sum stays exact-decimal (order-insensitive) like the Spark side
           CAST(SUM(CAST(LEAST(GREATEST(r.v, b.lo), b.hi) AS DECIMAL(12,2)))
                AS DOUBLE) AS sum_winsorized,
           COUNT(*) FILTER (WHERE r.v < b.lo) AS n_clipped_lo,
           COUNT(*) FILTER (WHERE r.v > b.hi) AS n_clipped_hi
    FROM r JOIN bounds b ON r.l_returnflag = b.l_returnflag
    GROUP BY r.l_returnflag
    """,
    tags=("agg", "robust", "quantiles"),
    doc="Per-group p05/p95 winsorized sum with clip accounting.",
)
def agg_winsorized(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.prefix import grouped_running_sum

    li = read_table(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("decimal(12,2)")
    cells = (
        li.select("l_returnflag", v.alias("v"))
        .groupBy("l_returnflag", "v")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .transform(share)  # two consumers: prefix scan + final agg
    )
    run = grouped_running_sum(cells, ["l_returnflag"], ["v"], "cnt", out_col="u")
    tn = cells.groupBy("l_returnflag").agg(F.sum("cnt").cast("bigint").alias("n"))
    # ceil(0.05·n) and ceil(0.95·n) in pure integer arithmetic — bit-equal
    # to DuckDB's exact-decimal CEIL(0.05 * n) at any n (a double 0.05·n
    # can land an ulp above an integer and ceil one rank too far).
    lo_rank = F.expr("(n + 19) div 20")
    hi_rank = F.expr("(19 * n + 19) div 20")
    bounds = (
        run.join(F.broadcast(tn), "l_returnflag")
        .groupBy("l_returnflag", "n")
        .agg(
            # u is the cumulative count THROUGH v, so the value at rank k
            # is the smallest v whose u reaches k.
            F.min(F.when(F.col("u") >= lo_rank, F.col("v"))).alias("lo"),
            F.min(F.when(F.col("u") >= hi_rank, F.col("v"))).alias("hi"),
        )
    )
    clipped = F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi"))
    return (
        cells.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag", "n")
        .agg(
            # cnt·clipped summed in exact decimal = the oracle's row sum
            F.sum(F.col("cnt").cast("decimal(38,0)") * clipped)
            .cast("double")
            .alias("sum_winsorized"),
            F.sum(F.when(F.col("v") < F.col("lo"), F.col("cnt")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_clipped_lo"),
            F.sum(F.when(F.col("v") > F.col("hi"), F.col("cnt")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_clipped_hi"),
        )
        .select("l_returnflag", "n", "sum_winsorized", "n_clipped_lo", "n_clipped_hi")
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection: 64-dim embeddings onto 8
# deterministic ±1 directions (Achlioptas-style Rademacher), plus the
# sign-bit bucket — the dimensionality-reduction front end that lets
# downstream ANN shuffle 8 doubles instead of 64 floats.  ±1 multiplies
# are exact in FP and each y_j is a strict left-to-right fold, so both
# engines produce bit-identical projections; the oracle embeds the same
# matrix literals the operator derives from md5.
# --------------------------------------------------------------------------
_RP_DIM_IN, _RP_DIM_OUT = 64, 8
# Bucket-occupancy cap for the RP-bucket pair join (VERDICT r5 #1): the
# 2^out_dim key space is fixed, so occupancy grows linearly with the
# corpus and pair fan-out quadratically — capped before pair generation,
# mirrored between rp_bucket_topk_pairs(max_bucket_df=...) and the
# oracle's COUNT(*) OVER (PARTITION BY rp_bucket) filter.
_RP_BUCKET_DF = 50


def _rp_oracle() -> str:
    mat = S.rademacher_matrix(_RP_DIM_IN, _RP_DIM_OUT)
    cols, bucket_terms = [], []
    for j in range(_RP_DIM_OUT):
        lit = "[" + ", ".join(str(v) for v in mat[j]) + "]"
        cols.append(
            f"list_reduce(list_transform(range(1, {_RP_DIM_IN} + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i]), "
            f"(p, q) -> p + q) AS y{j}"
        )
        bucket_terms.append(f"CASE WHEN y{j} >= 0 THEN {2 ** (_RP_DIM_OUT - 1 - j)} ELSE 0 END")
    return f"""
    WITH proj AS (SELECT vec_id, {', '.join(cols)} FROM embeddings)
    SELECT vec_id, {', '.join(f'y{j}' for j in range(_RP_DIM_OUT))},
           CAST({' + '.join(bucket_terms)} AS INT) AS rp_bucket
    FROM proj
    """


@register(
    "sim_random_projection",
    oracle=_rp_oracle(),
    tags=("similarity", "projection", "lsh"),
    doc="JL Rademacher projection + sign-bit bucket; map-side, fold-exact.",
)
def sim_random_projection(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    return S.random_projection(emb, in_dim=_RP_DIM_IN, out_dim=_RP_DIM_OUT).select(
        "vec_id", *[f"y{j}" for j in range(_RP_DIM_OUT)], "rp_bucket"
    )


# --------------------------------------------------------------------------
# Reduced-space ANN: bucket vectors by the 8-bit random-projection sign
# key, pair within buckets, verify exact cosine in the ORIGINAL 64-dim
# space — the complete JL -> LSH -> verify path.  Candidate generation
# touches 8 doubles per vector; the full embedding is only read for the
# bucket-confined verify.  Top-20 with a unique tiebreak.
# --------------------------------------------------------------------------
def _rp_bucket_oracle() -> str:
    mat = S.rademacher_matrix(_RP_DIM_IN, _RP_DIM_OUT)
    ys, bucket_terms = [], []
    for j in range(_RP_DIM_OUT):
        lit = "[" + ", ".join(str(v) for v in mat[j]) + "]"
        ys.append(
            f"list_reduce(list_transform(range(1, {_RP_DIM_IN} + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i]), "
            f"(p, q) -> p + q) AS y{j}"
        )
        bucket_terms.append(
            f"CASE WHEN y{j} >= 0 THEN {2 ** (_RP_DIM_OUT - 1 - j)} ELSE 0 END"
        )
    return f"""
    WITH proj0 AS (SELECT vec_id, {", ".join(ys)} FROM embeddings),
    proj1 AS (
      SELECT vec_id, CAST({" + ".join(bucket_terms)} AS INT) AS rp_bucket
      FROM proj0
    ),
    proj AS (
      SELECT vec_id, rp_bucket FROM (
        SELECT vec_id, rp_bucket,
               COUNT(*) OVER (PARTITION BY rp_bucket) AS bdf
        FROM proj1
      ) WHERE bdf <= {_RP_BUCKET_DF}
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM proj a JOIN proj b
        ON a.rp_bucket = b.rp_bucket AND a.vec_id < b.vec_id
    )
    SELECT p.id_a, p.id_b,
           {_sql_dot("ea.embedding", "eb.embedding")}
             / (sqrt({_sql_dot("ea.embedding", "ea.embedding")})
                * sqrt({_sql_dot("eb.embedding", "eb.embedding")})) AS cos_sim
    FROM pairs p
    JOIN embeddings ea ON ea.vec_id = p.id_a
    JOIN embeddings eb ON eb.vec_id = p.id_b
    ORDER BY cos_sim DESC, id_a ASC, id_b ASC
    LIMIT 20
    """


@register(
    "sim_rp_bucket_join",
    oracle=_rp_bucket_oracle(),
    tags=("similarity", "projection", "lsh"),
    doc="JL-reduced sign-bucket join, exact-cosine verify in full space.",
)
def sim_rp_bucket_join(spark: SparkSession, sf_dir: str):
    # Full pipeline (bucket -> pair -> candidate-confine -> size-guarded
    # verify) lives in operators/similarity.py::rp_bucket_topk_pairs:
    # the corpus is never broadcast or shuffled whole, and the verify
    # joins are hint-free so AQE picks broadcast vs shuffle from the
    # RUNTIME candidate size (a mandatory broadcast OOMs under bucket
    # skew; test_properties pins correctness on a 50%-hot-bucket corpus).
    emb = read_table(spark, sf_dir, "embeddings")
    return S.rp_bucket_topk_pairs(
        emb,
        in_dim=_RP_DIM_IN,
        out_dim=_RP_DIM_OUT,
        limit=20,
        max_bucket_df=_RP_BUCKET_DF,
    )


# --------------------------------------------------------------------------
# Mergeable quantiles: fixed-width histogram estimate vs exact
# PERCENTILE_CONT, side by side.  The histogram is the 100 TB path —
# constant bucket edges (literals, no data-dependent bounds pass) make
# per-shard histograms cell-summable exactly like the CMS, and the
# estimate needs only the bucket counts: one map + one combinable
# aggregate, no sort anywhere near the fact.  The exact twin (per-group
# rank arithmetic, groups fit a partition) prices the estimate's error
# as data.  The tiny histogram table feeds both quantile picks through
# one checkpoint; two scans of lineitem are inherent to an
# estimate-vs-truth report (the sketch_kmv_distinct precedent).
# --------------------------------------------------------------------------
_HQ_W = 5000.0


def _sql_hq_est(q: float) -> str:
    # CAST the q literal: DuckDB parses 0.9 as DECIMAL(2,1) and decimal
    # arithmetic diverges from the engine's double path in the last bits.
    # Target rank (n-1)*q + 1, 1-based — the SAME convention
    # PERCENTILE_CONT interpolates at (ADVICE r6 alignment; the earlier
    # q*n rank carried a systematic half-step offset vs the exact twin).
    qd = f"CAST({q} AS DOUBLE)"
    rk = f"({qd} * (n - 1) + 1)"
    return f"""SELECT l_returnflag, {qd} AS q,
         CAST(bucket AS DOUBLE) * {_HQ_W} + {_HQ_W} * (({rk} - cum_prev) / cnt)
           AS est_value
  FROM h WHERE cum_prev < {rk} AND {rk} <= cum"""


def _sql_pct_hq(p: float) -> str:
    pos = f"(n - 1) * {p}"
    flo, frac = f"FLOOR({pos})", f"({pos} - FLOOR({pos}))"
    return (
        f"SUM(CASE WHEN rn = {flo} THEN v * (1 - {frac}) "
        f"WHEN {frac} > 0 AND rn = {flo} + 1 THEN v * {frac} "
        f"ELSE 0.0 END)"
    )


@register(
    "sketch_histogram_quantiles",
    oracle=f"""
    WITH hist AS (
      SELECT l_returnflag, CAST(FLOOR(l_extendedprice / {_HQ_W}) AS INT) AS bucket,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    h AS (
      SELECT l_returnflag, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) - cnt
               AS cum_prev,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM hist
    ),
    est AS (
      {_sql_hq_est(0.5)}
      UNION ALL
      {_sql_hq_est(0.9)}
    ),
    r AS (
      SELECT l_returnflag, l_extendedprice AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    ex AS (
      SELECT l_returnflag, {_sql_pct_hq(0.5)} AS p50, {_sql_pct_hq(0.9)} AS p90
      FROM r GROUP BY l_returnflag
    ),
    exr AS (
      SELECT l_returnflag, CAST(0.5 AS DOUBLE) AS q, p50 AS exact_value FROM ex
      UNION ALL
      SELECT l_returnflag, CAST(0.9 AS DOUBLE) AS q, p90 AS exact_value FROM ex
    )
    SELECT e.l_returnflag, e.q, e.est_value, x.exact_value,
           e.est_value - x.exact_value AS err
    FROM est e JOIN exr x ON e.l_returnflag = x.l_returnflag AND e.q = x.q
    """,
    tags=("sketch", "quantiles", "histogram"),
    doc="Mergeable fixed-bucket histogram quantile estimate vs exact, error as data.",
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.stats import exact_group_quantiles

    li = read_table(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / F.lit(_HQ_W)).cast("int")
    hist = li.groupBy("l_returnflag", bucket.alias("bucket")).agg(
        F.count("*").alias("cnt")
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("bucket")
    h = hist.select(
        "*",
        (F.sum("cnt").over(wcum) - F.col("cnt")).alias("cum_prev"),
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("l_returnflag")).alias("n"),
    ).transform(share)
    parts = []
    for q in (0.5, 0.9):
        # Target rank (n-1)*q + 1: PERCENTILE_CONT's interpolation
        # convention (mirrored in _sql_hq_est), so estimate vs exact
        # differ only by bucket coarseness, not by a rank offset.
        rk = F.lit(q) * (F.col("n") - F.lit(1)) + F.lit(1)
        est = F.col("bucket").cast("double") * F.lit(_HQ_W) + F.lit(_HQ_W) * (
            (rk - F.col("cum_prev")) / F.col("cnt")
        )
        parts.append(
            h.filter((F.col("cum_prev") < rk) & (rk <= F.col("cum"))).select(
                "l_returnflag", F.lit(q).alias("q"), est.alias("est_value")
            )
        )
    est_df = parts[0].unionByName(parts[1])
    ex = exact_group_quantiles(
        li, "l_extendedprice", ["l_returnflag"], ps=(0.5, 0.9)
    )
    exact_rows = ex.select(
        "l_returnflag", F.lit(0.5).alias("q"), F.col("p50").alias("exact_value")
    ).unionByName(
        ex.select(
            "l_returnflag", F.lit(0.9).alias("q"), F.col("p90").alias("exact_value")
        )
    )
    return est_df.join(exact_rows, ["l_returnflag", "q"]).select(
        "l_returnflag",
        "q",
        "est_value",
        "exact_value",
        (F.col("est_value") - F.col("exact_value")).alias("err"),
    )


# --------------------------------------------------------------------------
# Exact WEIGHTED median per group (lower weighted median: the smallest
# value whose cumulative weight reaches half the group's total) — the
# op behind "median price weighted by quantity sold", which the
# unweighted quantile family cannot express.  Integer weight sums keep
# the half-total comparison exact (2*cumw >= totw — no division, no
# doubles until the output value itself).
#
# Scale shape (fixed round 12): the old spelling carried the documented
# "groups must individually fit a partition" bound — a per-group window
# sort over RAW rows with only 3 partition keys, the same class the
# sf10 probe caught superlinear on agg_winsorized.  Now unbounded:
# collapse to distinct-value cells (grp, v, Σweight), cumulative weight
# through the distributed grouped prefix scan, answer = min v with
# 2·cumw >= totw.  The first row-level crossing always lands inside
# that v's run, so the cell-level answer is identical to the old
# row-level one (and to the oracle's row_number spelling).
# --------------------------------------------------------------------------
@register(
    "agg_weighted_median",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS v,
             CAST(l_quantity AS BIGINT) AS w,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ) AS cumw,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
             ) AS totw
      FROM lineitem
    ),
    hit AS (
      SELECT l_returnflag, v, cumw, totw,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cumw, v) AS rn
      FROM r WHERE 2 * cumw >= totw
    )
    SELECT l_returnflag, v AS weighted_median,
           CAST(totw AS BIGINT) AS total_weight
    FROM hit WHERE rn = 1
    """,
    tags=("agg", "quantiles", "weighted"),
    doc="Exact lower weighted median per group (integer cumulative-weight rank).",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.prefix import grouped_running_sum

    li = read_table(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy("l_returnflag", F.col("l_extendedprice").alias("v"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w"))
        .transform(share)  # two consumers: prefix scan + totals
    )
    run = grouped_running_sum(cells, ["l_returnflag"], ["v"], "w", out_col="cumw")
    tot = cells.groupBy("l_returnflag").agg(
        F.sum("w").cast("bigint").alias("totw")
    )
    return (
        run.join(F.broadcast(tot), "l_returnflag")
        .filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag", "totw")
        .agg(F.min("v").alias("weighted_median"))
        .select(
            "l_returnflag",
            "weighted_median",
            F.col("totw").cast("bigint").alias("total_weight"),
        )
    )


# --------------------------------------------------------------------------
# IVF recall curve: recall@5 of the cell-probed search vs brute-force
# truth at nprobe = 1/2/3 — the measured speed/recall trade-off an ANN
# deployment reads before picking nprobe (the dedup_recall_report
# doctrine: report QUALITY as data, don't assert it).  Truth is the
# exact cosine top-5; each probe level re-ranks only its probed cells'
# inverted lists; hits are exact id-pair joins and recall one IEEE
# division — bit-exact.  Scale shape: the |Q|-row truth/ivf sides are
# query-cardinality; the only corpus-wide work is the cell assignment
# the IVF tier already does.
# --------------------------------------------------------------------------
@register(
    "sim_ivf_recall_curve",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    c AS (
      SELECT vec_id AS cell, embedding AS c_vec, nrm AS c_norm
      FROM v WHERE vec_id < {_N_CELLS}
    ),
    ranks AS (
      SELECT v.vec_id AS vid, c.cell,
             ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_sql_dot('v.embedding', 'c.c_vec')} / (v.nrm * c.c_norm) DESC,
                        c.cell ASC
             ) AS crk
      FROM v, c
    ),
    ca AS (SELECT vid, cell FROM ranks WHERE crk = 1),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_sql_dot('q.embedding', 's.embedding')} / (q.nrm * s.nrm) DESC,
                          s.vec_id ASC
               ) AS rk
        FROM v q, v s WHERE q.vec_id < {_N_QUERIES} AND s.vec_id != q.vec_id
      ) WHERE rk <= 5
    ),
    nt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries
      FROM truth
    ),
    probes(nprobe) AS (VALUES (1), (2), (3)),
    ivf AS (
      SELECT pr.nprobe, qr.vid AS query_id, cc.vid AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY pr.nprobe, qr.vid
               ORDER BY {_sql_dot('vq.embedding', 'vs.embedding')} / (vq.nrm * vs.nrm) DESC,
                        cc.vid ASC
             ) AS rk
      FROM probes pr
      JOIN ranks qr ON qr.crk <= pr.nprobe AND qr.vid < {_N_QUERIES}
      JOIN ca cc ON cc.cell = qr.cell AND cc.vid != qr.vid
      JOIN v vq ON vq.vec_id = qr.vid
      JOIN v vs ON vs.vec_id = cc.vid
    ),
    h AS (
      SELECT i.nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM ivf i JOIN truth t
        ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
      WHERE i.rk <= 5
      GROUP BY i.nprobe
    )
    SELECT pr.nprobe, nt.n_queries, nt.n_truth,
           COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(nt.n_truth AS DOUBLE)
             AS recall
    FROM probes pr LEFT JOIN h USING (nprobe) CROSS JOIN nt
    """,
    tags=("similarity", "ivf", "recall", "eval"),
    doc="IVF recall@5 vs brute force at nprobe 1/2/3; quality as data.",
)
def sim_ivf_recall_curve(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    centroids = emb.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    truth = (
        S.brute_force_topk(queries, emb, k=5)
        .select("query_id", "neighbor_id")
        .transform(share)  # four consumers: counts + 3 hit joins
    )
    nt = truth.agg(
        F.count("*").cast("bigint").alias("n_truth"),
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
    )
    parts = []
    for p in (1, 2, 3):
        ivf = S.ivf_topk(queries, emb, centroids, k=5, n_probes=p).select(
            "query_id", "neighbor_id"
        )
        parts.append(
            ivf.join(truth, ["query_id", "neighbor_id"])
            .agg(F.count("*").cast("bigint").alias("n_hits"))
            .select(F.lit(p).alias("nprobe"), "n_hits")
        )
    hits = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return hits.crossJoin(F.broadcast(nt)).select(
        "nprobe",
        "n_queries",
        "n_truth",
        "n_hits",
        (F.col("n_hits").cast("double") / F.col("n_truth").cast("double")).alias(
            "recall"
        ),
    )


# --------------------------------------------------------------------------
# Exact MODE per group with a deterministic tiebreak (highest count,
# then smallest value) — the categorical central-tendency aggregate the
# quantile family can't express.  Shape: one (group, value) count (map-
# side combinable) then an argmax via struct-MAX — another combinable
# aggregate, never a per-group sort or window (the min_cost_supplier
# argmin pattern).  Ties: MAX of struct(n, -value-as-sort-proxy) —
# encoded as struct(n DESC, value ASC) via negated value so the single
# MAX realizes the whole tiebreak.
# --------------------------------------------------------------------------
@register(
    "agg_mode_exact",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    r AS (
      SELECT l_returnflag, v, n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, v ASC) AS rk
      FROM c
    )
    SELECT l_returnflag, v AS mode_quantity, n AS mode_count
    FROM r WHERE rk = 1
    """,
    tags=("agg", "mode"),
    doc="Exact per-group mode via combinable struct-argmax; deterministic ties.",
)
def agg_mode_exact(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("v")
    ).agg(F.count("*").cast("bigint").alias("n"))
    best = c.groupBy("l_returnflag").agg(
        F.max(F.struct(F.col("n"), (-F.col("v")).alias("nv"))).alias("b")
    )
    return best.select(
        "l_returnflag",
        (-F.col("b.nv")).cast("bigint").alias("mode_quantity"),
        F.col("b.n").cast("bigint").alias("mode_count"),
    )


# --------------------------------------------------------------------------
# Exact 10%-trimmed mean per group — the robust-center companion to
# agg_winsorized (winsorize CLIPS the tails at the percentile bounds;
# trimming DROPS them).  Scale shape: per-(group, value) counts first
# (map-side combinable, collapses duplicates), then ONE grouped
# two-phase prefix scan gives each value-run its inclusive rank span
# [u-cnt, u]; the kept weight is the overlap of that span with the kept
# rank window (k, n-k], pure integer arithmetic per row — no per-group
# sort, no window over raw rows, no collapse at any group size.  The
# trimmed sum rides DECIMAL(38,0); the single float is the final
# division (VARCHAR-routed on the oracle side per the >2^64 cast rule).
# Oracle: per-group sorted-list slice — O(group) at oracle scale only.
# --------------------------------------------------------------------------
_TRIM_FRAC_DEN = 10  # drop floor(n/10) rows from EACH tail


@register(
    "agg_trimmed_mean",
    oracle=f"""
    WITH v AS (
      SELECT l_returnflag AS grp,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      FROM lineitem
    ),
    g AS (
      SELECT grp, list_sort(list(c)) AS xs, CAST(COUNT(*) AS BIGINT) AS n
      FROM v GROUP BY grp
    ),
    t AS (
      SELECT grp, n, n // {_TRIM_FRAC_DEN} AS k,
             CAST(n - 2 * (n // {_TRIM_FRAC_DEN}) AS BIGINT) AS n_kept,
             CAST(list_sum(list_slice(xs, n // {_TRIM_FRAC_DEN} + 1,
                                      n - n // {_TRIM_FRAC_DEN}))
                  AS HUGEINT) AS s
      FROM g
    )
    SELECT grp, n, n_kept,
           CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n_kept AS DOUBLE)
             / CAST(100 AS DOUBLE) AS trimmed_mean
    FROM t
    """,
    tags=("agg", "robust"),
    doc="Exact per-group 10%-trimmed mean via rank-span overlap on the "
    "grouped prefix scan; no per-group sort at any cardinality.",
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.prefix import grouped_running_sum

    li = read_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("grp"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    cells = v.groupBy("grp", "c").agg(F.count("*").cast("bigint").alias("cnt"))
    run = grouped_running_sum(cells, ["grp"], ["c"], "cnt", out_col="u")
    tn = cells.groupBy("grp").agg(F.sum("cnt").cast("bigint").alias("n"))
    # pure integer division (Spark `div`), mirroring the oracle's n // 10
    # exactly at any n — no float rounding question past 2^53
    k = F.expr(f"n div {_TRIM_FRAC_DEN}")
    j = run.join(F.broadcast(tn), "grp").select(
        "grp",
        "c",
        "n",
        k.alias("k"),
        # overlap of this value-run's rank span (u-cnt, u] with (k, n-k]
        (
            F.least(F.col("u"), F.col("n") - k)
            - F.greatest(F.col("u") - F.col("cnt"), k)
        ).alias("w"),
    )
    g = (
        j.filter(F.col("w") > 0)
        .groupBy("grp", "n", "k")
        .agg(F.sum(F.col("c").cast("decimal(38,0)") * F.col("w")).alias("s"))
    )
    n_kept = (F.col("n") - 2 * F.col("k")).cast("bigint")
    return g.select(
        "grp",
        "n",
        n_kept.alias("n_kept"),
        (
            F.col("s").cast("double")
            / n_kept.cast("double")
            / F.lit(100.0)
        ).alias("trimmed_mean"),
    )


# --------------------------------------------------------------------------
# Bloom-prefiltered join — the 100 TB join-pruning pattern as a
# first-class, oracle-verified entry: when the build side (urgent
# orders) is too big to broadcast but its KEY SET fits a few KB of
# bloom words, the fact (lineitem) takes k map-side broadcast joins
# against the word table and only the surviving rows enter the exact
# shuffle join.  No false negatives (the exact join result is
# IDENTICAL to the unfiltered join — pinned by n_matched); false
# positives only cost shuffled bytes and are REPORTED (n_false_pos), so
# the m/k sizing trade is visible as data.  The bloom bits are
# deterministic md5 chunks (operators/sketches.py:_bloom_positions), so
# DuckDB replays membership exactly via a distinct-position set.
# --------------------------------------------------------------------------
_BJ_M = 65536  # ~21 bits/key at sf0.01's ~3k urgent orders -> FP ~0.1%
_BJ_SALT = "bj"


def _sql_bj_pos(key_expr: str, j: int) -> str:
    from fotmobdatapipeline_spark.plans.llmdata import _sql_hex32

    chunk = f"substr(md5('{_BJ_SALT}:' || {key_expr}), {j * 8 + 1}, 8)"
    return f"({_sql_hex32(chunk)}) % {_BJ_M}"


@register(
    "join_bloom_prefilter",
    oracle=lambda: f"""
    WITH bk AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    pos AS (
      SELECT DISTINCT p FROM (
        {" UNION ALL ".join(
            f"SELECT {_sql_bj_pos('CAST(k AS VARCHAR)', j)} AS p FROM bk"
            for j in range(3))}
      )
    ),
    pk AS (
      SELECT k, ({" AND ".join(
          f"{_sql_bj_pos('CAST(k AS VARCHAR)', j)} IN (SELECT p FROM pos)"
          for j in range(3))}) AS pass
      FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem)
    ),
    l AS (
      SELECT li.l_orderkey AS k, li.l_extendedprice, pk.pass
      FROM lineitem li JOIN pk ON pk.k = li.l_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN k IN (SELECT k FROM bk) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN pass AND k NOT IN (SELECT k FROM bk)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN k IN (SELECT k FROM bk)
                    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS matched_revenue
    FROM l
    """,
    tags=("join", "sketch", "bloom", "scale"),
    doc="Bloom-prefiltered fact join with surfaced false-positive cost; "
    "map-side word-table broadcasts, exact join on survivors.",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import (
        bloom_filter_table,
        bloom_prefilter,
    )

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    bk = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .transform(share)  # two consumers: bloom build + exact join
    )
    bloom = bloom_filter_table(bk, "k", m_bits=_BJ_M, salt=_BJ_SALT)
    probed = bloom_prefilter(
        li.select(F.col("l_orderkey").alias("k"), "l_extendedprice"),
        "k",
        bloom,
        m_bits=_BJ_M,
        salt=_BJ_SALT,
        out_col="pass",
    )
    probed = share(probed)  # counts + survivors join
    survivors = probed.filter(F.col("pass")).join(
        bk.withColumn("matched", F.lit(1)), "k", "left"
    )
    base = probed.agg(
        F.count("*").cast("bigint").alias("n_probe"),
        F.sum(F.col("pass").cast("long")).cast("bigint").alias("n_pass"),
    )
    post = survivors.agg(
        # coalesce(.., 0): with an EMPTY build side (no urgent orders)
        # zero rows survive the prefilter and SUM-over-empty is NULL,
        # while the oracle's CASE..ELSE 0 sums over all probe rows and
        # returns 0; matched_revenue stays NULL on BOTH sides (no ELSE
        # branch in the oracle's CASE) so it needs no coalesce.
        F.coalesce(
            F.sum(F.coalesce(F.col("matched"), F.lit(0))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_matched"),
        F.coalesce(
            F.sum((F.col("matched").isNull()).cast("long")), F.lit(0)
        )
        .cast("bigint")
        .alias("n_false_pos"),
        F.sum(
            F.when(
                F.col("matched").isNotNull(),
                F.col("l_extendedprice").cast("decimal(18,2)"),
            )
        )
        .cast("double")
        .alias("matched_revenue"),
    )
    return base.crossJoin(F.broadcast(post))


# --------------------------------------------------------------------------
# Zone-map audit: the data-skipping ledger a lakehouse layout lives or
# dies by.  Shards are the classic time-partitioned layout
# (year-quarter of l_shipdate); each shard's zone map is its per-column
# min/max/count, and the entry EVALUATES a concrete predicate
# (l_shipdate in 1995-H1) against the maps — ``skip_ship`` says the
# whole shard is provably irrelevant without reading a row.  On this
# range layout most shards skip by construction; the contrast with a
# hash layout (where every shard spans the full date range and nothing
# skips) is pinned in tests/test_zorder.py::test_zone_maps_hash_layout
# _skips_nothing, not duplicated here.  Pure group-by aggregates;
# shards are calendar-scale, never data-scale.
# --------------------------------------------------------------------------
@register(
    "layout_zone_maps",
    oracle="""
    WITH ranged AS (
      SELECT (CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) - 1992) * 4
             + (CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) - 1) // 3
               AS shard,
             l_shipdate, CAST(l_extendedprice AS DECIMAL(12,2)) AS price
      FROM lineitem
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_shipdate) AS VARCHAR) AS d_min,
           CAST(MAX(l_shipdate) AS VARCHAR) AS d_max,
           CAST(MIN(price) AS DOUBLE) AS p_min,
           CAST(MAX(price) AS DOUBLE) AS p_max,
           (MAX(l_shipdate) < DATE '1995-01-01'
            OR MIN(l_shipdate) > DATE '1995-06-30') AS skip_ship
    FROM ranged GROUP BY shard
    """,
    tags=("layout", "dq", "scale"),
    doc="Per-shard zone maps (time-partitioned layout) with a concrete "
    "predicate evaluated against them — the data-skipping ledger.",
)
def layout_zone_maps(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    shard = (F.year("l_shipdate") - 1992) * 4 + (
        (F.month("l_shipdate") - 1) / 3
    ).cast("bigint")
    g = (
        li.select(
            shard.cast("bigint").alias("shard"),
            "l_shipdate",
            F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("l_shipdate").alias("dmin"),
            F.max("l_shipdate").alias("dmax"),
            F.min("price").cast("double").alias("p_min"),
            F.max("price").cast("double").alias("p_max"),
        )
    )
    return g.select(
        "shard",
        "n_rows",
        F.col("dmin").cast("string").alias("d_min"),
        F.col("dmax").cast("string").alias("d_max"),
        "p_min",
        "p_max",
        (
            (F.col("dmax") < F.lit("1995-01-01").cast("date"))
            | (F.col("dmin") > F.lit("1995-06-30").cast("date"))
        ).alias("skip_ship"),
    )


# --------------------------------------------------------------------------
# Geospatial tier — grid binning and a banded 2-D neighbor join, the
# spatial siblings of join_range_banded's 1-D band pattern.  The tables
# carry no coordinates, so each entity gets a DETERMINISTIC synthetic
# position from md5 chunks of its key (the ab_variant / synth-column
# precedent), in INTEGER MICRO-DEGREES: every bin id, distance and
# threshold below is exact int64 arithmetic — no sin/cos/haversine (libm
# transcendentals are not bit-portable across engines; the planar
# degree-space metric keeps the tier exact and still exercises the real
# scale mechanics: cell partitioning, bounded 3x3 neighbor fan-out,
# post-filter on the exact metric).
# --------------------------------------------------------------------------
_GEO_CELL = 15_000_000  # 15-degree cells for occupancy stats
_GEO_JCELL = 5_000_000  # 5-degree cells = neighbor-join band width
_GEO_R2 = 25_000_000_000_000  # (5 degrees)^2 in micro-degrees^2


def _sql_geo(axis: str, key_expr: str, span: int, shift: int) -> str:
    from fotmobdatapipeline_spark.plans.llmdata import _sql_hex32

    chunk = f"substr(md5('{axis}:' || {key_expr}), 1, 8)"
    return f"(({_sql_hex32(chunk)}) % {span} - {shift})"


def _geo_col(axis: str, key) -> F.Column:
    span, shift = (
        (180_000_001, 90_000_000) if axis == "lat" else (360_000_001, 180_000_000)
    )
    h = F.md5(F.concat(F.lit(f"{axis}:"), key.cast("string")))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % span - shift
    ).cast("bigint")


def _sql_geo_lat(key_expr: str) -> str:
    return _sql_geo("lat", key_expr, 180_000_001, 90_000_000)


def _sql_geo_lon(key_expr: str) -> str:
    return _sql_geo("lon", key_expr, 360_000_001, 180_000_000)


@register(
    "geo_cell_stats",
    oracle=f"""
    WITH pos AS (
      SELECT c_custkey,
             {_sql_geo_lat("CAST(c_custkey AS VARCHAR)")} AS lat,
             {_sql_geo_lon("CAST(c_custkey AS VARCHAR)")} AS lon
      FROM customer
    ),
    b AS (
      SELECT ((lat + 90000000) // {_GEO_CELL}) AS cell_y,
             ((lon + 180000000) // {_GEO_CELL}) AS cell_x,
             lat, lon
      FROM pos
    )
    SELECT CAST(cell_x AS BIGINT) AS cell_x, CAST(cell_y AS BIGINT) AS cell_y,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(lat) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / CAST(1000000 AS DOUBLE) AS centroid_lat,
           CAST(CAST(SUM(lon) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / CAST(1000000 AS DOUBLE) AS centroid_lon
    FROM b GROUP BY 1, 2
    """,
    tags=("geo", "grid"),
    doc="15-degree grid occupancy + exact-integer centroids over "
    "hash-derived customer positions.",
)
def geo_cell_stats(spark: SparkSession, sf_dir: str):
    cust = read_table(spark, sf_dir, "customer")
    pos = cust.select(
        _geo_col("lat", F.col("c_custkey")).alias("lat"),
        _geo_col("lon", F.col("c_custkey")).alias("lon"),
    )
    g = (
        pos.select(
            F.expr(f"(lat + 90000000) div {_GEO_CELL}").alias("cell_y"),
            F.expr(f"(lon + 180000000) div {_GEO_CELL}").alias("cell_x"),
            "lat",
            "lon",
        )
        .groupBy("cell_x", "cell_y")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("lat").cast("decimal(38,0)").alias("slat"),
            F.sum("lon").cast("decimal(38,0)").alias("slon"),
        )
    )
    return g.select(
        "cell_x",
        "cell_y",
        "n",
        (
            F.col("slat").cast("double") / F.col("n").cast("double") / F.lit(1e6)
        ).alias("centroid_lat"),
        (
            F.col("slon").cast("double") / F.col("n").cast("double") / F.lit(1e6)
        ).alias("centroid_lon"),
    )


@register(
    "geo_neighbor_pairs",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             {_sql_geo_lat("CAST(c_custkey AS VARCHAR)")} AS lat,
             {_sql_geo_lon("CAST(c_custkey AS VARCHAR)")} AS lon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             {_sql_geo_lat("'s' || CAST(s_suppkey AS VARCHAR)")} AS lat,
             {_sql_geo_lon("'s' || CAST(s_suppkey AS VARCHAR)")} AS lon
      FROM supplier
    ),
    p AS (
      SELECT c.c_nationkey, c.c_custkey
      FROM c JOIN s
        ON (c.lat - s.lat) * (c.lat - s.lat)
           + (c.lon - s.lon) * (c.lon - s.lon) <= {_GEO_R2}
    )
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers
    FROM p GROUP BY c_nationkey
    """,
    tags=("geo", "join", "scale"),
    doc="Banded 2-D neighbor join: customers within 5 planar degrees of "
    "a supplier via 3x3 cell fan-out + exact integer distance filter; "
    "O(n^2) oracle at oracle scale only.",
)
def geo_neighbor_pairs(spark: SparkSession, sf_dir: str):
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    c = cust.select(
        "c_custkey",
        "c_nationkey",
        _geo_col("lat", F.col("c_custkey")).alias("clat"),
        _geo_col("lon", F.col("c_custkey")).alias("clon"),
    ).select(
        "*",
        F.expr(f"(clat + 90000000) div {_GEO_JCELL}").alias("cy"),
        F.expr(f"(clon + 180000000) div {_GEO_JCELL}").alias("cx"),
    )
    s = supp.select(
        _geo_col("lat", F.concat(F.lit("s"), F.col("s_suppkey"))).alias("slat"),
        _geo_col("lon", F.concat(F.lit("s"), F.col("s_suppkey"))).alias("slon"),
    )
    # 3x3 neighbor fan-out on the SUPPLIER side (the small side here;
    # at scale, fan out whichever side is smaller): a (cust, supp) pair
    # within R can only meet in the customer's own cell, and meets it
    # in exactly one of the supplier's nine offset cells — no dedup.
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx long, dy long"
    )
    se = s.crossJoin(F.broadcast(offs)).select(
        "slat",
        "slon",
        (F.expr(f"(slat + 90000000) div {_GEO_JCELL}") + F.col("dy")).alias("cy"),
        (F.expr(f"(slon + 180000000) div {_GEO_JCELL}") + F.col("dx")).alias("cx"),
    )
    d2 = (F.col("clat") - F.col("slat")) * (F.col("clat") - F.col("slat")) + (
        F.col("clon") - F.col("slon")
    ) * (F.col("clon") - F.col("slon"))
    pairs = c.join(se, ["cy", "cx"]).filter(d2 <= F.lit(_GEO_R2))
    return pairs.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.countDistinct("c_custkey").cast("bigint").alias("n_customers"),
    )
