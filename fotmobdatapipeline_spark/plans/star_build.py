"""End-to-end star-schema build over the TPC-H-ish testdata — the
engine's equivalent of the reference's full pipeline (extract →
transform → star → looker_data → load), used by bench.py to measure the
BASELINE.md target #5 (full build + all writes at sf0.1).

Shape mirrors fotmob.py exactly, at testdata scale:
  dims       <- build_dim distinct projections + deterministic keys
  fact       <- lineitem natural keys swapped for surrogate keys via
                broadcast joins (never shuffles the fact)
  reporting  <- denormalizing join back to attributes (Q1 / looker_data)
  load       <- parquet writes per table, orderdate-month partitioning
                on the reporting table for downstream pruning
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.operators.star import build_dim, build_fact, denormalize
from fotmobdatapipeline_spark.sources.registry import read_table
from fotmobdatapipeline_spark.sources.sinks import write_parquet


def build_dims(spark: SparkSession, sf_dir: str, *, hash_big_dims: bool = False) -> dict:
    """``hash_big_dims=True`` is the 100 TB path: customer/part/supplier
    are data-scale dims there, so they take distributed xxhash64 keys —
    collision-guarded inside build_dim (VERDICT r9 #6) — instead of the
    dimension-sized dense row_number sort.  status_dim stays dense: it
    is categorical (a handful of rows) at any scale."""
    li = read_table(spark, sf_dir, "lineitem")
    customer = read_table(spark, sf_dir, "customer")
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")
    big = dict(hash_key=hash_big_dims)
    return {
        "customer_dim": build_dim(
            customer, ["c_custkey", "c_name", "c_mktsegment"], "customer_sk", **big
        ),
        "part_dim": build_dim(
            part, ["p_partkey", "p_name", "p_brand", "p_type"], "part_sk", **big
        ),
        "supplier_dim": build_dim(supplier, ["s_suppkey", "s_name"], "supplier_sk", **big),
        "status_dim": build_dim(li, ["l_returnflag", "l_linestatus"], "status_sk"),
    }


def build_fact_df(spark: SparkSession, sf_dir: str, dims: dict):
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust_dim, part_dim = dims["customer_dim"], dims["part_dim"]
    supp_dim, status_dim = dims["supplier_dim"], dims["status_dim"]
    # orders is fact-sized (scales with lineitem) — no broadcast hint: the
    # auto-threshold broadcasts it at bench SFs, and at cluster scale this
    # becomes a sort-merge join (or a zero-shuffle bucketed join when both
    # tables are bucketed on orderkey — sinks.write_bucketed).  Only the
    # true dims below get explicit broadcast hints.
    enriched = li.join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return build_fact(
        enriched.withColumnsRenamed(
            {"o_custkey": "c_custkey", "l_partkey": "p_partkey", "l_suppkey": "s_suppkey"}
        ),
        dims=[
            (cust_dim.select("c_custkey", "customer_sk").distinct(), ["c_custkey"], "customer_sk"),
            (part_dim.select("p_partkey", "part_sk"), ["p_partkey"], "part_sk"),
            (supp_dim.select("s_suppkey", "supplier_sk"), ["s_suppkey"], "supplier_sk"),
            (status_dim, ["l_returnflag", "l_linestatus"], "status_sk"),
        ],
        measures=["l_quantity", "l_extendedprice", "l_discount", "o_orderdate"],
        extra_keys=["l_orderkey", "l_linenumber"],
    )


def build_reporting(fact, dims: dict):
    return denormalize(
        fact,
        dims=[
            (dims["customer_dim"], "customer_sk", ["c_name", "c_mktsegment"]),
            (dims["part_dim"], "part_sk", ["p_name", "p_brand"]),
            (dims["supplier_dim"], "supplier_sk", ["s_name"]),
            (dims["status_dim"], "status_sk", ["l_returnflag", "l_linestatus"]),
        ],
        measures=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "o_orderdate"],
    ).withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))


def build_star_tables(spark: SparkSession, sf_dir: str) -> dict:
    dims = build_dims(spark, sf_dir)
    fact = build_fact_df(spark, sf_dir, dims)
    return {**dims, "sales_fact": fact, "sales_reporting": build_reporting(fact, dims)}


def run_star_build(
    spark: SparkSession, sf_dir: str, out_dir: str, *, hash_big_dims: bool = False
) -> dict[str, str]:
    """Build + load everything; returns written paths.  One Spark job
    per table write, reporting table partitioned by month.

    ``hash_big_dims=True`` switches customer/part/supplier to the
    collision-guarded xxhash64 key path (see build_dims) — the setting
    for data-scale dims, where the dense row_number sort cannot run.

    Staged to never recompute lineage: dims are cached (small — the only
    state worth keeping), the fact is written once and read back for the
    reporting join.  A naive single-lineage version recomputes every dim
    for the fact write and the whole fact for the reporting write; the
    write-then-read-back stage boundary is also the 100 TB shape, where
    the fact cannot be cached and the reporting layer must not re-run
    the fact build.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    dims = {
        name: df.cache()
        for name, df in build_dims(spark, sf_dir, hash_big_dims=hash_big_dims).items()
    }
    # Populate every dim cache up front (one tiny job each): the
    # concurrent dim writers AND the fact build below then all read the
    # materialized cache instead of racing to compute it.
    for df in dims.values():
        df.count()

    # The fact write depends only on the (now cached) dims, not on the
    # dim WRITES — run it concurrently with them (guide §2.6: overlap
    # independent jobs so the fact job's tasks back-fill executors the
    # small dim writes leave idle).  r14: this was dims-then-fact
    # serial; overlapping removes the dim-write wall from the critical
    # path (fact write >= dim writes, so the stage costs max, not sum).
    fact = build_fact_df(spark, sf_dir, dims)
    paths = {name: f"{out_dir}/{name}" for name in dims}
    paths["sales_fact"] = f"{out_dir}/sales_fact"
    # Fact submitted FIRST and the pool sized to every writer: if
    # build_dims ever grows a dim, the fact write must never queue
    # behind the dim writes (that would restore the dims-then-fact
    # serialization this overlap removes — ADVICE r14).
    # The pool threads inherit the caller's job group and tags.
    write = inheritable_thread_target(spark)(write_parquet)
    with ThreadPoolExecutor(max_workers=len(dims) + 1) as pool:
        futures = [pool.submit(write, fact, paths["sales_fact"])]
        futures.extend(
            pool.submit(write, df, paths[name])
            for name, df in dims.items()
        )
        for f in futures:
            f.result()

    fact_back = spark.read.parquet(paths["sales_fact"])
    reporting = build_reporting(fact_back, dims)
    write_parquet(reporting, f"{out_dir}/sales_reporting", partition_by=["order_month"])
    paths["sales_reporting"] = f"{out_dir}/sales_reporting"
    for df in dims.values():
        df.unpersist()
    return paths
