"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame
plus, where SQL-expressible, an exact DuckDB oracle.

This is the single source of truth consumed by ``__spark_entry__.py``
(driver correctness gate) and ``bench.py`` (throughput gate). Names map
to SURVEY.md §2's operator inventory; comments cite the reference op.

Float-output discipline (hash-match with the oracle): per-row products
stay in double (IEEE-identical across engines), sums go through
DECIMAL(18,4) so aggregation order can't change low bits, and every
float column is ``round(x, 6)`` (or coarser) in BOTH engines.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from lovdata_pipeline_spark.operators import decontam, dedup, similarity, textstats
from lovdata_pipeline_spark.operators.skew import collect_bounded, spread_if_narrow
from lovdata_pipeline_spark.session import driver_rows

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ts as TIMESTAMP(NANOS); handling is
    pyspark-version-dependent. 4.1+ reads it natively as TIMESTAMP_NTZ
    truncated to microseconds (exactly how DuckDB surfaces the column);
    earlier 4.x rejects it unless the legacy nanosAsLong conf is set, in
    which case the column arrives as a nanosecond long. Support both so
    the registry runs on either runtime (``_events_ts``)."""
    return _events_ts(_events_raw(spark, sf_dir))


def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as stored; its schema is the event streams' schema."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")  # no-op on 4.1+
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _events_ts(df: DataFrame) -> DataFrame:
    """Normalize a batch or streaming events frame's ts to session-zone
    TimestampType (session tz is pinned UTC → value-preserving) so every
    downstream unix_micros/date_trunc/cast behaves identically."""
    if df.schema["ts"].dataType.simpleString() == "bigint":
        # integer `div`, not `/`: nanosecond longs exceed 2^53, so double
        # division would round the microsecond off by one.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


_staging_root: str | None = None
_staging_seq = itertools.count()


def _staging_dir(prefix: str) -> str:
    """A fresh directory for a row's staged files (stream sources,
    checkpoints, landings, persisted indexes and stores), under one root
    per process. The root lives until interpreter exit, not until the
    row returns: every row hands back a lazy frame that still reads its
    directory."""
    global _staging_root
    if _staging_root is None:
        _staging_root = tempfile.mkdtemp(prefix="lovdata_registry_")
        atexit.register(shutil.rmtree, _staging_root, ignore_errors=True)
    d = os.path.join(_staging_root, f"{prefix}{next(_staging_seq)}")
    os.mkdir(d)
    return d


def _link_stream_source(sf_dir: str, table: str, prefix: str) -> str:
    """Expose a parquet table as a directory of PLAIN FILES for the file
    stream source (it lists, it does not recurse): the driver tables are
    single files — one symlink; a Spark-written table (the generated sf1
    ladder corpus) is a DIRECTORY of part files — link each part in
    (found r9: symlinking the directory itself made the source list zero
    files and the drain silently emit nothing at sf1)."""
    d = _staging_dir(prefix)
    src = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(src):
        for i, f in enumerate(sorted(os.listdir(src))):
            if f.endswith(".parquet"):
                os.symlink(
                    os.path.join(src, f), os.path.join(d, f"part{i:05d}.parquet")
                )
    else:
        os.symlink(src, os.path.join(d, f"{table}.parquet"))
    return d


def _drain(stream_df: DataFrame, output_mode: str, schema: str) -> DataFrame:
    """Run ``stream_df`` to completion with ``Trigger.AvailableNow`` into
    a ``foreachBatch`` parquet landing and read the landing back. Complete
    mode re-emits the whole result each trigger, so a batch overwrites
    the landing; every other mode appends. Shuffle partitions pin to 8
    for the drain and are restored after: state-store setup per shuffle
    partition (four stores per partition for a stream-stream join)
    dominates a small drain, and a streaming query's partition count is
    frozen into its checkpoint, so production sizes it per query anyway.
    Batch-equivalent results are partition-count-independent."""
    spark = stream_df.sparkSession
    landing = _staging_dir("drain_out_")
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def land(batch_df, _bid):
        batch_df.write.mode(write_mode).parquet(landing)

    conf = spark.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            stream_df.writeStream.outputMode(output_mode)
            .foreachBatch(land)
            .option("checkpointLocation", _staging_dir("drain_chk_"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.schema(schema).parquet(landing)


def _dsum(col, alias: str):
    """Order-independent double sum: exact DECIMAL(18,4) accumulation,
    surfaced as double. Oracle analog:
    CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)."""
    return F.sum(col.cast("decimal(18,4)")).cast("double").alias(alias)


# ===========================================================================
# Relational coverage (reference ops 4-8, 23, 28-32 + TPC-H-style headliners)
# ===========================================================================


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy aggregate over lineitem (bench headliner)."""
    (li,) = load(spark, sf_dir, "lineitem")
    # Per-row products computed in DECIMAL from decimal-cast inputs: the
    # inputs are 2dp-generated values, so double->decimal(_,2) rounds
    # identically in Spark and DuckDB, and the subsequent decimal multiply
    # is exact in both engines (precisions stay well under 38). Casting the
    # *product* of doubles to decimal is NOT engine-stable (HALF_UP on the
    # shortest repr vs rounding the exact binary value) — that was the r1
    # q1 hash mismatch.
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = ep * (F.lit(1).cast("decimal(3,2)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(3,2)") + tax)
    return (
        li.filter(F.col("l_shipdate") <= "1999-12-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_top_unshipped(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + agg + top-k. customer is small → Catalyst
    broadcasts it; lineitem↔orders co-shuffle on the order key."""
    cust, orders, li = load(spark, sf_dir, "customer", "orders", "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1998-01-01")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > "1998-01-01")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-table star join; dims broadcast, facts co-shuffle."""
    region, nation, cust, supp, orders, li = load(
        spark, sf_dir, "region", "nation", "customer", "supplier", "orders", "lineitem"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        region.filter(F.col("r_name") == "EUROPE")
        .join(nation, F.col("r_regionkey") == F.col("n_regionkey"))
        .join(cust, F.col("n_nationkey") == F.col("c_nationkey"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def anti_join_changed(spark, sf_dir):
    """Op 5 shape — incremental anti-join: orders with no lineitem."""
    orders, li = load(spark, sf_dir, "orders", "lineitem")
    return (
        orders.join(li.select("l_orderkey"), F.col("o_orderkey") == F.col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


def semi_join_processed(spark, sf_dir):
    """Semi-join family (op 5's dual): orders having at least one lineitem
    shipped after 2001-01-01."""
    orders, li = load(spark, sf_dir, "orders", "lineitem")
    late = li.filter(F.col("l_shipdate") > "2001-01-01").select("l_orderkey")
    return (
        orders.join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


def status_counts(spark, sf_dir):
    """Op 32: status-count aggregation."""
    (orders,) = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(F.count("*").alias("n")).orderBy("o_orderstatus")


def distinct_projection(spark, sf_dir):
    """Op 29: distinct over a projection."""
    (cust,) = load(spark, sf_dir, "customer")
    return cust.select("c_mktsegment").distinct().orderBy("c_mktsegment")


def filter_like(spark, sf_dir):
    """Op 8: wildcard pattern filter with pushdown."""
    (part,) = load(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")
    )


def point_lookup(spark, sf_dir):
    """Op 30: point lookup by key."""
    (li,) = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") == 4788)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_linenumber")
    )


def topk_limit(spark, sf_dir):
    """Op 7 + top-k: deterministic ORDER BY ... LIMIT (per-partition top-k
    + driver merge, no global sort)."""
    (cust,) = load(spark, sf_dir, "customer")
    return (
        cust.orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        .limit(10)
    )


def positional_ids(spark, sf_dir):
    """Op 23: positional id assignment '{doc}_chunk_{i}' as a window."""
    (li,) = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (
        li.filter(F.col("l_orderkey") <= 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit("_chunk_"),
                (F.row_number().over(w) - 1).cast("string"),
            ).alias("chunk_id"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def running_sum(spark, sf_dir):
    """Order-dependent per-partition computation (ops 11/16 family):
    cumulative quantity within each order."""
    (li,) = load(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        li.filter(F.col("l_orderkey") <= 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.sum("l_quantity").over(w), 6).alias("cum_qty"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def greedy_token_buckets(spark, sf_dir):
    """Op 11's window-expressible approximation: cumulative-sum bucketing
    (group consecutive rows until the running total crosses a target).
    The exact greedy fold lives in the chunker UDF; this is the declarative
    scale path."""
    (li,) = load(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("l_quantity").over(w), F.lit(0.0))
    return (
        li.filter(F.col("l_orderkey") <= 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.floor(cum_before / 50.0).cast("long").alias("bucket_id"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def rollup_priority(spark, sf_dir):
    """Rollup aggregate (declared-absent in the reference; first-class here)."""
    (orders,) = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice"), "total"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


def pivot_status(spark, sf_dir):
    """Pivot via conditional aggregation (portable to ANSI SQL)."""
    (li,) = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            _dsum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0), "qty_open"),
            _dsum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0), "qty_filled"),
        )
        .orderBy("l_returnflag")
    )


def set_difference_validation(spark, sf_dir):
    """Op 31: two-anti-join consistency check — nations with customers but
    no suppliers and vice versa."""
    nation, cust, supp = load(spark, sf_dir, "nation", "customer", "supplier")
    c = cust.select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = supp.select(F.col("s_nationkey").alias("nationkey")).distinct()
    left = c.join(s, "nationkey", "left_anti").select(
        "nationkey", F.lit("customer_only").alias("problem")
    )
    right = s.join(c, "nationkey", "left_anti").select(
        "nationkey", F.lit("supplier_only").alias("problem")
    )
    return left.unionByName(right).orderBy("problem", "nationkey")


def agg_distinct_counts(spark, sf_dir):
    """Distinct-count aggregates (exact; approx_count_distinct is the
    100 TB variant — same plan shape, sketch-based)."""
    (li,) = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def cube_status_priority(spark, sf_dir):
    """CUBE aggregate — all grouping-set combinations."""
    (orders,) = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


def set_ops_nations(spark, sf_dir):
    """UNION / INTERSECT / EXCEPT coverage over nation keys."""
    cust, supp = load(spark, sf_dir, "customer", "supplier")
    c = cust.select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = supp.select(F.col("s_nationkey").alias("nationkey")).distinct()
    return (
        c.intersect(s)
        .withColumn("which", F.lit("both"))
        .unionByName(c.exceptAll(s).withColumn("which", F.lit("customer_only")))
        .unionByName(s.exceptAll(c).withColumn("which", F.lit("supplier_only")))
        .orderBy("which", "nationkey")
    )


def left_join_customer_orders(spark, sf_dir):
    """Left outer join + aggregate: per customer, count and total of
    high-value orders — customers with none keep a row (0, 0.0). The
    orders side is filtered BEFORE the join so the null-extension path
    is actually exercised (every customer has some order)."""
    cust, orders = load(spark, sf_dir, "customer", "orders")
    big = orders.filter(F.col("o_totalprice") > 350000).select("o_custkey", "o_orderkey", "o_totalprice")
    return (
        cust.join(big, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            F.round(
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("total_big"),
        )
        .orderBy("c_custkey")
    )


def full_outer_order_presence(spark, sf_dir):
    """Full outer join over key sets: which order keys appear in orders
    vs lineitem (some orders have no lineitems — see anti_join_changed)."""
    orders, li = load(spark, sf_dir, "orders", "lineitem")
    o = orders.select("o_orderkey").distinct()
    l = li.select("l_orderkey").distinct()
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"), "full_outer")
        .select(
            F.coalesce("o_orderkey", "l_orderkey").alias("orderkey"),
            F.col("o_orderkey").isNotNull().cast("int").alias("in_orders"),
            F.col("l_orderkey").isNotNull().cast("int").alias("in_lineitem"),
        )
        .orderBy("orderkey")
    )


def exists_agg_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS-filtered aggregate — orders having at least
    one heavy lineitem, counted per priority. Semi-join, never a
    row-multiplying inner join + distinct."""
    orders, li = load(spark, sf_dir, "orders", "lineitem")
    heavy = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        orders.join(heavy, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority")
    )


def not_exists_high_value(spark, sf_dir):
    """TPC-H Q22 shape: scalar subquery (avg balance, broadcast) + NOT
    EXISTS anti-join — above-average-balance customers with no high-value
    order, per nation."""
    cust, orders = load(spark, sf_dir, "customer", "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    high = orders.filter(F.col("o_totalprice") > 350000).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(high, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double"), 6
            ).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


def scalar_subquery_part_avg(spark, sf_dir):
    """TPC-H Q17 shape: correlated per-group average as a join against a
    pre-aggregate (the decorrelated plan Catalyst would want anyway);
    small part-side filter broadcast."""
    li, part = load(spark, sf_dir, "lineitem", "part")
    pq = li.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
            / F.count("*")
        ).alias("avg_qty")
    )
    brand = part.filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    return (
        li.join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .join(pq, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0,
                6,
            ).alias("avg_yearly")
        )
    )


def top3_orders_per_customer(spark, sf_dir):
    """Top-k per group: each customer's 3 largest orders (rank window,
    unique tiebreak on orderkey; row_number cast long ↔ DuckDB BIGINT)."""
    (orders,) = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    )


def percentile_order_totals(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`; approx_percentile is the sketch-based 100 TB
    variant — see agg_approx_stats)."""
    (orders,) = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


def grouping_sets_status_priority(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube): per-status, per-
    priority, and grand-total rows in one pass."""
    (orders,) = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 6) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus, o_orderpriority
        """
    )


def max_acctbal_supplier_per_nation(spark, sf_dir):
    """Max-per-group join-back (TPC-H Q2 shape): the top-balance supplier
    in each nation, via aggregate + equality join back (ties keep all)."""
    supp, nation = load(spark, sf_dir, "supplier", "nation")
    mx = supp.groupBy("s_nationkey").agg(F.max("s_acctbal").alias("max_bal")).select(
        F.col("s_nationkey").alias("mx_nationkey"), "max_bal"
    )
    return (
        supp.join(
            F.broadcast(mx),
            (F.col("s_nationkey") == F.col("mx_nationkey"))
            & (F.col("s_acctbal") == F.col("max_bal")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "s_name", "s_acctbal")
        .orderBy("n_name", "s_name")
    )


def events_lag_gaps(spark, sf_dir):
    """LAG window over event time: inter-event gaps per user, aggregated.
    Gap math in integer microseconds (unix_micros ↔ DuckDB epoch_us) so
    no float rounding can diverge; one double division at the end."""
    events = load_events(spark, sf_dir)
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(by_user)
    return (
        events.withColumn("gap_us", gap)
        .filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.max("gap_us").alias("max_gap_us"),
            F.round(
                F.sum("gap_us").cast("double") / (F.count("*") * 1000000.0), 6
            ).alias("avg_gap_s"),
        )
        .orderBy("user_id")
    )


def events_hourly(spark, sf_dir):
    """Event-time tumbling window aggregate (batch form of the streaming
    windowed agg in streaming/)."""
    events = load_events(spark, sf_dir)
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), _dsum(F.col("value"), "total_value"))
        .orderBy("hour", "event_type")
    )


def events_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user (gaps-and-islands)."""
    events = load_events(spark, sf_dir)
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cast to double (fractional epoch seconds) — matches DuckDB epoch();
    # a long cast would truncate microseconds and misplace gap boundaries.
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(by_user)
    marked = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_no",
        F.sum("new_session").over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_no")
    )


def events_asof_join(spark, sf_dir):
    """As-of join (custom operator — Spark has no native ASOF): every
    purchase event paired with the user's most recent click at-or-before
    it. Right side deduped to one row per (user, ts) so ties are
    deterministic; oracle is DuckDB's native ASOF JOIN."""
    from lovdata_pipeline_spark.operators.asof import asof_join

    events = load_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        right_cols=["click_event_id"], suffix="_click",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_click").alias("click_ts"),
        F.col("click_event_id_click").alias("click_event_id"),
    ).orderBy("event_id")


def events_asof_join_string_time(spark, sf_dir):
    """As-of join over ISO-8601 STRING time keys (new r12, r11 VERDICT
    Next #5): the same purchase↔latest-click pairing as
    events_asof_join, but both time columns arrive as
    'yyyy-MM-dd HH:mm:ss.SSSSSS' strings — the layered string-key path
    in operators/asof.py (non-numeric-parseable → lexicographic
    ordering, which IS chronological for consistently-formatted
    ISO-8601). The r11 asof rework added this key class but the graded
    row only exercised native timestamps; this row grades it against
    DuckDB's native ASOF JOIN on the identically-formatted VARCHAR
    (microsecond spellings verified byte-equal: Spark date_format
    SSSSSS == DuckDB strftime %f)."""
    from lovdata_pipeline_spark.operators.asof import asof_join

    events = load_events(spark, sf_dir).withColumn(
        "ts_s", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_s"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts_s")
        .agg(F.max("event_id").alias("click_event_id"))
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_time="ts_s", right_time="ts_s",
        right_cols=["click_event_id"], suffix="_click",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_s",
        F.col("ts_s_click").alias("click_ts"),
        F.col("click_event_id_click").alias("click_event_id"),
    ).orderBy("event_id")


VALUE_BANDS = [
    (0.0, 10.0, "micro"),
    (10.0, 50.0, "small"),
    (50.0, 150.0, "medium"),
    (150.0, 1000.0, "large"),
]


def events_range_join(spark, sf_dir):
    """Range join (custom operator): classify events into value bands via
    the bucket-expansion equi-join — never a nested loop. Oracle: the
    equivalent theta join."""
    from lovdata_pipeline_spark.operators.rangejoin import range_join

    events = load_events(spark, sf_dir)
    bands = driver_rows(spark, VALUE_BANDS, "lo double, hi double, band string")
    joined = range_join(events, bands, "value", bucket_width=50.0)
    return (
        joined.groupBy("band")
        .agg(F.count("*").alias("n"), _dsum(F.col("value"), "total_value"))
        .orderBy("band")
    )


def events_json_props(spark, sf_dir):
    """Scalar JSON extraction + aggregate over the extracted value."""
    events = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").cast("long").alias("sum_k"))
        .orderBy("event_type")
    )


# ===========================================================================
# Dedup / similarity / text analytics (BASELINE.json north-star extensions)
# ===========================================================================


def dedup_exact_groups(spark, sf_dir):
    """Exact (byte-identical) duplicate groups. The synthetic corpus has no
    natural exact duplicates (its planted dups are near-dups), so the query
    deterministically plants some — every 25th doc re-appended under a
    shifted id — and the oracle plants the identical set; a detector that
    found nothing would now fail instead of vacuously passing. The shift
    is max(doc_id)+1 (not a hardcoded constant) so planted ids can never
    collide with real ones at any scale factor, keeping keep_id = min id
    an unambiguous survivor.

    Scope (r2 ADVICE, stated plainly): because the planting lives in the
    query (the read-only test corpus can't be regenerated with exact dups),
    this row certifies the hash-group-dedup OPERATOR — grouping, group
    counts, min-id survivor selection — not the discovery of organic corpus
    duplicates; corpus-level near-dup discovery is certified by the
    jaccard/minhash/simhash/vocab rows, whose planted near-dups ARE in the
    generated data."""
    (docs,) = load(spark, sf_dir, "documents")
    shift = docs.agg((F.max("doc_id") + F.lit(1)).alias("_shift"))
    planted = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .crossJoin(F.broadcast(shift))
        .withColumn("doc_id", F.col("doc_id") + F.col("_shift"))
        .drop("_shift")
    )
    corpus = docs.select("doc_id", "text").unionByName(planted.select("doc_id", "text"))
    return (
        dedup.exact_duplicates(corpus)
        .select("content_hash", "n_docs", "keep_id")
        .orderBy("content_hash")
    )


def dedup_vocab_fingerprint_groups(spark, sf_dir):
    """Normalization-robust exact dedup on the vocabulary fingerprint
    (sorted distinct words of the normalized text): the planted near-dups
    are word-order/repetition rewrites sharing a vocabulary, so they
    collide here (21 groups at sf0.01) while honest documents don't.

    Named for its semantics (r2 ADVICE): this query fingerprinted
    md5-of-normalized-text in r1 and vocabulary sets from r2 on — the
    rename makes that change visible in the grading artifacts instead of
    silently comparing different computations across rounds. The r2 key
    ``dedup_fingerprint_groups`` remained registered as an alias through
    r10; r11 removed it — the alias mapped the same function to an
    identical oracle string, double-counting one computation in the
    registry (its grading history r1-r2+r7 belongs to THIS query)."""
    (docs,) = load(spark, sf_dir, "documents")
    fp = textstats.vocab_fingerprints(docs)
    return (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fingerprint")
    )


def dedup_ngram_jaccard(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.8, n=3).orderBy("doc_a", "doc_b")


def dedup_ngram_jaccard_capped(spark, sf_dir):
    """The SSJoin scale path graded end-to-end (r10 VERDICT Next #2,
    the bitext_mine_margin_bucketed move): same corpus and threshold as
    the exact twin `dedup_ngram_jaccard`, but with the `max_df` cap
    that bounds every prefix posting list when the shingle space
    saturates (the r9 audit measured 41.6 M candidates for 80 true
    pairs at synthetic sf1 — SCALING.md "named causes"). The cap is
    scale-aware like the PCA-rerank pool: ``max(2, ceil(N/1000))`` — it
    BITES at every decade of this corpus (prefix dfs reach 3/10/97 at
    sf0.01/0.1/1 against caps 2/5/50), so the graded row certifies the
    approximation itself, not a no-op parameter. The oracle replays
    the df filter inside the prefix-candidate CTE — prefix selection
    orders by (global df, shingle hash), so the row uses the 60-bit
    md5-derived portable hash both engines compute identically (the
    dedup_simhash convention; xxhash64 stays the production path — the
    UNCAPPED result is provably hash-order-independent, the capped one
    is not). Capped ⊆ exact always (candidate generation only shrinks;
    verification still scores full shingle sets): 23 of the exact 25
    pairs at sf0.01, measured 2.0× over exact at sf1 where candidates
    collapse from 41.6 M (recall there is a data property of the
    30-token-vocabulary corpus — every shingle is hot — exactly like
    the bucketed-bitext and knn-IVF rows)."""
    (docs,) = load(spark, sf_dir, "documents")
    n = docs.count()
    cap = max(2, -((-n) // 1000))  # ceil(N/1000)
    return dedup.ngram_jaccard_pairs(
        docs, threshold=0.8, n=3, max_df=cap, portable=True
    ).orderBy("doc_a", "doc_b")


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidates verified with exact jaccard. 16 bands × 2 rows
    → recall ≈ 1-3e-12 at jaccard 0.9, so the output equals the exact
    all-pairs result the oracle computes."""
    (docs,) = load(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, threshold=0.8, n=3, num_hashes=32, bands=16
    ).orderBy("doc_a", "doc_b")


def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs, portable 60-bit md5-derived hash so DuckDB
    reproduces the exact signatures (oracle hash-match; the xxhash64
    variant stays the fast path for production use)."""
    (docs,) = load(spark, sf_dir, "documents")
    return dedup.simhash_near_duplicates(
        docs, max_hamming=3, portable=True
    ).orderBy("doc_a", "doc_b")


def dedup_components(spark, sf_dir):
    """Survivor selection: MinHash near-dup pairs → connected components
    (union-find on the driver when the pair graph fits the broadcast
    bound, else label propagation to fixpoint) → one survivor (min id)
    per cluster.
    The step production dedup needs beyond pair emission: if A≈B and
    B≈C, exactly one of {A,B,C} survives although (A,C) was never
    emitted. Oracle: recursive-CTE transitive closure over the same
    pair graph."""
    (docs,) = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8, n=3, num_hashes=32, bands=16)
    return dedup.connected_components(pairs).orderBy("doc_id")


def dedup_shared_spans(spark, sf_dir):
    """Substring-level duplicated-span detection (new r4 — the dedup
    family whole-document similarity can't localize): maximal runs of
    matched positional winnowing anchors on one character-offset
    diagonal, k=25/w=8 (spans ≥ 32 shared chars guaranteed a shared
    anchor), ≥3 anchors per run. Oracle: the identical rolling-hash /
    rightmost-min winnowing + diagonal gaps-and-islands in DuckDB SQL —
    same primitive the text_winnowing oracle pins, plus positions."""
    (docs,) = load(spark, sf_dir, "documents")
    return dedup.shared_span_pairs(docs, k=25, w=8, min_anchors=3).orderBy(
        "doc_a", "doc_b", "a_start", "b_start"
    )


def dedup_remove_spans(spark, sf_dir):
    """Span REMOVAL — the second half of substring-level dedup (the
    cited paper removes the repeated passage, it doesn't drop the
    document): doc_b-side ranges from dedup_shared_spans merge per doc
    and splice out; every document reports (#cut regions, #chars
    removed, md5 of the spliced text). Oracle: identical winnowing +
    interval-merge + splice in DuckDB (shared _SPAN_CTES)."""
    (docs,) = load(spark, sf_dir, "documents")
    spans = dedup.shared_span_pairs(docs, k=25, w=8, min_anchors=3)
    return dedup.remove_duplicated_spans(docs, spans).orderBy("doc_id")


def _bench_split(spark, sf_dir):
    """Deterministic benchmark/train split of the documents table for the
    decontamination queries: every 97th doc plays the eval set (6 docs at
    sf0.01 — the realistic shape: a tiny benchmark vs the corpus)."""
    (docs,) = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return train, bench


def decontaminate_benchmark_overlap(spark, sf_dir):
    """Benchmark decontamination report (new r4): training docs sharing
    any word-3-gram with the benchmark slice, with overlap counts.
    Scale shape: scan-local n-gram hashing, broadcast benchmark set,
    one 16-byte-pair aggregate shuffle — text never moves. The n-gram
    scan spreads its own single-file input (``decontam``'s
    ``spread_if_narrow``)."""
    train, bench = _bench_split(spark, sf_dir)
    return decontam.ngram_overlap_flags(train, bench, n=3).orderBy("doc_id")


def decontaminate_clean_set(spark, sf_dir):
    """The cut half: training rows surviving decontamination (broadcast
    anti-join on the flagged id set). Text column dropped from the
    output projection so the oracle hash stays on stable metadata."""
    train, bench = _bench_split(spark, sf_dir)
    return (
        decontam.decontaminate(train, bench, n=3)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def sequence_manifest_documents(spark, sf_dir):
    """Per-sequence manifest (new r4): the writer-side view of 512-token
    sequence packing — how many documents feed each training sequence
    and how full it is; every interior sequence must report exactly 512
    filled tokens. Fan-out carries small ints only."""
    from lovdata_pipeline_spark.operators.packing import sequence_manifest

    (docs,) = load(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", textstats.token_count_col("text").alias("n_tokens")
    )
    return sequence_manifest(with_tokens, seq_len=512).orderBy("seq_id")


def pack_emit_sequences(spark, sf_dir):
    """Sequence EMITTER (new r5): materialize the actual 512-token
    training rows the manifest only books — per sequence, the tokens of
    every contributing document sliced and concatenated in global corpus
    order. Each token crosses the wire exactly once (sliced scan-side
    before the groupBy-seq_id shuffle); every interior sequence carries
    exactly 512 tokens. The full seq_text hashes, so the oracle pins the
    splice byte-for-byte."""
    from lovdata_pipeline_spark.operators.packing import emit_token_sequences

    (docs,) = load(spark, sf_dir, "documents")
    return emit_token_sequences(docs, seq_len=512).orderBy("seq_id")


def text_gopher_quality(spark, sf_dir):
    """Gopher-rule quality gate (new r5): the published web-corpus
    heuristics (word count, mean word length, alpha-word fraction,
    bullet/ellipsis line fractions, duplicate-line fraction, stop-word
    presence) as one codegen scan — no Python, no shuffle. Every ratio
    is a single IEEE division the oracle replays operand-for-operand."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.gopher_quality(docs).orderBy("doc_id")


def importance_score_documents(spark, sf_dir):
    """DSIR-style hashed-bigram importance scoring (new r5): rank raw
    docs by target-domain likeness, target = the doc_id % 7 == 0 slice.
    Bucket-count tables are n_buckets rows and broadcast; text never
    shuffles. Linear-difference score (documented log-free determinism
    trade in the operator docstring)."""
    (docs,) = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    return textstats.hashed_importance_score(raw, target, n_buckets=4096).orderBy(
        "doc_id"
    )


def training_order_documents(spark, sf_dir):
    """Deterministic global training shuffle (new r5): dense 0-based
    shuffle_rank by md5(doc_id ‖ seed) order, computed with the two-
    phase prefix sum — never a single-task global window."""
    from lovdata_pipeline_spark.operators.packing import training_order

    (docs,) = load(spark, sf_dir, "documents")
    return training_order(docs.select("doc_id", "source")).orderBy("doc_id")


def epoch_mix_documents(spark, sf_dir):
    """Fractional-epoch mixture materialization (new r5): 2.5 epochs of
    the first five sources, 0.4 of the rest — whole copies via row-local
    explode, the fractional copy via the integer-threshold portable-hash
    rule; each copy carries its epoch index."""
    from lovdata_pipeline_spark.operators.sampling import epoch_mix

    (docs,) = load(spark, sf_dir, "documents")
    epochs = {f"src{i}": (2.5 if i < 5 else 0.4) for i in range(20)}
    return (
        epoch_mix(docs.select("doc_id", "source"), epochs, "source", "doc_id",
                  seed="epoch-v1", default_epochs=0.0)
        .orderBy("doc_id", "epoch")
    )


def build_curation_report(
    docs, bench=None, id_col="doc_id", text_col="text", strata_col="source", n=3
):
    """Shared per-stratum curation-report builder — ONE definition for
    the graded query and the `lg report` CLI (review finding: two
    near-duplicate copies would silently diverge on the next rule
    change). Per stratum: doc/token inventory, Gopher-rule and
    quality-classifier pass counts, exact-dup count (non-survivors of
    their fingerprint group), and — when ``bench`` is given — the
    n-gram benchmark-contamination count. Every measure an integer
    count, so the report is bit-deterministic under any partitioning.

    Scale shape (r5 VERDICT #2 — the old form re-read the corpus five
    times and re-joined on doc_id): token count, the Gopher gate, the
    quality-classifier keep, and the fingerprint are all scan-local
    column expressions over the SAME row, so ONE projection computes
    them all — no joins. Only two things genuinely need more than the
    scan: the contamination flag (the one broadcast semi-join, whose
    gram explode is the second and last corpus scan — shuffling gram
    arrays instead would move ~the text's volume, so the extra scan is
    the cheaper shape) and the dup count — which never materializes a
    per-row is_dup at all: the report only needs COUNTS, so rows
    pre-aggregate per (fingerprint, stratum) cell (map-side combining —
    a mega-dup cluster collapses inside its scan tasks, where a
    row-level partitionBy(fingerprint) window would funnel it through
    one task), the global min-id comes from a window over the
    PRE-AGGREGATED cells (≤ |strata| rows per fingerprint — bounded,
    and no second plan branch re-running the flags pipeline), and
    n_exact_dup(stratum) = Σ cell counts − #cells holding their
    fingerprint's min doc. Total: 2 corpus scans, 1 narrow
    pre-aggregated shuffle + bounded window, 1 broadcast join, 1 tiny
    groupBy(stratum); plancheck pins the scan count."""
    flags = docs.select(
        F.col(id_col),
        F.col(strata_col),
        textstats.token_count_col(text_col).alias("n_tokens"),
        textstats.gopher_pass_col(text_col).alias("gopher_pass"),
        textstats.quality_keep_col(text_col).alias("keep"),
        # coalesce: a NULL-text doc would get a NULL fingerprint and the
        # equi-join below would drop its report row (the pretraining
        # pipeline's NULL-fp bug class); '' groups it with empty-text
        # docs, mirrored in the oracle.
        F.md5(F.coalesce(textstats._normalized(text_col), F.lit(""))).alias(
            "fingerprint"
        ),
    )
    if bench is not None:
        cont = decontam.contaminated_ids(
            docs, bench, n=n, text_col=text_col, id_col=id_col
        ).select(id_col, F.lit(True).alias("is_cont"))
        # no broadcast hint: cont is bounded by the number of CONTAMINATED
        # training docs (usually tiny, but O(corpus) under heavy
        # contamination) — let AQE's size-based planning pick broadcast vs
        # shuffle rather than forcing an id set of unknown size onto every
        # executor (r7 ADVICE).
        flags = flags.join(cont, id_col, "left")
    else:
        flags = flags.withColumn("is_cont", F.lit(False))
    cell = flags.groupBy("fingerprint", strata_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("n_tokens").alias("_t"),
        F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0)).alias("_g"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("_q"),
        F.sum(F.when(F.col("is_cont"), 1).otherwise(0)).alias("_c"),
        F.min(id_col).alias("_min_id"),
    )
    # min over the fingerprint's cells via a WINDOW on the pre-aggregated
    # rows: partitions are ≤ |strata| rows by construction (skew-free),
    # and unlike a groupBy+self-join it adds no second plan branch — the
    # expensive flags pipeline stays single-scan (Spark does not reuse
    # the shared exchange across join branches; measured 2× recompute).
    fp_w = Window.partitionBy("fingerprint")
    return (
        cell.withColumn("_fp_min", F.min("_min_id").over(fp_w))
        .groupBy(strata_col)
        .agg(
            F.sum("_n").cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
            F.sum("_g").cast("long").alias("n_gopher_pass"),
            F.sum("_q").cast("long").alias("n_quality_pass"),
            (
                F.sum("_n")
                - F.sum(
                    F.when(F.col("_min_id") == F.col("_fp_min"), 1).otherwise(0)
                )
            )
            .cast("long")
            .alias("n_exact_dup"),
            F.sum("_c").cast("long").alias("n_contaminated"),
        )
        .orderBy(strata_col)
    )


def curation_report_by_source(spark, sf_dir):
    """Per-source curation REPORT (new r5 capstone): the one-page view a
    data lead reads before a training run — per source, the doc/token
    inventory and how much each curation gate would cut (Gopher rules,
    quality classifier, exact dedup, 3-gram contamination vs the
    doc_id % 97 bench slice). See ``build_curation_report`` for the
    shared composition the CLI also drives."""
    (docs,) = load(spark, sf_dir, "documents")
    # The single-file test corpus arrives as one scan task, which
    # serializes the flags projection's per-token md5 loop (the quality
    # keep aggregate); spread locally — a corpus-scale table is already
    # many-partitioned, so this is a no-op at 100 TB.
    train = spread_if_narrow(docs.filter(F.col("doc_id") % 97 != 0))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return build_curation_report(train, bench, n=3)


def hash_split_documents(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split (new r5): one scan,
    one projection — the portable-hash range rule means the split is
    append-stable and leak-proof (half-open integer ranges, one slice
    per row by construction). The oracle replays every decision."""
    from lovdata_pipeline_spark.operators.sampling import hash_split

    (docs,) = load(spark, sf_dir, "documents")
    return hash_split(
        docs.select("doc_id", "source"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        "doc_id",
        seed="split-v1",
    ).orderBy("doc_id")


def text_kn_surprisal(spark, sf_dir):
    """Interpolated Kneser–Ney bigram surprisal (new r7b): the
    industry-standard LM smoothing — absolute discounting plus the
    distinct-continuation back-off — replacing ``bigram_surprisal``'s
    add-one. Same fixed-point accumulation discipline (9-dp rounds,
    DECIMAL(18,9) sums), same one-scan + vocabulary-bounded-aggregate
    plan shape."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.kn_surprisal(docs).orderBy("doc_id")


def bloom_token_membership(spark, sf_dir):
    """Bloom-filter membership probes vs exact vocabulary (new r8):
    the MEMBERSHIP sketch completing the SQL-replayable family (CMS =
    frequency r7d, HLL = cardinality r7d, Bloom = membership). The
    corpus token set folds into a deliberately NARROW m=128-bit filter
    (k=3) so false positives genuinely occur against the 31-token
    vocabulary — grading a collision-free filter would be vacuous —
    then the exact top-10 tokens plus ten never-seen probes are
    membership-tested. Output (token, in_filter, present_exact): no
    false negatives ever; the false positives are DETERMINISTIC (fixed
    salted md5 hash family) and the oracle replays every word's bits
    and every probe's mask test exactly. At 100 TB the filter is m/64
    BIGINT words: partials collapse map-side, the shuffle moves words,
    and merging filters is the same bit_or aggregate."""
    from lovdata_pipeline_spark.operators.sketches import bloom_build, bloom_probe

    (docs,) = load(spark, sf_dir, "documents")
    m_bits, k = 128, 3
    sk = bloom_build(docs, m_bits=m_bits, k=k)
    top = (
        docs.select(F.explode(textstats._words("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(10)
        .select("token")
    )
    absent = spark.range(10).select(
        F.concat(F.lit("absent"), F.col("id")).alias("token")
    )
    vocab = docs.select(
        F.explode(textstats._words("text")).alias("token")
    ).distinct()
    res = bloom_probe(sk, top.unionByName(absent), m_bits=m_bits, k=k)
    return (
        res.join(vocab.withColumn("_p", F.lit(True)), "token", "left")
        .select(
            "token",
            "in_filter",
            F.coalesce(F.col("_p"), F.lit(False)).alias("present_exact"),
        )
        .orderBy("token")
    )


def knn_edges_ivf_embeddings(spark, sf_dir):
    """The k-NN graph's SUBLINEAR candidate path, graded (new r8, past
    the r7 VERDICT Next #2 ask of a pytest pin): ``knn_edges`` with
    ``candidates='ivf'`` — unit-sphere coarse quantization into 8
    portable-seeded cells, each source probing its 3 nearest cells,
    BLAS scoring per cell, exact fold re-score verdict. The oracle
    replays seeding (md5 id order), assignment and probing (dot
    products on the normalized vectors, ties to the lower cell — the
    stable-argsort rule), takes ALL probed-cell members as candidates
    (the per-cell top-(k+slack) cut keeps everything within a full
    6-dp rounding bucket of the take-th score, so no candidate the
    rounded verdict could rank into the top-k is ever dropped), and
    ranks by the same 6-dp cosine + dst tie-break. Grading this row
    certifies the approximation ITSELF is deterministic — the
    blocked/exact form stays graded via pagerank_doc_graph."""
    from lovdata_pipeline_spark.operators.graph import knn_edges

    (emb,) = load(spark, sf_dir, "embeddings")
    return knn_edges(
        emb, k=3, candidates="ivf", n_cells=8, n_probe=3
    ).orderBy("src", "rk")


def hll_store_merged_counts(spark, sf_dir):
    """Cross-session HLL merge THROUGH the persisted register store
    (new r8, r7 VERDICT Next #5): the corpus splits into two "days"
    (doc_id parity), each day's registers are written to their own
    ``hll_registers_write`` store, then both stores are LOADED and
    register-wise MAXed — and the merged estimate must equal the
    full-corpus estimate bit-for-bit, which is exactly what the oracle
    (the full-corpus portable-HLL SQL replay) grades. This is the
    100-TB nightly shape: each day summarizes its own text once into
    |groups|·m integer registers; cross-day distinct counts never
    re-read any day's text."""
    from lovdata_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
        hll_registers_load,
        hll_registers_merge,
        hll_registers_write,
    )

    (docs,) = load(spark, sf_dir, "documents")
    d1 = _staging_dir("hll_day1_")
    d2 = _staging_dir("hll_day2_")
    hll_registers_write(
        hll_registers(docs.filter(F.col("doc_id") % 2 == 0), p=5), d1, p=5
    )
    hll_registers_write(
        hll_registers(docs.filter(F.col("doc_id") % 2 == 1), p=5), d2, p=5
    )
    r1, p1, g1 = hll_registers_load(spark, d1)
    r2, _, _ = hll_registers_load(spark, d2)
    merged = hll_registers_merge([r1, r2], group_col=g1)
    return hll_estimate(merged, p=p1).orderBy("source")


def text_kn_trigram_surprisal(spark, sf_dir):
    """Interpolated TRIGRAM Kneser–Ney surprisal (new r8, r7 VERDICT
    Next #8): two back-off levels — absolute discounting at the
    trigram order, continuation-count distributions at the bigram and
    unigram orders — the production CCNet-style LM-filter order. Same
    fixed-point accumulation discipline as the bigram row (9-dp
    rounds, DECIMAL(18,9) sums); the model is four hash aggregates
    over the trigram-TYPE frame, never the token stream."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.kn_trigram_surprisal(docs).orderBy("doc_id")


def quality_blend_documents(spark, sf_dir):
    """Multi-signal quality blending (new r7b): four 6-dp-rounded
    signals (stopword fraction, alpha-word fraction, word-length
    proximity, log size) min-max normalized PER SOURCE via a
    |groups|-row broadcast (no per-source window task), combined with
    fixed weights and banded high/medium/low — the FineWeb-edu-style
    score-combination step between raw signals and quota selection."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.quality_blend(docs).orderBy("doc_id")


def stratified_split_exact(spark, sf_dir):
    """EXACT-COUNT stratified 80/10/10 split (new r7b): within every
    source, split sizes are exactly floor(n·pct/100) with the last
    split absorbing the remainder — the held-out contract the
    rate-based ``hash_split`` can't give (its realized per-stratum
    fractions wander O(1/√n)). Within-stratum order is md5(id ‖ seed)
    rank, computed via the two-phase distributed prefix sum (no
    per-stratum window task); integer-percent thresholds make every
    boundary exact on any engine."""
    from lovdata_pipeline_spark.operators.sampling import stratified_split

    (docs,) = load(spark, sf_dir, "documents")
    return stratified_split(
        docs.select("doc_id", "source"),
        (("train", 80), ("val", 10), ("test", 10)),
        strata_col="source",
        id_col="doc_id",
        seed="split-v1",
    ).orderBy("doc_id")


def text_bigram_surprisal(spark, sf_dir):
    """Conditional-bigram LM surprisal (new r5): the corpus as its own
    bigram model, mean -ln P(w2|w1) per doc under add-one smoothing —
    catches improbable word TRANSITIONS that pass unigram filters. Same
    9-dp DECIMAL fixed-point accumulation as the unigram query."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.bigram_surprisal(docs).orderBy("doc_id")


def length_bucketed_batches_documents(spark, sf_dir):
    """Length-bucketed inference batching (new r5): rank by (token
    count, id) via the two-phase prefix-sum (unit weights over a
    fixed-width sortable key — no single-task global window), cut every
    64 rows; adjacent batches hold similar-length docs to minimize
    padding waste."""
    from lovdata_pipeline_spark.operators.packing import length_bucketed_batches

    (docs,) = load(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", textstats.token_count_col("text").alias("n_tokens")
    )
    return length_bucketed_batches(with_tokens, batch_size=64).orderBy("doc_id")


def exact_contamination_documents(spark, sf_dir):
    """Exact-substring (word-aligned) contamination (new r5): needles
    are 8-word snippets cut from every doc_id % 53 == 0 document (the
    "leaked eval answer" shape — each needle is guaranteed at least its
    own source hit). Candidates via broadcast anchor-gram equi-join —
    never a cartesian; text moves only for candidate pairs."""
    (docs,) = load(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    snips = (
        docs.filter(F.col("doc_id") % 53 == 0)
        .select(
            "doc_id",
            F.when(F.size(w) >= 10, F.array_join(F.slice(w, 3, 8), " ")).alias("text"),
        )
        .filter(F.col("text").isNotNull())
    )
    return decontam.exact_substring_contamination(docs, snips, anchor_n=5).orderBy(
        "doc_id", "needle_id"
    )


def decontam_remove_spans(spark, sf_dir):
    """Span-level decontamination surgery (new r6): same 8-word needle
    fixture as ``exact_contamination_documents``, but instead of
    reporting hits, every word-aligned occurrence is EXCISED from the
    corpus text — the removal-not-rejection form. One row per corpus
    doc: distinct needles matched, tokens removed, md5 of the surgered
    (whitespace-normalized) text. The quadratic position scan runs only
    on anchor-flagged docs; untouched docs pass through a left join."""
    (docs,) = load(spark, sf_dir, "documents")
    w = textstats._clean_split(F.col("text"))
    snips = (
        docs.filter(F.col("doc_id") % 53 == 0)
        .select(
            "doc_id",
            F.when(F.size(w) >= 10, F.array_join(F.slice(w, 3, 8), " ")).alias("text"),
        )
        .filter(F.col("text").isNotNull())
    )
    return decontam.remove_contaminated_spans(docs, snips, anchor_n=5).orderBy(
        "doc_id"
    )


def validate_documents_expectations(spark, sf_dir):
    """Deequ-style ingest expectations (new r6): per-column null count/
    fraction, exact distinct count, and the primary-key contract flag
    over the documents table's contract columns — the data-quality gate
    that runs before the curation DAG trusts an arriving drop."""
    from lovdata_pipeline_spark.operators.validation import expectations_report

    (docs,) = load(spark, sf_dir, "documents")
    return expectations_report(docs, ["doc_id", "lang", "source", "text"]).orderBy(
        "col_name"
    )


def benchmark_contamination_report(spark, sf_dir):
    """Per-benchmark-doc contamination report (new r4): how many train
    docs and distinct n-grams compromise each eval document — the view
    an eval owner checks before trusting a score."""
    train, bench = _bench_split(spark, sf_dir)
    return decontam.benchmark_contamination_report(train, bench, n=3).orderBy(
        "bench_doc"
    )


def temperature_mix_orders(spark, sf_dir):
    """Temperature-α domain mixing (new r4, α=0.5): keep rates derived
    from stratum counts — rate_d = sqrt(c_min/c_d), floor-quantized to
    integer thresholds — then the same shuffle-free portable hash filter
    as stratified sampling. The GPT-3/PaLM rare-domain upweighting
    scheme, fully deterministic. Every categorical column in the
    synthetic data is near-uniform (which would make α-scaling a no-op),
    so the stratum is the order key's decimal-digit MAGNITUDE — counts
    9/90/900/9000/5001 at sf0.01, a real exponential skew; rates span
    1.0 down to sqrt(9/9000) ≈ 0.03."""
    from lovdata_pipeline_spark.operators.sampling import temperature_sample

    (orders,) = load(spark, sf_dir, "orders")
    strat = orders.select(
        "o_orderkey",
        F.length(F.col("o_orderkey").cast("string")).alias("magnitude"),
    )
    return (
        temperature_sample(strat, "magnitude", "o_orderkey", alpha=0.5, seed="temp-v1")
        .orderBy("o_orderkey")
    )


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs. Routes through the BLOCKED variant — the
    100 TB plan (block-pair applyInPandas, no driver collect, no
    full-matrix broadcast). The collect-and-broadcast fast path remains an
    explicit small-corpus opt-in via ``dedup.embedding_near_duplicates``,
    which itself size-gates to this plan past ~512 MB."""
    (emb,) = load(spark, sf_dir, "embeddings")
    return dedup.embedding_near_duplicates_blocked(emb, threshold=0.45, n_blocks=4).orderBy(
        "doc_a", "doc_b"
    )


def dedup_embedding_cosine_blocked(spark, sf_dir):
    """Distributed exact variant (block-pair applyInPandas, no driver
    collect / full-matrix broadcast) — same output as the broadcast
    fast path, same oracle."""
    (emb,) = load(spark, sf_dir, "embeddings")
    return dedup.embedding_near_duplicates_blocked(emb, threshold=0.45, n_blocks=4).orderBy(
        "doc_a", "doc_b"
    )


def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for the vec_id=0 query vector."""
    (emb,) = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return similarity.cosine_topk(emb, list(query), k=10)


def knn_join_top3(spark, sf_dir):
    """k-NN join: 5 query vectors × corpus, top-3 each."""
    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return similarity.knn_join(queries, corpus, k=3).orderBy("query_id", "rank")


def ann_topk_lsh_bucketed(spark, sf_dir):
    """Scale-path ANN: random-hyperplane LSH bucket pruning, then exact
    cosine within the query's bucket. Approximate relative to
    ann_cosine_topk, but DETERMINISTIC given the fixed seed-42 planes —
    so it has an exact DuckDB oracle (oracles._ann_lsh_sql) that inlines
    the same planes and reproduces bucket assignment, the 1-bit
    multi-probe set, and the within-bucket cosine top-k."""
    import numpy as np

    (emb,) = load(spark, sf_dir, "embeddings")
    # one driver action, not two (r13): the query vector fetch also
    # supplies the dimensionality the plane draw needs
    query = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    dims = len(query)
    # 4 planes → 16 buckets, 1-bit multi-probe → 5 buckets scanned
    # (~31% of corpus). On uniform-random synthetic vectors recall is
    # structurally limited (cosine spread 0.30-0.37 barely shifts
    # collision odds); real embedding spaces cluster, which SRP exploits.
    rng = np.random.RandomState(42)
    planes = rng.randn(4, dims).tolist()
    return similarity.ann_topk_lsh(emb, query, planes, k=10, n_probe_bits=1)


def ann_topk_ivf(spark, sf_dir):
    """Scale-path ANN: IVF coarse quantization with 2-probe search.
    Approximate relative to ann_cosine_topk but fully deterministic:
    portable (md5-ordered) centroid seeding lets the DuckDB oracle
    (oracles._ann_ivf_sql) reproduce seeds, nearest-cell assignment,
    probe choice, and the in-cell cosine top-k exactly."""
    (emb,) = load(spark, sf_dir, "embeddings")
    centroids = similarity.deterministic_centroids(emb, n_cells=8, portable=True)
    query = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    return similarity.ivf_topk(emb, query, centroids, k=10, n_probe=2)


def pretraining_pipeline(spark, sf_dir):
    """End-to-end pretraining-data curation (r4 capstone): every stage a
    single-scan / broadcast-join shape, composed in the order a frontier
    pipeline runs them:

      0. ingest     — the corpus arrives with exact re-crawls: every
                      25th train doc re-appended under a shifted id
                      (the corpus has no organic exact dups, same
                      planting-in-query pattern and rationale as
                      dedup_exact_groups / pii_scan_documents — each
                      gate below must provably fire, mirrored in the
                      oracle).
      1. PII gate   — drop documents containing emails/phones (planted
                      into every 10th id); pure codegen regex filter,
                      no join.
      2. exact dedup— keep the min-id document per normalized-text
                      fingerprint (hash-aggregate + join-back on the
                      16-byte md5 key; text never shuffles) — cuts the
                      re-crawled copies whose original survived.
      3. decontam   — remove docs sharing any word-3-gram with the
                      benchmark slice (broadcast benchmark set).
      4. domain mix — deterministic stratified sampling: sources 0-9
                      keep 100%, sources 10-19 keep 40% (portable hash
                      filter, no shuffle, append-stable).
      5. quality    — hashed linear classifier annotates n_tokens +
                      logit (one tokenize pass, map-side partials).
      6. packing    — fixed-length 512-token sequence assignment via the
                      shared distributed prefix sum.

    Output: one row per surviving document with its quality score and
    sequence placement. The oracle replays every stage in SQL."""
    from lovdata_pipeline_spark.operators.packing import pack_token_sequences
    from lovdata_pipeline_spark.operators.sampling import stratified_sample

    train, bench = _bench_split(spark, sf_dir)
    shift = train.agg((F.max("doc_id") + F.lit(1)).alias("_shift"))
    copies = (
        train.filter(F.col("doc_id") % 25 == 0)
        .crossJoin(F.broadcast(shift))
        .withColumn("doc_id", F.col("doc_id") + F.col("_shift"))
        .drop("_shift")
    )
    ingested = train.unionByName(copies)
    planted = ingested.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact_"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com call +1-555-"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    safe_text = F.coalesce(F.col("text"), F.lit(""))  # NULL text holds no PII
    no_pii = planted.filter(
        (F.size(F.regexp_extract_all(safe_text, F.lit(textstats.EMAIL_RE), F.lit(0))) == 0)
        & (F.size(F.regexp_extract_all(safe_text, F.lit(textstats.PHONE_RE), F.lit(0))) == 0)
    )
    # coalesce: a NULL-text doc would get a NULL fp and the ['fp','doc_id']
    # equi-join below would drop it, while the oracle's GROUP BY groups
    # NULLs together and keeps it (same guard as cli.cmd_curate).
    fp = no_pii.withColumn(
        "fp", F.md5(F.coalesce(textstats._normalized("text"), F.lit("")))
    )
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    # surv feeds decontamination twice (the n-gram flag scan AND the
    # anti-join's left side) and everything upstream is regex-heavy;
    # cache+count pins ONE evaluation of the ingest/PII/dedup prefix
    # (same scoped-cache discipline as ngram_jaccard_pairs — released by
    # the session's cache clearing, lineage recoverable). A cached frame
    # reads no files, so the operators below cannot spread it: spread
    # here, while the frame still sees the single-file table.
    surv = spread_if_narrow(fp.join(keep, ["fp", "doc_id"]).drop("fp")).cache()
    surv.count()
    decont = decontam.decontaminate(surv, bench, n=3)
    rates = {f"src{i}": (1.0 if i < 10 else 0.4) for i in range(20)}
    # mixed likewise fans out three ways (quality stats, packing input,
    # final source join); it keeps surv's spread layout (the anti-join
    # broadcasts its flag side, the mix is a filter)
    mixed = stratified_sample(decont, rates, "source", "doc_id", seed="mix-v1").cache()
    stats = textstats.hashed_linear_quality(mixed).select(
        "doc_id", "n_tokens", "quality_logit"
    )
    seqs = pack_token_sequences(stats.select("doc_id", "n_tokens"), seq_len=512)
    return (
        seqs.join(stats.select("doc_id", "quality_logit"), "doc_id")
        .join(mixed.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "quality_logit",
            "tok_start",
            "seq_start",
            "n_seqs",
        )
        .orderBy("doc_id")
    )


def ann_topk_pq(spark, sf_dir):
    """Product-quantization ADC top-k (new r4): the memory-compression
    scale path — 64 float dims → 8 one-byte codes (32×), corpus scored
    from codes alone against a full-precision query. Portable md5-seeded
    codebooks make seeding, per-subspace argmin encoding, reconstruction,
    and the ADC dot all DuckDB-reproducible."""
    (emb,) = load(spark, sf_dir, "embeddings")
    books = similarity.pq_codebooks(emb, m=8, k_sub=16, portable=True)
    query = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    # The test corpus is ONE parquet file → one scan task, and encode is
    # the (interpreted higher-order) hot loop; spread it across cores.
    # Purely a local-file artifact: a corpus-scale table is already
    # many-partitioned and needs no explicit repartition.
    scored = spread_if_narrow(emb)
    return similarity.pq_adc_topk(scored, query, books, k=10)


def ann_topk_sq8(spark, sf_dir):
    """Scalar-quantized (SQ8) ADC top-k (new r6): the 4x memory tier
    below PQ — per-dimension min/max fit (exact, no float accumulation),
    one-byte affine codes, corpus scored from codes against a
    full-precision query. floor(+0.5) rounding keeps encode half-up in
    both engines."""
    (emb,) = load(spark, sf_dir, "embeddings")
    mins, maxs = similarity.sq8_minmax(emb, dims=64)
    query = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    scored = spread_if_narrow(emb)
    return similarity.sq8_adc_topk(scored, query, mins, maxs, k=10)


def ann_topk_ivfpq(spark, sf_dir):
    """IVF-PQ (new r4): the full production ANN shape — 2-of-8 coarse
    cells probed, survivors scored from 8 one-byte PQ codes (ADC). Same
    portable seeding as the IVF and PQ queries, so the oracle reproduces
    probe choice, encoding, and scores exactly."""
    (emb,) = load(spark, sf_dir, "embeddings")
    centroids = similarity.deterministic_centroids(emb, n_cells=8, portable=True)
    books = similarity.pq_codebooks(emb, m=8, k_sub=16, portable=True)
    query = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    scored = spread_if_narrow(emb)
    return similarity.ivf_pq_topk(
        scored, query, centroids, books, k=10, n_probe=2
    )


def agg_approx_stats(spark, sf_dir):
    """Sketch-based aggregates (HLL distinct, quantile sketch) — the
    100 TB forms of countDistinct/percentile — graded as a TOLERANCE-BAND
    verdict (r3 VERDICT #1). Raw sketch values are engine-specific, so
    the query emits the *banded comparison* instead: per group, the exact
    distinct count plus booleans asserting each sketch landed inside its
    documented error bound. The oracle recomputes the exact count and
    asserts the verdicts TRUE, so the driver hash-checks a real
    pass/fail, not sketch internals.

    Bands: approx_count_distinct's default relativeSD is 0.05 — the
    band is 4×rsd (|approx−exact| ≤ 0.20·exact, a ≥4-sigma allowance;
    observed excursions reach 1.7σ). percentile_approx's default
    accuracy 10000 guarantees rank error ≤ 1e-4 — the band brackets the
    sketch value between exact percentiles at q ± 1e-3, 10× the
    guarantee. The exact arms (count_distinct + exact percentile) exist
    to VERIFY the sketches and share the one hash aggregate; production
    callers at 100 TB run the sketch columns alone."""
    (li,) = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("ap50"),
        F.percentile_approx("l_extendedprice", 0.99).alias("ap99"),
        F.expr(
            "percentile(l_extendedprice, array(0.499, 0.501, 0.989, 0.991))"
        ).alias("ex"),
    )
    return (
        agg.select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= 0.20 * F.col("exact_orders")
            ).alias("orders_in_band"),
            F.col("ap50").between(F.col("ex")[0], F.col("ex")[1]).alias("p50_in_band"),
            F.col("ap99").between(F.col("ex")[2], F.col("ex")[3]).alias("p99_in_band"),
        )
        .orderBy("l_returnflag")
    )


def text_language_id(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.language_id(docs).orderBy("doc_id")


def text_quality(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.quality_scores(docs).orderBy("doc_id")


def text_token_counts(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.token_counts(docs).orderBy("doc_id")


def text_stopword_ratios(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.stopword_ratios(docs).orderBy("doc_id")


def text_fingerprints(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.fingerprints(docs).orderBy("doc_id")


def text_winnowing(spark, sf_dir):
    """Rolling-hash winnowing fingerprints (MOSS): portable polynomial
    hash, so the oracle reproduces the exact values."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.winnowing_fingerprints(docs, k=8, w=4).orderBy(
        "doc_id", "fingerprint"
    )


def curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation: language-ID filter → MinHash-LSH
    near-dup removal (drop the larger id of each pair) → token counts for
    budget accounting. One declarative plan — the filters and the
    anti-join all stay JVM-side; LSH bounds the pair search. The oracle
    recomputes the same pipeline with exact Jaccard; 16 bands × 2 rows
    (matching dedup_minhash_lsh) puts per-pair miss probability at ~8e-8
    for jaccard ≥ 0.8, so outputs coincide with the exact result."""
    (docs,) = load(spark, sf_dir, "documents")
    losers = (
        dedup.minhash_lsh_pairs(docs, threshold=0.8, n=3, bands=16)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # language + token count are row-wise: attach them in the scan
    # projection (one pass, no joins) rather than joining three
    # derivations of the same table back together.
    annotated = docs.withColumn(
        "_w", F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    ).select(
        "doc_id",
        textstats.language_id_col(F.col("_w")).alias("detected_lang"),
        textstats.token_count_col("text").alias("n_tokens"),
    )
    return (
        annotated.filter(F.col("detected_lang") == "en")
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "detected_lang", "n_tokens")
        .orderBy("doc_id")
    )


def multimodal_features(spark, sf_dir):
    """Multimodal plumbing: text → binary payload column → mapInPandas
    feature extraction (deterministic fake decode; see operators/multimodal)."""
    from lovdata_pipeline_spark.operators import multimodal

    (docs,) = load(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return multimodal.extract_features(blobs).orderBy("doc_id")


def multimodal_audio(spark, sf_dir):
    """Audio-path plumbing: binary payload → (sample_rate, duration)
    via the deterministic decode stub; duration rounded here (final
    projection), never inside the UDF."""
    from lovdata_pipeline_spark.operators import multimodal

    (docs,) = load(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    feats = multimodal.extract_audio_features(blobs)
    return feats.select(
        "doc_id", "sample_rate", F.round("duration_s", 6).alias("duration_s")
    ).orderBy("doc_id")


def chunk_documents_pipeline(spark, sf_dir):
    """The flagship ETL operator over the generic documents table: wrap each
    text in a simple-law envelope, run the 3-tier chunker UDF, return chunk
    rows. The general chunker is a stateful per-document fold, but THIS
    envelope (single legalP, every corpus text < max_tokens — probed max
    158 vs 500 at sf0.1) provably emits exactly one chunk per doc whose
    content round-trips the text, so the graded projection has an exact
    DuckDB oracle (oracles._CHUNK_PIPELINE_SQL) including the regex-BPE
    token count. Multi-chunk behavior is pinned by tests/test_chunker.py.
    """
    from lovdata_pipeline_spark.chunking import chunk_documents_df
    from lovdata_pipeline_spark.config import ChunkParams

    prepared = _documents_as_xml(spark, sf_dir)
    chunks = chunk_documents_df(prepared, ChunkParams(100, 500, 50, 0.15))
    return (
        chunks.filter(F.col("error").isNull())
        .select("chunk_id", "document_id", "chunk_pos", "token_count", "source_hash")
        .orderBy("document_id", "chunk_pos")
    )


def _documents_as_xml(spark, sf_dir):
    """documents.text wrapped in a simple-law envelope → chunker input."""
    (docs,) = load(spark, sf_dir, "documents")
    xml = F.concat(
        F.lit('<html><body><main class="documentBody"><h1>doc</h1>'
              '<article class="legalP" id="ledd-1">'),
        F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
        F.lit("</article></main></body></html>"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("documents").alias("dataset_name"),
        xml.alias("xml"),
        F.md5(F.col("text")).alias("source_hash"),
    )


def enrich_documents_pipeline(spark, sf_dir):
    """Metadata-enrichment chain over chunked documents (op 21). Exact
    oracle (oracles._ENRICH_PIPELINE_SQL): the one-chunk-per-doc envelope
    pins titles/depths, and the reference-extraction regex + amendment
    markers re-run genuinely over the content on the DuckDB side."""
    from lovdata_pipeline_spark.chunking import chunk_documents_df
    from lovdata_pipeline_spark.config import ChunkParams
    from lovdata_pipeline_spark.operators.enrichment import enrich

    prepared = _documents_as_xml(spark, sf_dir)
    chunks = chunk_documents_df(prepared, ChunkParams(100, 500, 50, 0.15)).filter(
        F.col("error").isNull()
    )
    return enrich(chunks).select(
        "chunk_id",
        "document_id",
        "enriched_title",
        "law_date",
        "hierarchy_depth",
        "chapter_depth",
        "n_references",
        "is_amendment",
    ).orderBy("document_id", "chunk_id")


def embed_documents_pipeline(spark, sf_dir):
    """Chunk + embed stage: deterministic mock provider, fixed dims.
    Exact oracle (oracles._embed_pipeline_sql): the provider's md5
    hex-chain derivation is portable SQL, bit-identical through the
    float32 narrowing — see mock_hash_provider's docstring."""
    from lovdata_pipeline_spark.chunking import chunk_documents_df
    from lovdata_pipeline_spark.config import ChunkParams
    from lovdata_pipeline_spark.embedding import embed_chunks_df

    prepared = _documents_as_xml(spark, sf_dir)
    chunks = chunk_documents_df(prepared, ChunkParams(100, 500, 50, 0.15)).filter(
        F.col("error").isNull()
    )
    enriched = embed_chunks_df(chunks, dims=16)
    return enriched.select(
        "chunk_id",
        "document_id",
        "token_count",
        F.size("embedding").alias("dims"),
        # + 0.0 normalizes IEEE signed zero: a component in (-5e-5, 0)
        # rounds to -0.0 under DuckDB's double round but +0.0 under
        # Spark's BigDecimal HALF_UP (no -0 in BigDecimal) — numerically
        # equal, hash-different. -0.0 + 0.0 = +0.0 in both engines;
        # every other double is unchanged. Surfaced by the r10 sf1
        # sweep (1 of 50,000 docs); mirrored in the oracle.
        (F.round(F.element_at("embedding", 1).cast("double"), 4) + F.lit(0.0)).alias(
            "e0"
        ),
    ).orderBy("document_id", "chunk_id")


def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (distinct-word ratio + top-bigram
    coverage) — the standard machine-generated-text filters for LLM
    corpus curation. The planted near-dup rewrites are stutter-heavy, so
    the signal is non-vacuous on this corpus."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.repetition_signals(docs).orderBy("doc_id")


def pii_scan_documents(spark, sf_dir):
    """PII detection + redaction over the corpus. The synthetic corpus
    carries no organic PII, so the query deterministically plants an
    email + phone into every 10th document (mirrored exactly in the
    oracle) — the planted rows must report (1, 1) and hash the masked
    text, every other row (0, 0) and hash the original; a detector that
    never fires cannot pass."""
    (docs,) = load(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact_"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com call +1-555-"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return textstats.pii_scan(planted).orderBy("doc_id")


#: per-priority keep rates for the stratified-sampling query — the
#: "domain mixing" shape (keep X% of each source) over the orders table.
SAMPLE_RATES = {
    "1-URGENT": 0.5,
    "2-HIGH": 0.25,
    "3-MEDIUM": 0.1,
    "4-NOT SPECIFIED": 0.05,
    "5-LOW": 0.02,
}


def stratified_sample_orders(spark, sf_dir):
    """Deterministic stratified sampling (domain mixing): keep each
    order with its priority's rate, decided by a portable md5 hash of
    the key — no RNG, no shuffle, same rows on every engine/run."""
    from lovdata_pipeline_spark.operators.sampling import stratified_sample

    (orders,) = load(spark, sf_dir, "orders")
    return (
        stratified_sample(orders, SAMPLE_RATES, "o_orderpriority", "o_orderkey")
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")
    )


#: bag-of-words query for the BM25 ranking query — mid-frequency corpus
#: terms so idf differences are meaningful.
BM25_TERMS = ["vector", "join", "stream"]


def text_bm25_search(spark, sf_dir):
    """BM25 keyword search top-20 — the lexical half of hybrid retrieval
    (vector half: ann_cosine_topk). Per-term scores pivot into columns
    and add in fixed order so the doubles are bit-stable against the
    oracle."""
    from lovdata_pipeline_spark.operators.search import bm25_topk

    (docs,) = load(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_TERMS, k=20)


def text_unigram_surprisal(spark, sf_dir):
    """LM-quality scoring: per-doc mean unigram surprisal with the corpus
    as its own language model (CCNet's perplexity-filter shape without an
    external model artifact). Fixed-point accumulation keeps the mean
    deterministic under any shuffle order."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.unigram_surprisal(docs).orderBy("doc_id")


def text_quality_classifier(spark, sf_dir):
    """Model-based quality filtering (new r4): fastText-style hashed
    linear classifier — integer hash weights summed per doc, logit +
    sigmoid score + keep flag. The curation step between heuristic
    quality signals (text_quality) and LM scoring (unigram surprisal)."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.hashed_linear_quality(docs).orderBy("doc_id")


def embedding_cluster_assign(spark, sf_dir):
    """K-means-style cluster assignment over the embedding corpus (the
    partitioning step of IVF indexing / topic bucketing): portable
    md5-seeded centroids, JVM argmin assignment — the oracle reproduces
    both exactly (same CTEs as the IVF ANN oracle)."""
    (emb,) = load(spark, sf_dir, "embeddings")
    centroids = similarity.deterministic_centroids(emb, n_cells=8, portable=True)
    return (
        similarity.ivf_assign(emb, centroids)
        .select("vec_id", F.col("cell").cast("int").alias("cell"))
        .orderBy("vec_id")
    )


def semantic_dedup_pairs_embeddings(spark, sf_dir):
    """SemDeDup-style cluster-pruned near-dup search (new r5): within-
    cell BLAS candidate matmul + sequential-fold exact verify; cross-
    cluster pairs missed by design (the published method's O(Σ|cell|²)
    trade). Same portable seeding as the IVF family, so the oracle
    replays cells and cosines exactly."""
    from lovdata_pipeline_spark.operators.dedup import semantic_dedup_pairs

    (emb,) = load(spark, sf_dir, "embeddings")
    centroids = similarity.deterministic_centroids(emb, n_cells=8, portable=True)
    return (
        semantic_dedup_pairs(emb, centroids, threshold=0.45)
        .orderBy("cell", "doc_a", "doc_b")
    )


def cluster_balanced_sample_embeddings(spark, sf_dir):
    """Cluster-balanced diversity sampling (new r5): ≈30 vectors kept
    per k-means cell so dominant clusters stop drowning rare ones —
    portable centroid seeding + JVM argmin assignment + integer
    per-cell thresholds + the shuffle-free hash filter. The oracle
    replays seeding, assignment, thresholds, and the keep decision."""
    from lovdata_pipeline_spark.operators.sampling import cluster_balanced_sample

    (emb,) = load(spark, sf_dir, "embeddings")
    centroids = similarity.deterministic_centroids(emb, n_cells=8, portable=True)
    return (
        cluster_balanced_sample(emb, centroids, target_per_cluster=30, seed="diverse-v1")
        .select("vec_id", F.col("cell").cast("int").alias("cell"))
        .orderBy("vec_id")
    )


def hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 top-20 (lexical) fused with cosine top-20
    for the vec_id=0 query embedding (semantic) by reciprocal-rank
    fusion, top-10 out. vec_id aligns with doc_id in the synthetic
    corpus, standing in for the chunk↔embedding linkage of the real
    pipeline."""
    from lovdata_pipeline_spark.operators.search import bm25_topk, rrf_fuse

    docs, emb = load(spark, sf_dir, "documents", "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    lexical = bm25_topk(docs, BM25_TERMS, k=20)
    semantic = similarity.cosine_topk(emb, list(query), k=20).withColumnRenamed(
        "vec_id", "doc_id"
    )
    return rrf_fuse(lexical, semantic, k=10)


def shard_pack_documents(spark, sf_dir):
    """Training-shard packing: documents stream into 4096-token shards
    in doc_id order, via the distributed two-phase prefix sum in
    operators/packing.py (no global single-task window)."""
    from lovdata_pipeline_spark.operators.packing import pack_into_shards

    (docs,) = load(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", textstats.token_count_col("text").alias("n_tokens")
    )
    return pack_into_shards(with_tokens, budget=4096).orderBy("doc_id")


def pack_sequences_documents(spark, sf_dir):
    """Fixed-length pretraining-sequence assignment (new r4): the corpus
    as one token stream cut every 512 tokens; each doc reports the
    sequences it lands in. Same two-phase distributed prefix sum as
    shard packing — no global single-task window."""
    from lovdata_pipeline_spark.operators.packing import pack_token_sequences

    (docs,) = load(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", textstats.token_count_col("text").alias("n_tokens")
    )
    return pack_token_sequences(with_tokens, seq_len=512).orderBy("doc_id")


def tfidf_keywords_by_source(spark, sf_dir):
    """Top-5 TF-IDF keywords per source (new r5): the domain-audit view
    of a corpus mix. One tokenize scan feeds both the per-source tf and
    the per-term df aggregates; idf's N rides a 1-row broadcast scalar;
    ranking is on the ROUNDED score (term-asc ties) so the cross-engine
    order is deterministic — the BM25 discipline."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.tfidf_keywords(docs, group_col="source", k=5).orderBy(
        "source", "rk"
    )


def bpe_pair_stats(spark, sf_dir):
    """Adjacent-character-pair counts (new r5): the inner statistic of
    BPE tokenizer training, as a pure-codegen explode + hash aggregate.
    Top-50 pairs by (count desc, pair asc) — integer counts, exactly
    deterministic. The shuffle carries (pair, partial_count), bounded by
    the pair vocabulary, never the corpus."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.bpe_pair_counts(docs, k=50)


def events_rolling_1h(spark, sf_dir):
    """Per-user rolling 1-hour sum/count via a RANGE window frame (new
    r5): rangeBetween on epoch seconds [-3600, 0] — the time-interval
    frame class that rows-frames (running_sum, events_lag_gaps) cannot
    express. DECIMAL(18,6) accumulation keeps the windowed sum exact
    under any intra-frame order; sum and count are emitted separately
    (no division, so no cross-engine rounding seam). Partitioned by
    user_id — the same per-key window shape as sessionize, so the only
    shuffle is the user_id hash partitioning."""
    events = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    dec = F.col("value").cast("decimal(18,6)")
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum(dec).over(w), 6).cast("double").alias("sum_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    ).orderBy("event_id")


def events_funnel_counts(spark, sf_dir):
    """Sequential conversion funnel (new r7): view → click → purchase,
    each stage gated on happening STRICTLY AFTER the user's previous
    stage — the order-sensitive product-analytics aggregate that
    sessionize/lag/rolling windows cannot express (a click before the
    first view must NOT convert).

    One summary row: per-stage user counts, step and overall conversion
    rates, and the mean view→purchase latency of converted users.

    Plan shape: three conditional min-aggregates chained by equi-joins,
    all keyed on user_id — after the first hash aggregate every frame is
    already partitioned by user_id, so the later joins and aggregates
    reuse that exchange instead of re-shuffling; stage 2/3 inputs are
    filtered to one event_type BEFORE joining (predicate reaches the
    scan) and the stage frames shrink monotonically (click candidates ≤
    viewers, purchase candidates ≤ clickers). The final reduce is a
    single broadcastable 1-row aggregate. No windows, no driver loops —
    at 100 TB the cost is one shuffle per stage on the same key.

    Determinism: timestamps compare exactly (microsecond longs in both
    engines); rate/latency divisions are double-on-double from exact
    integer/DECIMAL inputs, rounded to 6 dp — the registry float
    discipline. Zero-denominator steps surface NULL, not a crash (ANSI
    mode) or a 0-vs-NULL seam."""
    events = load_events(spark, sf_dir)
    tv = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    tc = (
        events.filter(F.col("event_type") == "click")
        .join(tv, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    tp = (
        events.filter(F.col("event_type") == "purchase")
        .join(tc, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    funnel = tv.join(tc, "user_id", "left").join(tp, "user_id", "left")
    lat = F.col("t_purchase").cast("double") - F.col("t_view").cast("double")
    agg = funnel.agg(
        F.count(F.lit(1)).alias("n_view_users"),
        F.count("t_click").alias("n_click_users"),
        F.count("t_purchase").alias("n_purchase_users"),
        F.sum(lat.cast("decimal(18,6)")).alias("_lat_sum"),
    )
    def _rate(num, den):
        return F.when(
            F.col(den) == 0, F.lit(None).cast("double")
        ).otherwise(F.round(F.col(num).cast("double") / F.col(den), 6))

    return agg.select(
        "n_view_users",
        "n_click_users",
        "n_purchase_users",
        _rate("n_click_users", "n_view_users").alias("conv_view_click"),
        _rate("n_purchase_users", "n_click_users").alias("conv_click_purchase"),
        _rate("n_purchase_users", "n_view_users").alias("conv_view_purchase"),
        F.when(F.col("n_purchase_users") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("_lat_sum").cast("double") / F.col("n_purchase_users"), 6
            )
        )
        .alias("mean_view_to_purchase_s"),
    )


def events_retention_cohorts(spark, sf_dir):
    """Weekly retention cohorts (new r7b): users cohorted by the week
    of their FIRST event; for every later week, how many of that
    cohort came back — the (cohort_week, week_offset, n_active,
    retention) matrix product analytics reads as a triangle chart.
    Week 0 is the cohort size by construction, so retention divides by
    the offset-0 count of the same cohort.

    Plan shape: one shuffle by user for the first-event aggregate, one
    distinct over (user, week) — the activity frame, orders of
    magnitude smaller than raw events — an equi-join back on user, and
    a final aggregate on the tiny (cohort, offset) grid; the cohort
    sizes re-attach as a |cohorts|-row broadcast. No windows, no
    per-cohort funneling.

    Determinism: week truncation is calendar arithmetic (Monday-start
    in both engines), offsets are exact integer day-diffs div 7, and
    the single rate division is double-over-long rounded 6 dp."""
    events = load_events(spark, sf_dir)
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    cells = (
        activity.join(first, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("w"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sizes = cells.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("_cohort_size")
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.round(
                F.col("n_active").cast("double") / F.col("_cohort_size"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def knn_classify_embeddings(spark, sf_dir):
    """Majority-vote k-NN label transfer (new r5): every vec_id % 97 == 0
    row is a held-out query classified by its 10 nearest neighbors among
    the rest — the weak-supervision primitive for propagating a small
    labeled set across a corpus. true_label joined back so the output is
    accuracy-auditable. Integer votes → exactly deterministic argmax."""
    (emb,) = load(spark, sf_dir, "embeddings")
    held_out = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rest = emb.filter(F.col("vec_id") % 97 != 0)
    pred = similarity.knn_classify(held_out, rest, k=10)
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(truth, "query_id").select(
        "query_id", "predicted_label", "n_votes", "true_label"
    ).orderBy("query_id")


def quality_quota_by_source(spark, sf_dir):
    """Per-domain quota cap (new r5): the k best documents of each
    source by composite quality — the FineWeb-style "cap every domain"
    selection. Routes through the two-phase exact top-k
    (``sampling.top_k_per_group``): a local (group, partition) rank
    prunes to ≤ k·P rows per group before the per-group rank, so no
    single task ever sees a whole domain. Ranking is on the ROUNDED
    quality (doc_id-asc ties) — deterministic cross-engine."""
    from lovdata_pipeline_spark.operators.sampling import top_k_per_group

    (docs,) = load(spark, sf_dir, "documents")
    scored = textstats.quality_scores(docs, keep_cols=("source",)).select(
        "doc_id", "source", "quality"
    )
    return top_k_per_group(
        scored, k=5, group_col="source", order_col="quality", id_col="doc_id"
    ).orderBy("source", "rk")


def weighted_sample_documents(spark, sf_dir):
    """Quality-weighted sampling without replacement, 10 per source (new
    r5): Efraimidis–Spirakis order via ln(u)/w on the portable hash —
    better docs win proportionally more often, yet every draw is
    deterministic and exactly replayable by the oracle (scores are
    append-stable; top-k membership shifts only at the rank-k tail when
    rows are added — see the operator docstring).
    Weight = quality + 0.05 (strictly positive; the additive floor keeps
    zero-quality docs drawable, matching real curation which downweights
    but rarely bans). Routes through the two-phase exact top-k."""
    from lovdata_pipeline_spark.operators.sampling import weighted_sample_per_group

    (docs,) = load(spark, sf_dir, "documents")
    scored = textstats.quality_scores(docs, keep_cols=("source",)).select(
        "doc_id",
        "source",
        (F.col("quality") + F.lit(0.05)).alias("weight"),
    )
    return weighted_sample_per_group(
        scored, k=10, group_col="source", weight_col="weight", id_col="doc_id",
        seed="ws-v1",
    ).orderBy("source", "rk")


def paragraph_dedup_documents(spark, sf_dir):
    """Cross-document paragraph dedup with text reassembly (new r6): the
    C4/CCNet granularity between whole-doc dedup and substring spans —
    a paragraph survives only at its globally first (doc, pos)
    occurrence. The single-line synthetic corpus has no paragraph
    structure, so the query BUILDS it deterministically (the
    dedup_exact_groups planting pattern, mirrored in the oracle): each
    doc becomes [own 8-word prefix] ‖ [one of 7 shared blocks keyed by
    doc_id % 7] ‖ [own words 9–16] — the shared block must vanish from
    every doc except the 7 residue-class minima. Paragraph text never
    shuffles (16-byte hashes + positions only); the splice is
    scan-local."""
    (docs,) = load(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    text3 = F.concat_ws(
        "\n\n",
        F.array_join(F.slice(w, 1, 8), " "),
        F.concat(F.lit("shared boilerplate block "), (F.col("doc_id") % 7).cast("string")),
        F.array_join(F.slice(w, 9, 8), " "),
    )
    prepared = docs.select("doc_id", text3.alias("text"))
    out = dedup.remove_duplicate_paragraphs(prepared)
    return out.select(
        "doc_id",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        F.md5("text").alias("cleaned_hash"),
    ).orderBy("doc_id")


def boilerplate_strip_documents(spark, sf_dir):
    """Per-source boilerplate line stripping (new r6): a line occurring
    in ≥ 50% of a source's documents is crawl chrome and is cut from
    every document of that source — the frequency-rule sibling of
    paragraph dedup (all copies go, not all-but-first). Structure is
    planted deterministically (mirrored in the oracle): every doc gets
    a per-source header line, its own 12-word middle, and a per-source
    footer — header and footer must be stripped from every row, the
    middle kept. Line text never shuffles; the boilerplate set
    broadcasts."""
    (docs,) = load(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    text3 = F.concat_ws(
        "\n",
        F.concat(F.lit("header "), F.col("source")),
        F.array_join(F.slice(w, 1, 12), " "),
        F.concat(F.lit("footer "), F.col("source")),
    )
    prepared = docs.select("doc_id", "source", text3.alias("text"))
    out = textstats.strip_boilerplate_lines(prepared, min_frac=0.5)
    return out.select(
        "doc_id",
        "source",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_stripped").cast("long").alias("n_stripped"),
        F.md5("text").alias("cleaned_hash"),
    ).orderBy("doc_id")


def mixture_plan_by_source(spark, sf_dir):
    """Mixture PLANNING (new r6): the calculation every pretraining mix
    design starts from — per source, the doc/token inventory, its
    natural share of the corpus, and the epoch multiplier that would
    equalize it to a uniform target mix (epochs_uniform =
    total/(k·tokens_s); feed these into ``epoch_mix`` to materialize).
    One corpus scan: per-source totals are a map-side-combining hash
    aggregate, and the corpus-wide total/k fold over the ≤|sources|
    pre-aggregated rows in an unpartitioned window — bounded input, no
    second scan, no driver collect. Shares are single IEEE divisions of
    exact integers (emitted unrounded — the hashed_linear_quality
    discipline; exact rationals are bit-identical cross-engine where
    round() is not)."""
    (docs,) = load(spark, sf_dir, "documents")
    per = (
        docs.select("source", textstats.token_count_col("text").alias("_t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    return (
        per.select(
            "source",
            "n_docs",
            "n_tokens",
            F.sum("n_tokens").over(w).alias("_total"),
            F.count(F.lit(1)).over(w).alias("_k"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # zero guards (r6 review): a group of all-empty docs has
            # n_tokens 0 and would raise DIVIDE_BY_ZERO under Spark 4's
            # ANSI default; report NULL for the degenerate cell instead
            F.when(F.col("_total") == 0, F.lit(None).cast("double"))
            .otherwise(F.col("n_tokens").cast("double") / F.col("_total"))
            .alias("natural_share"),
            F.when(F.col("n_tokens") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("_total").cast("double") / (F.col("_k") * F.col("n_tokens"))
            )
            .alias("epochs_uniform"),
        )
        .orderBy("source")
    )


def token_length_band_documents(spark, sf_dir):
    """Percentile length-band filter (new r6): keep documents whose
    token count lies within the corpus's [p5, p95] — the standard
    outlier-length cut (truncated fragments below, concatenation junk
    above). The band is a 1-row exact-percentile aggregate broadcast
    against the scan (the scalar-subquery shape); interpolated
    percentiles match DuckDB's quantile_cont exactly (the
    percentile_order_totals parity). At 100 TB swap the exact
    percentile for percentile_approx — same plan shape, sketch-based
    (the agg_approx_stats tolerance discipline)."""
    (docs,) = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", textstats.token_count_col("text").cast("long").alias("n_tokens")
    )
    bounds = t.agg(F.expr("percentile(n_tokens, array(0.05, 0.95))").alias("_b"))
    return (
        t.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("n_tokens") >= F.col("_b")[0])
            & (F.col("n_tokens") <= F.col("_b")[1])
        )
        .select("doc_id", "source", "n_tokens")
        .orderBy("doc_id")
    )


def vocab_drift_by_source(spark, sf_dir):
    """Per-source vocabulary-drift monitor (late r6): smoothed KL of
    each source's hashed-unigram distribution against the whole corpus.
    The query plants real drift — src7's documents gain a repeated
    off-vocabulary block comparable to their own length (mirrored in
    the oracle) — and src7 must surface with roughly 2× the KL of any
    other source at sf0.01. n_buckets=256 keeps per-source token mass
    well above the bucket count, so the smoothing term stays small
    relative to real distributional distance (at 2048 buckets the
    sparse-sample smoothing noise alone measured ≈ 1.0 KL per source
    and drowned the plant); the operator-level detector contract is
    pinned by pytest on a dense synthetic corpus. One corpus scan; the count frame is
    bounded by |sources| × n_buckets (parameters, not data)."""
    (docs,) = load(spark, sf_dir, "documents")
    # 40 repetitions ≈ 160 drift tokens per doc — comparable to the doc
    # length, so src7's distribution genuinely moves (5 appended tokens
    # measured BELOW the ~1.0 inter-source baseline KL of the synthetic
    # corpus — a vacuous plant).
    planted = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("source") == "src7",
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.repeat(F.lit("drifta driftb driftc driftd "), 40),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return textstats.vocab_drift(planted, n_buckets=256).orderBy("source")


def text_repetition_signals(spark, sf_dir):
    """Gopher repetition filters (late r6): dup-paragraph fraction,
    duplicated line/paragraph char mass, top 2/3/4-gram char fractions,
    and the published pass verdict, per document. ONE corpus scan —
    lines, paragraphs, and all three gram sizes ride a single explode
    as (kind, hash60, chars) structs with a per-doc sentinel, so item
    text never shuffles and no join back to the corpus is needed; two
    map-side-combinable hash aggregates finish it (reference has no
    counterpart; Rae et al. 2021 Table A1 is the spec)."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.gopher_repetition_signals(docs).orderBy("doc_id")


def perplexity_buckets_by_source(spark, sf_dir):
    """CCNet head/middle/tail perplexity split (late r6): per source,
    documents bucket into thirds by bigram-surprisal score. Cuts are
    DISCRETE tercile values (integer indexing into the sorted per-group
    score list — no float interpolation, leak-proof on score ties);
    the cut table is |sources| rows broadcast against a scan-local
    bucket assignment. At 100 TB the cut aggregate swaps to
    percentile_approx with the same plan shape (Wenzek et al. 2020 is
    the spec; reference has no counterpart)."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.perplexity_buckets(docs).orderBy("doc_id")


def bpe_learned_merges(spark, sf_dir):
    """BPE tokenizer training (late r6): the top-8 learned merges over
    the documents corpus — rank, pair, merged symbol, occurrence count.
    Training runs on the distinct-word vocabulary frame (one corpus
    scan total; every iteration is vocabulary-bounded); merge
    application is a literal string replace over \\x1f-delimited symbol
    streams, whose left-to-right non-overlapping semantics are
    IDENTICAL in Spark and DuckDB — the oracle replays all 8 training
    iterations bit-for-bit (generated CTE chain), making tokenizer
    training itself hash-graded."""
    (docs,) = load(spark, sf_dir, "documents")
    return textstats.bpe_train(docs, n_merges=8).orderBy("rank")


def bpe_token_counts(spark, sf_dir):
    """Train-then-apply BPE (late r6): learn 8 merges, re-tokenize the
    corpus under them, and report (doc_id, n_words, n_bpe_tokens) —
    the token budget under the learned vocabulary. Segmentation runs on
    the distinct-word frame (vocabulary-bounded), counts re-attach by a
    word equi-join (AQE absorbs stopword skew); the oracle replays the
    full train+apply chain bit-for-bit."""
    (docs,) = load(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in textstats.bpe_train(docs, n_merges=8).orderBy("rank").collect()
    ]
    return textstats.bpe_apply(docs, merges).orderBy("doc_id")


def pca_variance_report_embeddings(spark, sf_dir):
    """Distributed PCA fit verdict (late r6): one quantized-Gram pass
    (exact integer sufficient statistics — bit-identical under any
    partitioning), driver eigh over the d² covariance, one verdict row.
    The data-exact arms (n_vecs, quantized sum / sum-of-squares) are
    recomputed verbatim by the oracle; the eigensolver outputs —
    orthonormality, explained-variance-ratio validity — are
    Spark-asserted booleans the oracle expects TRUE (the
    agg_approx_stats discipline for engine-specific numerics).
    Driver state is d²+d+1 longs — parameters, never rows."""
    import numpy as np

    from lovdata_pipeline_spark.operators import reduction

    (emb,) = load(spark, sf_dir, "embeddings")
    m = reduction.pca_fit(emb, k=8)
    evr = np.asarray(m.explained_variance_ratio)
    orth = bool(
        np.allclose(
            m.components.T @ m.components, np.eye(m.components.shape[1]),
            atol=1e-9,
        )
    )
    evr_valid = bool(
        (evr >= 0).all()
        and (evr <= 1).all()
        and (np.diff(evr) <= 1e-12).all()
        and evr.sum() <= 1 + 1e-9
    )
    return driver_rows(
        spark,
        [(m.n_vecs, 8, m.sum_q, m.sum_sq_q, orth, evr_valid)],
        "n_vecs long, k int, sum_q long, sum_sq_q long, "
        "orthonormal boolean, evr_valid boolean",
    )


def ann_pca_rerank_recall_embeddings(spark, sf_dir):
    """Two-stage "reduce then rerank" retrieval verdict (late r6, r7
    adds the sublinear candidate stage): candidates come from an IVF
    probe IN PCA-32 SPACE (8 cells, 4 probed — each query scores ~half
    the corpus instead of all of it; centroids are deterministic seeds
    + two exact-integer Lloyd steps), then the exact-cosine rerank,
    graded as per-query recall@10 against the exact full-space top-10.
    Measured at sf0.01: mean recall 0.90 / min 0.8 (the exhaustive
    candidate scan measured 0.94 — the 0.04 is the price of probing
    half the corpus at this 500-vector toy scale; the clustered pytest
    fixture pins ≥ 0.94 mean at 2/8 probing where cell structure is
    real). The verdict pins recall ≥ 0.5 per query (25× the 0.02
    random-draw baseline). The query-id set and result count are the
    oracle's data-exact arms; the recall verdict is Spark-asserted
    (eigenvectors aren't SQL-expressible — the agg_approx_stats
    discipline). Deterministic end-to-end: quantized-integer fit,
    exact-integer centroid refinement, 6-dp rounded scores, id and
    cell-index tie-breaks.

    SCALE CALIBRATION (r9 sf1 spot-check finding): the ≥ 0.5 floor is
    a contract AT THE GRADED sf0.01 POINT. Recall is a data property
    (the knn-IVF doctrine): on the uniform-random synthetic corpus at
    20k vectors, pool=100 is 0.5% of the corpus and mean recall@10
    measures 0.449 — and sweeping pool to 5% lifts the mean to 0.746
    while the per-query MIN stays ≤ 0.3, because no fixed pool bounds
    the binomial tail of 199 structureless draws.

    The contract is therefore SCALE-AWARE (r10 VERDICT Next #3), in
    both the standard ways: the candidate pool grows with the corpus
    — ``pool = max(100, ceil(0.025·N))``, so stage 1 always rescores
    the same corpus FRACTION (pool=100 at the graded sf0.01, 500 at
    the 20k-vector sf1, where the builder's pool sweep measured mean
    hits 6.91/10) — and the verdict gates on CORPUS-MEAN recall ≥ 0.5
    (25× the random-draw baseline), the aggregate a binomial tail
    cannot flip. Per-query arms stay data-exact in the oracle (query-
    id set, n_results); the same row is hash-green at sf0.01 AND in
    the sf1 sweep. Clustered corpora (real embedding spaces) hold far
    more — the pytest fixture pins ≥ 0.94 mean at 2/8 probing."""
    from lovdata_pipeline_spark.operators import reduction

    (emb,) = load(spark, sf_dir, "embeddings")
    m = reduction.pca_fit(emb, k=32)
    # pool ∝ corpus: a fixed pool is a shrinking FRACTION as N grows,
    # which is exactly how the r9 sf1 sweep caught the fixed contract
    n_corpus = emb.count()
    pool = max(100, -((-25 * n_corpus) // 1000))  # ceil(0.025·N)
    queries = emb.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = reduction.pca_rerank_topk(
        queries, emb, m, k=10, pool=pool, n_cells=8, n_probe=4
    )
    exact = similarity.knn_join(queries, emb, k=10)
    hits = (
        approx.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_q = (
        approx.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_results"))
        .join(hits, "query_id", "left")
    )
    # the verdict aggregate and the final projection both read per_q
    # (one row per query): driver rows run the lineage above (IVF probe
    # + rescore + exact knn_join) ONCE, not twice inside the crossJoin
    # plan (r10 review), and leave no pin. Past the row bound it is lazy.
    rows = collect_bounded(per_q, warn=False)
    if rows is not None:
        per_q = driver_rows(spark, rows, per_q.schema)
    # corpus-mean verdict as a broadcast 1-row scalar (the whitelisted
    # crossJoin shape): every row carries the aggregate judgment
    verdict = per_q.agg(
        (F.avg(F.coalesce("n_hits", F.lit(0))) >= 5.0).alias("recall_ok")
    )
    return (
        per_q.crossJoin(F.broadcast(verdict))
        .select("query_id", "n_results", "recall_ok")
        .orderBy("query_id")
    )


def hard_negatives_embeddings(spark, sf_dir):
    """Hard-negative mining (new r6): for each labeled anchor
    (vec_id % 101 == 0), the 5 most-similar corpus vectors with a
    DIFFERENT label — the contrastive-training pair-selection step.
    Scores round to 6 dp before ranking (corpus-id ties) and the top-k
    routes through the two-phase per-group rank, so the mined set is
    exactly deterministic and skew-immune."""
    (emb,) = load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    corpus = emb.filter(F.col("vec_id") % 101 != 0)
    return similarity.hard_negatives(anchors, corpus, k=5).orderBy("query_id", "rk")


def bitext_mine_margin(spark, sf_dir):
    """Margin-based bitext mining (new r7b, the LASER/CCMatrix
    parallel-corpus recipe): mine candidate translation pairs between
    the 'en' and 'zh' document sets through their shared embedding
    space — forward-max by margin (cosine over the mean of both
    endpoints' k-NN neighborhoods, the hubness-cancelling criterion),
    kept at margin ≥ 1.0. Embeddings join documents on vec_id = doc_id
    for the language split; all ranking is 6-dp-rounded with id
    tie-breaks and neighborhood sums are exact DECIMAL, so the mined
    set is deterministic on any partitioning."""
    emb, docs = load(spark, sf_dir, "embeddings", "documents")
    langed = emb.join(
        docs.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
    )
    src = langed.filter(F.col("lang") == "en").select(
        F.col("vec_id").alias("src_id"), "embedding"
    )
    tgt = langed.filter(F.col("lang") == "zh").select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    return similarity.bitext_margin_mine(src, tgt, k=4, threshold=1.0).orderBy(
        "src_id"
    )


def bitext_mine_margin_bucketed(spark, sf_dir):
    """The bitext scale path GRADED end-to-end (new r9 — the
    knn_edges_ivf move, for bitext): the same en/zh margin mining as
    ``bitext_mine_margin``, but candidates come from the seed-42 SRP
    LSH pre-bucketing (16 buckets, 1-bit multi-probe on the source
    side) instead of the full cross join. The oracle replays the WHOLE
    approximation in SQL — plane literals inlined (repr round-trip; the
    sign-of-dot is a sequential fold in both engines, the proven
    ann_topk_lsh_bucketed parity), the 1-bit-flip probe set, the
    bucket equi-join, and then the identical neighborhood/margin/
    forward-max machinery over the RESTRICTED pair set — certifying
    the approximation itself is deterministic, not just plausible.
    Every target lives in exactly one bucket, so no pair duplicates
    and no dedup aggregate is needed."""
    emb, docs = load(spark, sf_dir, "embeddings", "documents")
    langed = emb.join(
        docs.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
    )
    src = langed.filter(F.col("lang") == "en").select(
        F.col("vec_id").alias("src_id"), "embedding"
    )
    tgt = langed.filter(F.col("lang") == "zh").select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    return similarity.bitext_margin_mine(
        src, tgt, k=4, threshold=1.0, buckets=16, n_probe_bits=1
    ).orderBy("src_id")


def train_quality_classifier_documents(spark, sf_dir):
    """Distributed logistic-regression TRAINING graded bit-for-bit
    (r7): learn a 32-bucket hashed bag-of-words classifier for
    lang == 'en' over the corpus — 3 full-batch gradient-descent
    iterations, exact integer weights/gradients throughout
    (``textstats.train_text_classifier``; the oracle replays the whole
    3-iteration chain in SQL). The engine could previously only APPLY
    a classifier; this trains one, the CCNet/fastText curation-model
    loop closed inside the engine."""
    (docs,) = load(spark, sf_dir, "documents")
    # coalesce: a NULL lang trains as negative on BOTH sides (the
    # trainer drops NULL-labeled rows; the oracle mirrors the coalesce)
    labeled = docs.withColumn(
        "_label", F.coalesce((F.col("lang") == "en").cast("int"), F.lit(0))
    )
    w = textstats.train_text_classifier(
        labeled, "_label", n_buckets=32, iterations=3, lr=0.125
    )
    return w.orderBy("bucket")


def ann_topk_ivf_index(spark, sf_dir):
    """PERSISTED-index IVF ANN (r7): the corpus is written as a parquet
    index partitioned by cell (+ ``_ivf_params.json``), then probed by
    reading ONLY the two nearest cell directories — Catalyst partition
    pruning, the layout the 100-TB IVF story runs on (SCALING.md's
    "write the corpus partitioned by cell" made real and graded).
    Same portable centroids, probe choice, and in-cell scoring as
    ``ann_topk_ivf``, so the results — and the oracle — are identical:
    the index is a layout, not a different algorithm. The
    PartitionFilters plan assertion lives in tests/test_r7_operators.py."""
    (emb,) = load(spark, sf_dir, "embeddings")
    idx = _staging_dir("ivf_index_")
    similarity.ivf_write_index(emb, idx, n_cells=8, portable=True)
    query = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    return similarity.ivf_index_topk(spark, idx, query, k=10, n_probe=2)


def dedup_incremental_minhash(spark, sf_dir):
    """INCREMENTAL near-dedup against a persisted signature store (r7):
    the corpus splits into history (doc_id % 5 != 0, signed and written
    once via ``minhash_store_write``) and today's batch (doc_id % 5 ==
    0), and the batch deduplicates against the store WITHOUT re-reading
    history's text — the daily-crawl shape. Banding 16×2 at threshold
    0.8 gives recall ≈ 1 − 3e-12 (the dedup_minhash_lsh argument), so
    the output equals the exact cross-split Jaccard pairs the oracle
    computes all-pairs."""
    (docs,) = load(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    store = _staging_dir("minhash_store_")
    dedup.minhash_store_write(hist, store, n=3, num_hashes=32, bands=16)
    return dedup.minhash_store_dedup_new(
        spark, store, batch, threshold=0.8
    ).orderBy("new_id", "hist_id")


def dedup_keep_best_quality(spark, sf_dir):
    """Canonical survivor selection by QUALITY (r7): exact-duplicate
    groups (normalized-text md5 fingerprint) keep their HIGHEST-QUALITY
    member, ties on doc_id — the Dolma/FineWeb survivor policy, where
    every other dedup form in the repo keeps min-id. One scan computes
    fingerprint + the composite quality score together (quality_scores'
    keep_cols pass-through — no re-join on id); the per-group winner
    routes through the two-phase ``top_k_per_group`` (k=1), never a
    one-task-per-fingerprint window. Deterministic: quality rounds to
    6 dp before ranking, ties break on id."""
    from lovdata_pipeline_spark.operators.sampling import top_k_per_group

    (docs,) = load(spark, sf_dir, "documents")
    prepared = docs.withColumn(
        "fingerprint",
        F.md5(F.coalesce(textstats._normalized("text"), F.lit(""))),
    )
    q = textstats.quality_scores(prepared, keep_cols=("fingerprint",))
    best = top_k_per_group(
        q.select("doc_id", "fingerprint", "quality"),
        1,
        "fingerprint",
        "quality",
        "doc_id",
    )
    return best.select("doc_id", "fingerprint", "quality").orderBy("doc_id")


def streaming_session_counts(spark, sf_dir):
    """Second driver-GRADED streaming row (r7b): native event-time
    SESSION WINDOWS over a real stream — ``readStream`` file source →
    ``session_window(ts, 30 min)`` per user → ``foreachBatch`` landing —
    drained with ``Trigger.AvailableNow``. Complete output mode: every
    trigger re-emits the whole session table, so the LAST landed batch
    is the final answer regardless of how availableNow split the input
    (append mode would hold back any session the watermark hadn't
    passed when the finite drain ended — an incomplete table by
    construction, not a bug).

    Oracle: gaps-and-islands with ``session_window``'s boundary rule,
    which testing shows is INCLUSIVE — an event at exactly
    last_ts+gap still merges into the window (pinned in
    tests/test_r7b_operators.py), i.e. the same "new session iff gap >
    1800" rule as batch ``events_sessionize``; session_end = last
    event + gap.

    Scale shape: the aggregation state is one open session window per
    active user (closed sessions evict once a watermark is attached in
    production append mode); the landing is per-batch parquet. Complete
    mode here is a finite-drain grading harness, not the production
    plan — the operator itself (`streaming.windows.session_windows`)
    carries the watermark."""
    src_dir = _link_stream_source(sf_dir, "events", "stream_sess_src_")
    raw = _events_raw(spark, sf_dir)
    stream = _events_ts(spark.readStream.schema(raw.schema).parquet(src_dir))
    sess = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("sess"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )
    return _drain(
        sess,
        "complete",
        "user_id long, session_start timestamp, session_end timestamp, n_events long",
    ).orderBy("user_id", "session_start")


def streaming_session_append_counts(spark, sf_dir):
    """Fifth driver-GRADED streaming row (new r9, r8 VERDICT Next #6):
    the PRODUCTION (append-mode) session-window form. The graded
    ``streaming_session_counts`` drains COMPLETE mode — a finite-drain
    grading harness; this row drains the watermarked APPEND plan
    (`streaming.windows.session_windows`), whose state is one OPEN
    window per active user: a session only reaches the sink once the
    watermark passes its end and its state is evicted.

    A finite drain needs the watermark pushed PAST the data span (the
    interval-join recipe) — but for an append AGGREGATE that means the
    watermark VALUE must clear every session end, which no delay
    setting alone can do (every user's last session ends gap PAST the
    max event time). The production technique is a watermark
    heartbeat: one sentinel event 3×gap past the span (user −999)
    advances the watermark beyond all real session ends; the engine's
    no-data micro-batch then finalizes and emits EVERY real session,
    while the sentinel's own (still-open) session is the one row held
    back. The heartbeat is how real deployments flush trailing
    sessions at stream end (Kafka idle-partition heartbeats do exactly
    this), not a grading trick.

    Oracle: the same gaps-and-islands replay as the complete-mode row
    — append-with-heartbeat must produce the identical full table, and
    any session the state store dropped, emitted twice, or merged
    wrongly across micro-batches breaks the hash.

    Scale shape: state is bounded by ACTIVE users (closed sessions
    evict at the watermark — the complete-mode row instead re-emits
    the whole table every trigger, which cannot scale); the landing is
    per-batch append parquet."""
    from lovdata_pipeline_spark.streaming.windows import session_windows

    raw = _events_raw(spark, sf_dir)
    src_dir = _link_stream_source(sf_dir, "events", "stream_sessap_src_")
    # sentinel heartbeat: one event 90 min (3×gap) past the span, in the
    # source's own ts dtype; written to a scratch dir and its part file
    # symlinked in (the file source lists plain files in a directory).
    # r13 (guide §4.1 eliminate the Python boundary): the sentinel row is
    # DERIVED from the max-ts aggregate frame with JVM literals: the agg
    # frame is already a single JVM partition, and the separate
    # max-collect job is fused into the write.
    if dict(raw.dtypes)["ts"] == "bigint":
        sent_ts = F.max("ts") + F.lit(90 * 60 * 10**9)
    else:
        sent_ts = F.max("ts") + F.expr("INTERVAL 90 MINUTES")
    sent_vals = {
        "event_id": F.lit(-1),
        "ts": F.col("_sent_ts"),
        "user_id": F.lit(-999),
        "event_type": F.lit("sentinel"),
        "value": F.lit(0.0),
        "props": F.lit(None),
    }
    sent = raw.agg(sent_ts.alias("_sent_ts")).select(
        *[sent_vals[f.name].cast(f.dataType).alias(f.name) for f in raw.schema.fields]
    )
    sent_dir = _staging_dir("stream_sessap_sent_")
    sent.write.mode("overwrite").parquet(sent_dir)
    part = [f for f in os.listdir(sent_dir) if f.endswith(".parquet")][0]
    os.symlink(
        os.path.join(sent_dir, part), os.path.join(src_dir, "zz_sentinel.parquet")
    )

    stream = _events_ts(spark.readStream.schema(raw.schema).parquet(src_dir))
    # delay 0: the watermark lands exactly on the sentinel ts — already
    # 60 min past every real session end, so no boundary case exists
    sess = session_windows(stream, gap="30 minutes", watermark="0 seconds")
    return (
        _drain(
            sess,
            "append",
            "user_id long, session_start timestamp, session_end timestamp, n_events long",
        )
        # the sentinel's own session stays open (held back) by design;
        # the filter guards the graded frame if a future edit widens the
        # heartbeat enough to flush it
        .filter(F.col("user_id") != F.lit(-999))
        .orderBy("user_id", "session_start")
    )


def streaming_vocab_counts(spark, sf_dir):
    """First driver-GRADED streaming row (r7 VERDICT Next #5): the
    corpus parquet is consumed through a real Structured Streaming
    query — ``readStream`` file source → the stateful heavy-hitters
    vocabulary counter (``applyInPandasWithState``, per-token running
    counts with timeout eviction) → ``foreachBatch`` parquet sink —
    driven to completion with ``Trigger.AvailableNow``. Because update
    -mode counts are monotone per token, the final vocabulary is
    ``max(n)`` per token over the landed updates regardless of how
    availableNow split the micro-batches. Oracle: the batch
    explode+count SQL — a static source drained via availableNow must
    equal batch semantics exactly. Tokens under 3 occurrences are
    trimmed (both sides) to keep the graded frame vocabulary-bounded.

    Scale shape: state is one counter per live token (timeout-evicted),
    the sink append is per-batch parquet, and the final rollup is a
    hash aggregate over update rows — nothing driver-side scales with
    the stream's history.
    """
    from lovdata_pipeline_spark.streaming.windows import (
        streaming_token_counts,
    )

    (batch_docs,) = load(spark, sf_dir, "documents")
    # the file stream source lists a DIRECTORY; the testdata table is a
    # single parquet file, so expose it through a symlinked temp dir
    # (zero copy — production corpora are directories already)
    src_dir = _link_stream_source(sf_dir, "documents", "stream_vocab_src_")
    stream = spark.readStream.schema(batch_docs.schema).parquet(src_dir)
    # NoTimeout: a finite AvailableNow drain must terminate on its own
    # (ProcessingTimeTimeout keeps the query alive to fire evictions)
    counts = streaming_token_counts(stream, timeout_minutes=None)
    upd = _drain(counts, "update", "token string, n_occurrences long")
    return (
        upd.groupBy("token")
        .agg(F.max("n_occurrences").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 3)
        .orderBy("token")
    )


#: pinned zlib fixture for the compression-band graded row: (doc_id,
#: source, n_bytes, n_compressed) computed ONCE with zlib level 6 from
#: the texts in ``_compression_fixture_docs`` and stored as literals.
#: tests/test_r7_operators.py re-derives each row from the live codec,
#: so a zlib drift would fail pytest; the graded row then certifies the
#: whole banding/aggregation surface DOWNSTREAM of the codec against a
#: pure-SQL oracle over the same literals (DEFLATE itself is not
#: SQL-expressible — the one declared weak spot, now literal-pinned).
COMPRESSION_FIXTURE = [
    (1, "web", 990, 28),
    (2, "web", 1025, 54),
    (3, "web", 226, 143),
    (4, "print", 194, 134),
    (5, "print", 194, 138),
    (6, "print", 179, 122),
    (7, "noise", 480, 270),
    (8, "noise", 400, 58),
    (9, "noise", 180, 56),
    (10, "short", 4, 12),
    (11, "short", 0, 8),
    (12, "short", 3, 11),
]


def _compression_fixture_docs(spark):
    """The deterministic fixture texts behind COMPRESSION_FIXTURE."""
    texts = [
        (1, "web", "click here click here click here " * 30),
        (2, "web", "home | about | contact | privacy | terms\n" * 25),
        (
            3,
            "web",
            "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
            "eiusmod tempor incididunt ut labore et dolore magna aliqua ut "
            "enim ad minim veniam quis nostrud exercitation ullamco laboris "
            "nisi ut aliquip ex ea commodo consequat",
        ),
        (
            4,
            "print",
            "The committee reviewed the proposed amendments to the statute "
            "and concluded that further consultation with the affected "
            "municipalities was required before a final recommendation "
            "could be issued.",
        ),
        (
            5,
            "print",
            "Paragraph 1. The act applies to all undertakings that offer "
            "goods or services to consumers. Paragraph 2. The act does not "
            "apply to private sales between individuals unless mediated "
            "commercially.",
        ),
        (
            6,
            "print",
            "In the matter of the appeal, the court found that the lower "
            "instance had erred in its application of the proportionality "
            "standard, and remanded the case for renewed consideration.",
        ),
        (
            7,
            "noise",
            "".join(
                format((i * 2654435761) % 4294967296, "08x") for i in range(60)
            ),
        ),
        (
            8,
            "noise",
            "".join(chr(33 + ((i * i * 31 + i * 17) % 90)) for i in range(400)),
        ),
        (9, "noise", "qz7k vx2j wm9p rt4h bn6c ls0d fg8y ae3u io5w " * 4),
        (10, "short", "tiny"),
        (11, "short", ""),
        (12, "short", "a b"),
    ]
    return driver_rows(spark, texts, "doc_id long, source string, text string")


def compression_band_report(spark, sf_dir):
    """Compression-ratio band report over the pinned fixture (r7
    VERDICT Next #8): the REAL zlib ``compression_signals`` UDF runs
    live on the fixture texts, then bands (``floor(ratio·10)`` clamped
    to [0, 11]) aggregate per (source, band). The oracle computes the
    same report from the literal (n_bytes, n_compressed) pins — so the
    graded hash certifies (a) the live codec still reproduces the pins
    and (b) every ratio/keep/band/aggregate expression downstream of
    the codec. The per-row codec values themselves stay pytest-pinned
    (DEFLATE is not SQL-expressible)."""
    docs = _compression_fixture_docs(spark)
    sig = textstats.compression_signals(docs)
    band = F.least(
        F.greatest(F.floor(F.col("compression_ratio") * 10), F.lit(0)),
        F.lit(11),
    ).cast("int")
    return (
        sig.join(docs.select("doc_id", "source"), "doc_id")
        .withColumn("band", band)
        .groupBy("source", "band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("comp_keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_keep"),
            F.round(F.min("compression_ratio"), 6).alias("min_ratio"),
            F.round(F.max("compression_ratio"), 6).alias("max_ratio"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
        .orderBy("source", "band")
    )


def zipf_slope_by_source(spark, sf_dir):
    """Per-source Zipf-law fit (new r7c): OLS slope of ln(freq) on
    ln(rank) over each source's top-100 tokens — the corpus-health
    monitor that flags template/machine-generated sources whose token
    distribution bends away from Zipf (slope ≈ -1 for natural text).
    All counting integer, log coordinates quantized to 6-dp int64, the
    normal equations exact integer sums — bit-equal on any engine and
    under any partitioning."""
    from lovdata_pipeline_spark.operators.corpstats import zipf_slope

    (docs,) = load(spark, sf_dir, "documents")
    return zipf_slope(docs).orderBy("source")


def collocation_pmi_bigrams(spark, sf_dir):
    """Top-50 adjacent-bigram collocations by pointwise mutual
    information (new r7c) — the Church & Hanks multiword-expression
    extractor (tokenizer seeding / boilerplate phrase discovery). One
    scan feeds both the unigram and bigram aggregates; scalar totals
    ride 1-row broadcasts; min_count prunes before the vocabulary
    joins; exact integer counts make the single fixed double-expression
    tree engine-identical before the 6-dp round."""
    from lovdata_pipeline_spark.operators.corpstats import collocation_pmi

    (docs,) = load(spark, sf_dir, "documents")
    return collocation_pmi(docs, min_count=5, k=50)


def pagerank_doc_graph(spark, sf_dir):
    """PageRank centrality over the exact 3-NN cosine graph of the
    embedding table (new r7c): top-20 most central vectors after 3
    damped power iterations — the representative-document selector of
    graph-based curation (and the citation-graph consumer of the
    enrichment chain's cross-ref edges; reference:
    domain/parsers/lovdata_chunker.py href extraction). Ranks live in
    integer micro-units with integer-division contributions, so the
    oracle's unrolled 3-iteration CTE chain reproduces every rank
    bit-for-bit. Edge build is the blocked BLAS candidate stage + exact
    fold re-score (operators/graph.py) — still the exact k-NN graph; at
    corpus scale the LSH/IVF candidate join slots in with pagerank
    unchanged."""
    from lovdata_pipeline_spark.operators.graph import knn_edges, pagerank_quantized

    (emb,) = load(spark, sf_dir, "embeddings")
    edges = knn_edges(emb, k=3)
    ranks = pagerank_quantized(edges, damping_pct=85, n_iter=3)
    return (
        ranks.select(F.col("node").alias("vec_id"), "rank_q")
        .orderBy(F.col("rank_q").desc(), "vec_id")
        .limit(20)
    )


def scd2_user_event_intervals(spark, sf_dir):
    """SCD Type-2 change history over the event log (new r7c): one row
    per run of consecutive equal event_type values per user, valid from
    its first event until the next change — the warehouse history form
    of the reference's latest-row-only state upsert
    (infrastructure/file_document_state_repository.py). Gaps-and-
    islands via two same-sort row_numbers, then a per-key lead over the
    island table; ties break on event_id so every boundary is
    deterministic."""
    from lovdata_pipeline_spark.operators.incremental import scd2_intervals

    ev = load_events(spark, sf_dir)
    return scd2_intervals(
        ev, key_col="user_id", ts_col="ts", attr_col="event_type", tie_col="event_id"
    ).orderBy("user_id", "valid_from", "first_tie")


def filter_attrition_report(spark, sf_dir):
    """Sequential curation-gate attrition funnel (new r7c): how many
    documents survive each gate applied IN ORDER — has-tokens →
    length band [30, 100k] → hashed-classifier keep → Gopher quality —
    the per-wave yield report every curation run publishes next to its
    mixture plan. (Gopher last: the synthetic corpus fails the Gopher
    word-shape rules wholesale, so any gate ordered after it would be
    graded on an empty set.) ONE scan, one conditional aggregate (the
    gates are pure column expressions: gopher_pass_col /
    quality_keep_col), and an in-plan unpivot to the 4-row funnel —
    nothing scales with the corpus but the single pass."""
    (docs,) = load(spark, sf_dir, "documents")
    nw = F.coalesce(textstats.token_count_col("text"), F.lit(0))
    s1 = nw > 0
    s2 = s1 & nw.between(30, 100000)
    s3 = s2 & F.coalesce(textstats.quality_keep_col("text"), F.lit(False))
    s4 = s3 & F.coalesce(textstats.gopher_pass_col("text"), F.lit(False))
    # coalesce: sum over an EMPTY corpus is NULL, and the funnel must
    # report four all-zero stages, not four NULL rows (the expectations
    # gate's empty-table rule)
    cnt = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    agg = docs.agg(
        F.count(F.lit(1)).alias("c0"),
        cnt(s1).alias("c1"),
        cnt(s2).alias("c2"),
        cnt(s3).alias("c3"),
        cnt(s4).alias("c4"),
    )
    stages = [
        (1, "has_text", "c0", "c1"),
        (2, "length_band", "c1", "c2"),
        (3, "quality", "c2", "c3"),
        (4, "gopher", "c3", "c4"),
    ]
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("int").alias("stage_idx"),
                    F.lit(name).alias("stage"),
                    F.col(i_col).alias("n_in"),
                    F.col(o_col).alias("n_out"),
                )
                for i, name, i_col, o_col in stages
            ]
        )
    ).alias("s")
    return (
        agg.select(rows)
        .select(
            "s.stage_idx",
            "s.stage",
            "s.n_in",
            "s.n_out",
            (F.col("s.n_in") - F.col("s.n_out")).alias("n_dropped"),
            F.round(
                F.col("s.n_out").cast("double")
                / F.greatest(F.col("s.n_in"), F.lit(1)).cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("stage_idx")
    )


def streaming_dedup_counts(spark, sf_dir):
    """Third driver-GRADED streaming row (new r7c): streaming EXACT
    DEDUP — ``readStream`` file source over the event log →
    ``dropDuplicatesWithinWatermark`` on (user_id, event_type) →
    ``foreachBatch`` landing — drained with ``Trigger.AvailableNow``,
    then rolled up to distinct-user counts per event type. The
    watermark is set past the full data span, so the in-run dedup
    state covers every key and the drain must equal batch
    COUNT(DISTINCT) exactly; in production the watermark bounds state
    to the dedup horizon instead (the operator —
    streaming.windows.streaming_dedup — is the same either way). The
    count(*) rollup (NOT countDistinct) is the grading teeth: any key
    the streaming dedup emits twice breaks the hash."""
    from lovdata_pipeline_spark.streaming.windows import streaming_dedup

    src_dir = _link_stream_source(sf_dir, "events", "stream_dedup_src_")
    raw = _events_raw(spark, sf_dir)
    stream = _events_ts(spark.readStream.schema(raw.schema).parquet(src_dir))
    deduped = streaming_dedup(
        stream, ["user_id", "event_type"], watermark_col="ts", watermark="3650 days"
    ).select("user_id", "event_type")
    return (
        _drain(deduped, "append", "user_id long, event_type string")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("event_type")
    )


def streaming_interval_join_counts(spark, sf_dir):
    """Fourth driver-GRADED streaming row (new r8, r7 VERDICT Next #6):
    STREAM-STREAM interval join — two ``readStream`` file sources over
    the same event log (purchases on the left, clicks on the right),
    watermarked on both sides, inner-joined on user with the click
    bounded to the two hours BEFORE the purchase (the both-directions
    time bound is what lets Spark evict join state), drained with
    ``Trigger.AvailableNow`` into a ``foreachBatch`` landing, then
    rolled up to pairs-per-user. The watermark is set past the data
    span so the drain must produce EVERY qualifying pair; the oracle
    replays the equivalent batch theta join. The count(*) rollup is
    the grading teeth: any pair the join state dropped or emitted
    twice breaks the hash. Streaming coverage now spans stateful agg,
    session windows, dedup, AND joins."""
    from lovdata_pipeline_spark.streaming.windows import interval_join

    raw = _events_raw(spark, sf_dir)

    def mk_stream(tag):
        d = _link_stream_source(sf_dir, "events", f"stream_ij_{tag}_")
        return _events_ts(spark.readStream.schema(raw.schema).parquet(d))

    left = (
        mk_stream("l")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
    )
    right = (
        mk_stream("r")
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("event_id").alias("click_id"))
    )
    joined = interval_join(
        left, right, on="user_id", lookback="2 hours", watermark="3650 days"
    ).select("user_id", "event_id", "click_id")
    return (
        _drain(joined, "append", "user_id long, event_id long, click_id long")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


def cms_token_estimates(spark, sf_dir):
    """Count-min sketch frequency estimates vs exact counts (new r7d):
    the corpus token stream folds into a 2×16 CMS (deliberately narrow
    so the 31-token vocabulary collides and the estimates genuinely
    OVERCOUNT — grading a collision-free sketch would be vacuous), then
    the exact top-20 tokens are point-queried against it. Output rows
    carry (token, n_true, n_est, overcount); CMS guarantees
    overcount ≥ 0 and the oracle replays every cell and every min
    bit-for-bit (portable md5 bucket hashes, integer counts — see
    operators/sketches.py). The sketch aggregate's key space is w·d, so
    at 100 TB every partition collapses to a full sketch map-side and
    the shuffle moves sketches, not tokens."""
    from lovdata_pipeline_spark.operators.sketches import cms_estimate, cms_sketch

    (docs,) = load(spark, sf_dir, "documents")
    w, d = 16, 2
    tok = docs.select(F.explode(textstats._words("text")).alias("token"))
    true_counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_true"))
    # ≤20 rows read twice (probe build + final join): one 20-row collect
    # into driver rows, so the tokenize scan and aggregate run once and
    # nothing is left pinned in the session cache
    top_rows = true_counts.orderBy(F.col("n_true").desc(), "token").limit(20).collect()
    top = driver_rows(spark, top_rows, "token string, n_true bigint")
    est = cms_estimate(cms_sketch(docs, w=w, d=d), top, w=w, d=d)
    return (
        top.join(est, "token")
        .select(
            "token",
            "n_true",
            "n_est",
            (F.col("n_est") - F.col("n_true")).alias("overcount"),
        )
        .orderBy(F.col("n_true").desc(), "token")
    )


def zorder_box_prune_events(spark, sf_dir):
    """Z-order (Morton) layout bookkeeping over events (new r12): the
    lakehouse multi-dimensional clustering operator (Delta/Iceberg
    OPTIMIZE ZORDER) — rows cluster along the interleaved-bit curve so
    ONE layout serves range predicates on user_id AND value, and
    pruning at read time is plain per-bucket min/max stats (the Delta
    data-skipping contract; ``operators/layout.py``, whose persisted
    form's PartitionFilters pruning is plan-asserted in tests). Pure
    integer math end to end — quantize ((v-min)·2¹⁶ div range+1),
    magic-mask bit spread, zbucket = zvalue >> 26 — so the oracle
    replays every bucket, every stats rectangle, and the candidate
    verdict bit-for-bit. Output: one row per populated zbucket with its
    quantized stats rectangle, whether the centered quarter box
    [3·2¹⁶/8, 5·2¹⁶/8) × same must scan it (rect-intersect), and how
    many of its rows actually fall in the box — grading both the curve
    math AND the pruning decision (z-locality keeps candidate buckets a
    small minority; a sorted-by-one-dimension layout would scan every
    bucket for the y leg)."""
    from lovdata_pipeline_spark.operators.layout import zorder_frame

    ev = load_events(spark, sf_dir).select(
        "user_id", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    zf = zorder_frame(ev, "user_id", "cents", n_buckets=64)
    b = 1 << 16
    lo, hi = 3 * b // 8, 5 * b // 8 - 1
    in_box = (
        (F.col("qx") >= lo) & (F.col("qx") <= hi)
        & (F.col("qy") >= lo) & (F.col("qy") <= hi)
    )
    stats = zf.groupBy("zbucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("qx").alias("minqx"),
        F.max("qx").alias("maxqx"),
        F.min("qy").alias("minqy"),
        F.max("qy").alias("maxqy"),
        F.sum(in_box.cast("long")).alias("n_rows_in_box"),
    )
    candidate = (
        (F.col("minqx") <= hi) & (F.col("maxqx") >= lo)
        & (F.col("minqy") <= hi) & (F.col("maxqy") >= lo)
    )
    return stats.select(
        "zbucket",
        "n_rows",
        "minqx",
        "maxqx",
        "minqy",
        "maxqy",
        candidate.alias("candidate"),
        "n_rows_in_box",
    ).orderBy("zbucket")


def hdr_quantile_order_totals(spark, sf_dir):
    """HDR log-histogram quantile estimates vs exact rank values (new
    r12): the QUANTILE member completing the mergeable-sketch family
    (CMS = frequency, HLL = cardinality, Bloom = membership). Order
    totals in integer cents (floor(o_totalprice·100) — floor of one
    IEEE binary64 product, identical in both engines) bucket to 8
    significant bits (HdrHistogram layout: log2 bucket + linear
    sub-bucket, ``operators/sketches.hdr_buckets``), p50/p90/p99 are
    the INCLUSIVE-UPPER-BOUND representatives of the first bucket
    whose running count reaches ceil(n·p/100) — the rank rule is pure
    integer (cum·100 ≥ total·p), no interpolation mode exists to
    diverge. The exact values replay the SAME rank rule over the exact
    value histogram, so the graded rel_err columns certify the sketch's
    ≤ 2⁻⁷ upper-bound contract on real data (also property-pinned in
    tests). Register key space is |groups|·(~57·2⁷): every partition
    collapses to a full histogram map-side, the shuffle moves
    histograms, not orders — and count-sum over the register table IS
    the cross-day/stream merge (``hdr_merge``, pinned)."""
    from pyspark.sql import Window

    from lovdata_pipeline_spark.operators.sketches import hdr_buckets, hdr_quantiles

    (orders,) = load(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    est = hdr_quantiles(
        hdr_buckets(cents, "cents", "o_orderpriority"), "o_orderpriority"
    )
    # exact: the identical integer rank rule over the exact value
    # histogram (groupBy cents — bounded by distinct prices, far under
    # the row count; never a full sort of the data)
    exact_regs = cents.groupBy("o_orderpriority", "cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents")
    ecum = exact_regs.select(
        "o_orderpriority",
        "cents",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("o_orderpriority")).alias("total"),
    )
    exact = ecum.groupBy("o_orderpriority").agg(
        *[
            F.min(
                F.when(F.col("cum") * 100 >= F.col("total") * p, F.col("cents"))
            ).alias(f"p{p}_exact")
            for p in (50, 90, 99)
        ]
    )
    rel = lambda p: F.round(  # noqa: E731
        (F.col(f"p{p}") - F.col(f"p{p}_exact"))
        / F.col(f"p{p}_exact").cast("double"),
        6,
    ).alias(f"rel_err_p{p}")
    return (
        est.join(exact, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n",
            F.col("p50").alias("p50_est"),
            F.col("p90").alias("p90_est"),
            F.col("p99").alias("p99_est"),
            "p50_exact",
            "p90_exact",
            "p99_exact",
            rel(50),
            rel(90),
            rel(99),
        )
        .orderBy("o_orderpriority")
    )


def zorder_append_box_scan(spark, sf_dir):
    """Incremental z-order maintenance graded end to end (new r13, r12
    VERDICT Next #4): the persisted index builds from two thirds of
    events (event_id % 3 != 0), the remaining third APPENDS under the
    sidecar's PINNED quantization ranges (never recomputed min/max —
    re-deriving them from data+append would silently move every
    existing row's curve position, the chunk-store wrong-modulus
    class; ``operators/layout.zorder_append``), out-of-range appends
    clamp to the pinned boundary value (LEAST/GREATEST — replayable),
    only the DIRTY buckets rewrite via dynamic partition overwrite
    (the chunk-store upsert idiom), and the box scan over the centered
    quarter box must equal a one-shot pinned build over ALL events
    bit-for-bit — exactly what the oracle replays in SQL (ranges from
    the initial subset, clamp, magic-mask interleave, bucket, box).
    The scan still prunes through the refreshed sidecar stats
    (PartitionFilters — plan-asserted in tests)."""
    from lovdata_pipeline_spark.operators.layout import (
        zorder_append,
        zorder_box_scan,
        zorder_write_index,
    )

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    idx = _staging_dir("zappend_")
    zorder_write_index(
        ev.filter(F.col("event_id") % 3 != 0), idx, "user_id", "cents",
        n_buckets=64,
    )
    zorder_append(spark, ev.filter(F.col("event_id") % 3 == 0), idx)
    b = 1 << 16
    lo, hi = 3 * b // 8, 5 * b // 8 - 1
    return (
        zorder_box_scan(spark, idx, lo, hi, lo, hi)
        .select(
            "event_id", "qx", "qy", F.col("zbucket").cast("long").alias("zbucket")
        )
        .orderBy("event_id")
    )


def hdr_store_merged_quantiles(spark, sf_dir):
    """Cross-session HDR quantiles THROUGH the persisted register
    store (new r13, r12 VERDICT Next #5 — the HLL-store symmetry,
    ``hll_store_merged_counts``): order totals split into two "days"
    (o_orderkey parity), each day's registers are written to their own
    ``hdr_registers_write`` store, then both stores are LOADED,
    count-sum merged (``hdr_merge`` — merging histograms IS the
    aggregate), and the merged p50/p90/p99 must equal the full-corpus
    estimate bit-for-bit, which is exactly what the oracle (the
    full-corpus HDR SQL replay) grades. The 100-TB nightly shape: each
    day summarizes its own values ONCE into a parameter-bounded
    register table; cross-day percentiles never re-read any day's
    rows. The loader's sub_bits gate keeps incompatible bucket spaces
    from merging silently."""
    from lovdata_pipeline_spark.operators.sketches import (
        hdr_buckets,
        hdr_merge,
        hdr_quantiles,
        hdr_registers_load,
        hdr_registers_write,
    )

    (orders,) = load(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    d1 = _staging_dir("hdr_day1_")
    d2 = _staging_dir("hdr_day2_")
    hdr_registers_write(
        hdr_buckets(
            cents.filter(F.col("o_orderkey") % 2 == 0), "cents", "o_orderpriority"
        ),
        d1,
        group_col="o_orderpriority",
    )
    hdr_registers_write(
        hdr_buckets(
            cents.filter(F.col("o_orderkey") % 2 == 1), "cents", "o_orderpriority"
        ),
        d2,
        group_col="o_orderpriority",
    )
    r1, sb1, g1 = hdr_registers_load(spark, d1)
    r2, sb2, _ = hdr_registers_load(spark, d2)
    if sb1 != sb2:
        raise ValueError("hdr stores built under different sub_bits are not mergeable")
    merged = hdr_merge([r1, r2], group_col=g1)
    return hdr_quantiles(merged, g1, sub_bits=sb1).orderBy("o_orderpriority")


def bloom_prefilter_join_orders(spark, sf_dir):
    """Bloom-prefilter join graded end to end (new r13,
    ``operators/bloomjoin.py``): the membership sketch applied to
    SHUFFLE REDUCTION — a filter built from the VIP customers'
    join keys (c_acctbal > 9900, deliberately small m=256/k=2 so the
    graded data exercises REAL false positives) prunes the orders side
    BEFORE any join shuffle; the exact equi-join then removes the
    deterministic false positives. One pass over orders: the kept rows
    left-join the broadcast dim with a match marker, and per-priority
    conditional aggregates certify BOTH stages — ``n_kept_bloom``
    (prefilter survivors, including the false positives the fixed
    salted-md5 family makes bit-replayable) and ``n_joined`` /
    ``sum_price_joined`` (the lossless exact result). At 100 TB the
    prefilter is k broadcast probes per fact row against a
    ceil(m/63)-word table; only survivors ever shuffle."""
    from lovdata_pipeline_spark.operators.bloomjoin import (
        bloom_from_keys,
        bloom_prefilter,
    )

    orders, customer = load(spark, sf_dir, "orders", "customer")
    vip = customer.where(F.col("c_acctbal") > 9900).select(
        F.col("c_custkey").alias("o_custkey")
    )
    flt = bloom_from_keys(vip, "o_custkey", m_bits=256, k=2)
    kept = bloom_prefilter(
        orders.where(F.col("o_custkey").isNotNull()), "o_custkey", flt,
        m_bits=256, k=2,
    )
    marked = kept.join(
        F.broadcast(vip.withColumn("_hit", F.lit(1))), "o_custkey", "left"
    )
    return (
        marked.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_kept_bloom"),
            F.count("_hit").alias("n_joined"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_hit") == 1,
                        F.col("o_totalprice").cast("decimal(18,4)"),
                    )
                ).cast("double"),
                F.lit(0.0),
            ).alias("sum_price_joined"),
        )
        .orderBy("o_orderpriority")
    )


def hll_vocab_overlap_sources(spark, sf_dir):
    """HLL SET ALGEBRA — the cross-corpus vocabulary-overlap matrix
    (new r13): for every unordered source pair, the union registers
    are the bucket-wise MAX of the two sources' HLL registers (the
    merge applied WITHIN one register table,
    ``sketches.hll_pair_overlap``), and inclusion–exclusion turns the
    three 6-dp estimates into an intersection estimate
    ``n_inter = n_a + n_b − n_union`` — distinct-token overlap between
    every pair of corpus slices WITHOUT any pairwise token join at
    scale. Every frame is parameter-bounded (|sources|²·m/2 union
    registers); the only corpus-bounded work is the one register build
    the single-source row already does. Graded against the EXACT
    per-pair intersections (a distinct-token equi-join — feasible at
    graded scales, the thing the sketch replaces at 100 TB) with
    rel_err columns, and the whole estimate replays bit-for-bit in SQL
    (the portable-HLL replay chain + the same rounded-double
    inclusion–exclusion)."""
    from lovdata_pipeline_spark.operators.sketches import (
        hll_pair_overlap,
        hll_registers,
    )
    from lovdata_pipeline_spark.operators import textstats

    (docs,) = load(spark, sf_dir, "documents")
    est = hll_pair_overlap(hll_registers(docs, p=5), p=5)
    dtok = docs.select(
        "source", F.explode(textstats._words("text")).alias("tok")
    ).distinct()
    exact = (
        dtok.alias("a")
        .join(
            dtok.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter_exact"))
    )
    joined = est.join(exact, ["source_a", "source_b"], "left").withColumn(
        "n_inter_exact", F.coalesce(F.col("n_inter_exact"), F.lit(0))
    )
    return joined.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "n_union",
        "n_inter",
        "n_inter_exact",
        F.when(
            F.col("n_inter_exact") > 0,
            F.round(
                (F.col("n_inter") - F.col("n_inter_exact"))
                / F.col("n_inter_exact").cast("double"),
                6,
            ),
        ).alias("rel_err"),
    ).orderBy("source_a", "source_b")


def hll_distinct_by_source(spark, sf_dir):
    """Portable HyperLogLog distinct-token estimate per source vs the
    exact countDistinct (new r7d): (source, n_exact, n_est, rel_err).
    Unlike ``approx_count_distinct`` (engine-internal HLL++ layout —
    its graded row is rows-only), this HLL builds its m=32 registers
    from the repo's 60-bit md5 hash with integer smear+popcount ρ, and
    keeps the harmonic sum as an exact integer, so DuckDB replays
    registers AND estimate bit-for-bit — the sketch family's first
    hash-green row. Register key space is |sources|·m: partitions merge
    map-side (register MAX is the HLL merge), the shuffle moves
    registers, not tokens."""
    from lovdata_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    (docs,) = load(spark, sf_dir, "documents")
    est = hll_estimate(hll_registers(docs, p=5), p=5)
    exact = (
        docs.select("source", F.explode(textstats._words("text")).alias("t"))
        .groupBy("source")
        .agg(F.countDistinct("t").alias("n_exact"))
    )
    return (
        exact.join(est, "source")
        .select(
            "source",
            "n_exact",
            "n_est",
            F.round(
                (F.col("n_est") - F.col("n_exact"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


def embedding_outliers_by_label(spark, sf_dir):
    """Per-label centroid outliers (new r7e): each label's 3 vectors
    least cosine-similar to the label's mean direction — the
    embedding-space mislabel/contamination audit. Cosine against the
    quantized-integer SUM vector (scale-invariance makes the mean's
    division unnecessary — the one float op is the final score), so
    the whole report is bit-reproducible and fully SQL-replayed; rank
    rides the two-phase top-k ascending. See
    operators/similarity.py:label_centroid_outliers."""
    from lovdata_pipeline_spark.operators.similarity import label_centroid_outliers

    (emb,) = load(spark, sf_dir, "embeddings")
    return label_centroid_outliers(emb, k=3).orderBy("label", "rk")


def phrase_search_documents(spark, sf_dir):
    """Exact phrase retrieval over a positional inverted index (new
    r7e): documents containing the token sequence "row column sort",
    with exact occurrence counts — the order-sensitive retrieval
    primitive BM25 cannot express. The postings projection filters to
    the phrase's own terms AT THE SCAN, and the alignment is a chain
    of (doc, pos+offset) equi-joins over posting-list-sized inputs —
    never a corpus text rescan. See
    operators/search.py:phrase_match_counts."""
    from lovdata_pipeline_spark.operators.search import phrase_match_counts

    (docs,) = load(spark, sf_dir, "documents")
    return phrase_match_counts(docs, "row column sort").orderBy(
        F.col("n_matches").desc(), "doc_id"
    )


# ===========================================================================
# registry
# ===========================================================================

# Ordering is deliberate and documented: the external driver grades exactly
# the FIRST 50 registry entries. Goal (stated in r2 VERDICT "Next #2"):
# every oracle-bearing query gets a driver-graded row in the union of
# rounds. r3 therefore puts inside the window (a) the three queries never
# graded in r1/r2 (ann_topk_lsh_bucketed / ann_topk_ivf — exact oracles
# since r2 — and agg_approx_stats) and (b) all six NEW r3 operators
# (repetition, PII, stratified sample, shard packing, BM25, hybrid RRF),
# so nothing oracle-bearing is born ungraded. Eleven doubly-attested
# queries (driver-green in BOTH r1 and r2, each duplicating a semantics
# family that stays graded) move to the tail: semi_join_processed ≈
# exists_agg_priority's semi-join; pivot_status / rollup_priority ≈ the
# graded grouping-sets row; distinct_projection / topk_limit /
# filter_like ≈ agg_distinct_counts / top3_orders_per_customer /
# point_lookup; events_hourly ≈ events_sessionize's windowed agg;
# left_join_customer_orders ≈ full-outer/anti family; percentile ≈ the
# approx-stats twin; text_token_counts / text_stopword_ratios ≈ the
# token/stopword arithmetic embedded in the graded curation_pipeline and
# text_language_id rows. Everything in the tail has at least one prior
# driver-green row or an exact twin in the window; local diffcheck still
# runs ALL entries every round.
#
# r4: the new dedup_shared_spans and dedup_remove_spans enter the window
# at birth (attestation rule); point_lookup and status_counts (each green
# r1+r2+r3, trivial scan/groupBy families also pinned by pytest) move to
# the tail to keep the window at 50. The decontamination pair
# (decontaminate_benchmark_overlap / decontaminate_clean_set) also enters
# at birth; set_difference_validation and scalar_subquery_part_avg (each
# green r1+r2+r3; except-all and scalar-subquery semantics also pinned by
# pytest and diffcheck) demote in exchange. text_quality_classifier,
# pack_sequences_documents and ann_topk_pq (new r4) likewise enter at
# birth; agg_distinct_counts (green r1+r2+r3, distinct-agg semantics
# still windowed via countDistinct inside the decontamination rows),
# max_acctbal_supplier_per_nation (green r1+r2+r3, rank-window twin
# top3_orders_per_customer stays windowed), grouping_sets_status_priority
# (green r1+r2+r3) and events_json_props (green r1+r2+r3) demote in
# exchange — the last for the pretraining_pipeline capstone.
#
# r7 (this round): the full attestation refresh the r6 VERDICT asked
# for — all 14 entries last graded in r1-r2 cycle back through the
# window (rationale per entry inline below) — plus five NEW at-birth
# entries: streaming_vocab_counts (first driver-graded streaming row),
# compression_band_report, dedup_keep_best_quality, ann_topk_ivf_index
# (persisted partition-pruned index), and
# train_quality_classifier_documents (distributed LR training).
# Demotions (all multiply-attested, most r5+r6-green, each with the
# family twin named inline): running_sum, cube_status_priority,
# set_ops_nations, full_outer_order_presence, pack_sequences_documents,
# benchmark_contamination_report, ann_topk_ivfpq,
# importance_score_documents, training_order_documents,
# epoch_mix_documents, text_bigram_surprisal,
# cluster_balanced_sample_embeddings, length_bucketed_batches_documents,
# semantic_dedup_pairs_embeddings, knn_classify_embeddings,
# quality_quota_by_source, bpe_pair_stats, hash_split_documents,
# text_gopher_quality.
QUERIES = {
    # The driver grades the FIRST 50 keys; the tail is the attested
    # ledger (every entry's grading history and the family twin that
    # justified each demotion live on its own line — full rotation
    # history in git). The blocks below describe only the entries
    # currently holding a window slot.
    #
    # --- r13 window (r12 VERDICT Next #1/#4/#5 + ADVICE): FOUR rows
    # --- born in-window (incremental z-order append, the persisted
    # --- HDR register-store merge, the HLL pairwise set-algebra
    # --- overlap matrix, the bloom-prefilter join), the two rows
    # --- whose operator modules took the r12 ADVICE guards (they stay
    # --- for the drift re-grade), the registry's oldest attestation
    # --- (text_kn_surprisal, r9), and 43 of the 47-entry r10
    # --- attestation cohort — the drain the r12 verdict ordered. The
    # --- four deferred cohort rows (the two joint-most-attested + the
    # --- two slot yields to the third/fourth new rows) hold the tail
    # --- head, annotated. After this round no entry's latest grade is
    # --- older than r10, and only four entries are r10-latest. The four
    # --- sketch-closure fingerprint drifts (cms/hll/bloom rows) are
    # --- attested out-of-window via diffcheck --record (BENCH_AUX),
    # --- per the fingerprint-manifest doctrine. ----------------------
    #
    # -- new/changed rows (re-grade at birth / on drift) --------------
    "zorder_append_box_scan": zorder_append_box_scan,  # NEW r13 (r12 VERDICT Next #4): INCREMENTAL z-order maintenance — appends quantize under the sidecar's PINNED ranges (never recomputed min/max), out-of-range clamps to the pinned boundary value (LEAST/GREATEST, SQL-replayable), only dirty buckets rewrite (dynamic partition overwrite, the chunk-store upsert idiom), and append+box-scan is graded bit-for-bit against the one-shot replay; born in-window (pruning PartitionFilters plan-asserted in tests)
    "hdr_store_merged_quantiles": hdr_store_merged_quantiles,  # NEW r13 (r12 VERDICT Next #5): the persisted HDR register store + cross-store count-sum merge (hdr_registers_write/load + hdr_merge) graded against the full-corpus replay — the HLL-store symmetry (hll_store_merged_counts) for the quantile sketch; born in-window
    "hll_vocab_overlap_sources": hll_vocab_overlap_sources,  # NEW r13: HLL set algebra — pairwise bucket-MAX union registers + inclusion-exclusion intersection estimates (sketches.hll_pair_overlap), the cross-corpus vocabulary-overlap matrix with NO pairwise token join at scale; graded against the exact per-pair intersections with rel_err columns; born in-window
    "bloom_prefilter_join_orders": bloom_prefilter_join_orders,  # NEW r13: bloom-prefilter join (operators/bloomjoin.py) — the membership sketch applied to shuffle reduction: dim-key filter words prune the fact side pre-shuffle, graded on BOTH stages (deterministic-FP kept counts + the lossless exact join) with the replayable salted-md5 family; born in-window
    "zorder_box_prune_events": zorder_box_prune_events,  # green r12; STAYS in-window r13: layout.py gained the r12 ADVICE guards (fail-loud NULL dims, bits/n_buckets validation, subtraction-free mixed-sign overflow check) plus the append machinery — fingerprint drift re-grades in-window; append sibling zorder_append_box_scan enters alongside
    "hdr_quantile_order_totals": hdr_quantile_order_totals,  # green r12; STAYS in-window r13: sketches.py gained the NULL fail-loud guard (r12 ADVICE) plus the register store — fingerprint drift re-grades in-window; store sibling hdr_store_merged_quantiles enters alongside
    # -- oldest-attestation drain (r12 VERDICT Next #1) ---------------
    "text_kn_surprisal": text_kn_surprisal,  # green r7-r9; re-promoted r13 (the registry's OLDEST attestation leads the window, r12 VERDICT Next #1; trigram family twin text_kn_trigram_surprisal demotes r12-green)
    # -- r10 attestation-cohort drain (45 of 47; r12 VERDICT Next #1) -
    "anti_join_changed": anti_join_changed,  # green r1-r5+r10; re-promoted r13 (named in the r12 verdict's leading edge; r10 attestation-cohort drain, r12 VERDICT Next #1)
    "dedup_exact_groups": dedup_exact_groups,  # green r1-r5+r10; re-promoted r13 (named in the r12 verdict's leading edge; r10 attestation-cohort drain, r12 VERDICT Next #1)
    "embed_documents_pipeline": embed_documents_pipeline,  # green r3-r6+r10; re-promoted r13 (named in the r12 verdict's leading edge; r10 attestation-cohort drain, r12 VERDICT Next #1)
    "enrich_documents_pipeline": enrich_documents_pipeline,  # green r3-r6+r10; re-promoted r13 (named in the r12 verdict's leading edge; r10 attestation-cohort drain, r12 VERDICT Next #1)
    "knn_edges_ivf_embeddings": knn_edges_ivf_embeddings,  # green r8-r10; re-promoted r13 (named in the r12 verdict's leading edge; r10 attestation-cohort drain, r12 VERDICT Next #1)
    "ann_pca_rerank_recall_embeddings": ann_pca_rerank_recall_embeddings,  # green r6-r8+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "bitext_mine_margin_bucketed": bitext_mine_margin_bucketed,  # green r9-r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "streaming_session_append_counts": streaming_session_append_counts,  # green r9-r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "phrase_search_documents": phrase_search_documents,  # green r7-r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "exists_agg_priority": exists_agg_priority,  # green r1-r4+r9-r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "quality_blend_documents": quality_blend_documents,  # green r7-r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "bitext_mine_margin": bitext_mine_margin,  # green r7-r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "ann_cosine_topk": ann_cosine_topk,  # green r1-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "ann_topk_pq": ann_topk_pq,  # green r4-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "decontaminate_benchmark_overlap": decontaminate_benchmark_overlap,  # green r4-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "decontaminate_clean_set": decontaminate_clean_set,  # green r4-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "dedup_components": dedup_components,  # green r3-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "dedup_minhash_lsh": dedup_minhash_lsh,  # green r1-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "dedup_ngram_jaccard": dedup_ngram_jaccard,  # green r1-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "dedup_shared_spans": dedup_shared_spans,  # green r4-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "events_sessionize": events_sessionize,  # green r1-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "pii_scan_documents": pii_scan_documents,  # green r3-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "q1_pricing_summary": q1_pricing_summary,  # green r2-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "sequence_manifest_documents": sequence_manifest_documents,  # green r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "temperature_mix_orders": temperature_mix_orders,  # green r4-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "text_fingerprints": text_fingerprints,  # green r2-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "text_quality_classifier": text_quality_classifier,  # green r4-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "text_winnowing": text_winnowing,  # green r2-r5+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "embedding_outliers_by_label": embedding_outliers_by_label,  # green r7-r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "pretraining_pipeline": pretraining_pipeline,  # green r4-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "ann_topk_sq8": ann_topk_sq8,  # green r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "bpe_token_counts": bpe_token_counts,  # green r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "agg_approx_stats": agg_approx_stats,  # green r4-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "weighted_sample_documents": weighted_sample_documents,  # green r5-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "tfidf_keywords_by_source": tfidf_keywords_by_source,  # green r5-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "events_rolling_1h": events_rolling_1h,  # green r5-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "hash_split_documents": hash_split_documents,  # green r5-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "pack_sequences_documents": pack_sequences_documents,  # green r4-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "ann_topk_ivfpq": ann_topk_ivfpq,  # green r4-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "importance_score_documents": importance_score_documents,  # green r5-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "text_bigram_surprisal": text_bigram_surprisal,  # green r5-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "cluster_balanced_sample_embeddings": cluster_balanced_sample_embeddings,  # green r5-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    "length_bucketed_batches_documents": length_bucketed_batches_documents,  # green r5-r6+r10; re-promoted r13 (r10 attestation-cohort drain, r12 VERDICT Next #1)
    # ------------------------------------------------------------------ tail
    # --- deferred r10-cohort rows (the two joint-most-attested + the
    # --- two slot yields to the third/fourth born-in-window rows; the
    # --- only entries whose latest grade is older than r11 after this
    # --- round) -------------------------------------------------------
    "multimodal_features": multimodal_features,  # green r2-r6+r10; DEFERRED r13 (joint-most-attested in the r10 cohort — the 45-slot drain takes the rest; twin multimodal_audio demotes r12-green; next in line for r14)
    "curation_pipeline": curation_pipeline,  # green r2-r6+r10; DEFERRED r13 (joint-most-attested in the r10 cohort; the r12 bench-tail watch item is resolved by STANDALONE probe evidence, not a window grade — BENCH_AUX.bench_drift_curation_pipeline; next in line for r14)
    "knn_classify_embeddings": knn_classify_embeddings,  # green r5-r6+r10; DEFERRED r13 (yielded the last window slot to the born-in-window hll_vocab_overlap_sources; knn family twins knn_join_top3 r12-green and knn_edges_ivf_embeddings in-window; next in line for r14)
    "semantic_dedup_pairs_embeddings": semantic_dedup_pairs_embeddings,  # green r5-r6+r10; DEFERRED r13 (yielded the last window slot to the born-in-window bloom_prefilter_join_orders; embedding-dedup family in-window via dedup_exact_groups + knn_edges_ivf_embeddings, exact-cosine twin dedup_embedding_cosine r12-green; next in line for r14)
    # --- r13 drain demotions (each r12-green and multiply-attested;
    # --- family twin named inline) ------------------------------------
    "events_asof_join_string_time": events_asof_join_string_time,  # green r12; demoted r13 (asof family demotes together, both r12-green; the mixed-parseability string-key edge is property-pinned r13 (tests/test_asof_properties.py, r12 VERDICT Next #6))
    "events_asof_join": events_asof_join,  # green r1-r5+r10-r12; demoted r13 (asof family demotes together; layered key order property-pinned r13 (test_asof_properties))
    "hybrid_search_rrf": hybrid_search_rrf,  # green r3-r4+r8+r11-r12; demoted r13 (search family demotes together with text_bm25_search, both multiply-attested)
    "text_bm25_search": text_bm25_search,  # green r3-r6+r10+r12; demoted r13 (search family demotes with hybrid_search_rrf; postings machinery pytest-pinned)
    "stratified_sample_orders": stratified_sample_orders,  # green r3-r4+r9+r12; demoted r13 (sampling family: weighted_sample_documents + temperature_mix_orders re-enter)
    "percentile_order_totals": percentile_order_totals,  # green r1-r2+r7+r12; demoted r13 (quantile family twin hdr_quantile_order_totals STAYS in-window)
    "status_counts": status_counts,  # green r1-r3+r8+r12; demoted r13 (status-agg twin pivot_status r11-green in tail)
    "set_difference_validation": set_difference_validation,  # green r1-r3+r8+r12; demoted r13 (validation twin validate_documents_expectations r11-green in tail)
    "scalar_subquery_part_avg": scalar_subquery_part_avg,  # green r1-r3+r8+r12; demoted r13 (scalar-agg family: agg_approx_stats re-enters)
    "agg_distinct_counts": agg_distinct_counts,  # green r1-r3+r8+r12; demoted r13 (distinct-agg family: agg_approx_stats re-enters; distinct_projection r11-green in tail)
    "max_acctbal_supplier_per_nation": max_acctbal_supplier_per_nation,  # green r1-r3+r8+r12; demoted r13 (join-agg family: q1_pricing_summary re-enters)
    "events_json_props": events_json_props,  # green r1-r3+r8+r12; demoted r13 (events family: events_sessionize re-enters)
    "events_range_join": events_range_join,  # green r1-r3+r8+r12; demoted r13 (range-predicate family: events_rolling_1h re-enters; quantized box ranges graded via zorder_append_box_scan)
    "positional_ids": positional_ids,  # green r1-r3+r8+r12; demoted r13 (pipeline family: embed/enrich_documents_pipeline re-enter (the id consumers))
    "greedy_token_buckets": greedy_token_buckets,  # green r1-r3+r8+r12; demoted r13 (packing family: pack_sequences_documents re-enters)
    "not_exists_high_value": not_exists_high_value,  # green r1-r3+r8+r12; demoted r13 (predicate family: exists_agg_priority re-enters)
    "dedup_simhash": dedup_simhash,  # green r1-r4+r8+r12; demoted r13 (dedup family: dedup_exact_groups + dedup_minhash_lsh re-enter; gains the FULL sf1 oracle verdict r13 (r12 VERDICT Next #2 — the r11 infeasibility measurement no longer reproduces; the un-sampled oracle runs under the sweep's resource guards))
    "text_language_id": text_language_id,  # green r1-r4+r8+r12; demoted r13 (text family: text_quality_classifier re-enters)
    "boilerplate_strip_documents": boilerplate_strip_documents,  # green r6-r8+r12; demoted r13 (text-clean family: pii_scan_documents re-enters)
    "hll_distinct_by_source": hll_distinct_by_source,  # green r7-r9+r12; demoted r13 (fingerprint drifts r13 (sketches.py gained the HDR store) — out-of-window drift attested via diffcheck --record (BENCH_AUX); store sibling hdr_store_merged_quantiles enters)
    "dedup_keep_best_quality": dedup_keep_best_quality,  # green r7-r9+r12; demoted r13 (dedup family: dedup_exact_groups re-enters)
    "train_quality_classifier_documents": train_quality_classifier_documents,  # green r7-r9+r12; demoted r13 (classifier twin text_quality_classifier re-enters)
    "dedup_incremental_minhash": dedup_incremental_minhash,  # green r7-r9+r12; demoted r13 (incremental-maintenance doctrine re-graded via zorder_append_box_scan (enters); dedup_minhash_lsh re-enters)
    "filter_attrition_report": filter_attrition_report,  # green r7-r9+r12; demoted r13 (gate family: importance_score_documents re-enters)
    "q5_region_revenue": q5_region_revenue,  # green r1-r4+r9+r12; demoted r13 (TPC-H family: q1_pricing_summary re-enters)
    "knn_join_top3": knn_join_top3,  # green r1-r4+r9+r12; demoted r13 (knn family: knn_classify_embeddings + knn_edges_ivf_embeddings re-enter)
    "dedup_embedding_cosine": dedup_embedding_cosine,  # green r1-r4+r9+r12; demoted r13 (algebra twin semantic_dedup_pairs_embeddings re-enters; gains the FULL sf1 oracle verdict r13 (r12 VERDICT Next #2 — the r11 infeasibility measurement no longer reproduces; the un-sampled oracle runs under the sweep's resource guards))
    "embedding_cluster_assign": embedding_cluster_assign,  # green r3-r4+r9+r12; demoted r13 (cluster family: cluster_balanced_sample_embeddings re-enters)
    "ann_topk_ivf": ann_topk_ivf,  # green r3-r4+r9+r12; demoted r13 (ANN family: ann_topk_ivfpq + ann_topk_sq8 re-enter)
    "ann_topk_lsh_bucketed": ann_topk_lsh_bucketed,  # green r3-r4+r9+r12; demoted r13 (ANN family: ann_topk_ivfpq re-enters)
    "text_quality": text_quality,  # green r1-r4+r9+r12; demoted r13 (text family: text_quality_classifier re-enters)
    "text_repetition": text_repetition,  # green r3-r4+r9+r12; demoted r13 (text family: text_fingerprints re-enters)
    "text_unigram_surprisal": text_unigram_surprisal,  # green r3-r4+r9+r12; demoted r13 (surprisal family: text_bigram_surprisal re-enters)
    "decontam_remove_spans": decontam_remove_spans,  # green r6-r9+r12; demoted r13 (contamination family: decontaminate_clean_set + decontaminate_benchmark_overlap re-enter)
    "events_funnel_counts": events_funnel_counts,  # green r7-r9+r12; demoted r13 (events family: events_sessionize re-enters)
    "cms_token_estimates": cms_token_estimates,  # green r7-r9+r12; demoted r13 (fingerprint drifts r13 (sketches.py gained the HDR store) — out-of-window drift attested via diffcheck --record (BENCH_AUX); sketch family in-window via both hdr rows)
    "events_retention_cohorts": events_retention_cohorts,  # green r7-r9+r12; demoted r13 (events family: events_sessionize re-enters)
    "text_kn_trigram_surprisal": text_kn_trigram_surprisal,  # green r8-r9+r12; demoted r13 (bigram twin text_kn_surprisal re-enters (the r9 drain lead))
    "bpe_learned_merges": bpe_learned_merges,  # green r6-r9+r12; demoted r13 (BPE family: bpe_token_counts re-enters)
    "hll_store_merged_counts": hll_store_merged_counts,  # green r8-r9+r12; demoted r13 (fingerprint drifts r13 (sketches.py gained the HDR store) — out-of-window drift attested via diffcheck --record (BENCH_AUX); the store-merge pattern is re-graded via its direct descendant hdr_store_merged_quantiles (enters))
    "bloom_token_membership": bloom_token_membership,  # green r8-r9+r12; demoted r13 (fingerprint drifts r13 (sketches.py gained the HDR store) — out-of-window drift attested via diffcheck --record (BENCH_AUX); sketch family in-window via both hdr rows)
    "compression_band_report": compression_band_report,  # green r7-r9+r12; demoted r13 (banding family: length_bucketed_batches_documents re-enters)
    "ann_topk_ivf_index": ann_topk_ivf_index,  # green r7-r9+r12; demoted r13 (persisted-index maintenance re-graded via zorder_append_box_scan (enters); ann_topk_ivfpq re-enters)
    "point_lookup": point_lookup,  # green r1-r3+r8-r9+r12; demoted r13 (point-read family: sequence_manifest_documents re-enters)
    "grouping_sets_status_priority": grouping_sets_status_priority,  # green r1-r3+r8-r9+r12; demoted r13 (grouping family r11-attested in tail (rollup_priority, cube_status_priority))
    "multimodal_audio": multimodal_audio,  # green r2-r4+r8-r9+r12; demoted r13 (multimodal twin multimodal_features holds the tail head (deferred r10-green, joint-most-attested))
    "top3_orders_per_customer": top3_orders_per_customer,  # green r1-r4+r8-r9+r12; demoted r13 (window-rank family r11-attested in tail (running_sum))
    "stratified_split_exact": stratified_split_exact,  # green r7-r9+r12; demoted r13 (split family: hash_split_documents re-enters)
    # --- earlier demotions (r11 and before; annotations preserved) ---
    "scd2_user_event_intervals": scd2_user_event_intervals,  # green r7-r9+r11; demoted r12 (event-time family: events_funnel_counts + events_retention_cohorts re-enter; the r11 first_tie fix graded green at birth)
    "streaming_interval_join_counts": streaming_interval_join_counts,  # green r8-r9+r11; demoted r12 (interval semantics now property-pinned (tests/test_tie_properties.py, duplicate-ts multiset vs brute force); range-predicate twin events_range_join re-enters)
    "dedup_ngram_jaccard_capped": dedup_ngram_jaccard_capped,  # green r10-r11; demoted r12 (the r11 single-attest keep is now double-attested (r10+r11); SSJoin exactness property-pinned (test_dedup_properties); dedup family re-enters via dedup_simhash + dedup_incremental_minhash + dedup_embedding_cosine)
    "collocation_pmi_bigrams": collocation_pmi_bigrams,  # green r7-r9+r11; demoted r12 (integer-accumulation textstats family: text_kn_trigram_surprisal + text_unigram_surprisal re-enter)
    "zipf_slope_by_source": zipf_slope_by_source,  # green r7-r9+r11; demoted r12 (fixed-point log-coordinate family: text_kn_surprisal + text_quality re-enter)
    "chunk_documents_pipeline": chunk_documents_pipeline,  # green r3-r9+r11; demoted r12 (the board's most-attested row; chunker family re-enters via positional_ids + greedy_token_buckets)
    "streaming_session_counts": streaming_session_counts,  # green r7-r9+r11; demoted r12 (r11-green x2 attestations; session-window machinery pytest-pinned; the streaming family rotates out together this round (all five rows r11-green))
    "streaming_vocab_counts": streaming_vocab_counts,  # green r7-r9+r11; demoted r12 (r11-green x2; streaming family rotates out together (all five rows r11-green))
    "streaming_dedup_counts": streaming_dedup_counts,  # green r7-r9+r11; demoted r12 (r11-green x2; streaming family rotates out together (all five rows r11-green))
    "shard_pack_documents": shard_pack_documents,  # green r3-r4+r9+r11; demoted r12 (packing family: stratified_split_exact re-enters; prefix-sum packing property-pinned (test_tie_properties))
    "pagerank_doc_graph": pagerank_doc_graph,  # green r7-r9+r11; demoted r12 (gains the SAMPLED sf1 full-pipeline verdict this round (tools/scaling.py SAMPLED_SF1_RUNNERS); ANN family re-enters via ann_topk_ivf + ann_topk_ivf_index)
    "pack_emit_sequences": pack_emit_sequences,  # green r5-r6+r11; demoted r12 (packing prefix-sum property-pinned (test_tie_properties pack_token_sequences); split twin stratified_split_exact re-enters)
    "hard_negatives_embeddings": hard_negatives_embeddings,  # green r6+r11; demoted r12 (two-phase top-k family: knn_join_top3 + ann_topk_ivf re-enter)
    "dedup_remove_spans": dedup_remove_spans,  # green r4-r6+r11; demoted r12 (winnowing-anchor twin decontam_remove_spans re-enters (same span machinery, decontam side); r11 sweep-hardened)
    "q3_top_unshipped": q3_top_unshipped,  # green r1-r6+r11; demoted r12 (TPC-H family: q5_region_revenue re-enters; also an r11 VERDICT noise-watch row (bench confirms at r12))
    "curation_report_by_source": curation_report_by_source,  # green r5-r6+r11; demoted r12 (gate family: filter_attrition_report re-enters)
    "exact_contamination_documents": exact_contamination_documents,  # green r5-r6+r11; demoted r12 (contamination family: decontam_remove_spans re-enters)
    "text_gopher_quality": text_gopher_quality,  # green r5-r6+r11; demoted r12 (gopher gates re-graded inside filter_attrition_report (re-enters) + text_quality re-enters)
    "bpe_pair_stats": bpe_pair_stats,  # green r5-r6+r11; demoted r12 (BPE family: bpe_learned_merges re-enters (the downstream consumer of these pair stats))
    "running_sum": running_sum,  # green r1+r6+r11; demoted r12 (window-function family: top3_orders_per_customer re-enters)
    "cube_status_priority": cube_status_priority,  # green r1+r6+r11; demoted r12 (grouping family: grouping_sets_status_priority re-enters (the superset form))
    "set_ops_nations": set_ops_nations,  # green r1+r6+r11; demoted r12 (set-op family: set_difference_validation re-enters)
    "full_outer_order_presence": full_outer_order_presence,  # green r1+r6+r11; demoted r12 (presence-predicate family: not_exists_high_value re-enters)
    "benchmark_contamination_report": benchmark_contamination_report,  # green r4-r6+r11; demoted r12 (contamination family: decontam_remove_spans re-enters)
    "training_order_documents": training_order_documents,  # green r5-r6+r11; demoted r12 (training-layout family: stratified_split_exact re-enters)
    "epoch_mix_documents": epoch_mix_documents,  # green r5-r6+r11; demoted r12 (sampling/mixture family: stratified_sample_orders stays in-window)
    "quality_quota_by_source": quality_quota_by_source,  # green r5-r6+r11; demoted r12 (gate/quota family: filter_attrition_report re-enters)
    "semi_join_processed": semi_join_processed,  # green r1-r2+r7+r11; demoted r12 (semi/anti predicate family: not_exists_high_value re-enters)
    "distinct_projection": distinct_projection,  # green r1-r2+r7+r11; demoted r12 (distinct-agg family: agg_distinct_counts re-enters)
    "filter_like": filter_like,  # green r1-r2+r7+r11; demoted r12 (predicate family: not_exists_high_value + events_json_props re-enter)
    "topk_limit": topk_limit,  # green r1-r2+r7+r11; demoted r12 (top-k family: top3_orders_per_customer re-enters)
    "rollup_priority": rollup_priority,  # green r1-r2+r7+r11; demoted r12 (grouping family: grouping_sets_status_priority re-enters)
    "pivot_status": pivot_status,  # green r1-r2+r7+r11; demoted r12 (status-agg family: status_counts re-enters)
    "left_join_customer_orders": left_join_customer_orders,  # green r1-r2+r7+r11; demoted r12 (join-agg family: max_acctbal_supplier_per_nation re-enters)
    "events_lag_gaps": events_lag_gaps,  # green r1-r2+r7+r11; demoted r12 (event-time family: events_funnel_counts + events_retention_cohorts re-enter)
    "events_hourly": events_hourly,  # green r1-r2+r7+r11; demoted r12 (time-bucket family: events_retention_cohorts re-enters)
    "dedup_vocab_fingerprint_groups": dedup_vocab_fingerprint_groups,  # green r3-r4+r9+r11; demoted r12 (signature family: dedup_simhash re-enters (+ earlier grades lived under the removed r2 alias key, see r11 note in git))
    "text_token_counts": text_token_counts,  # green r1-r2+r7+r11; demoted r12 (token-count path re-graded via greedy_token_buckets + text_language_id re-enters)
    "text_stopword_ratios": text_stopword_ratios,  # green r1-r2+r7+r11; demoted r12 (ratio family: text_quality re-enters)
    "token_length_band_documents": token_length_band_documents,  # green r6-r7+r11; demoted r12 (banding family: compression_band_report re-enters)
    "mixture_plan_by_source": mixture_plan_by_source,  # green r6-r7+r11; demoted r12 (mixture family: stratified_sample_orders stays in-window)
    "pca_variance_report_embeddings": pca_variance_report_embeddings,  # green r6-r7+r11; demoted r12 (PCA consumer ann_pca_rerank_recall_embeddings enters (the bench-drift watch row))
    "paragraph_dedup_documents": paragraph_dedup_documents,  # green r6-r7+r11; demoted r12 (property-pinned this round vs a reference model + partition independence (test_tie_properties); dedup family in-window)
    "text_repetition_signals": text_repetition_signals,  # green r6-r7+r11; demoted r12 (signal subset twin text_repetition re-enters)
    "perplexity_buckets_by_source": perplexity_buckets_by_source,  # green r6-r7+r11; demoted r12 (its surprisal inputs re-enter: text_kn_surprisal + text_unigram_surprisal)
    "vocab_drift_by_source": vocab_drift_by_source,  # green r6-r7+r11; demoted r12 (token-frequency family: cms_token_estimates + hll_distinct_by_source re-enter)
    "validate_documents_expectations": validate_documents_expectations,  # green r6-r7+r11; demoted r12 (validation family: set_difference_validation re-enters)
    "dedup_embedding_cosine_blocked": dedup_embedding_cosine_blocked,  # green r1+r7+r11; demoted r12 (exact-algebra twin dedup_embedding_cosine re-enters (blocked execution is the only difference))
}


