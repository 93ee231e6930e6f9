"""Relational query suite over the driver's testdata tables.

Each ``q_*`` function takes (spark, sf_dir) and returns a DataFrame; the
matching ``ORACLE[name]`` is the ANSI-SQL equivalent DuckDB runs on the
same parquet files (driver correctness gate).  Column names are aliased
identically on both sides — the driver's compare hashes values after
sorting columns by name.

The five ``q1..q5`` mirror the reference's demo queries
(``/root/reference/sqlx-sqlite/src/main.rs:135-182``: select+limit, point
equality, OR-range + count/group-by, AND across an int and a string
column, contradictory AND) re-targeted at the ``lineitem`` table and
routed through the external-index scan path (IndexedParquetTable), so the
correctness gate exercises pruning + residual filtering, not just plain
reads.  The rest cover the inherited relational layer (SURVEY §2.3-2.5):
joins, aggregation, DISTINCT, windows, LIKE, CASE, IN, set ops.

Scale notes are inline per query: broadcast for dimension joins, partial
aggregation shapes, and why each plan survives a 100x scale-up.
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .plans.expr import col as xcol
from .session import local_frame
from .sources.catalog import SqliteIndexCatalog
from .sources.layout import write_one_file
from .sources.table import IndexedParquetTable

# Every fixture table, layout and DML gate below is a session artifact
# (operators.util.memoized): built once per (session, namespace, key),
# released with its session, dropped by clear_caches().


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Delegates to operators.util.read_table so events.parquet's
    # TIMESTAMP(NANOS) column reads in a vanilla session (driver harness).
    from .operators.util import read_table

    return read_table(spark, sf_dir, name)


def _make_table(spark, sf_dir, table, index_columns, bloom_columns=(),
                token_bloom_columns=(), nan_count_columns=(),
                catalog_factory=None, catalog_tag=""):
    """IndexedParquetTable scoped to one table's parquet file (the
    testdata dir holds every table, so the ctor's glob would mix them).
    Keyed by the session too: a cached table holds the SparkSession it
    was built with, and reusing it from a different (or restarted)
    session would read through a dead handle.

    catalog_factory/catalog_tag: alternative catalog backend (e.g. the
    DB-API remote-style backend, q69) — the tag keys the memo since
    factories don't compare equal."""
    from .operators.util import memoized

    def build():
        t = IndexedParquetTable.__new__(IndexedParquetTable)
        t.spark = spark
        t.data_dir = sf_dir
        t.catalog = (catalog_factory() if catalog_factory
                     else SqliteIndexCatalog())
        t.name = table
        t._files = [os.path.join(sf_dir, f"{table}.parquet")]
        t.bloom_columns = tuple(bloom_columns)
        t.token_bloom_columns = tuple(token_bloom_columns)
        t.nan_count_columns = tuple(nan_count_columns)
        t.index_schema = t._build_index(index_columns, incremental=False)
        from .plans.pruning import PruningRewriter
        t._rewriter = PruningRewriter(t.index_schema)
        t._schema = spark.read.parquet(t._files[0]).schema
        t._reset_scan_log()
        return t

    key = (sf_dir, table, tuple(index_columns), tuple(bloom_columns),
           tuple(token_bloom_columns), tuple(nan_count_columns),
           catalog_tag)
    return memoized(spark, "indexed_tables", key, build)


def _layout_table(spark: SparkSession, sf_dir: str, namespace: str,
                  artifact: str, source: str, params: str, writer,
                  **table_kwargs) -> IndexedParquetTable:
    """The persisted-layout fixture chain: the layout directory is
    ``artifact_dir(artifact, <source table file>, params)``, published
    once by ``writer`` through ``ensure_complete`` (staged, then one
    rename), and the IndexedParquetTable over it
    (``table_kwargs``) is memoized per session under
    (namespace, layout directory)."""
    from .operators.util import artifact_dir, ensure_complete, memoized

    layout = artifact_dir(
        artifact, os.path.join(sf_dir, f"{source}.parquet"), params)

    def build():
        ensure_complete(layout, writer)
        return IndexedParquetTable(spark, layout, **table_kwargs)

    return memoized(spark, namespace, layout, build)


# ---------------------------------------------------------------------------
# Reference demo-query parity (indexed scan path)
# ---------------------------------------------------------------------------

def q1_select_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT + projection + deterministic ORDER BY + LIMIT through the
    indexed table (reference Q1, main.rs:135). No predicate => no pruning
    possible; projection is pushed (Parquet column pruning)."""
    t = _make_table(spark, sf_dir, "lineitem", ["l_quantity"])
    return (
        t.query(None, columns=["l_orderkey", "l_linenumber", "l_quantity"])
        .orderBy("l_orderkey", "l_linenumber")
        .limit(10)
    )


def q2_point_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point equality on an indexed numeric column (reference Q2)."""
    t = _make_table(spark, sf_dir, "lineitem", ["l_quantity"])
    return t.query(
        xcol("l_quantity") == 25.0,
        columns=["l_orderkey", "l_linenumber", "l_quantity"],
    )


def q3_or_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR of two ranges + count GROUP BY (reference Q3). The groupBy is a
    map-side-combinable hash aggregate on a low-cardinality key — the
    shuffle moves one row per (partition, flag) at any scale."""
    t = _make_table(spark, sf_dir, "lineitem", ["l_quantity"])
    df = t.query((xcol("l_quantity") < 5.0) | (xcol("l_quantity") > 45.0))
    return df.groupBy("l_returnflag").agg(
        F.count("l_quantity").alias("cnt_qty"))


def q4_and_mixed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND across an indexed numeric and an indexed string column
    (reference Q4)."""
    t = _make_table(spark, sf_dir, "lineitem", ["l_quantity", "l_returnflag"])
    df = t.query((xcol("l_quantity") < 5.0) & (xcol("l_returnflag") == "A"))
    return df.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def q5_contradictory_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contradictory AND (reference Q5) — at multi-file scale the index
    answers this with zero Parquet I/O; result must be empty either way."""
    t = _make_table(spark, sf_dir, "lineitem", ["l_quantity"])
    return t.query(
        (xcol("l_quantity") > 40.0) & (xcol("l_quantity") < 2.0),
        columns=["l_orderkey", "l_quantity"],
    )


# ---------------------------------------------------------------------------
# Inherited relational layer (Catalyst built-ins, wired + tested)
# ---------------------------------------------------------------------------

def q6_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: multi-aggregate hash agg with
    map-side partial aggregation; 6 groups regardless of scale."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q7_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ nation revenue rollup. nation (25 rows) and
    customer (small vs orders) are broadcast — no shuffle of the fact
    table on a real cluster; AQE picks broadcast automatically but we
    declare it for plan stability at 100 TB."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


def q8_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (reference exercises it inside the index CTE,
    index.rs:151). Partial-aggregate shape: dedup before shuffle."""
    return _read(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority").distinct()


def q9_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by total price: ranking window. The
    partitionBy key (custkey) is high-cardinality => scales; rank ties
    broken by orderkey for determinism."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q10_like_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE with literal prefix through the indexed scan path: the index
    prunes on the prefix range (plans/pruning.py LIKE rule)."""
    t = _make_table(spark, sf_dir, "part", ["p_name", "p_size"])
    df = t.query(xcol("p_name").like("a%"))
    return df.groupBy("p_brand").agg(F.count(F.lit(1)).alias("cnt"))


def q11_case_when_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + aggregation (reference conversions.rs:73-81
    translates CASE; here it is the Catalyst expression)."""
    orders = _read(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, F.lit("small"))
        .when(F.col("o_totalprice") < 150000, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return (
        orders.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


def q12_in_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list predicate + broadcast semi-join style lookup."""
    supplier = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .filter(F.col("n_name").isin("UNITED STATES", "FRANCE", "GERMANY", "CHINA"))
        .select("s_suppkey", "s_name", "n_name")
    )


def q13_union_set_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + dedup via DISTINCT (set-op surface)."""
    c = _read(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = _read(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


def q14_not_null_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT / IS NOT NULL / arithmetic predicate surface (conversions.rs
    arithmetic + NOT translation) through the indexed path; arithmetic
    over a column degrades to conservative no-prune, results stay exact."""
    t = _make_table(spark, sf_dir, "lineitem", ["l_quantity"])
    pred = (~(xcol("l_quantity") >= 10.0)) & xcol("l_discount").is_not_null() \
        & ((xcol("l_extendedprice") * 1.1) > 1000.0)
    df = t.query(pred)
    return df.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q15_multi_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way fact-dimension join: lineitem ⋈ part ⋈ supplier with
    broadcast dims, revenue per p_type. At 100 TB the only shuffle is the
    final tiny group-by."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    supplier = _read(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .groupBy("p_type")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def q16_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-range predicate through the indexed path (timestamp
    stats are the catalog extension beyond the reference's type set)."""
    import datetime as dt
    t = _make_table(spark, sf_dir, "lineitem", ["l_shipdate"])
    df = t.query(
        (xcol("l_shipdate") >= dt.datetime(1995, 1, 1))
        & (xcol("l_shipdate") < dt.datetime(1996, 1, 1)))
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def q17_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP hierarchy totals: (flag, status) -> (flag) ->
    grand total, computed in one pass (Spark expands grouping sets,
    partial-aggregates map-side; no extra scan per level)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
             F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "sum_price", "cnt")
    )


def q18_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers with at least one high-value
    order. Semi join ships only the join key of the right side and
    stops at first match — strictly cheaper than join+distinct."""
    customer = _read(spark, sf_dir, "customer")
    big = _read(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000.0).select("o_custkey")
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def q19_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no orders at all."""
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


def q20_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, Spark-first: for every purchase event, the user's most
    recent click at-or-before the purchase timestamp. Implemented as a
    union of tagged streams + one running `last(ignorenulls)` window —
    a single shuffle on user_id, no per-key lateral scan, no range
    explosion; this is the scalable shape for temporal alignment at
    100 TB (same trick backs point-in-time feature joins). Ties:
    click-at-same-ts counts (side orders right before left), equal-ts
    clicks resolve to the highest event_id."""
    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("ev_id"),
        F.lit(0).alias("side"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("ev_id"),
        F.lit(1).alias("side"))
    w = (Window.partitionBy("user_id")
         .orderBy(F.asc("ts"), F.asc("side"), F.asc("ev_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    last_click = F.last(
        F.when(F.col("side") == 0, F.col("ev_id")), ignorenulls=True).over(w)
    return (
        clicks.unionByName(purchases)
        .withColumn("last_click_id", last_click)
        .filter(F.col("side") == 1)
        .select(F.col("ev_id").alias("purchase_id"), "user_id",
                "last_click_id")
    )


def q21_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — Spark plans expand + two-phase
    aggregate; distinct customers per order priority."""
    orders = _read(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("uniq_custs"),
        F.count(F.lit(1)).alias("cnt"),
    )


def q22_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (orders 50% above their customer's
    average), decorrelated the Catalyst-friendly way: one window
    aggregate per customer partition instead of a per-row subquery
    re-scan. Prices are compared in exact integer cents
    (2*price*n > 3*sum) so the boundary is engine-independent — a
    floating-point AVG comparison flips on half-cent ties."""
    orders = _read(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = Window.partitionBy("o_custkey")
    with_agg = (
        orders.withColumn("cents", cents)
        .withColumn("cust_sum_cents", F.sum("cents").over(w))
        .withColumn("cust_n_orders", F.count(F.lit(1)).over(w))
    )
    return (
        with_agg.filter(
            2 * F.col("cents") * F.col("cust_n_orders")
            > 3 * F.col("cust_sum_cents"))
        .select("o_orderkey", "o_custkey", "o_totalprice",
                "cust_sum_cents", "cust_n_orders")
    )


def q23_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered window frame: cumulative order value per customer in
    order-date order (ROWS UNBOUNDED PRECEDING). Rounding the cumulative
    sum of 2-decimal prices is engine-safe: the true sum always has at
    most 2 decimals, never near a rounding boundary."""
    orders = _read(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        F.row_number().over(
            Window.partitionBy("o_custkey")
            .orderBy("o_orderdate", "o_orderkey")).cast("int").alias("order_seq"),
    )


def q24_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag window: days since the customer's previous order
    (epoch-day integer math on the timestamp, engine-independent)."""
    orders = _read(spark, sf_dir, "orders")
    # TIMESTAMP_NTZ -> TIMESTAMP (session tz is UTC) -> epoch seconds
    day = F.floor(
        F.col("o_orderdate").cast("timestamp").cast("long") / F.lit(86400)
    ).cast("long")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("day", day)
        .select(
            "o_custkey", "o_orderkey",
            (F.col("day") - F.lag("day").over(w)).alias("days_since_prev"))
    )


def q25_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators: nation keys having customers
    and suppliers vs customer-only, tagged and unioned."""
    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    supp = _read(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    both = cust.intersect(supp).withColumn("tag", F.lit("both"))
    cust_only = cust.subtract(supp).withColumn("tag", F.lit("cust_only"))
    return both.unionByName(cust_only)


def q26_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median, p90) per order priority — Spark's
    percentile() and DuckDB's quantile_cont use the same linear
    interpolation on the sorted set."""
    orders = _read(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.count(F.lit(1)).alias("cnt"),
    )


def q27_outer_join_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation —
    customers by order count, including zero-order customers (COUNT of a
    nullable column skips the null rows the outer join manufactures)."""
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers"))


HLL_BUCKETS = 64  # 2^6 registers


def _hll_rho_sql(h_expr: str) -> str:
    """Rank (position of the highest set bit, from 54 down) of the
    54-bit remainder after the bucket bits — a pure CASE chain of
    integer compares, bit-identical on any engine (no floating log)."""
    v = f"({h_expr} >> 6)"
    whens = "\n            ".join(
        f"WHEN {v} >= {1 << k} THEN {54 - k}"
        for k in range(53, -1, -1))
    return f"(CASE {whens} ELSE 55 END)"


def _hll_rho_col(h) -> "F.Column":
    """Spark twin of _hll_rho_sql: same rank thresholds as a when-chain
    of integer compares."""
    v = F.shiftright(h, 6)
    out = None
    for k in range(53, -1, -1):
        cond = v >= (1 << k)
        out = F.when(cond, 54 - k) if out is None else out.when(cond, 54 - k)
    return out.otherwise(55)


def q28_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register construction for distinct customers, built
    distributively: bucket = hash % 64, register = MAX(rank of remaining
    bits) — one map-side-combined MAX groupBy; 64 integers summarize any
    cardinality and merge across partitions/days by elementwise MAX.
    Rank is a chain of integer compares (no floating log), so registers
    match the oracle bit-for-bit."""
    from .functions import hash60
    orders = _read(spark, sf_dir, "orders")
    h = hash60(F.col("o_custkey").cast("string"))
    df = orders.select(
        (h % HLL_BUCKETS).cast("int").alias("bucket"),
        _hll_rho_col(h).cast("int").alias("rho"),
    )
    return df.groupBy("bucket").agg(F.max("rho").alias("register"))


def q29_argmax_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per nation, the supplier with the highest account
    balance (ties to the lowest suppkey). Aggregation-based argmax
    (max_by over a struct) — map-side combinable, so the shuffle is one
    row per nation instead of a full window sort per partition."""
    supplier = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    best = supplier.groupBy("s_nationkey").agg(
        F.max_by(
            F.struct(F.col("s_suppkey"), F.col("s_name"),
                     F.col("s_acctbal")),
            F.struct(F.col("s_acctbal").alias("bal"),
                     (-F.col("s_suppkey")).alias("nk"))).alias("best"))
    return (
        best.join(F.broadcast(nation),
                  best.s_nationkey == nation.n_nationkey)
        .select("n_name",
                F.col("best.s_name").alias("top_supplier"),
                F.col("best.s_acctbal").alias("acctbal"))
    )


def q30_shift_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-shift arithmetic in a predicate through the indexed scan path
    (reference conversions.rs translates << / >> into catalog SQL; here
    the Expr AST renders to F.shiftleft/F.shiftright and the residual
    filter re-applies it exactly — pruning degrades conservatively)."""
    t = _make_table(spark, sf_dir, "part", ["p_size"])
    pred = ((xcol("p_size") << 2) >= 100) & ((xcol("p_size") >> 1) <= 20)
    df = t.query(pred)
    return df.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("p_size").alias("sum_size"))


def q32_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on a high-cardinality string column through the
    Bloom-filter index extension (sources/bloom.py): min/max stats
    cannot prune a needle like c_name, the per-row-group Bloom filter
    can. Results are exact either way (residual filter); the pruning
    win shows in last_scan.bloom_skipped."""
    t = _make_table(spark, sf_dir, "customer", ["c_name"],
                    bloom_columns=["c_name"])
    df = t.query(xcol("c_name") == "Customer#000000100")
    return df.select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")


def q31_registered_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table registration in the session catalog (reference main.rs
    ctx.register_table): the indexed table registers a temp view and is
    queried through plain spark.sql — inherited-layer SQL over the
    registered relation."""
    t = _make_table(spark, sf_dir, "part", ["p_size"])
    t.create_temp_view("part_indexed_view")
    return spark.sql("""
        SELECT p_type,
               COUNT(*) AS cnt,
               MIN(p_retailprice) AS min_price,
               MAX(p_retailprice) AS max_price
        FROM part_indexed_view
        WHERE p_size >= 40
        GROUP BY p_type
    """)


def q33_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) self-join, Spark-first: for every order, how
    many other orders were placed within ±1 day. The naive form is a
    non-equi theta join — quadratic, planned as a broadcast nested
    loop. The general scalable shape bins dates to days and equi-joins
    each row's {bin-1, bin, bin+1} probes against the other side's
    single bin (O(rows × 3) shuffle, exact predicate re-applied — the
    same manufactured-equi-key trick the dedup operators use). Here the
    aggregate is algebraic (a count) and |date diff| <= 1 on whole-day
    dates IS bin distance <= 1, so the rewrite goes one step further:
    aggregate per-day counts first (tiny — one row per distinct day),
    broadcast them, and compute each order's answer as
    c(bin-1)+c(bin)+c(bin+1)-1 with three broadcast lookups — no pair
    list ever materializes, no shuffle at all past the day-count agg.
    At 100 TB the day-count table is still ~thousands of rows; the
    banded pair join remains the fallback for non-algebraic per-pair
    logic."""
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("d"))
    binned = o.withColumn(
        "bin", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")))
    day_counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    out = binned
    for delta, alias in [(-1, "cm"), (0, "c0"), (1, "cp")]:
        dc = day_counts.select(F.col("bin").alias(f"b_{alias}"),
                               F.col("c").alias(alias))
        out = out.join(F.broadcast(dc),
                       out.bin + delta == dc[f"b_{alias}"], "left")
    n = (F.coalesce(F.col("cm"), F.lit(0))
         + F.coalesce(F.col("c0"), F.lit(0))
         + F.coalesce(F.col("cp"), F.lit(0)) - 1)
    return (out.withColumn("n_nearby", n.cast("long"))
            .filter(F.col("n_nearby") > 0)  # match the inner-join oracle
            .select("o_orderkey", "n_nearby"))


def q34_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE grouping sets over (status, priority) — Catalyst plans
    one Expand + a single hash aggregate, so the multi-set rollup costs
    one shuffle regardless of how many grouping sets expand. Money sums
    in exact integer cents: a float SUM's accumulation order differs
    between engines, so the boundary would flip on half-ulp ties."""
    orders = _read(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.withColumn("cents", cents)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum("cents").alias("sum_cents"))
    )


def q35_rowgroup_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact row-group path (Spark 4 Python DataSource): partitions
    are (file, surviving row-group list) and each task reads ONLY its
    row groups via pyarrow — the reference's ParquetAccessPlan
    semantics (index.rs:163-175) rather than file-level pruning +
    native reader skipping. Same query as q2 so the two scan modes are
    directly comparable; the residual filter still re-applies (Inexact
    contract)."""
    t = _make_table(spark, sf_dir, "lineitem", ["l_quantity"])
    df = t.query(xcol("l_quantity") == 25.0, mode="rowgroups")
    return df.select("l_orderkey", "l_linenumber", "l_quantity")


def q37_case_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-armed CASE in the pruned scan path: the rewriter folds
    ``CASE WHEN l_quantity <= 2 THEN 1 ELSE 0 END = 1`` onto the arm
    condition (reference pushes CASE into catalog SQL,
    conversions.rs:73-81), so the index prunes like ``l_quantity <= 2``
    while the residual filter re-applies the exact CASE expression."""
    from .plans.expr import Case, Lit
    t = _make_table(spark, sf_dir, "lineitem", ["l_quantity"])
    pred = Case([(xcol("l_quantity") <= 2.0, Lit(1))], Lit(0)) == 1
    df = t.query(pred)
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))


def q36_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact join under the oracle gate: lineitem joins part
    through operators.joins.salted_join (deterministic salt on the left
    key, right side replicated 8x), then aggregates per brand. The
    salting is result-transparent for left-preserving joins — the
    oracle is the PLAIN join — so this query proves the skew machinery
    changes the partitioning, never the answer. Quantities are summed
    in integer centi-units for float-order-independent comparison."""
    from .operators.joins import salted_join

    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qc"))
    part = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand")
    joined = salted_join(li, part, "l_partkey", n_salts=8)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("qc").alias("sum_qty_cents"))


def q38_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two correlated quantified subqueries on the same table — EXISTS
    (an order over 150k) AND NOT EXISTS (any finished order) — expressed
    as one left-semi plus one left-anti join, which is exactly the
    decorrelation Catalyst/DataFusion plan for them. Both probe sides
    project only the join key, so the shuffles carry single columns; the
    nation dim is broadcast."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    nation = _read(spark, sf_dir, "nation")
    big = orders.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    fin = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    kept = (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .join(fin, F.col("c_custkey") == fin.o_custkey, "left_anti")
    )
    return (
        kept.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("cnt"))
    )


def q39_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((status, priority), (status), ()) — the
    general form CUBE/ROLLUP specialize. Catalyst plans one Expand (3
    replicas) + a single hash aggregate: one shuffle regardless of set
    count. Grouping nulls are folded to 'ALL' labels (the data has no
    natural nulls in either key) so the output is dialect-neutral."""
    orders = _read(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = (
        orders.withColumn("cents", cents)
        .groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum("cents").alias("sum_cents"))
    )
    return g.select(
        F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
        "cnt", "sum_cents")


def q40_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based window frame: per order, how many same-customer
    orders fall within ±1000.00 of its price (RANGE BETWEEN, not ROWS —
    the frame is defined by the ORDER BY *value*). Prices are ordered as
    exact integer cents so the frame boundary cannot flip on float
    representation. One hash exchange on o_custkey; the frame scan is
    per-partition and streaming."""
    orders = _read(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = (Window.partitionBy("o_custkey").orderBy("cents")
         .rangeBetween(-100_000, 100_000))
    return (
        orders.withColumn("cents", cents)
        .select(
            "o_orderkey", "o_custkey",
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_in_band"),
            F.sum("cents").over(w).cast("bigint").alias("band_cents"))
    )


# alpha_m * m^2 * 2^55 for m = 64, precomputed in Python and inlined as
# ONE double literal on both engines: the indicator sum is kept as an
# exact BIGINT (sum of 2^(55-register) <= 64*2^55 < 2^63), so the whole
# estimate is a single deterministic double division.
_HLL_A = 0.7213 / (1 + 1.079 / HLL_BUCKETS) * HLL_BUCKETS * HLL_BUCKETS * float(2 ** 55)


def q42_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HyperLogLog readout q28 builds registers for: cardinality
    estimate alpha_m * m^2 / sum(2^-M_j) next to the exact distinct
    count and the relative error. The float-order hazard of summing
    2^-M_j is removed by scaling to integers (sum 2^(55-M_j), exact in
    BIGINT) and dividing once; empty buckets enter as register 0 via a
    left join from the full bucket range. Raw (uncorrected) estimator —
    expected |error| ~ 1.04/sqrt(64) = 13% — reported against truth, so
    the query is its own accuracy audit."""
    from .functions import hash60
    orders = _read(spark, sf_dir, "orders")
    h = hash60(F.col("o_custkey").cast("string"))
    regs = (
        orders.select((h % HLL_BUCKETS).cast("int").alias("bucket"),
                      _hll_rho_col(h).cast("int").alias("rho"))
        .groupBy("bucket").agg(F.max("rho").alias("register"))
    )
    allb = spark.range(HLL_BUCKETS).select(
        F.col("id").cast("int").alias("bucket"))
    full = allb.join(regs, "bucket", "left").select(
        F.coalesce(F.col("register"), F.lit(0)).alias("register"))
    s = full.agg(F.sum(F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(55 - register AS INT))"))
        .alias("ind_sum"))
    exact = orders.agg(
        F.count_distinct("o_custkey").alias("exact_distinct"))
    est = F.lit(_HLL_A) / F.col("ind_sum")
    return s.crossJoin(exact).select(
        F.round(est, 2).alias("hll_estimate"),
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        F.round((est - F.col("exact_distinct")) / F.col("exact_distinct"), 4)
        .alias("rel_err"))


def q41_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per priority with one column per status —
    Spark's relational pivot operator (planned as a single Expand +
    aggregate, one shuffle). The oracle states the same contract as
    filtered aggregation, which is what PIVOT desugars to."""
    orders = _read(spark, sf_dir, "orders")
    p = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("cnt_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("cnt_finished"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("cnt_pending"))


def q43_in_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list predicate through the indexed scan with a Bloom column:
    min/max refutes row groups whose range misses every list value, the
    Bloom filter then refutes groups whose range brackets a value that
    is not actually present (the high-cardinality-key case min/max
    cannot prune), and the residual filter re-applies the exact IN
    (Inexact contract). One hit key, one mid-range key, one impossible
    key exercise all three outcomes."""
    t = _make_table(spark, sf_dir, "customer", ["c_custkey"],
                    bloom_columns=["c_custkey"])
    df = t.query(xcol("c_custkey").isin(17, 142, 999_999_999))
    return df.select("c_custkey", "c_name", "c_mktsegment")


def q44_isnull_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL through the indexed path, answered without any Parquet
    I/O: every row group's ``o_orderpriority`` null_count is 0 in the
    stats catalog, so the rewriter's null-count term (``IS NULL ->
    n > 0``, plans/pruning.py) refutes ALL row groups and the access
    plan comes back empty — the reference's "Files scanned: []" posture
    (sqlx-sqlite/README.md:70) on the NULL dimension of the stats schema
    rather than the min/max dimension. The residual filter still
    re-applies IS NULL on the (empty) scan per the Inexact contract."""
    t = _make_table(spark, sf_dir, "orders", ["o_orderpriority"])
    df = t.query(xcol("o_orderpriority").is_null())
    return df.select("o_orderkey", "o_orderpriority")


Q45_BIN_CENTS = 10_000          # $100 equi-width histogram bins
Q45_PCTS = (50, 90, 99)         # requested percentiles


def q45_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantiles — the one-pass, O(bins)-state
    substitute for an exact global sort at 100 TB: l_extendedprice in
    exact integer cents falls into fixed $100 bins (one map-side-
    combined groupBy; the shuffle carries ~#bins rows), a single
    cumulative window over the bin axis (a few hundred rows in one
    partition — bounded regardless of data size), and each requested
    percentile reads the first bin whose cumulative count reaches
    ceil(p/100 * N), reported as the bin's lower bound. Every
    intermediate is an exact integer, so the estimate is deterministic
    and the oracle re-derives it bit-for-bit; accuracy is bracketed by
    the bin width. Unlike percentile_approx/t-digest this sketch is
    trivially mergeable across days/partitions by adding bin counts."""
    li = _read(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    bins = (
        li.select(F.floor(cents / Q45_BIN_CENTS).cast("long").alias("bin"))
        .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select("bin", F.sum("cnt").over(w).alias("cum"))
    # N = sum of bin counts (every row lands in exactly one bin) — no
    # second scan of the fact table
    total = bins.agg(F.sum("cnt").alias("n"))
    pcts = local_frame(spark, [(p,) for p in Q45_PCTS], "pct INT")
    thr = pcts.crossJoin(total).select(
        "pct", F.ceil(F.col("pct") * F.col("n") / 100).cast("long").alias("thr"))
    est = (
        thr.join(cum, F.col("cum") >= F.col("thr"))  # tiny x tiny: BNLJ
        .groupBy("pct").agg(F.min("bin").alias("bin"))
    )
    return est.select(
        "pct",
        (F.col("bin") * Q45_BIN_CENTS).cast("long").alias("est_lower_cents"))


def _partitioned_orders(spark: SparkSession, sf_dir: str) -> IndexedParquetTable:
    """Orders written once per corpus as a hive layout
    (``o_orderstatus=<v>/``; operators.util.artifact_dir keying) and
    wrapped in a partitioned IndexedParquetTable — partition values
    index as degenerate min=max stats, so one catalog query prunes
    through BOTH the partition directory and the footer stats."""
    return _layout_table(
        spark, sf_dir, "partitioned_orders", "spark_graft_part_layout",
        "orders", "by=o_orderstatus",
        lambda d: (_read(spark, sf_dir, "orders").repartition(2)
                   .write.partitionBy("o_orderstatus")
                   .mode("overwrite").parquet(d)),
        index_columns=["o_totalprice"], partitioned=True)


def q46_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed partition + stats predicate through the indexed scan over a
    hive-partitioned layout: ``o_orderstatus = 'F'`` prunes to one
    partition DIRECTORY (its value is the file's min=max stat in the
    catalog), ``o_totalprice > 200000`` refutes row groups inside it by
    footer stats — one catalog query narrows through both dimensions,
    then the residual filter re-applies the exact predicate (Inexact).
    The oracle runs the same predicate on the flat orders table, so the
    partitioned layout + index must be value-transparent."""
    t = _partitioned_orders(spark, sf_dir)
    df = t.query((xcol("o_orderstatus") == "F")
                 & (xcol("o_totalprice") > 200000.0))
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("sum_cents"))


def q47_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box predicate over a Z-ORDERED layout through the index:
    lineitem rewritten once per corpus along a Morton curve over
    (l_quantity, l_extendedprice) — quantile-normalized bucket ranks,
    bit-interleaved, range-sorted (sources/layout.py write_zordered) —
    then indexed on BOTH columns. A box predicate prunes row groups on
    both dimensions simultaneously, where a single-column sort gives
    perfect pruning on one axis and none on the other. The oracle runs
    the same box on the flat lineitem table, so the physical rewrite +
    index must be value-transparent."""
    from .sources.layout import write_zordered

    t = _layout_table(
        spark, sf_dir, "zorder_layout", "spark_graft_zorder_layout",
        "lineitem", "z=l_quantity,l_extendedprice",
        lambda d: write_zordered(
            _read(spark, sf_dir, "lineitem").select(
                "l_quantity", "l_extendedprice", "l_returnflag"),
            d, ["l_quantity", "l_extendedprice"], num_files=4),
        index_columns=["l_quantity", "l_extendedprice"])
    box = ((xcol("l_quantity") >= 10.0) & (xcol("l_quantity") <= 15.0)
           & (xcol("l_extendedprice") >= 20000.0)
           & (xcol("l_extendedprice") <= 30000.0))
    df = t.query(box)
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .alias("sum_cents"))


def q48_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts answered from the CATALOG ALONE — zero Parquet I/O at any
    scale: COUNT(*) is the sum of the index's per-file row counts (the
    stats ARE the aggregate, reference index.rs:198-205), and a refuted
    predicate's count is 0 straight from the empty access plan
    (reference README.md:70). The one-row result is assembled on the
    driver because the answer never touches data; the oracle recomputes
    both counts the hard way."""
    t = _make_table(spark, sf_dir, "lineitem", ["l_quantity"])
    total = t.count_rows()
    impossible = t.count_rows(xcol("l_quantity") > 1e9)
    assert t.last_scan.files_scanned == {}, "refutation must be catalog-only"
    return local_frame(
        spark, [(total, impossible)],
        "total_rows BIGINT, impossible_rows BIGINT")


def q49_token_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text token search through the index — inverted-index-lite:
    the documents table carries a TOKEN Bloom filter per row group
    (built over the distinct token set of ``text``, sources/bloom.py),
    so ``contains_token(text, w)`` refutes row groups whose filter
    proves the word absent — sound because token membership, unlike
    LIKE '%w%' substring matching, cannot span token boundaries. The
    residual filter re-applies exact array_contains on the tokenized
    column (Inexact contract); min/max stats on doc_id prune the id
    range conjunct as usual. The oracle recomputes token membership
    with the shared tokenizer."""

    t = _make_table(spark, sf_dir, "documents", ["doc_id"],
                    token_bloom_columns=["text"])
    df = t.query(xcol("text").contains_token("merge")
                 & (xcol("doc_id") < 250))
    return df.select("doc_id", "lang", "n_chars")


def q50_join_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key sideways pruning under the oracle — the external-index
    analog of dynamic partition pruning: a tiny filtered customer build
    side (3 keys) is harvested with one aggregate job, the orders scan
    prunes to row groups whose o_custkey range can intersect the
    harvested IN-list BEFORE the join, and the join itself still
    enforces exact equality (the derived predicate is only a
    narrowing). The oracle is the PLAIN join — the sideways pass must
    be result-transparent."""
    t = _make_table(spark, sf_dir, "orders", ["o_custkey"])
    build = (_read(spark, sf_dir, "customer")
             .filter(F.col("c_custkey").isin(7, 61, 139))
             .select("c_custkey", "c_name"))
    probe = t.query_join_pruned("o_custkey", build, "c_custkey")
    return (
        probe.join(F.broadcast(build),
                   probe.o_custkey == build.c_custkey)
        .groupBy("c_name")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
             .alias("sum_cents"))
    )


def q51_partition_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY COUNT answered from the CATALOG ALONE: over the
    partitioned layout, every row group is single-valued on the
    partition column (its value is the injected min=max stat), so
    table.count_rows_by folds per-value row counts from the index
    without starting a single executor — the aggregate-pushdown
    endpoint of the stats-are-the-aggregate idea (q48 generalized from
    a scalar COUNT(*) to a grouped one). The oracle recomputes the
    group-by the hard way on the flat table."""
    t = _partitioned_orders(spark, sf_dir)
    counts = t.count_rows_by("o_orderstatus")
    assert counts is not None, "partition column must be single-valued"
    return local_frame(
        spark, sorted(counts.items()), "o_orderstatus STRING, n_orders BIGINT")


def q52_metadata_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column bounds answered from the catalog alone: numeric Parquet
    min/max stats are exact, so table.min_max folds the true global
    bounds from the index without reading data (the catalog reports
    completeness; the method falls back to a scan aggregate only when
    stats are missing). One row, zero Parquet I/O — the MIN/MAX
    sibling of q48's COUNT(*) and q51's grouped counts. Float bounds
    are trusted only once the column is PROVEN NaN-free (footer stats
    exclude NaN while Spark's F.max returns it as the maximum), so the
    column opts in to NaN counting."""
    t = _make_table(spark, sf_dir, "lineitem", ["l_quantity"],
                    nan_count_columns=["l_quantity"])
    mn, mx = t.min_max("l_quantity")
    return local_frame(
        spark, [(float(mn), float(mx))], "min_qty DOUBLE, max_qty DOUBLE")


def q53_hll_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes the HLL family a
    100 TB operator: registers built independently over two sources
    (customers present in orders, and the full customer table) merge by
    elementwise MAX into the registers of the UNION, with no access to
    either source's raw keys. That is exactly the cross-day/cross-
    partition rollup shape: build per-partition register sets in one
    pass each, merge O(m) integers, estimate once. Register math is
    q28's (integer rank chain, md5-based hash) so both engines agree
    bit-for-bit; the merged estimate is reported against the exact
    union distinct as its own accuracy audit."""
    from .functions import hash60

    def regs(df, key):
        h = hash60(F.col(key).cast("string"))
        return (df.select((h % HLL_BUCKETS).cast("int").alias("bucket"),
                          _hll_rho_col(h).cast("int").alias("rho"))
                .groupBy("bucket").agg(F.max("rho").alias("register")))

    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    merged = (
        regs(orders, "o_custkey")
        .unionByName(regs(customer, "c_custkey"))
        .groupBy("bucket").agg(F.max("register").alias("register"))
    )
    allb = spark.range(HLL_BUCKETS).select(
        F.col("id").cast("int").alias("bucket"))
    full = allb.join(merged, "bucket", "left").select(
        F.coalesce(F.col("register"), F.lit(0)).alias("register"))
    s = full.agg(F.sum(F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(55 - register AS INT))"))
        .alias("ind_sum"))
    exact = (
        orders.select(F.col("o_custkey").alias("k"))
        .unionByName(customer.select(F.col("c_custkey").alias("k")))
        .agg(F.count_distinct("k").alias("exact_union_distinct"))
    )
    est = F.lit(_HLL_A) / F.col("ind_sum")
    return s.crossJoin(exact).select(
        F.round(est, 2).alias("hll_union_estimate"),
        F.col("exact_union_distinct").cast("bigint")
        .alias("exact_union_distinct"))


def q54_catalog_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DESCRIBE readout of the external index (table.describe_index)
    under the oracle: per indexed column, total null count and global
    min/max folded from the CATALOG ALONE — zero Parquet I/O — and
    cross-checked against the data the hard way. The non-SQL-derivable
    freshness fields (file/row-group counts, bloom inventory) are
    asserted in tests/; here the value-carrying fields prove the
    catalog agrees with the data it summarizes. The float column opts
    in to NaN counting: footer min/max EXCLUDE NaN, so a float bound is
    only trusted as an attained value once the column is PROVEN
    NaN-free (tests/test_nan_soundness.py)."""
    t = _make_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"],
                    nan_count_columns=["o_totalprice"])
    info = t.describe_index()
    assert info["rows"] == t.count_rows()
    rows = []
    for col in ("o_custkey", "o_totalprice"):
        c = info["columns"][col]
        assert c["bounds_exact"], f"{col} bounds must be trusted exact"
        rows.append((col, int(c["null_count"]),
                     float(c["min"]), float(c["max"])))
    return local_frame(
        spark, rows,
        "column_name STRING, null_count BIGINT, "
        "min_val DOUBLE, max_val DOUBLE")


def q55_colcol_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-column comparison through the index (plans/pruning.py
    _rw_colcol): ``l_quantity > l_extendedprice`` is refuted from the
    catalog alone — every row group's quantity interval sits entirely
    below its price interval — so the count is answered with ZERO
    Parquet I/O (the Q5 "Files scanned: []" posture on the col-col
    dimension). The satisfiable direction ``l_discount >= l_tax``
    cannot be refuted (intervals overlap), scans, and the residual
    filter applies the exact row-level comparison (Inexact contract).
    The oracle recomputes both counts the hard way. Col-col float
    refutation requires the columns PROVEN NaN-free (a hidden NaN would
    satisfy either comparison while being invisible to footer stats —
    tests/test_nan_soundness.py), so all four opt in to NaN counting."""
    t = _make_table(spark, sf_dir, "lineitem",
                    ["l_quantity", "l_extendedprice",
                     "l_discount", "l_tax"],
                    nan_count_columns=["l_quantity", "l_extendedprice",
                                       "l_discount", "l_tax"])
    n_impossible = t.count_rows(
        xcol("l_quantity") > xcol("l_extendedprice"))
    assert t.last_scan.files_scanned == {}, \
        "col-col refutation must be catalog-only"
    cheap = t.query(xcol("l_discount") >= xcol("l_tax"))
    return (cheap.agg(F.count(F.lit(1)).alias("n_cheap"))
            .withColumn("n_impossible",
                        F.lit(n_impossible).cast("bigint")))


Q56_BUCKETS = 8


def _bucketed_orders_customer(spark: SparkSession, sf_dir: str):
    """Both join sides written ONCE per corpus as bucketed tables
    (bucketBy + sortBy on the join key, same bucket count) so the join
    needs no Exchange on either side — the co-located-join layout a
    100 TB deployment maintains for its hottest fact-dim keys. The
    bucket files are published once through ``ensure_complete``: a
    temporary external table writes them into the stage and is dropped
    again. Bucket metadata lives in the session catalog, so each new
    session registers its table over the published directory with
    ``CREATE TABLE ... CLUSTERED BY ... LOCATION``; table names embed
    the artifact fingerprint so two corpora never collide."""
    from .operators.util import artifact_dir, ensure_complete, memoized

    def build():
        names = []
        for tbl, key in (("orders", "o_custkey"),
                         ("customer", "c_custkey")):
            d = artifact_dir(
                "spark_graft_buckets",
                os.path.join(sf_dir, f"{tbl}.parquet"),
                f"{key}_b{Q56_BUCKETS}")
            name = f"bkt_{tbl}_{os.path.basename(d)}"

            src = _read(spark, sf_dir, tbl)

            def _write(stage, src=src, key=key, name=name):
                (src.write.bucketBy(Q56_BUCKETS, key).sortBy(key)
                 .option("path", stage).mode("overwrite")
                 .format("parquet").saveAsTable(f"{name}_stage"))
                spark.sql(f"DROP TABLE {name}_stage")  # files stay

            ensure_complete(d, _write)
            if not spark.catalog.tableExists(name):
                cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                                 for f in src.schema)
                spark.sql(
                    f"CREATE TABLE {name} ({cols}) USING parquet "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                    f"INTO {Q56_BUCKETS} BUCKETS LOCATION '{d}'")
            names.append(name)
        return tuple(names)

    return memoized(spark, "bucketed_pair", sf_dir, build)


def q56_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join over bucketed layouts: orders and
    customer both bucketed by custkey into the same bucket count, so
    the sort-merge join reads bucket i against bucket i with NO
    Exchange on either side (pinned by tests/test_plan_shapes.py) —
    at 100 TB this converts the biggest shuffle in the workload into
    a local merge per bucket. The merge hint keeps AQE from
    broadcasting the small test-scale dimension; the oracle is the
    plain join, so the layout must be result-transparent."""
    on, cn = _bucketed_orders_customer(spark, sf_dir)
    o, c = spark.table(on), spark.table(cn)
    j = o.hint("merge").join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("sum_cents"))


def q57_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family over one window spec — rank,
    dense_rank, percent_rank, cume_dist per order within its priority,
    ordered by exact price cents: one hash exchange on the partition
    key, every function computed in the same window pass. percent_rank
    and cume_dist are doubles by definition; both engines evaluate the
    identical closed forms ((rank-1)/(n-1), rows_leq/n), so the
    basis-point floors are deterministic. Output thinned to a
    deterministic key subset AFTER the windows so partition math covers
    the full table."""
    orders = _read(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # order by cents alone: ties are the POINT — rank gaps vs
    # dense_rank, and every tied row shares identical outputs, so the
    # result stays deterministic without a unique tie-break
    w = Window.partitionBy("o_orderpriority").orderBy("cents")
    ranked = (
        orders.select("o_orderkey", "o_orderpriority",
                      cents.alias("cents"))
        .withColumn("rnk", F.rank().over(w))
        .withColumn("drnk", F.dense_rank().over(w))
        .withColumn("pr_bp",
                    F.floor(F.percent_rank().over(w) * 10000).cast("long"))
        .withColumn("cd_bp",
                    F.floor(F.cume_dist().over(w) * 10000).cast("long"))
    )
    return (
        ranked.filter(F.col("o_orderkey") % 199 == 0)
        .select("o_orderkey", "o_orderpriority", "cents",
                F.col("rnk").cast("long").alias("rnk"),
                F.col("drnk").cast("long").alias("drnk"),
                "pr_bp", "cd_bp")
    )


def q58_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long): the round trip of q41's PIVOT — per-
    priority status counts spread into columns, then melted back into
    (priority, status, cnt) rows with Spark's relational unpivot
    operator (planned as a single Expand, no extra shuffle beyond the
    aggregate). The oracle states the contract directly as the grouped
    long form, so the pivot/unpivot pair must be lossless."""
    orders = _read(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select("o_orderpriority",
                *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
                  for c in ("O", "F", "P")])
    )
    return (
        wide.unpivot("o_orderpriority", ["O", "F", "P"],
                     "o_orderstatus", "cnt")
        .filter(F.col("cnt") > 0)
    )


def q59_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): the
    orders-with-NULL-priority rows — which a plain equi-join silently
    drops — match the dimension's NULL row and stay accounted. The
    dimension is the distinct priority domain built from the fact
    itself (broadcast); the oracle uses IS NOT DISTINCT FROM. The
    NULL-bucket count is exactly q44's IS NULL population, tying the
    two null-semantics surfaces together."""
    orders = _read(spark, sf_dir, "orders")
    dim = (
        orders.select("o_orderpriority").distinct()
        .select(F.col("o_orderpriority").alias("p"),
                F.coalesce(F.col("o_orderpriority"),
                           F.lit("(none)")).alias("label"))
    )
    j = orders.join(F.broadcast(dim),
                    orders.o_orderpriority.eqNullSafe(dim.p))
    return j.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("sum_cents"))


def _decimal_lineitem(spark: SparkSession, sf_dir: str):
    """lineitem rewritten once per corpus with an exact DECIMAL(12,2)
    price column — shared by q60 (decimal predicates) and q65
    (catalog-only decimal MIN/MAX), memoized per session."""
    return _layout_table(
        spark, sf_dir, "decimal_lineitem", "spark_graft_decimal_layout",
        "lineitem", "ep_dec12_2",
        lambda d: (_read(spark, sf_dir, "lineitem")
                   .select("l_orderkey", "l_linenumber", "l_returnflag",
                           F.col("l_extendedprice")
                           .cast("decimal(12,2)").alias("ep"))
                   .repartition(2).write.mode("overwrite").parquet(d)),
        index_columns=["ep"])


def q60_decimal_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL-column predicates through the indexed scan: lineitem's
    price rewritten once per corpus as DECIMAL(12,2) (the type ledgers
    actually use), indexed via the ulp-widened double bounds the
    decimal category stores, and range-scanned with Decimal literals —
    pruning refutes out-of-range row groups, the residual filter
    re-applies the exact decimal comparison, and all output arithmetic
    is exact (decimal x 100 is an integer by construction). The oracle
    applies the same cast + range on the flat table, so the decimal
    layout + index must be value-transparent."""
    import decimal as _d

    t = _decimal_lineitem(spark, sf_dir)
    assert t.index_schema == {"ep": "decimal"}
    df = t.query((xcol("ep") >= _d.Decimal("20000.00"))
                 & (xcol("ep") <= _d.Decimal("30000.00")))
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("ep") * 100).cast("long")).alias("sum_cents"))


def q61_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT pushdown into the catalog (table.count_rows + the
    satisfaction rewrite, the refutation dual): over a price-sorted
    layout, a range count reads ONLY the boundary row groups — every
    interior group's interval is provably inside the predicate and
    contributes its catalog row_count unread — and a tautological-
    on-this-data predicate (price > 0, no NULLs) is counted with ZERO
    Parquet I/O despite having a predicate at all. The asserts pin
    both behaviors; the oracle recomputes the counts the hard way, so
    pushdown must be value-exact."""
    from .sources.layout import write_range_sorted

    # NaN counting opted in: float satisfaction proofs for < fire only
    # on groups PROVEN NaN-free (tests/test_nan_soundness.py)
    t = _layout_table(
        spark, sf_dir, "sorted_orders", "spark_graft_sorted_layout",
        "orders", "by=o_totalprice",
        lambda d: write_range_sorted(
            _read(spark, sf_dir, "orders"), d,
            ["o_totalprice"], num_files=4, row_group_bytes=1 << 18),
        index_columns=["o_totalprice"], nan_count_columns=["o_totalprice"])
    n_below = t.count_rows(xcol("o_totalprice") < 150000.0)
    pd = t.last_count_pushdown
    assert pd["full_rows"] > 0, pd  # interior groups counted unread
    assert pd["partial_row_groups"] <= 2, pd  # only the boundary scans
    n_all = t.count_rows(xcol("o_totalprice") > 0.0)
    assert t.last_count_pushdown["partial_row_groups"] == 0, \
        t.last_count_pushdown  # zero-I/O count WITH a predicate
    return local_frame(
        spark, [(n_below, n_all)], "n_below BIGINT, n_all BIGINT")


def _cents_orders(spark: SparkSession, sf_dir: str):
    """Orders written once per corpus as a cents-sorted 4-file layout
    (exact integer price_cents, small row groups) with per-row-group
    sums AND second moments in the catalog — shared by q62 (SUM
    pushdown), q64 (arithmetic predicates) and q68 (VAR pushdown),
    memoized per session. price_dollars (round(price), a monotone
    companion of the sort key so dollar ranges still prune to boundary
    groups) exists because Σcents² overflows what a BIGINT readback
    can compare against DuckDB with, while Σdollars² fits comfortably;
    it is the q68 measure."""
    from .sources.layout import write_range_sorted

    return _layout_table(
        spark, sf_dir, "cents_orders", "spark_graft_cents_layout",
        "orders", "cents_sorted_v2",
        lambda d: write_range_sorted(
            _read(spark, sf_dir, "orders").select(
                "o_orderkey",
                F.round(F.col("o_totalprice") * 100).cast("long")
                .alias("price_cents"),
                F.round(F.col("o_totalprice")).cast("long")
                .alias("price_dollars")),
            d, ["price_cents"], num_files=4, row_group_bytes=1 << 15),
        index_columns=["price_cents", "price_dollars"],
        sum_columns=["price_cents", "price_dollars"])


def q62_sum_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM/AVG/MIN/MAX pushdown into the catalog (table.sum_rows +
    predicated table.min_max): the index
    stores exact per-row-group integer sums (opt-in ``sum_columns``,
    computed from the column pages at index time — footers have no
    sums), so over a cents-sorted layout the revenue total needs ZERO
    Parquet I/O and a revenue range sums the interior row groups from
    the catalog while scanning only the two boundary groups. The
    asserts pin both shapes; the oracle recomputes every number from
    the flat table, so the pushed-down arithmetic must be value-exact
    (all integers end to end — no float accumulation anywhere)."""
    t = _cents_orders(spark, sf_dir)
    total_s, total_n = t.sum_rows("price_cents")
    assert t.last_sum_pushdown["partial_row_groups"] == 0, \
        t.last_sum_pushdown  # the total is pure catalog arithmetic
    rng = ((xcol("price_cents") >= 5_000_000)
           & (xcol("price_cents") <= 30_000_000))
    rng_s, rng_n = t.sum_rows("price_cents", rng)
    pd = t.last_sum_pushdown
    assert pd["full_row_groups"] > 0, pd    # interior groups unread
    assert pd["partial_row_groups"] <= 2, pd  # only the boundary scans
    # predicated MIN/MAX rides the same machinery: attained bounds of
    # proven-full groups + a boundary scan
    rng_mn, rng_mx = t.min_max("price_cents", rng)
    assert t.last_minmax_pushdown["full_row_groups"] > 0
    return local_frame(
        spark, [(total_s, total_n, rng_s, rng_n, rng_mn, rng_mx)],
        "total_cents BIGINT, total_n BIGINT, "
        "range_cents BIGINT, range_n BIGINT, "
        "range_min BIGINT, range_max BIGINT")


def q68_var_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAR/STDDEV pushdown into the catalog (table.sum_sq_rows): the
    index stores exact per-row-group second moments Σx² next to the
    sums (same opt-in page scan, TEXT-encoded in SQLite because Σx²
    exceeds int64 even when every x fits), so population variance over
    the whole table is ZERO Parquet I/O and over a price range only
    the boundary row groups scan — every interior group contributes
    its stored (Σx, Σx², n) unread. All arithmetic is exact integers
    end to end (Python bigints on the Spark side, HUGEINT in the
    oracle); the derived var_pop is surfaced as an exact milli-units
    floor quotient so no float accumulation can smear the comparison.
    The asserts pin both pushdown shapes; the oracle recomputes every
    moment from the flat table. Completes the aggregate-statistics
    family COUNT (q61) / SUM (q62-63) / MIN-MAX (q66-67) — reference
    index.rs:198-205 reads COUNT from its stats; the moment store is
    the natural extension at 100 TB where a variance over a sorted
    time range must not read the range."""
    t = _cents_orders(spark, sf_dir)
    s_all, sq_all, n_all = t.sum_sq_rows("price_dollars")
    assert t.last_var_pushdown["partial_row_groups"] == 0, \
        t.last_var_pushdown  # whole-table moments: pure catalog arithmetic
    rng = ((xcol("price_dollars") >= 50_000)
           & (xcol("price_dollars") <= 300_000))
    s_r, sq_r, n_r = t.sum_sq_rows("price_dollars", rng)
    pd = t.last_var_pushdown
    assert pd["full_row_groups"] > 0, pd     # interior groups unread
    # dollars is a monotone-rounded companion of the cents sort key, so
    # a dollar range prunes to the boundary groups (+<=2 for rounding
    # straddle at the half-cent edges)
    assert pd["partial_row_groups"] <= 4, pd
    var_pop_milli = (n_r * sq_r - s_r * s_r) * 1000 // (n_r * n_r)
    return local_frame(
        spark, [(s_all, sq_all, n_all, s_r, sq_r, n_r, var_pop_milli)],
        "sum_all BIGINT, sumsq_all BIGINT, n_all BIGINT, "
        "sum_rng BIGINT, sumsq_rng BIGINT, n_rng BIGINT, "
        "var_pop_milli BIGINT")


def q69_remote_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOTE catalog backend end-to-end: plan + scan the orders
    table through ``DBAPIIndexCatalog`` — the identical index schema
    and SQL driven through an injected PEP 249 connection factory
    (explicit cursors, explicit commit/rollback, portable
    UPDATE-else-INSERT upsert, LIMIT-0 schema introspection), the
    reference's stated design intent that the statistics "could be
    stored in any database SQLx supports, including a remote Postgres
    database" (main.rs:89-90). In production the factory is e.g.
    ``lambda: psycopg2.connect(dsn)`` with ``paramstyle='format'``;
    here it is an in-process sqlite3 connection reached through the
    same generic code path (the paramstyle translation is pinned by
    tests/test_catalog_backends.py). The assert proves the remote
    backend's pruning decision is byte-identical to the in-process
    backend's on the same predicate — backends are renderers, the
    stats-space Expr is the single source of truth."""
    import sqlite3

    from .sources.catalog import DBAPIIndexCatalog

    t = _make_table(
        spark, sf_dir, "orders", ["o_totalprice"],
        catalog_factory=lambda: DBAPIIndexCatalog(
            lambda: sqlite3.connect(":memory:", check_same_thread=False)),
        catalog_tag="dbapi")
    pred = ((xcol("o_totalprice") >= 100_000.0)
            & (xcol("o_totalprice") <= 200_000.0))
    t_local = _make_table(spark, sf_dir, "orders", ["o_totalprice"])
    assert (t.plan_scan(pred).files_scanned
            == t_local.plan_scan(pred).files_scanned), \
        "remote backend diverged from in-process backend"
    df = t.query(pred)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"))


def _status_cents_orders(spark: SparkSession, sf_dir: str):
    """Orders written once per corpus as a hive layout partitioned by
    status with an exact integer cents measure and per-row-group sums —
    shared by q63 (grouped SUM) and q67 (grouped MIN/MAX)."""
    return _layout_table(
        spark, sf_dir, "status_cents_orders", "spark_graft_status_cents",
        "orders", "by=status_cents_v2",
        lambda d: (_read(spark, sf_dir, "orders")
                   .select("o_orderkey", "o_orderstatus",
                           F.round(F.col("o_totalprice") * 100)
                           .cast("long").alias("price_cents"),
                           F.round(F.col("o_totalprice"))
                           .cast("long").alias("price_dollars"))
                   .repartition(2)
                   .write.partitionBy("o_orderstatus")
                   .mode("overwrite").parquet(d)),
        index_columns=["price_cents", "price_dollars"], partitioned=True,
        sum_columns=["price_cents", "price_dollars"])


def q63_group_sum_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-I/O GROUP BY SUM (table.sum_rows_by): orders written once
    per corpus as a hive layout partitioned by status with an exact
    integer cents measure and per-row-group sums in the catalog —
    revenue per status then folds entirely from the index (every row
    group is single-valued on the partition column and carries a
    stored sum), with no executor started. This is the aggregate-table
    readout a lakehouse otherwise maintains as a materialized view;
    here the index IS the view, kept current by the same transactional
    per-file upsert as the stats. The oracle recomputes the grouped
    sums the hard way, so the catalog arithmetic must be value-exact."""
    t = _status_cents_orders(spark, sf_dir)
    groups = t.sum_rows_by("o_orderstatus", "price_cents")
    assert groups is not None, "partition layout must fold from catalog"
    rows = [(k, s, n) for k, (s, n) in sorted(groups.items())]
    return local_frame(
        spark, rows, "o_orderstatus STRING, sum_cents BIGINT, n BIGINT")


def q70_group_var_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-I/O GROUP BY VARIANCE (table.sum_sq_rows_by): over the
    hive status layout every row group is single-valued on the
    partition column and stores exact (Σx, Σx², n) for the integer
    dollars measure, so per-status variance folds entirely from the
    catalog — no executor starts. The grouped completion of the moment
    store (q61 COUNT / q62-63 SUM / q66-67 MIN-MAX / q68 VAR): what a
    lakehouse otherwise maintains as a variance materialized view is
    here a catalog readout kept current by the per-file upsert. All
    integers end to end; the derived per-group var_pop is an exact
    milli-units floor quotient identical in both engines."""
    t = _status_cents_orders(spark, sf_dir)
    groups = t.sum_sq_rows_by("o_orderstatus", "price_dollars")
    assert groups is not None, "hive layout must fold from the catalog"
    rows = [(k, s, sq, n, (n * sq - s * s) * 1000 // (n * n))
            for k, (s, sq, n) in sorted(groups.items())]
    return local_frame(
        spark, rows,
        "o_orderstatus STRING, sum_dollars BIGINT, "
        "sumsq_dollars BIGINT, n BIGINT, var_pop_milli BIGINT")


def q71_catalog_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog as a complete one-pass statistics profile: per-status
    COUNT + SUM + MIN + MAX + AVG + VAR folded ENTIRELY from the index
    (count_rows_by / sum_rows_by / min_max_by / sum_sq_rows_by over the
    hive status layout) — zero Parquet I/O, no executor starts, the
    whole answer is an O(catalog) driver-side fold. This is DESCRIBE /
    summary() served the way the reference serves COUNT from its stats
    (index.rs:198-205), generalized to every moment the store keeps;
    at 100 TB it replaces a full-table profiling scan with a catalog
    read, which is the difference between minutes and milliseconds for
    a data-quality dashboard. Exact integers end to end: AVG and
    VAR_POP surface as milli-unit floor quotients so no float
    accumulation can smear the oracle comparison; the asserts pin that
    every one of the four folds really answered from the catalog
    (None = fallback would mean a scan)."""
    t = _status_cents_orders(spark, sf_dir)
    counts = t.count_rows_by("o_orderstatus")
    sums = t.sum_rows_by("o_orderstatus", "price_dollars")
    moments = t.sum_sq_rows_by("o_orderstatus", "price_dollars")
    bounds = t.min_max_by("o_orderstatus", "price_dollars")
    for name, d in [("count", counts), ("sum", sums),
                    ("moments", moments), ("bounds", bounds)]:
        assert d is not None, f"{name} fold must answer from the catalog"
    rows = []
    for status in sorted(counts):
        n_rows = counts[status]
        s, n = sums[status]
        _, sq, n2 = moments[status]
        mn, mx, n3 = bounds[status]
        assert n == n2 == n3 == n_rows  # no-null measure: all folds agree
        rows.append((status, n_rows, s, mn, mx,
                     s * 1000 // n, (n * sq - s * s) * 1000 // (n * n)))
    return local_frame(
        spark, rows,
        "o_orderstatus STRING, n_rows BIGINT, sum_dollars BIGINT, "
        "min_dollars BIGINT, max_dollars BIGINT, avg_milli BIGINT, "
        "var_pop_milli BIGINT")


def q72_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through the indexed path: orders written as TWO
    ERAS — era 0 (even o_orderkey) predates the ``price_cents`` column,
    era 1 (odd) carries it — merge_schema unions the footers, and the
    index records the pre-evolution files as PROVEN all-null on the new
    column (stats.py extract_file_stats), so a predicate on it prunes
    the entire old era from the catalog alone (asserted: only era-1
    files scan). This is the add-a-column-this-year / skip-years-of-
    history shape every long-lived 100 TB table hits; the reference
    assumes a single immutable schema (main.rs:228-237), so this is
    pure extension. The oracle replays the era split relationally
    (even keys have NULL cents => only odd keys can match); IS NULL
    counts the old era exactly."""
    def _write(d):
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice")
        write_one_file(base.filter(F.col("o_orderkey") % 2 == 0)
                       .select("o_orderkey"),
                       os.path.join(d, "era0.parquet"))
        write_one_file(base.filter(F.col("o_orderkey") % 2 == 1)
                       .select("o_orderkey",
                               F.round(F.col("o_totalprice") * 100)
                               .cast("long").alias("price_cents")),
                       os.path.join(d, "era1.parquet"))

    t = _layout_table(
        spark, sf_dir, "evolved_orders", "spark_graft_evolved", "orders",
        "two_era_v1", _write,
        index_columns=["o_orderkey", "price_cents"], merge_schema=True)
    hi = t.query(xcol("price_cents") > 30_000_000)
    dec = t.last_scan
    assert set(dec.files_scanned) <= {"era1.parquet"}, dec.describe()
    agg = hi.agg(F.count(F.lit(1)).alias("n_hi"),
                 F.sum("price_cents").alias("sum_hi_cents")).head()
    n_old = t.count_rows(xcol("price_cents").is_null())
    return local_frame(
        spark, [(agg["n_hi"], agg["sum_hi_cents"], n_old)],
        "n_hi BIGINT, sum_hi_cents BIGINT, n_pre_evolution BIGINT")


def q73_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction as a first-class lifecycle operation through the
    gate: the 4-file cents layout is compacted (layout.compact_to —
    functional, source untouched, fresh index over the new directory)
    into a single range-sorted file with small row groups, and the
    same indexed range query must (a) return byte-identical aggregates
    on both layouts — compaction is invisible to results, (b) scan
    FEWER files after compaction, and (c) still row-group-prune inside
    the survivor — compaction must not cost the index its
    selectivity. Small-file proliferation is the other big pruning
    killer at 100 TB (footer/task overhead grows with file count while
    row groups stay tiny); this row proves the repair loop preserves
    correctness and pruning in one pass. The oracle recomputes the
    range aggregate from the flat table."""
    from .operators.util import artifact_dir, ensure_complete, memoized
    from .sources.layout import compact_to

    t = _cents_orders(spark, sf_dir)
    dest = artifact_dir(
        "spark_graft_compacted",
        os.path.join(sf_dir, "orders.parquet"), "cents_compact_v1")

    def compacted():
        # compact_to's table over the staging dir is dropped: the
        # published directory gets its own below
        ensure_complete(dest, lambda d: compact_to(
            t, d, ["price_cents"],
            target_file_bytes=1 << 30, row_group_bytes=1 << 15))
        return IndexedParquetTable(
            spark, dest, index_columns=list(t.index_schema))

    t2 = memoized(spark, "compacted_orders", dest, compacted)
    rng = ((xcol("price_cents") >= 10_000_000)
           & (xcol("price_cents") <= 20_000_000))

    def probe():
        n_before = t.query(rng).count()
        return n_before, len(t.last_scan.files_scanned)

    # the UNCOMPACTED side of the invariance assert is a probe over an
    # immutable shared fixture — compute it once per session instead of
    # paying a second full scan job on every warm re-entry (the t2 scan
    # below is the measured query; this one only feeds the assert)
    n_before, n_files_before = memoized(
        spark, "compaction_before_probe", sf_dir, probe)
    agg = t2.query(rng).agg(
        F.count(F.lit(1)).alias("n_rng"),
        F.sum("price_cents").alias("sum_rng_cents")).head()
    dec_after = t2.last_scan
    assert len(dec_after.files_scanned) <= n_files_before
    assert len(dec_after.files_scanned) == 1, dec_after.describe()
    assert 0 < dec_after.row_groups_scanned < dec_after.total_row_groups, \
        dec_after.describe()  # pruning survives compaction
    assert agg["n_rng"] == n_before  # results invariant under compaction
    return local_frame(
        spark, [(agg["n_rng"], agg["sum_rng_cents"])],
        "n_rng BIGINT, sum_rng_cents BIGINT")


def q74_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The async maintenance loop itself through the oracle gate (the
    reference's whole reason to exist — its tokio task re-indexing
    arrivals, index.rs:179): a table is built over two base files,
    'tonight's' file lands AFTER construction (invisible by design —
    plan_scan serves only indexed files, consistently for both the
    predicate and full-scan paths), one incremental refresh() indexes
    exactly the new file (size short-circuit skips the bases), and
    the indexed range query over the now-3-file table must equal the
    flat-table oracle over ALL of orders — proving the refresh left a
    complete, correct, still-pruning index. Runs the
    build→arrive→refresh sequence for real on every cold execution
    (fresh scratch dir; memoized per session for warm repeats)."""
    import tempfile

    from .operators.util import memoized

    def build():
        d = tempfile.mkdtemp(prefix="spark_graft_refresh_")
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("price_cents"))

        write_one_file(base.filter(F.col("o_orderkey") % 3 == 1),
                       os.path.join(d, "base1.parquet"))
        write_one_file(base.filter(F.col("o_orderkey") % 3 == 2),
                       os.path.join(d, "base2.parquet"))
        t = IndexedParquetTable(spark, d, index_columns=["price_cents"])
        n_before = t.count_rows()
        assert len(t._files) == 2
        # tonight's arrival: invisible until the maintenance pass runs
        write_one_file(base.filter(F.col("o_orderkey") % 3 == 0),
                       os.path.join(d, "new.parquet"))
        assert t.count_rows() == n_before, \
            "unindexed arrival must not leak into catalog answers"
        t.refresh()
        assert len(t._files) == 3
        n_after = t.count_rows()  # catalog metadata count, zero I/O
        assert n_after > n_before
        df = t.query((xcol("price_cents") >= 10_000_000)
                     & (xcol("price_cents") <= 20_000_000))
        agg = df.agg(F.count(F.lit(1)).alias("n_rng"),
                     F.sum("price_cents").alias("sum_rng_cents")).head()
        return local_frame(
            spark, [(n_after, agg["n_rng"], agg["sum_rng_cents"])],
            "n_total BIGINT, n_rng BIGINT, sum_rng_cents BIGINT")

    return memoized(spark, "refresh_query", sf_dir, build)


def _time_travel_table(spark: SparkSession, sf_dir: str):
    """(table, snap1, snap2) shared by q83/q84/q85: built over two base
    files (o_orderkey % 3 ∈ {1, 2}, exact integer cents, per-row-group
    sums), snapshot 1 taken, 'tonight's' file (% 3 = 0) lands AFTER
    construction, one incremental refresh() indexes it, snapshot 2
    taken. Memoized per session; every cold execution runs the
    build→snapshot→arrive→refresh→snapshot sequence for real."""
    import tempfile

    from .operators.util import memoized

    def build():
        d = tempfile.mkdtemp(prefix="spark_graft_timetravel_")
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("price_cents"))

        write_one_file(base.filter(F.col("o_orderkey") % 3 == 1),
                       os.path.join(d, "base1.parquet"))
        write_one_file(base.filter(F.col("o_orderkey") % 3 == 2),
                       os.path.join(d, "base2.parquet"))
        t = IndexedParquetTable(spark, d, index_columns=["price_cents"],
                                sum_columns=["price_cents"])
        s1 = t.snapshot()
        write_one_file(base.filter(F.col("o_orderkey") % 3 == 0),
                       os.path.join(d, "new.parquet"))
        t.refresh()
        assert len(t._files) == 3
        s2 = t.snapshot()
        return t, s1, s2

    return memoized(spark, "time_travel_table", sf_dir, build)


def q83_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT ISOLATION / TIME TRAVEL over the external index
    (table.snapshot + query(as_of=...)): the maintenance loop the
    reference leaves implicit — its tokio task re-indexes arrivals
    (index.rs:179) but gives readers no way to keep seeing yesterday's
    table — closed with pure catalog metadata: snapshot() freezes the
    indexed file set (name + size, O(files) tiny rows), and an as-of
    read intersects the pruned plan with that set, excluding every
    later arrival, while a snapshot whose files changed or vanished
    raises (the Delta after-VACUUM contract: loud failure, never a
    silently different answer). Executed for real inside the gate:
    build over two base files (o_orderkey % 3 ∈ {1,2}) → snapshot →
    'tonight's' file (% 3 = 0) lands → refresh() indexes it → the
    CURRENT range query sees all three files while the AS-OF query
    still answers from the two recorded ones, with the plan pinned to
    exclude the arrival. The oracle recomputes both eras from the flat
    table via the same deterministic key split. At 100 TB this is the
    reproducible-training-run story: pin the corpus snapshot a run
    read, keep ingesting, re-run byte-identical later."""
    t, snap, _ = _time_travel_table(spark, sf_dir)
    n_current = t.count_rows()  # catalog metadata, all three files
    rng = ((xcol("price_cents") >= 10_000_000)
           & (xcol("price_cents") <= 20_000_000))
    old_plan = t.plan_scan(rng, as_of=snap)
    assert "new.parquet" not in old_plan.files_scanned, \
        old_plan.describe()  # the arrival is invisible as-of snap
    cur_plan = t.plan_scan(rng)
    assert "new.parquet" in cur_plan.files_scanned, \
        cur_plan.describe()  # ...and visible now
    n_asof = t.query(None, as_of=snap).count()
    agg = (t.query(rng, as_of=snap)
           .agg(F.count(F.lit(1)).alias("n_rng"),
                F.sum("price_cents").alias("sum_rng")).head())
    return local_frame(
        spark, [(n_current, n_asof, agg["n_rng"], agg["sum_rng"])],
        "n_current BIGINT, n_asof BIGINT, "
        "n_rng_asof BIGINT, sum_rng_asof_cents BIGINT")


def q84_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL READ between snapshots (table.snapshot_delta /
    read_delta) — Delta/Iceberg's change feed re-expressed over the
    external index: the delta manifest (files added/removed/changed
    between two snapshots, or snapshot → now) is pure catalog
    metadata, and the delta scan reads EXACTLY the added files — the
    primitive that keeps nightly pipeline runs O(arrivals) instead of
    O(corpus), with no streaming runtime. The asserts pin the manifest
    (exactly the one arrival, nothing removed or rewritten) and that
    the snapshot→now manifest agrees with the snapshot→snapshot one;
    the aggregates over the delta read must equal the flat-table
    oracle over the arrival's deterministic key slice (% 3 = 0)."""
    t, s1, s2 = _time_travel_table(spark, sf_dir)
    delta = t.snapshot_delta(s1, s2)
    assert delta["added"] == ["new.parquet"], delta
    assert delta["removed"] == [] and delta["changed"] == [], delta
    assert t.snapshot_delta(s1) == delta  # snapshot -> now agrees
    df = t.read_delta(s1, s2)
    agg = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("price_cents").alias("s")).head()
    return local_frame(
        spark, [(len(delta["added"]), agg["n"], agg["s"])],
        "n_added_files BIGINT, n_delta BIGINT, sum_delta_cents BIGINT")


def q85_asof_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL AGGREGATES WITH ZERO PARQUET I/O (count_rows /
    sum_rows with as_of): the snapshot's file set and the per-row-group
    sum store are BOTH catalog metadata, so COUNT and SUM as-of a
    snapshot fold entirely from the index — yesterday's revenue total
    re-derivable forever without touching yesterday's data, the
    composition of the aggregate-statistics family (COUNT q61 / SUM
    q62) with snapshot isolation (q83). The asserts pin that the as-of
    sum answered from stored sums alone (zero partial row groups) and
    that both eras' aggregates fold; the oracle recomputes both eras
    from the flat table via the deterministic key split."""
    t, s1, _ = _time_travel_table(spark, sf_dir)
    n_asof = t.count_rows(as_of=s1)          # snapshot file stats only
    s_asof, ns = t.sum_rows("price_cents", as_of=s1)
    assert t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0, \
        t.last_sum_pushdown  # pure catalog arithmetic, as-of the snapshot
    assert ns == n_asof
    n_cur = t.count_rows()
    s_cur, _ = t.sum_rows("price_cents")
    assert t.last_sum_pushdown["partial_row_groups"] == 0
    return local_frame(
        spark, [(n_asof, s_asof, n_cur, s_cur)],
        "n_asof BIGINT, sum_asof_cents BIGINT, "
        "n_current BIGINT, sum_current_cents BIGINT")


def q88_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE ASYNC MAINTENANCE LOOP, STREAMING-EXECUTED UNDER THE ORACLE —
    the closest thing to running the reference's whole architecture as
    one test: orders replay as 3 time-ordered micro-batches through the
    file source (o_orderkey % 3 = batch, mtime-pinned order), a
    ``foreachBatch`` sink (streaming/ingest.indexed_ingest_sink) writes
    each batch into an initially-EMPTY IndexedParquetTable directory
    under idempotent deterministic names and incrementally refresh()es
    the catalog (the reference's out-of-band tokio add_file,
    index.rs:179), and the catalog is SNAPSHOTTED after every batch.
    The proof then composes three extensions end to end with ZERO
    Parquet I/O: each per-batch snapshot must reproduce its exact
    ingest prefix via as-of COUNT and as-of SUM from the sum store
    (q85's fold), and the final table must hold every order. The
    oracle recomputes all three prefixes from the flat table via the
    deterministic key split. At 100 TB this is the production loop:
    executors write batch files, only new footers are read, snapshots
    give readers repeatable prefixes of a live feed."""
    import tempfile
    import time as _time

    from .operators.util import memoized
    from .streaming.ingest import indexed_ingest_sink

    def build():
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("price_cents"))
        replay = tempfile.mkdtemp(prefix="spark_graft_ingest_replay_")
        now = _time.time()
        for i in range(3):
            dst = os.path.join(replay, f"batch{i}.parquet")
            write_one_file(base.filter(F.col("o_orderkey") % 3 == i), dst)
            os.utime(dst, (now + i, now + i))
        table_dir = tempfile.mkdtemp(prefix="spark_graft_ingest_table_")
        t = IndexedParquetTable(spark, table_dir,
                                index_columns=["price_cents"],
                                sum_columns=["price_cents"])
        inner = indexed_ingest_sink(t)
        snaps: list = []

        def _sink(batch_df, batch_id):
            inner(batch_df, batch_id)
            snaps.append(t.snapshot())

        stream = (spark.readStream
                  .schema("o_orderkey LONG, price_cents LONG")
                  .option("maxFilesPerTrigger", 1).parquet(replay))
        q = (stream.writeStream.outputMode("append").foreachBatch(_sink)
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="ckpt_ingest_"))
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        finally:
            q.stop()
        assert len(snaps) == 3, snaps  # three genuine triggers
        out = []
        for sid in snaps[:2]:
            n = t.count_rows(as_of=sid)
            s, ns = t.sum_rows("price_cents", as_of=sid)
            assert t.last_sum_pushdown["partial_row_groups"] == 0
            assert ns == n
            out += [n, s]
        n_all = t.count_rows()
        s_all, _ = t.sum_rows("price_cents")
        assert t.last_sum_pushdown["partial_row_groups"] == 0
        out += [n_all, s_all]
        return local_frame(
            spark, [tuple(out)],
            "n_b0 BIGINT, sum_b0_cents BIGINT, n_b1 BIGINT, "
            "sum_b1_cents BIGINT, n_all BIGINT, sum_all_cents BIGINT")

    return memoized(spark, "stream_ingest_query", sf_dir, build)


def q89_sql_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-STATEMENT SQL through the index (table.sql) — the
    reference's primary interface shape (main.rs:146-149 hands whole
    SELECT statements to DataFusion and pruning happens inside the
    scan): projections, GROUP BY, ORDER BY and LIMIT run through
    Catalyst while the statement's WHERE clause drives the external
    index, so the scan underneath the aggregation reads only the
    surviving row groups of the cents-sorted layout (asserted: a
    strict subset). Completes the entry-point triple — DataFrame
    (q2...), WHERE-clause SQL (query_sql), and now whole statements —
    so a user of the reference can paste their SQL. The oracle runs
    the same statement semantics on the flat table."""
    t = _cents_orders(spark, sf_dir)
    df = t.sql(
        "SELECT price_cents % 10 AS last_digit, COUNT(*) AS n, "
        "SUM(price_cents) AS sum_cents FROM self "
        "WHERE price_cents >= 5000000 AND price_cents <= 30000000 "
        "GROUP BY price_cents % 10")
    dec = t.last_scan
    assert 0 < dec.row_groups_scanned < dec.total_row_groups, \
        dec.describe()  # the statement's WHERE really pruned the scan
    return df


def q90_rtree_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-TREE-ACCELERATED PLANNING end-to-end (catalog rtree_columns +
    table._rtree_window): planning latency is the index's value
    proposition, and the plain stats lookup scans the whole catalog —
    linear in the file population (measured 264 ms point plans at the
    100 TB-shaped 200k-file catalog; the R-tree stabs the same plan in
    0.02 ms — 13,000×, scripts/catalog_scale_probe.py). The contract
    this query pins at the gate scale is DECISION IDENTITY: for a
    point lookup, a closed range, and an IN-list (one indexed stab per
    literal), the rtree-prefiltered plan must equal the plain
    catalog's plan byte-for-byte — f32-widened intervals and
    full-domain sentinels for unknown bounds make the prefilter a pure
    over-approximation the exact stats SQL then reduces. The oracle
    recomputes the returned aggregates from the flat table; strategy
    can never affect values."""
    t_plain = _make_table(spark, sf_dir, "orders", ["o_totalprice"])
    t_rt = _make_table(
        spark, sf_dir, "orders", ["o_totalprice"],
        catalog_factory=lambda: SqliteIndexCatalog(
            rtree_columns=("o_totalprice",)),
        catalog_tag="rtree")
    assert t_rt.catalog._rtree_active == ["o_totalprice"]
    from .plans.expr import InList, Lit
    preds = [
        xcol("o_totalprice") == 100_000.0,
        (xcol("o_totalprice") >= 100_000.0)
        & (xcol("o_totalprice") <= 200_000.0),
        InList(xcol("o_totalprice"),
               [Lit(50_000.0), Lit(150_000.0), Lit(450_000.0)]),
    ]
    for p in preds:
        assert (t_plain.plan_scan(p).files_scanned
                == t_rt.plan_scan(p).files_scanned), p.to_sql()
    rng = ((xcol("o_totalprice") >= 100_000.0)
           & (xcol("o_totalprice") <= 200_000.0))
    df = t_rt.query(rng)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"))


TOPK_HH_K = 8   # stored values per row group (the summary width)
TOPK_HH_N = 5   # heavy hitters returned


def _topk_orders(spark: SparkSession, sf_dir: str):
    """Orders written once per corpus as FOUR single-row-group files
    split by o_orderkey % 4 — a deterministic row-group partition of
    the data (each customer's orders SPREAD across all four groups,
    since the split key is independent of the measured column), so the
    DuckDB oracle can rebuild the exact per-row-group top-k summaries
    relationally. Shared fixture for q86."""
    def _write(d):
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey")
        for i in range(4):
            write_one_file(base.filter(F.col("o_orderkey") % 4 == i),
                           os.path.join(d, f"mod{i}.parquet"),
                           block_bytes=1 << 30)

    t = _layout_table(
        spark, sf_dir, "topk_orders", "spark_graft_topk_layout", "orders",
        "topk_mod4_v1", _write,
        index_columns=["o_orderkey"], topk_columns=["o_custkey"],
        topk_k=TOPK_HH_K)
    # one row group per file, or the oracle's %4 → row-group map (and
    # hence the whole parity check) is meaningless
    assert all(f[2] == 1 for f in t.catalog.all_files()), \
        t.catalog.all_files()
    return t


def _topk_status_orders(spark: SparkSession, sf_dir: str):
    """Orders as a hive layout partitioned by status, each partition
    exactly TWO single-row-group files split by o_orderkey % 2 — so a
    row group is the (status, o_orderkey % 2) slice and the DuckDB
    oracle can rebuild every per-row-group top-k summary relationally.
    Fixture for q87 (grouped heavy hitters)."""
    def _write(d):
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_custkey")
        statuses = sorted(r[0] for r in
                          base.select("o_orderstatus").distinct().collect())
        for s in statuses:
            for i in range(2):
                write_one_file(
                    base.filter((F.col("o_orderstatus") == s)
                                & (F.col("o_orderkey") % 2 == i))
                    .drop("o_orderstatus"),
                    os.path.join(d, f"o_orderstatus={s}",
                                 f"slice{i}.parquet"),
                    block_bytes=1 << 30)

    t = _layout_table(
        spark, sf_dir, "topk_status_orders", "spark_graft_topk_status",
        "orders", "by=status_topk_v1", _write,
        index_columns=["o_orderkey"], partitioned=True,
        topk_columns=["o_custkey"], topk_k=TOPK_HH_K)
    assert all(f[2] == 1 for f in t.catalog.all_files()), \
        t.catalog.all_files()  # one rg per file or the oracle map breaks
    return t


def q87_group_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED heavy hitters from the catalog (table.heavy_hitters_by):
    per-status top customers with deterministic [lower, upper] count
    bounds, folded entirely from the per-row-group top-k store under
    the same single-valued-group trust rules as the other grouped
    folds — completing the grouped family (COUNT q51 / SUM q63 /
    MIN-MAX q67 / VAR q70 / quantiles q76 / NDV q78 / heavy hitters
    here): the hot-keys-per-tenant dashboard with no executor started.
    Same order-free bound formula as q86, folded per group; the oracle
    rebuilds each (status, o_orderkey % 2) row-group summary
    relationally and must reproduce every value and both bounds
    exactly."""
    t = _topk_status_orders(spark, sf_dir)
    groups = t.heavy_hitters_by("o_orderstatus", "o_custkey", TOPK_HH_N)
    assert groups is not None, "grouped heavy hitters must fold from catalog"
    rows = [(g, v, lo, hi)
            for g in sorted(groups)
            for v, lo, hi in groups[g]]
    return local_frame(
        spark, rows,
        "o_orderstatus STRING, value BIGINT, "
        "lower_cnt BIGINT, upper_cnt BIGINT")


def q86_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAVY HITTERS from the catalog with deterministic error bounds
    (table.heavy_hitters): the index stores, per row group, the k most
    frequent values of a HIGH-cardinality column with exact counts
    plus (rest_rows, kth_count) — the order-free sibling of
    Misra-Gries/Space-Saving summaries (those depend on arrival order;
    an exact per-row-group top-k does not, which is what lets an
    oracle pin every number). The whole-table fold is zero Parquet
    I/O: lower(v) = Σ stored counts, upper(v) adds min(kth_count,
    rest_rows) for each row group that did not store v — it provably
    failed that group's top-k, so both bound its count there. Where
    the dictionary store (q80) refuses above its cap, this keeps
    answering at ANY cardinality with honest intervals; together they
    complete the frequency family (exact low-cardinality GROUP BY q80
    / bounded heavy hitters here / NDV q77 / histograms q75). The
    oracle rebuilds the same per-row-group summaries relationally
    (the layout's row groups ARE o_orderkey % 4 slices) and must
    reproduce value, lower, and upper exactly — the repeat-buyer
    dashboard at 100 TB, summaries folding across partitions or days."""
    t = _topk_orders(spark, sf_dir)
    hh = t.heavy_hitters("o_custkey", TOPK_HH_N)
    assert hh is not None, "heavy hitters must fold from the catalog"
    total_rgs = sum(f[2] for f in t.catalog.all_files())
    assert t.last_hh_pushdown["row_groups"] == total_rgs
    for _, lo, hi in hh:
        assert lo <= hi
    return local_frame(
        spark, [(v, lo, hi) for v, lo, hi in hh],
        "value BIGINT, lower_cnt BIGINT, upper_cnt BIGINT")


HIST_NBINS = 64
HIST_QS = (500, 900, 990)  # P50 / P90 / P99 in permille


def q75_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM statistics in the catalog → zero-I/O quantiles: the
    index stores per-row-group equi-width bin counts for the integer
    cents measure (``hist_columns`` — the same opt-in page-scan cost
    model as the sum store), and P50/P90/P99 fold entirely from the
    catalog (table.hist_quantiles): an O(row_groups·nbins) driver-side
    integer fold, no executor ever starts. This extends the
    aggregate-statistics family (COUNT q61 / SUM q62-63 / MIN-MAX
    q66-67 / VAR q68-70 / profile q71) from moments to the
    DISTRIBUTION'S SHAPE — the P99 a data-quality dashboard needs,
    answered the way the reference answers COUNT from its stats
    (index.rs:198-205). The estimate is a deterministic pure-integer
    function of (bin counts, domain), so the oracle recomputes the
    IDENTICAL value by re-binning the flat table relationally — the
    estimate itself is pinned, not just bracketed. The histogram
    domain comes from the catalog's exact bounds (min_max — also zero
    I/O); the assert pins that the fold really answered."""
    base = _cents_orders(spark, sf_dir)
    mn, mx = base.min_max("price_cents")
    from .operators.util import memoized

    t = memoized(spark, "hist_orders", base.data_dir, lambda: (
        IndexedParquetTable(
            spark, base.data_dir, index_columns=["price_cents"],
            hist_columns={"price_cents": (int(mn), int(mx), HIST_NBINS)})))
    res = t.hist_quantiles("price_cents", list(HIST_QS))
    assert res is not None, "quantiles must fold from the catalog"
    assert t.last_hist_pushdown["nbins"] == HIST_NBINS
    return local_frame(
        spark, [(q, est, n) for q, est, n in res],
        "q_permille BIGINT, est_cents BIGINT, n_rows BIGINT")


def q76_group_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-I/O GROUP BY quantiles (table.hist_quantiles_by): over the
    hive status layout every row group is single-valued on the
    partition column AND carries histogram bin counts for the integer
    dollars measure, so per-status P50/P90/P99 fold entirely from the
    catalog — the P99-per-tenant dashboard readout with no executor
    started, completing the grouped family (COUNT q51 / SUM q63 /
    MIN-MAX q67 / VAR q70 / profile q71 / quantiles here). Same
    deterministic integer estimate as q75, same global bin domain
    from the catalog's exact bounds; the oracle re-bins the flat
    table per status and must reproduce every estimate exactly."""
    from .operators.util import memoized

    base = _status_cents_orders(spark, sf_dir)
    mn, mx = base.min_max("price_dollars")
    t = memoized(spark, "hist_status_orders", base.data_dir, lambda: (
        IndexedParquetTable(
            spark, base.data_dir, index_columns=["price_dollars"],
            partitioned=True,
            hist_columns={"price_dollars": (int(mn), int(mx), HIST_NBINS)})))
    groups = t.hist_quantiles_by("o_orderstatus", "price_dollars",
                                 list(HIST_QS))
    assert groups is not None, "grouped quantiles must fold from catalog"
    rows = [(g, q, est, n)
            for g in sorted(groups)
            for q, est, n in groups[g]]
    return local_frame(
        spark, rows,
        "o_orderstatus STRING, q_permille BIGINT, "
        "est_dollars BIGINT, n_rows BIGINT")


def _ndv_status_orders(spark: SparkSession, sf_dir: str):
    """Orders written once per corpus as a hive layout partitioned by
    status carrying the raw key columns, with per-row-group HyperLogLog
    registers in the catalog (``ndv_columns``) — shared by q77
    (whole-table NDV: registers merge across every partition dir) and
    q78 (per-status NDV under the single-valued-group trust rules)."""
    return _layout_table(
        spark, sf_dir, "ndv_status_orders", "spark_graft_ndv_layout",
        "orders", "by=status_ndv_v1",
        lambda d: (_read(spark, sf_dir, "orders")
                   .select("o_orderkey", "o_orderstatus", "o_custkey")
                   .repartition(2)
                   .write.partitionBy("o_orderstatus")
                   .mode("overwrite").parquet(d)),
        index_columns=["o_custkey"], partitioned=True,
        ndv_columns=["o_custkey", "o_orderkey"])


def q77_ndv_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDV statistics in the catalog → zero-I/O approximate COUNT
    DISTINCT (table.ndv_estimate): the index stores per-row-group
    HyperLogLog registers (``ndv_columns`` — the sum store's opt-in
    page-scan cost model; 64 small ints per row group regardless of
    cardinality), and the distinct-count estimate folds entirely from
    the catalog by elementwise register MAX — an O(row_groups · 64)
    driver-side integer fold; NO executor starts anywhere in this
    query (row count too comes from the file stats). Register merging
    is associative, so the folded registers EQUAL a single pass over
    all rows, making the estimate a deterministic pure function of
    the value set: the oracle rebuilds the same registers relationally
    (the q28/q42 hash/bucket/rank formula — functions.hash60 and a
    CASE-chain rank, bit-identical across engines) and must reproduce
    the estimate EXACTLY, not within a tolerance. This extends the
    aggregate-statistics family (COUNT q61 / SUM q62-63 / MIN-MAX
    q66-67 / VAR q68-70 / quantiles q75-76) to cardinality — at
    100 TB, the distinct-users dashboard that never reads the data,
    with registers that keep merging across partitions, days, or
    tables (the raw estimator's accuracy audit is q42's job)."""
    t = _ndv_status_orders(spark, sf_dir)
    est_cust = t.ndv_estimate("o_custkey")
    assert est_cust is not None, "NDV must fold from the catalog"
    total_rgs = sum(f[2] for f in t.catalog.all_files())
    assert t.last_ndv_pushdown["row_groups"] == total_rgs
    est_okey = t.ndv_estimate("o_orderkey")
    assert est_okey is not None
    n_rows = sum(f[3] for f in t.catalog.all_files())  # file stats only
    return local_frame(
        spark, [(est_cust, est_okey, int(n_rows))],
        "ndv_custkey DOUBLE, ndv_orderkey DOUBLE, n_rows BIGINT")


def q78_group_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-I/O GROUP BY approximate COUNT DISTINCT (table.ndv_by):
    over the hive status layout every row group is single-valued on
    the partition column AND carries HyperLogLog registers for the
    customer key, so distinct-customers-per-status folds entirely from
    the catalog — the distinct-users-per-tenant readout with no
    executor started, completing the grouped family (COUNT q51 / SUM
    q63 / MIN-MAX q67 / VAR q70 / quantiles q76 / NDV here). Same
    deterministic register formula as q77 folded per group under the
    same trust rules as the other grouped folds; the oracle rebuilds
    each group's registers from the flat table and must reproduce
    every estimate exactly."""
    t = _ndv_status_orders(spark, sf_dir)
    groups = t.ndv_by("o_orderstatus", "o_custkey")
    assert groups is not None, "grouped NDV must fold from the catalog"
    rows = [(g, est) for g, est in sorted(groups.items())]
    return local_frame(
        spark, rows, "o_orderstatus STRING, ndv_custkey DOUBLE")


def q79_catalog_join_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-cost-based join planning (table.join_planned): Spark's
    static size estimator sees the orders layout's FULL file footprint,
    so with auto-broadcast disabled (simulating a table too big for the
    static threshold — the 100 TB posture) a selective join side would
    shuffle; the external index knows at plan time that only a few row
    groups survive the cents predicate, bounds the surviving rows by
    their exact stored row counts, and broadcasts the pruned side —
    the move AQE only makes at runtime, decided here from the catalog
    before any job starts. Both branches are exercised and PINNED: the
    narrow slice must plan a BroadcastHashJoin, the whole-table side
    must not (threshold at 80% of the table rows: row-group granularity
    at tiny SFs makes the boundary groups a large table fraction, and
    the whole-table side always exceeds 80%, so the split is
    deterministic at every SF); the strategy can never change values; the
    oracle recomputes both joins' aggregates from flat tables."""
    from concurrent.futures import ThreadPoolExecutor

    t = _cents_orders(spark, sf_dir)
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty"))
    total_rows = sum(f[3] for f in t.catalog.all_files())
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        narrow = xcol("price_cents") >= 35_000_000
        j1 = t.join_planned(narrow, li, "o_orderkey", "l_orderkey",
                            broadcast_max_rows=(total_rows * 4) // 5)
        assert t.last_join_plan["strategy"] == "broadcast", t.last_join_plan
        assert t.last_join_plan["est_rows_upper"] < total_rows
        plan1 = j1._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan1, plan1
        j2 = t.join_planned(xcol("price_cents") >= 0, li,
                            "o_orderkey", "l_orderkey",
                            broadcast_max_rows=(total_rows * 4) // 5)
        assert t.last_join_plan["strategy"] == "shuffle", t.last_join_plan
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2, plan2
        # the two probe jobs are independent — overlap them so the
        # broadcast probe's tail backfills under the shuffle join
        # (guide §2.6); both actions stay inside the conf window, and
        # each join's strategy was pinned above before submission
        def _agg_head(j):
            return j.agg(F.count(F.lit(1)).alias("n"),
                         F.sum("qty").alias("s")).head()
        with ThreadPoolExecutor(max_workers=2) as pool:
            f1 = pool.submit(_agg_head, j1)
            f2 = pool.submit(_agg_head, j2)
            a1, a2 = f1.result(), f2.result()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return local_frame(
        spark, [(a1["n"], a1["s"], a2["n"], a2["s"])],
        "n_narrow BIGINT, qty_narrow BIGINT, n_all BIGINT, qty_all BIGINT")


def q64_div_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Division and remainder arithmetic in predicates through the
    indexed scan path (reference conversions.rs:21-25 translates / and
    % into catalog SQL; the reference README disclaims pushing filters
    "as much as possible" — this fold goes further). Spark's / is TRUE
    division (both sides cast to double), so ``price_cents / 100 <= v``
    folds to the exact integer threshold on the raw column and prunes
    the cents-sorted layout to a prefix of its row groups (asserted).
    ``price_cents % 100 >= 100`` is an impossible remainder — refuted
    STATICALLY, zero Parquet I/O, the Q5 posture on the modulo
    dimension. The oracle recomputes both from the flat table (DuckDB's
    / is float division and its % keeps the dividend's sign — the same
    semantics the fold models)."""
    t = _cents_orders(spark, sf_dir)
    dollars = (xcol("price_cents") / 100) <= 70_000
    df = t.query(dollars)
    dec = t.last_scan
    assert 0 < dec.row_groups_scanned < dec.total_row_groups, \
        dec.describe()  # the division fold really pruned
    agg = df.agg(F.count(F.lit(1)).alias("n_low"),
                 F.sum("price_cents").alias("sum_low_cents")).head()
    n_imp = t.count_rows((xcol("price_cents") % 100) >= 100)
    assert t.last_scan.files_scanned == {}, \
        "impossible remainder must refute with zero I/O"
    return local_frame(
        spark, [(agg["n_low"], agg["sum_low_cents"], n_imp)],
        "n_low BIGINT, sum_low_cents BIGINT, n_impossible BIGINT")


def q65_decimal_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-only MIN/MAX on a DECIMAL column: the footer stores
    decimal stats as unscaled int64 — exact, never truncated — and the
    catalog now keeps that exact copy (str(Decimal) side columns)
    alongside the ulp-widened double PRUNING bounds, so the global
    bounds fold from the index with ZERO Parquet I/O where round 4's
    conservative rule always demoted decimals to a scan. The assert
    pins the pushdown (every row group answered from the catalog);
    COUNT(*) rides the same zero-I/O path. The oracle recomputes both
    from the flat table through the same DECIMAL(12,2) cast."""
    t = _decimal_lineitem(spark, sf_dir)
    mn, mx = t.min_max("ep")
    pd = t.last_minmax_pushdown
    assert pd is not None and pd["partial_row_groups"] == 0, pd
    assert pd["full_row_groups"] > 0, pd
    import decimal as _d
    assert isinstance(mn, _d.Decimal) and isinstance(mx, _d.Decimal)
    n = t.count_rows()
    return local_frame(
        spark, [(float(mn), float(mx), n)],
        "min_ep DOUBLE, max_ep DOUBLE, n_rows BIGINT")


def q67_group_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-I/O GROUP BY MIN/MAX (table.min_max_by): over the
    status-partitioned cents layout every row group is single-valued on
    the partition column and the int measure's footer bounds are exact
    attained values, so per-status price extremes (and non-null counts)
    fold entirely from the catalog — completing the grouped
    aggregate-pushdown family (COUNT q51 / SUM q63 / MIN-MAX here):
    COUNT, SUM, MIN, MAX, and AVG = SUM/COUNT all answerable with no
    executor started. The oracle recomputes the grouped extremes the
    hard way."""
    t = _status_cents_orders(spark, sf_dir)
    groups = t.min_max_by("o_orderstatus", "price_cents")
    assert groups is not None, "partition layout must fold from catalog"
    rows = [(k, mn, mx, n) for k, (mn, mx, n) in sorted(groups.items())]
    return local_frame(
        spark, rows,
        "o_orderstatus STRING, min_cents BIGINT, "
        "max_cents BIGINT, n BIGINT")


def q66_topk_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopK (ORDER BY + LIMIT) pushdown through the index
    (table.order_limit) — the ordering generalization of the
    reference's LIMIT flow-through (main.rs:285): over the cents-sorted
    layout, the 10 most expensive orders read ONLY the top row groups
    (every group guarantees row_count - null_count values >= its min,
    so accumulating guaranteed counts yields a threshold below which no
    group can hold a top-k row). The assert pins the pruning; the
    residual sort makes the answer exact, and the oracle recomputes the
    top-10 with the identical NULLS LAST + tiebreak ordering."""
    t = _cents_orders(spark, sf_dir)
    df = t.order_limit("price_cents", 10, tiebreak=["o_orderkey"])
    rows = df.collect()
    pd = t.last_topk_pushdown
    assert pd["threshold"] is not None, pd
    assert pd["scanned_row_groups"] < pd["candidate_row_groups"], pd
    return local_frame(
        spark, [(r["o_orderkey"], r["price_cents"]) for r in rows],
        "o_orderkey BIGINT, price_cents BIGINT")


def _dict_orders(spark: SparkSession, sf_dir: str):
    """Orders written once per corpus as a flat JUMBLED 2-file layout
    (hash repartition — deliberately no clustering, no partitioning,
    small row groups) with dictionary/frequency statistics in the
    catalog for the two low-cardinality columns plus the deliberately
    over-cap key column — shared by q80 (zero-I/O GROUP BY) and q81
    (zero-I/O DISTINCT + the cap's honest refusal)."""
    return _layout_table(
        spark, sf_dir, "dict_orders", "spark_graft_dict_layout", "orders",
        "dict_jumbled_v1",
        lambda d: (_read(spark, sf_dir, "orders")
                   .select("o_orderkey", "o_orderstatus", "o_orderpriority")
                   .repartition(2)
                   .write.option("parquet.block.size", str(1 << 15))
                   .mode("overwrite").parquet(d)),
        index_columns=["o_orderkey"],
        dict_columns=["o_orderstatus", "o_orderpriority", "o_orderkey"])


def q80_dict_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DICTIONARY/FREQUENCY statistics in the catalog → exact zero-I/O
    GROUP BY (table.group_counts): the index stores the per-row-group
    distinct-value → row-count map of a LOW-cardinality column
    (``dict_columns`` — the sum store's opt-in page-scan cost model,
    capped at 64 distincts per row group so the catalog stays
    O(row_groups · cap)), and ``GROUP BY o_orderstatus, COUNT(*)``
    folds entirely from the catalog by map ADDITION — an
    O(row_groups · cap) driver-side integer fold, no executor starts.
    Unlike q51's grouped counts this needs NO layout trust rules: the
    layout here is deliberately hash-JUMBLED (no partitioning, no
    clustering — every row group mixes all statuses) and the fold is
    still exact, because the maps are exact per row group wherever
    recorded. The counts are pure integers — the oracle recomputes the
    GROUP BY from the flat table and must match exactly. Extends the
    aggregate-statistics family (COUNT q61 / SUM q62-63 / MIN-MAX
    q66-67 / VAR q68-70 / quantiles q75-76 / NDV q77-78) to
    low-cardinality DISTRIBUTIONS — at 100 TB, the label/status/
    language breakdown dashboard that never reads the data, with maps
    that keep folding across partitions, days, or tables."""
    t = _dict_orders(spark, sf_dir)
    counts = t.group_counts("o_orderstatus")
    assert counts is not None, "group counts must fold from the catalog"
    total_rgs = sum(f[2] for f in t.catalog.all_files())
    assert t.last_dict_pushdown["row_groups"] == total_rgs
    return local_frame(
        spark, sorted(counts.items()), "o_orderstatus STRING, cnt BIGINT")


def q81_dict_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact zero-I/O SELECT DISTINCT (table.distinct_values): the union
    of the per-row-group dictionary value sets IS the column's exact
    distinct set — served from the catalog with no executor started,
    over the same jumbled layout as q80 (no trust rules). The honest
    boundary is exercised in the same query: the key column's
    per-row-group cardinality exceeds the index-time cap, so the
    catalog recorded NOTHING for it and group_counts/distinct_values
    return None (scan fallback) rather than an answer — coverage
    degrades, wrongness is impossible. The oracle recomputes the
    distinct set from the flat table."""
    t = _dict_orders(spark, sf_dir)
    vals = t.distinct_values("o_orderpriority")
    assert vals is not None, "distinct must fold from the catalog"
    assert t.group_counts("o_orderkey") is None, \
        "over-cap column must refuse a catalog answer, not guess"
    return local_frame(
        spark, [(v,) for v in vals], "o_orderpriority STRING")


def _dict_split_orders(spark: SparkSession, sf_dir: str):
    """Orders PARTITIONED BY VALUE-SET (not by range): file a.parquet
    holds every F and P row interleaved (its status range [F, P]
    CONTAINS the absent 'O'), file b.parquet holds every O row. The
    shape where min/max is structurally blind — only the recorded value
    SET knows 'O' is missing from a. Shared by q82's two refutations."""
    def _write(d):
        df = _read(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus")
        for name, part in (
                ("a", df.filter(F.col("o_orderstatus").isin("F", "P"))),
                ("b", df.filter(F.col("o_orderstatus") == "O"))):
            write_one_file(part, os.path.join(d, f"{name}.parquet"))

    return _layout_table(
        spark, sf_dir, "dict_split_orders", "spark_graft_dict_split",
        "orders", "dict_split_v1", _write,
        index_columns=["o_orderstatus"], dict_columns=["o_orderstatus"])


def q82_dict_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-set row-group pruning (table._dict_refine) — the
    refutations min/max and Bloom filters structurally CANNOT make,
    over a layout partitioned by value-set: file a holds every F and P
    row interleaved (status range [F, P], which CONTAINS the absent
    'O'), file b holds every O row.

    - ``o_orderstatus = 'O'``: a's range covers 'O', so min/max keeps
      it — but the recorded value set {F, P} lacks 'O', so the dict
      refutes file a entirely (exact membership, unlike a Bloom
      filter's maybe).
    - ``NOT (o_orderstatus IN ('F','P'))``: negative pruning — a's
      value set is CONTAINED in the excluded literals, so every
      non-null row fails and null rows fail any comparison: refuted.
      Min/max can only make this refutation when min = max (a's range
      is [F, P], useless); a Bloom filter can never prove absence of
      everything-but-the-excluded.

    Both predicates select exactly the O rows, so the two pruned scans
    must return identical aggregates — and the asserts pin that each
    plan dropped row groups via the dictionary specifically
    (decision.dict_skipped > 0) and never reads file a. The residual
    filter keeps the inexact contract; the oracle recomputes both
    aggregates from the flat table. At 100 TB this is
    needle-in-a-category lookup and churn-exclusion (`status NOT IN
    (retired...)`) skipping entire value-set-partitioned eras from the
    catalog alone."""
    t = _dict_split_orders(spark, sf_dir)
    eq = xcol("o_orderstatus") == "O"
    df_eq = t.query(eq)
    dec_eq = t.last_scan
    assert dec_eq.dict_skipped > 0, dec_eq.describe()
    assert not any(f.startswith("a") for f in dec_eq.file_names), \
        dec_eq.describe()
    a_eq = df_eq.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("o_orderkey").alias("s")).head()
    from .plans.expr import InList, Lit, Not
    notin = Not(InList(xcol("o_orderstatus"), [Lit("F"), Lit("P")]))
    df_ni = t.query(notin)
    dec_ni = t.last_scan
    assert dec_ni.dict_skipped > 0, dec_ni.describe()
    assert not any(f.startswith("a") for f in dec_ni.file_names), \
        dec_ni.describe()
    a_ni = df_ni.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("o_orderkey").alias("s")).head()
    assert (a_eq["n"], a_eq["s"]) == (a_ni["n"], a_ni["s"])
    return local_frame(
        spark, [(a_eq["n"], a_eq["s"], a_ni["n"], a_ni["s"])],
        "n_eq BIGINT, sum_eq BIGINT, n_notin BIGINT, sum_notin BIGINT")


# parquet.block.size of the catalog-family fixtures: several row groups
# per file
_SMALL_ROW_GROUPS = 1 << 16


def _dv_fixture(spark: SparkSession, sf_dir: str, memo_key: str,
                extra_cols: tuple = (), n_files: int = 2):
    """A fresh indexed orders table (o_orderkey, exact integer cents,
    plus ``extra_cols``; ``n_files`` deterministic files split by
    o_orderkey % n_files, several row groups each, per-row-group sums)
    for the deletion-vector family. Each memo_key gets its OWN
    directory because q93/q94 mutate theirs (compaction / upsert);
    q91/q92 share one instance with the delete already applied."""
    import tempfile

    from .operators.util import memoized

    def build():
        d = tempfile.mkdtemp(prefix=f"spark_graft_{memo_key}_")
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey", *extra_cols,
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        names = (["even.parquet", "odd.parquet"] if n_files == 2
                 else [f"part{i}.parquet" for i in range(n_files)])
        for i in range(n_files):
            write_one_file(base.filter(F.col("o_orderkey") % n_files == i)
                           .orderBy("o_orderkey"),
                           os.path.join(d, names[i]), _SMALL_ROW_GROUPS)
        t = IndexedParquetTable(spark, d, ["o_orderkey", "cents"],
                                sum_columns=["cents"])
        return t, base

    return memoized(spark, memo_key, sf_dir, build)


def _dv_shared_deleted(spark: SparkSession, sf_dir: str):
    """The shared q91/q92 fixture with the ``cents % 7`` delete applied
    exactly once per session.  The delete and its pinned properties —
    idempotence (re-running matches 0: the victim scan is itself
    DV-filtered) and file immutability — execute whenever the fixture
    is freshly built (every new process, every cold-pass run after
    clear_caches), but not on warm re-entries: re-proving idempotence
    costs two full victim-scan jobs whose result is discarded, and the
    warm window should time the serving path, not re-verification of
    an already-committed DML (guide §1.2: don't compute things you
    throw away).  The same gate pattern q93/q94/q95 already use."""
    from .operators.util import memoized

    t, base = _dv_fixture(spark, sf_dir, "dv_table_shared")

    def gate():
        sizes_before = {f[0]: f[1] for f in t.catalog.all_files()}
        t.delete_where((xcol("cents") % 7) == 0)
        assert t.delete_where((xcol("cents") % 7) == 0) == 0  # idempotent
        assert {f[0]: f[1] for f in t.catalog.all_files()} == sizes_before
        return True

    memoized(spark, "dv_shared_deleted", sf_dir, gate)
    return t, base


def q91_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL DELETE WITHOUT REWRITING FILES (delete_where →
    deletion vectors): the Delta/Iceberg merge-on-read design
    re-expressed over the external index — one pruned job finds the
    victims' (file, row position) pairs via ``_metadata.row_index``,
    the positions persist as range-compressed per-file catalog
    metadata, and every subsequent read anti-filters them JVM-side
    (explode+hash anti-join on (file, row position), broadcast under
    a cumulative position cap; no file bytes change). Executed
    inside the gate: DELETE WHERE cents % 7 = 0, then a grouped
    aggregate over a cents range must see only live rows — the oracle
    recomputes from the flat table with the delete predicate negated.
    The asserts pin that the delete is idempotent (re-running matches
    0: the victim scan is itself DV-filtered) and that the files on
    disk did not change. At 100 TB a targeted delete is one pruned
    scan plus O(deleted ranges) metadata — not a rewrite."""
    t, _ = _dv_shared_deleted(spark, sf_dir)
    df = t.query((xcol("cents") >= 5_000_000)
                 & (xcol("cents") <= 25_000_000))
    return (df.groupBy((F.col("cents") % 5).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("cents").alias("sum_cents"))
            .select(F.col("bucket").cast("long").alias("bucket"),
                    "n", "sum_cents"))


def q92_dv_count_sum_pushdown(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """COUNT/SUM PUSHDOWN STAYS EXACT UNDER ROW-LEVEL DELETES: the
    delete pass records, per row group, the victims' exact
    sum/count contributions next to the deletion vector, so the
    zero-I/O aggregate family (q61/q62) keeps answering from catalog
    arithmetic alone — stored sums MINUS recorded deletions — while
    min/max/dict/ndv/hist answers (not repairable by subtraction)
    refuse loudly until compaction. The asserts pin the pure-arithmetic
    shape (zero boundary row groups scanned for the unpredicated
    aggregates) and the refusal contract; the oracle recomputes the
    live totals from the flat table."""
    t, _ = _dv_shared_deleted(spark, sf_dir)
    n = t.count_rows()
    s, nn = t.sum_rows("cents")
    assert t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0, \
        t.last_sum_pushdown
    assert nn == n
    sv, sq, nq = t.sum_sq_rows("cents")
    assert (sv, nq) == (s, n)
    try:
        t.min_max("cents")
        raise AssertionError("min_max must refuse under deletions")
    except ValueError:
        pass
    return local_frame(
        spark, [(n, s, str(sq))],
        "n_live BIGINT, sum_live_cents BIGINT, sumsq_live_cents STRING")


def q93_dv_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION MATERIALIZES DELETION VECTORS: rewrite ONLY the files
    that carry deletions (dropping the dead rows, preserving row-group
    partitioning), refresh the index — re-upserted files get fresh
    exact statistics and their DVs are cleared — and every catalog-only
    answer surface (min/max here) works again, over exactly the same
    live rows. The asserts pin that results are identical before and
    after compaction, that the DV store is empty after, and that the
    restored min/max answers from the catalog; the oracle is the same
    live-rows aggregate as before compaction. At 100 TB compaction
    cost is O(deleted-from files), not O(table)."""
    from .operators.util import memoized

    t, _ = _dv_fixture(spark, sf_dir, "dv_table_compact")

    def gate():
        t.delete_where((xcol("cents") % 7) == 0)
        pre_n = t.count_rows()
        pre_s, _ = t.sum_rows("cents")
        rewritten = t.compact_deletes()
        return pre_n, pre_s, rewritten

    pre_n, pre_s, rewritten = memoized(
        spark, "dv_compact_done", sf_dir, gate)
    assert rewritten == 2  # cents % 7 hits both parity files
    assert not t.catalog.get_dv_ranges()
    assert t.count_rows() == pre_n
    s_post, _ = t.sum_rows("cents")
    assert s_post == pre_s
    mn, mx = t.min_max("cents")[:2]  # refused before, answers now
    return local_frame(
        spark, [(pre_n, pre_s, int(mn), int(mx))],
        "n_live BIGINT, sum_live_cents BIGINT, "
        "min_live_cents BIGINT, max_live_cents BIGINT")


def q94_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (UPSERT) BY KEY over the index: logically delete the
    current rows whose key appears in the update batch (deletion
    vectors — no rewrite), land the batch as ONE new indexed file,
    refresh. Row positions never move, the new file is immediately
    prunable, and the whole MERGE is O(update batch) + metadata — the
    merge-on-read half of Delta's MERGE. Executed in the gate: every
    order with o_orderkey % 97 = 0 gets cents bumped by 1; the oracle
    recomputes the post-merge totals from the flat table with a CASE.
    The asserts pin the delete/insert counts and that a point query
    serves the UPDATED row from the new file."""
    from .operators.util import memoized

    t, base = _dv_fixture(spark, sf_dir, "dv_table_merge")

    def gate():
        updates = base.filter(F.col("o_orderkey") % 97 == 0) \
            .withColumn("cents", F.col("cents") + 1)
        n_upd = updates.count()
        n_del, n_ins = t.merge_upsert(updates, "o_orderkey")
        assert (n_del, n_ins) == (n_upd, n_upd), (n_del, n_ins, n_upd)
        # the point-query probe belongs to the merge's one-time proof
        # (it pins that the read serves the landed file's updated copy,
        # never the DV'd original) — run it when the merge actually
        # executes, not as three extra jobs on every warm re-entry
        probe = base.filter(F.col("o_orderkey") % 97 == 0) \
            .agg(F.min("o_orderkey")).head()[0]
        got = t.query(xcol("o_orderkey") == int(probe)).collect()
        assert len(got) == 1, got
        orig = base.filter(F.col("o_orderkey") == int(probe)) \
            .head()["cents"]
        assert got[0]["cents"] == orig + 1, (got[0]["cents"], orig)
        return n_upd

    n_upd = memoized(spark, "dv_merge_done", sf_dir, gate)
    n = t.count_rows()
    s, _ = t.sum_rows("cents")
    return local_frame(
        spark, [(n, s, n_upd)],
        "n_total BIGINT, sum_cents BIGINT, n_updated BIGINT")


def q95_dedup_delete_vectors(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """DEDUP APPLIED WITHOUT REWRITING THE CORPUS — the composition the
    whole deletion-vector design exists for in a training-data
    pipeline: compute dedup losers (here: exact prefix-fingerprint
    dedup, keep the lowest doc_id per fingerprint), hand the loser SET
    to ``delete_matching`` (distributed semi-join victim location — no
    driver-side key list, scan pruned to the victims' key window), and
    the corpus is deduplicated in place: zero file rewrites, O(losers)
    catalog metadata, and the live COUNT/SUM still answer from pure
    catalog arithmetic (stored sums minus the recorded deletions —
    asserted boundary-free). The oracle recomputes the keeper set
    relationally. At 100 TB this is 'dedup the corpus tonight, serve
    the deduped view tomorrow, compact whenever' instead of a
    full-table rewrite between every curation iteration."""
    import tempfile

    from .operators.util import memoized

    def build():
        d = tempfile.mkdtemp(prefix="spark_graft_dvdedup_")
        docs = _read(spark, sf_dir, "documents").select(
            "doc_id", "text")
        for i, name in enumerate(["even.parquet", "odd.parquet"]):
            write_one_file(docs.filter(F.col("doc_id") % 2 == i)
                           .orderBy("doc_id"), os.path.join(d, name),
                           _SMALL_ROW_GROUPS)
        t = IndexedParquetTable(spark, d, ["doc_id"],
                                sum_columns=["doc_id"])
        fp = F.md5(F.substring("text", 1, 40)).alias("fp")
        keep = (docs.select("doc_id", fp)
                .groupBy("fp")
                .agg(F.min("doc_id").alias("keep_id")))
        losers = (docs.select("doc_id", fp)
                  .join(keep, "fp")
                  .filter(F.col("doc_id") != F.col("keep_id"))
                  .select("doc_id"))
        n_del = t.delete_matching(losers, "doc_id")
        return t, n_del

    t, n_del = memoized(spark, "dv_dedup_table", sf_dir, build)
    assert t.delete_matching(
        local_frame(t.spark, [], "doc_id LONG"), "doc_id") == 0
    n_live = t.count_rows()
    s_live, nn = t.sum_rows("doc_id")
    assert t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0, \
        t.last_sum_pushdown   # pure catalog arithmetic under the DV
    assert nn == n_live
    return local_frame(
        spark, [(n_live, s_live, n_del)],
        "n_live BIGINT, sum_doc_id BIGINT, n_deleted BIGINT")


def q96_stream_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A STREAMING RETRACTION FEED APPLIED AS DELETION VECTORS — the
    GDPR-eraser / label-retraction shape of a production corpus: delete
    keys arrive as a stream (3 time-ordered micro-batches through the
    file source), a ``foreachBatch`` sink applies each batch with
    ``delete_matching`` (distributed semi-join victim location, no file
    rewrites) and snapshots the table, and because snapshots COPY the
    DV state, every era remains queryable afterwards with exact
    catalog-arithmetic COUNTs — as-of batch 0 sees only batch 0's
    deletions, as-of batch 1 sees 0+1, live sees all three. The oracle
    recomputes each era from the flat table with the cumulative delete
    predicate. At 100 TB this is 'process the retraction feed tonight,
    keep every intermediate corpus version auditable' with O(deleted)
    metadata per batch and zero rewrites."""
    import tempfile
    import time as _time

    from .operators.util import memoized

    def build():
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("cents"))
        d = tempfile.mkdtemp(prefix="spark_graft_dvstream_")
        for i, name in enumerate(["even.parquet", "odd.parquet"]):
            write_one_file(base.filter(F.col("o_orderkey") % 2 == i)
                           .orderBy("o_orderkey"), os.path.join(d, name),
                           _SMALL_ROW_GROUPS)
        t = IndexedParquetTable(spark, d, ["o_orderkey", "cents"],
                                sum_columns=["cents"])
        # the retraction feed: keys of every order with cents % 10 = 3,
        # split into 3 time-ordered batches by o_orderkey % 3
        feed = tempfile.mkdtemp(prefix="spark_graft_dvfeed_")
        victims = base.filter(F.col("cents") % 10 == 3) \
            .select("o_orderkey")
        now = _time.time()
        for i in range(3):
            dst = os.path.join(feed, f"batch{i}.parquet")
            write_one_file(victims.filter(F.col("o_orderkey") % 3 == i),
                           dst, _SMALL_ROW_GROUPS)
            os.utime(dst, (now + i, now + i))
        snaps: list = []
        deleted: list = []

        def _sink(batch_df, batch_id):
            deleted.append(t.delete_matching(batch_df, "o_orderkey"))
            snaps.append(t.snapshot())

        q = (spark.readStream.schema("o_orderkey LONG")
             .option("maxFilesPerTrigger", 1).parquet(feed)
             .writeStream.outputMode("append").foreachBatch(_sink)
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="ckpt_dvfeed_"))
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        finally:
            q.stop()
        assert len(snaps) == 3, snaps
        return t, snaps, deleted

    t, snaps, deleted = memoized(spark, "dv_stream_retraction", sf_dir, build)
    n_era = [t.count_rows(as_of=sid) for sid in snaps]
    assert n_era[0] - sum(deleted[1:2]) >= n_era[1] >= n_era[2]
    n_live = t.count_rows()
    assert n_live == n_era[2]
    s_live, nn = t.sum_rows("cents")
    assert t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0
    assert nn == n_live
    return local_frame(
        spark, [(n_era[0], n_era[1], n_live, s_live, sum(deleted))],
        "n_era0 BIGINT, n_era1 BIGINT, n_live BIGINT, "
        "sum_live_cents BIGINT, n_retracted BIGINT")


def q97_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED (table.read_changes): Delta-CDF semantics over
    the external index — every row inserted or deleted between two
    snapshots, derived from pure catalog arithmetic (snapshot file
    sets + the deletion-vector DELTA on the range-compressed form)
    plus pruned positional reads. Executed in the gate: snapshot s0,
    DELETE WHERE cents % 7 = 0, MERGE the o_orderkey % 97 = 0 batch
    with cents + 1, snapshot s1; the s0→s1 feed must contain exactly
    the deleted originals (the predicate's rows plus the merged keys'
    live old versions) as deletes and the merge batch as inserts — the
    oracle recomputes both sides relationally from the flat table.
    Unchanged files are never read: at 100 TB the feed costs
    O(changed files + deleted positions), which is what lets
    downstream consumers (a training-set differ, an index rebuilder, a
    GDPR auditor) subscribe to a corpus instead of re-diffing it."""
    from .operators.util import memoized

    t, base = _dv_fixture(spark, sf_dir, "dv_table_cdf")

    def gate():
        s0 = t.snapshot()
        t.delete_where((xcol("cents") % 7) == 0)
        updates = base.filter(F.col("o_orderkey") % 97 == 0) \
            .withColumn("cents", F.col("cents") + 1)
        t.merge_upsert(updates, "o_orderkey")
        s1 = t.snapshot()
        return s0, s1

    s0, s1 = memoized(spark, "dv_cdf_done", sf_dir, gate)

    def plan():
        ch = t.read_changes(s0, s1)
        # idempotent probe: the same era pair always serves the same feed
        assert ch.columns[0] == "_change_type"
        out = (ch.groupBy(F.col("_change_type").alias("change_type"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("cents").alias("sum_cents"),
                    F.sum("o_orderkey").alias("sum_key"))
               .orderBy("change_type"))
        return out

    # post-gate plan memo — see q102: warm re-entries rebuild an
    # identical lazy feed plan from immutable fixture state
    return memoized(spark, "dv_cdf_plan", sf_dir, plan)


def q98_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL UPDATE WITHOUT REWRITING FILES (table.update_where —
    the merge-on-read UPDATE, completing the DML verb set with DELETE/
    MERGE/CDF): matching live rows are read once through the pruned
    scan, the assignment expressions produce the new versions, the
    batch lands as ONE new indexed file and the old versions become
    deletion vectors — failure-ordered so a crash leaves recoverable
    duplicates, never lost rows. Executed in the gate: UPDATE cents =
    cents + 1000 WHERE cents % 11 = 0, then live COUNT/SUM (still pure
    catalog arithmetic: the landed file has fresh sums, the DV'd
    originals subtract) and a point probe that must serve the UPDATED
    version. The oracle recomputes the post-update totals with a CASE.
    At 100 TB: files without matches are never read, nothing is
    rewritten."""
    from .operators.util import memoized

    t, base = _dv_fixture(spark, sf_dir, "dv_table_update")

    def gate():
        n_upd = t.update_where((xcol("cents") % 11) == 0,
                               {"cents": "cents + 1000"})
        # post-update live probe: every cents % 11 == 0 row was
        # replaced by cents + 1000 (1000 % 11 = 10), so NO live row
        # matches the update predicate anymore. A modulo predicate is
        # not foldable from min/max stats, so this probe is a real
        # scan job — it proves the committed UPDATE once, whenever the
        # fixture is freshly built (every new process, every cold
        # rebuild), not on every warm re-entry (guide §1.2; the same
        # gate pattern q91/q94 use)
        assert t.count_rows((xcol("cents") % 11) == 0) == 0
        return n_upd

    n_upd = memoized(spark, "dv_update_done", sf_dir, gate)
    n = t.count_rows()
    s, nn = t.sum_rows("cents")
    assert t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0, \
        t.last_sum_pushdown   # pure catalog arithmetic post-UPDATE
    assert nn == n
    return local_frame(
        spark, [(n, s, n_upd)],
        "n_total BIGINT, sum_cents BIGINT, n_updated BIGINT")


def q99_incremental_agg_from_feed(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """INCREMENTAL DOWNSTREAM MAINTENANCE FROM THE CHANGE FEED — the
    composition that makes a change feed worth having at 100 TB: a
    downstream grouped aggregate (count + sum per bucket) is maintained
    by FOLDING THE FEED (inserts add, deletes subtract) instead of
    recomputing from the table. Executed in the gate: snapshot s0 →
    DELETE cents % 3 = 1 → UPDATE cents += 1003 WHERE cents % 11 = 0 →
    snapshot s1. The gate row returns the FOLD ALONE — the oracle
    recomputes the live aggregate relationally in DuckDB, so the
    driver's hash comparison IS the fold ≡ recompute parity proof; the
    Spark-side row-for-row parity against t.query(None) is pinned in
    tests/test_change_feed_fold.py (VERDICT r8 ask #7: the gate must
    not permanently pay the recompute the fold exists to avoid). Feed
    cost is O(changed rows); the downstream refresh never touches the
    unchanged corpus."""
    from .operators.util import memoized

    t, base = _dv_fixture(spark, sf_dir, "dv_table_feed_agg")

    def gate():
        s0 = t.snapshot()
        t.delete_where((xcol("cents") % 3) == 1)
        t.update_where((xcol("cents") % 11) == 0,
                       {"cents": "cents + 1003"})
        s1 = t.snapshot()
        return s0, s1

    s0, s1 = memoized(spark, "dv_feed_agg_done", sf_dir, gate)

    def plan():
        bucket = (F.col("cents") % 5).cast("long").alias("bucket")
        agg0 = (t.query(None, as_of=s0).select(bucket, "cents")
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("cents").alias("sum_cents")))
        signed = (t.read_changes(s0, s1)
                  .select(bucket, "cents",
                          F.when(F.col("_change_type") == "insert",
                                 F.lit(1)).otherwise(F.lit(-1))
                          .alias("w")))
        delta = (signed.groupBy("bucket")
                 .agg(F.sum("w").alias("n"),
                      F.sum(F.col("cents") * F.col("w")).alias("sum_cents")))
        incr = (agg0.unionByName(delta)
                .groupBy("bucket")
                .agg(F.sum("n").alias("n"),
                     F.sum("sum_cents").alias("sum_cents"))
                .filter(F.col("n") > 0)
                .select("bucket", F.col("n").cast("long").alias("n"),
                        F.col("sum_cents").cast("long").alias("sum_cents"))
                .orderBy("bucket"))
        return incr

    # post-gate plan memo — see q102: warm re-entries rebuild an
    # identical lazy fold plan from immutable fixture state
    return memoized(spark, "dv_feed_agg_plan", sf_dir, plan)


def q100_optimize_lifecycle(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """THE FULL DML MAINTENANCE LIFECYCLE (update → materialize →
    OPTIMIZE): a 6-file table takes a merge-on-read UPDATE (new
    versions land as a 7th file, old versions become deletion
    vectors), ``compact_deletes`` materializes the deletions into
    rewritten files, and ``compact_small_files`` — the Delta OPTIMIZE
    / Iceberg rewrite_data_files counterpart, crash-safe via per-bin
    intent markers — bin-packs the 7 small files into ONE, with fresh
    exact statistics from the closing refresh. The asserts pin the
    file count collapsing to 1, the post-update pushdown probe, and
    that COUNT/SUM survive every maintenance step unchanged; the
    oracle recomputes the post-update totals with a CASE. At 100 TB
    packing is O(small files) per directory and never crosses a
    partition boundary."""
    import tempfile

    from .operators.util import memoized

    def build():
        d = tempfile.mkdtemp(prefix="spark_graft_optimize_")
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("cents"))
        for i in range(6):
            write_one_file(base.filter(F.col("o_orderkey") % 6 == i)
                           .orderBy("o_orderkey"),
                           os.path.join(d, f"part{i}.parquet"),
                           _SMALL_ROW_GROUPS)
        t = IndexedParquetTable(spark, d, ["o_orderkey", "cents"],
                                sum_columns=["cents"])
        t.update_where((xcol("cents") % 13) == 0,
                       {"cents": "cents + 1"})
        assert len(t.catalog.all_files()) == 7   # 6 parts + 1 update
        t.compact_deletes()
        packed = t.compact_small_files()
        # post-update probe served by the pushdown on the packed file:
        # every cents % 13 = 0 row became cents + 1, so none remain.
        # Run it when the lifecycle actually executes — it is part of
        # the one-time proof, not of every warm re-entry's window.
        assert t.count_rows((xcol("cents") % 13) == 0) == 0
        return t, packed

    t, packed = memoized(spark, "dv_optimize_table", sf_dir, build)
    files = [f[0] for f in t.catalog.all_files()]
    assert packed == 1 and files == ["pack_000000.parquet"], files
    n = t.count_rows()
    s, nn = t.sum_rows("cents")
    assert nn == n and t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0
    return local_frame(
        spark, [(n, s)], "n_total BIGINT, sum_cents BIGINT")


def q101_snapshot_restore(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """SNAPSHOT RESTORE — Delta's RESTORE TABLE ... TO VERSION over
    the external index (``table.restore``, sources/table.py): a 4-file
    table snapshots s0, then takes a merge-on-read DELETE and a
    merge-on-read UPDATE (deletion vectors + one landed new-version
    file), then ``restore(s0)`` reverts BOTH halves of the state —
    the landed file is removed (bytes + catalog row) and the
    deletion-vector state reverts to s0's recorded (empty) copy — so
    the table answers exactly as the original corpus again, proven by
    the COUNT/SUM pushdowns folding purely from the catalog (zero
    boundary scans, asserted). The oracle recomputes the original
    totals relationally: restore-to-origin means the expected answer
    IS the raw slice's aggregate. At 100 TB restore is O(extra files
    + DV rows) metadata; surviving bytes are never rewritten."""
    from .operators.util import memoized

    t, _base = _dv_fixture(spark, sf_dir, "dv_restore_table",
                           n_files=4)

    def gate():
        n0 = t.count_rows()
        s0 = t.snapshot()
        ndel = t.delete_where((xcol("cents") % 5) == 2)
        nupd = t.update_where((xcol("cents") % 7) == 3,
                              {"cents": "cents + 11"})
        assert ndel > 0 and nupd > 0 and t.count_rows() < n0
        info = t.restore(s0)
        # >= 1: the UPDATE landed at least one post-snapshot file; the
        # exact count is _land_batch's partitioning choice, not part of
        # restore()'s contract (ADVICE r9) — the count/DV/pushdown
        # invariants below pin the actual restore semantics
        assert info["files_removed"] >= 1
        assert info["dv_files"] == 0        # s0 predates every delete
        assert t.count_rows() == n0
        return True

    memoized(spark, "dv_restore_done", sf_dir, gate)
    n = t.count_rows()
    s, nn = t.sum_rows("cents")
    assert nn == n and t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0
    return local_frame(
        spark, [(n, s)], "n_total BIGINT, sum_cents BIGINT")


def q102_incremental_join_view_from_feed(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE OF A JOIN from the
    change feed — the IVM shape one step past q99's grouped aggregate:
    the downstream view is a JOIN + aggregate (revenue per customer
    nation = orders ⋈ customer dim, grouped), and mutations to the
    fact table (merge-on-read DELETE + UPDATE between snapshots s0 and
    s1) are folded in by joining ONLY the signed change rows with the
    dim (inserts add, deletes subtract — the classic delta rule
    Δ(R ⋈ D) = ΔR ⋈ D for an immutable dim). Feed cost is O(changed
    rows ⋈ dim): the unchanged fact corpus is never rescanned and the
    dim side broadcasts. The gate returns the fold alone; the oracle
    recomputes the live join relationally, so the driver's hash
    comparison is the fold ≡ recompute proof (same posture as q99)."""
    from .operators.util import memoized

    t, _base = _dv_fixture(spark, sf_dir, "dv_feed_join_view",
                           extra_cols=("o_custkey",))

    def gate():
        s0 = t.snapshot()
        t.delete_where((xcol("cents") % 3) == 1)
        t.update_where((xcol("cents") % 11) == 0,
                       {"cents": "cents + 500"})
        s1 = t.snapshot()
        return s0, s1

    s0, s1 = memoized(spark, "dv_feed_join_done", sf_dir, gate)

    def plan():
        dim = _read(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"),
            F.col("c_nationkey").cast("long").alias("nationkey"))
        view0 = (t.query(None, as_of=s0)
                 .join(F.broadcast(dim), "o_custkey")
                 .groupBy("nationkey")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("cents").alias("sum_cents")))
        signed = (t.read_changes(s0, s1)
                  .select("o_custkey", "cents",
                          F.when(F.col("_change_type") == "insert",
                                 F.lit(1)).otherwise(F.lit(-1)).alias("w")))
        delta = (signed.join(F.broadcast(dim), "o_custkey")
                 .groupBy("nationkey")
                 .agg(F.sum("w").alias("n"),
                      F.sum(F.col("cents") * F.col("w")).alias("sum_cents")))
        out = (view0.unionByName(delta)
               .groupBy("nationkey")
               .agg(F.sum("n").alias("n"),
                    F.sum("sum_cents").alias("sum_cents"))
               .filter(F.col("n") > 0)
               .select("nationkey", F.col("n").cast("long").alias("n"),
                       F.col("sum_cents").cast("long").alias("sum_cents"))
               .orderBy("nationkey"))
        return out

    # post-gate plan memo (the sim_hybrid_rrf posture): once the gate
    # has committed the DML, a warm re-entry only rebuilds an identical
    # lazy plan — plan_scan + change-feed catalog arithmetic + ~0.3 s
    # of driver py4j — so memoize the BUILT DataFrame per corpus.
    # Never a result cache: every sink still executes the full fold
    # from the parquet inputs; clear_caches drops it, and the fixture
    # dir is immutable for the session after the gate (own memo_key).
    return memoized(spark, "dv_feed_join_plan", sf_dir, plan)


def q103_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBLIC INSERT (``table.append``, sources/table.py — the verb
    completing the DML set; the reference's own maintenance entry
    point IS ingest, index.rs:179): a 2-file orders table snapshots
    s0, appends a derived batch (every cents % 9 = 4 row re-keyed
    +100M with cents + 7) through the staged land + refresh protocol,
    and the asserts pin (a) append() returns the exact batch size,
    (b) the change feed s0→s1 shows exactly those rows as inserts and
    nothing else, (c) the post-append COUNT/SUM still fold purely from
    the catalog (the landed file got fresh per-row-group sums). The
    oracle recomputes base + batch totals relationally. At 100 TB
    ingest is O(batch) write + O(new files) footer reads; existing
    files and their statistics are untouched."""
    from .operators.util import memoized

    t, base = _dv_fixture(spark, sf_dir, "dv_table_append")

    def gate():
        n0 = t.count_rows()
        s0 = t.snapshot()
        batch = base.filter((F.col("cents") % 9) == 4).select(
            (F.col("o_orderkey") + F.lit(100_000_000).cast("long"))
            .alias("o_orderkey"),
            (F.col("cents") + 7).alias("cents"))
        n_ins = t.append(batch)
        assert n_ins > 0 and t.count_rows() == n0 + n_ins
        s1 = t.snapshot()
        feed = t.read_changes(s0, s1).groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")).collect()
        assert [(r["_change_type"], r["n"]) for r in feed] \
            == [("insert", n_ins)]
        return True

    memoized(spark, "dv_append_done", sf_dir, gate)
    n = t.count_rows()
    s, nn = t.sum_rows("cents")
    assert nn == n and t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0
    return local_frame(
        spark, [(n, s)], "n_total BIGINT, sum_cents BIGINT")


def q104_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT RETENTION (``table.expire_snapshots``, the lifecycle
    verb completing the snapshot surface — Delta log retention /
    Iceberg expire_snapshots): a table takes three snapshots across a
    merge-on-read DELETE and UPDATE, then ``expire_snapshots(1)``
    drops the two older manifests (+ their copied DV state — metadata
    only, zero data I/O). The asserts pin (a) exactly the two old ids
    expired, (b) as-of reads of expired ids raise KeyError LOUDLY
    (never a silently wrong era), (c) the kept snapshot still serves
    and equals the live answer, (d) live COUNT/SUM still fold purely
    from the catalog. The oracle recomputes the live state
    relationally (delete then update). At 100 TB retention is what
    bounds catalog growth: O(expired x files) row deletes, data bytes
    untouched."""
    from .operators.util import memoized

    t, _base = _dv_fixture(spark, sf_dir, "dv_table_expiry")

    def gate():
        s0 = t.snapshot()
        t.delete_where((xcol("cents") % 5) == 2)
        s1 = t.snapshot()
        t.update_where((xcol("cents") % 7) == 3, {"cents": "cents + 11"})
        s2 = t.snapshot()
        expired = t.expire_snapshots(keep_last=1)
        assert expired == [s0, s1], expired
        for sid in (s0, s1):
            try:
                t.count_rows(as_of=sid)
                raise AssertionError(
                    f"as-of expired snapshot {sid} did not raise")
            except KeyError:
                pass
        assert t.count_rows(as_of=s2) == t.count_rows()
        return True

    memoized(spark, "dv_expiry_done", sf_dir, gate)
    n = t.count_rows()
    s, nn = t.sum_rows("cents")
    assert nn == n and t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0
    return local_frame(
        spark, [(n, s)], "n_total BIGINT, sum_cents BIGINT")


def q106_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMISTIC CONCURRENCY under the oracle gate (round 11, the
    two-writer contract executed end-to-end, not just unit-tested):
    two table handles share one catalog; writer A's append is
    interleaved — via the deterministic ``_pre_commit_hook`` — with
    writer B committing a DELETE between A's planning and A's commit
    CAS. The asserts pin (a) A refuses LOUDLY with
    ConcurrentWriteError, (b) NOTHING of A's landed (no insert files
    on disk — the gate fires before the write), (c) the table state
    is exactly B's (the first committer's), (d) A's plain retry —
    re-reading the moved version — succeeds and lands the identical
    batch, (e) post-retry COUNT/SUM still fold purely from the
    catalog. The oracle replays the serialized outcome relationally:
    base minus B's delete plus A's batch — the state optimistic
    concurrency guarantees regardless of interleaving. Delta's
    ConcurrentModificationException contract over the external
    index; the reference is single-process and never faces this."""
    import tempfile

    from .operators.util import memoized
    from .sources.catalog import ConcurrentWriteError

    def build():
        d = tempfile.mkdtemp(prefix="spark_graft_ccr_")
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("cents"))
        for i, name in enumerate(["even.parquet", "odd.parquet"]):
            write_one_file(base.filter(F.col("o_orderkey") % 2 == i)
                           .orderBy("o_orderkey"), os.path.join(d, name),
                           _SMALL_ROW_GROUPS)
        t = IndexedParquetTable(spark, d, ["o_orderkey", "cents"],
                                sum_columns=["cents"])
        t2 = IndexedParquetTable(spark, d, ["o_orderkey", "cents"],
                                 sum_columns=["cents"],
                                 catalog=t.catalog)
        n0 = t.count_rows()
        batch = base.filter((F.col("cents") % 13) == 6).select(
            (F.col("o_orderkey") + F.lit(700_000_000).cast("long"))
            .alias("o_orderkey"),
            (F.col("cents") + 5).alias("cents"))
        n_batch = batch.count()
        deleted = {}

        def _interleave(verb):
            deleted["n"] = t2.delete_where((xcol("cents") % 17) == 3)

        t._pre_commit_hook = _interleave
        try:
            t.append(batch)
            raise AssertionError("concurrent append did not refuse")
        except ConcurrentWriteError:
            pass
        finally:
            t._pre_commit_hook = None
        assert deleted["n"] > 0
        # nothing of A's landed; state is exactly B's
        import os as _os
        assert not [f for f in _os.listdir(d)
                    if f.startswith("insert_")]
        t._dv_cache = None   # B committed through the shared catalog
        assert t.count_rows() == n0 - deleted["n"]
        # the plain retry serializes after B
        assert t.append(batch) == n_batch
        assert t.count_rows() == n0 - deleted["n"] + n_batch
        return t

    t = memoized(spark, "dv_table_ccr", sf_dir, build)
    n = t.count_rows()
    s, nn = t.sum_rows("cents")
    assert nn == n and t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0
    return local_frame(
        spark, [(n, s)], "n_total BIGINT, sum_cents BIGINT")


def q105_append_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION ON INSERT (``append(merge_schema=True)``,
    sources/table.py — Delta's mergeSchema; VERDICT r10 ask #4,
    connecting the public INSERT verb to the q72 PROVEN-all-null
    index machinery): a 2-file orders table indexed on a column that
    DOES NOT EXIST YET (``disc``) appends a batch carrying it. The
    asserts pin (a) the default append refuses the extra column
    LOUDLY with the evolve hint, (b) merge_schema=True lands the batch
    and evolves the table schema (new column nullable), (c) the
    pre-evolution era reads the column as NULL, (d) a predicate on the
    evolved column prunes BOTH pre-evolution files from the catalog
    alone (the evolution refresh backfills PROVEN all-null stats), and
    (e) COUNT/SUM pushdowns still fold with zero partial row groups.
    The oracle replays the evolution relationally (base rows have NULL
    disc; only batch rows can match). The reference assumes one
    immutable schema (main.rs:228-237) — this is the add-a-column-
    this-year shape every long-lived 100 TB table hits, now reachable
    through ingest instead of write-externally-then-refresh."""
    import tempfile

    from .operators.util import memoized

    def build():
        d = tempfile.mkdtemp(prefix="spark_graft_evolve_append_")
        base = _read(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("cents"))
        for i, name in enumerate(["even.parquet", "odd.parquet"]):
            write_one_file(base.filter(F.col("o_orderkey") % 2 == i)
                           .orderBy("o_orderkey"), os.path.join(d, name),
                           _SMALL_ROW_GROUPS)
        # "disc" is requested as an index column BEFORE any file
        # carries it — build_index types it on first appearance
        t = IndexedParquetTable(spark, d,
                                ["o_orderkey", "cents", "disc"],
                                sum_columns=["cents"])
        n0 = t.count_rows()
        batch = base.filter((F.col("cents") % 11) == 5).select(
            (F.col("o_orderkey") + F.lit(500_000_000).cast("long"))
            .alias("o_orderkey"),
            (F.col("cents") + 3).alias("cents"),
            (F.col("cents") % 1000).alias("disc"))
        try:
            t.append(batch)
            raise AssertionError("extra column did not refuse")
        except ValueError as e:
            assert "merge_schema=True" in str(e)
        n_ins = t.append(batch, merge_schema=True)
        assert n_ins > 0 and t.count_rows() == n0 + n_ins
        assert t.count_rows(xcol("disc").is_null()) == n0
        return t

    t = memoized(spark, "dv_table_evolve", sf_dir, build)
    # the evolved-column predicate scans ONLY the post-evolution file
    hi = t.query(xcol("disc") > 500)
    dec = t.last_scan
    assert not ({"even.parquet", "odd.parquet"}
                & set(dec.files_scanned)), dec.describe()
    agg = hi.agg(F.count(F.lit(1)).alias("n_hi"),
                 F.sum("disc").alias("sum_hi_disc")).head()
    n = t.count_rows()
    n_pre = t.count_rows(xcol("disc").is_null())
    s, nn = t.sum_rows("cents")
    assert nn == n and t.last_sum_pushdown is not None \
        and t.last_sum_pushdown["partial_row_groups"] == 0
    return local_frame(
        spark, [(n, s, n_pre, agg["n_hi"], agg["sum_hi_disc"])],
        "n_total BIGINT, sum_cents BIGINT, n_pre_evolution BIGINT, "
        "n_hi BIGINT, sum_hi_disc BIGINT")


def q107_page_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE-INDEX (sub-row-group) PRUNING — the reference's own
    named-but-unimplemented third granularity tier
    (sqlx-sqlite/src/main.rs:73-79: file -> row group -> "individual
    rows ... based on the ColumnIndex"): a sorted orders file written
    WITH a Parquet page index (multi-page row groups) is indexed with
    ``page_index_columns=["o_orderkey"]``; a key-range predicate then
    (a) prunes at row-group granularity through the catalog as always,
    and (b) refines the surviving row groups into KEEP row ranges from
    the persisted per-page min/max (sources/page_index.py thrift
    ColumnIndex reader + sources/table._page_refine), served by the
    exact row-group DataSource with vectorized row-range slicing. The
    asserts pin that the page tier actually engaged (rows proven
    non-matching inside surviving row groups > 0 — the golden-trace
    claim "scans fewer rows than the row-group tier") and that
    files-mode and rowgroups-mode agree; the oracle recomputes the
    aggregate relationally. At 100 TB this tier is what turns a point
    lookup on a sorted/clustered column from "read a 100 MB row
    group" into "read a few pages"."""
    import tempfile

    import pyarrow as pa

    from .operators.util import memoized

    def build():
        import pyarrow.parquet as pq

        d = tempfile.mkdtemp(prefix="spark_graft_page_index_")
        base = (_read(spark, sf_dir, "orders")
                .select("o_orderkey",
                        F.round(F.col("o_totalprice") * 100).cast("long")
                        .alias("cents"))
                .orderBy("o_orderkey"))
        pdf = base.toPandas()   # fixture staging only — bounded table
        arrow = pa.Table.from_pandas(pdf, preserve_index=False)
        # multi-page row groups: ~200-row pages, 2+ row groups, WITH
        # the ColumnIndex/OffsetIndex (pyarrow needs the explicit flag;
        # Spark's parquet-mr writer emits one by default)
        pq.write_table(
            arrow, os.path.join(d, "orders_sorted.parquet"),
            row_group_size=max(1000, len(pdf) // 2),
            data_page_size=512, write_batch_size=200,
            write_page_index=True)
        t = IndexedParquetTable(spark, d, ["o_orderkey", "cents"],
                                page_index_columns=["o_orderkey"])
        # files-mode agreement is a one-time proof of the fixture +
        # page tier (ranges are a refinement, not a semantic) — run it
        # when the fixture builds, not as an assert-only extra scan job
        # on every warm re-entry (guide §1.2)
        proof_pred = (xcol("o_orderkey") >= 100) \
            & (xcol("o_orderkey") <= 300)
        assert (t.query(proof_pred, mode="files").count()
                == t.query(proof_pred, mode="rowgroups").count())
        return t

    t = memoized(spark, "page_index_table", sf_dir, build)
    pred = (xcol("o_orderkey") >= 100) & (xcol("o_orderkey") <= 300)
    dec = t.plan_scan(pred)
    assert dec.page_rows_skipped > 0, (
        "page tier did not engage:\n" + dec.describe())
    assert dec.row_ranges, dec.describe()
    df = t.query(pred, mode="rowgroups")
    agg = df.agg(
        F.count(F.lit(1)).alias("n_match"),
        F.sum("cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key")).head()
    return local_frame(
        spark, [(agg["n_match"], agg["sum_cents"],
          agg["min_key"], agg["max_key"])],
        "n_match BIGINT, sum_cents BIGINT, min_key BIGINT, "
        "max_key BIGINT")


RELATIONAL_QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q1_select_limit": q1_select_limit,
    "q2_point_equality": q2_point_equality,
    "q3_or_range_agg": q3_or_range_agg,
    "q4_and_mixed_columns": q4_and_mixed_columns,
    "q5_contradictory_and": q5_contradictory_and,
    "q6_pricing_summary": q6_pricing_summary,
    "q7_join_revenue_by_nation": q7_join_revenue_by_nation,
    "q8_distinct": q8_distinct,
    "q9_window_topn": q9_window_topn,
    "q10_like_prefix": q10_like_prefix,
    "q11_case_when_agg": q11_case_when_agg,
    "q12_in_filter_join": q12_in_filter_join,
    "q13_union_set_op": q13_union_set_op,
    "q14_not_null_arith": q14_not_null_arith,
    "q15_multi_join_lineitem": q15_multi_join_lineitem,
    "q16_date_range": q16_date_range,
    "q17_rollup": q17_rollup,
    "q18_semi_join": q18_semi_join,
    "q19_anti_join": q19_anti_join,
    "q20_asof_join": q20_asof_join,
    "q21_count_distinct": q21_count_distinct,
    "q22_correlated_subquery": q22_correlated_subquery,
    "q23_running_total": q23_running_total,
    "q24_lag_gaps": q24_lag_gaps,
    "q25_set_ops": q25_set_ops,
    "q26_percentiles": q26_percentiles,
    "q27_outer_join_distribution": q27_outer_join_distribution,
    "q28_hll_registers": q28_hll_registers,
    "q29_argmax_join": q29_argmax_join,
    "q30_shift_pred": q30_shift_pred,
    "q31_registered_view": q31_registered_view,
    "q32_bloom_point_lookup": q32_bloom_point_lookup,
    "q33_range_join": q33_range_join,
    "q34_cube": q34_cube,
    "q35_rowgroup_scan": q35_rowgroup_scan,
    "q36_salted_join": q36_salted_join,
    "q37_case_pred": q37_case_pred,
    "q38_exists_subquery": q38_exists_subquery,
    "q39_grouping_sets": q39_grouping_sets,
    "q40_range_frame": q40_range_frame,
    "q41_pivot": q41_pivot,
    "q42_hll_estimate": q42_hll_estimate,
    "q43_in_pred": q43_in_pred,
    "q44_isnull_pred": q44_isnull_pred,
    "q45_binned_quantiles": q45_binned_quantiles,
    "q46_partitioned_scan": q46_partitioned_scan,
    "q47_zorder_scan": q47_zorder_scan,
    "q48_metadata_count": q48_metadata_count,
    "q49_token_search": q49_token_search,
    "q50_join_pruned_scan": q50_join_pruned_scan,
    "q51_partition_group_count": q51_partition_group_count,
    "q52_metadata_minmax": q52_metadata_minmax,
    "q53_hll_union_merge": q53_hll_union_merge,
    "q54_catalog_describe": q54_catalog_describe,
    "q55_colcol_pred": q55_colcol_pred,
    "q56_bucketed_join": q56_bucketed_join,
    "q57_rank_family": q57_rank_family,
    "q58_unpivot": q58_unpivot,
    "q59_nullsafe_join": q59_nullsafe_join,
    "q60_decimal_pred": q60_decimal_pred,
    "q61_count_pushdown": q61_count_pushdown,
    "q62_sum_pushdown": q62_sum_pushdown,
    "q63_group_sum_pushdown": q63_group_sum_pushdown,
    "q68_var_pushdown": q68_var_pushdown,
    "q69_remote_catalog": q69_remote_catalog,
    "q70_group_var_pushdown": q70_group_var_pushdown,
    "q71_catalog_profile": q71_catalog_profile,
    "q72_schema_evolution": q72_schema_evolution,
    "q73_compaction": q73_compaction,
    "q74_incremental_refresh": q74_incremental_refresh,
    "q75_hist_quantiles": q75_hist_quantiles,
    "q76_group_hist_quantiles": q76_group_hist_quantiles,
    "q77_ndv_pushdown": q77_ndv_pushdown,
    "q78_group_ndv": q78_group_ndv,
    "q79_catalog_join_strategy": q79_catalog_join_strategy,
    "q80_dict_groupby": q80_dict_groupby,
    "q83_time_travel": q83_time_travel,
    "q84_snapshot_delta": q84_snapshot_delta,
    "q85_asof_pushdown": q85_asof_pushdown,
    "q86_heavy_hitters": q86_heavy_hitters,
    "q87_group_heavy_hitters": q87_group_heavy_hitters,
    "q88_stream_ingest": q88_stream_ingest,
    "q89_sql_pushdown": q89_sql_pushdown,
    "q90_rtree_plan": q90_rtree_plan,
    "q81_dict_distinct": q81_dict_distinct,
    "q82_dict_pruning": q82_dict_pruning,
    "q64_div_pred": q64_div_pred,
    "q65_decimal_minmax": q65_decimal_minmax,
    "q66_topk_pushdown": q66_topk_pushdown,
    "q67_group_minmax": q67_group_minmax,
    # -- round 7: deletion vectors (merge-on-read row-level deletes) --
    "q91_delete_scan": q91_delete_scan,
    "q92_dv_count_sum_pushdown": q92_dv_count_sum_pushdown,
    "q93_dv_compaction": q93_dv_compaction,
    "q94_merge_upsert": q94_merge_upsert,
    "q95_dedup_delete_vectors": q95_dedup_delete_vectors,
    "q96_stream_retraction": q96_stream_retraction,
    "q97_change_feed": q97_change_feed,
    "q98_update_where": q98_update_where,
    "q99_incremental_agg_from_feed": q99_incremental_agg_from_feed,
    "q100_optimize_lifecycle": q100_optimize_lifecycle,
    "q101_snapshot_restore": q101_snapshot_restore,
    "q102_incremental_join_view_from_feed":
        q102_incremental_join_view_from_feed,
    "q103_append": q103_append,
    "q104_snapshot_expiry": q104_snapshot_expiry,
    "q105_append_merge_schema": q105_append_merge_schema,
    "q107_page_index_scan": q107_page_index_scan,
    "q106_concurrent_writers": q106_concurrent_writers,
}


RELATIONAL_ORACLE: Dict[str, str] = {
    "q1_select_limit": """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 10
    """,
    "q2_point_equality": """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem WHERE l_quantity = 25.0
    """,
    "q3_or_range_agg": """
        SELECT l_returnflag, CAST(COUNT(l_quantity) AS BIGINT) AS cnt_qty
        FROM lineitem WHERE l_quantity < 5.0 OR l_quantity > 45.0
        GROUP BY l_returnflag
    """,
    "q4_and_mixed_columns": """
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
               ROUND(SUM(l_extendedprice), 2) AS sum_price
        FROM lineitem WHERE l_quantity < 5.0 AND l_returnflag = 'A'
    """,
    "q5_contradictory_and": """
        SELECT l_orderkey, l_quantity
        FROM lineitem WHERE l_quantity > 40.0 AND l_quantity < 2.0
    """,
    "q6_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q7_join_revenue_by_nation": """
        SELECT n_name,
               ROUND(SUM(o_totalprice), 2) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS order_cnt
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q8_distinct": """
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
    "q9_window_topn": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
            FROM orders) t
        WHERE rn <= 3
    """,
    "q10_like_prefix": """
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM part WHERE p_name LIKE 'a%' GROUP BY p_brand
    """,
    "q11_case_when_agg": """
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
               ROUND(AVG(o_totalprice), 2) AS avg_price
        FROM (
            SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                        WHEN o_totalprice < 150000 THEN 'medium'
                        ELSE 'large' END AS bucket,
                   o_totalprice
            FROM orders) t
        GROUP BY bucket
    """,
    "q12_in_filter_join": """
        SELECT s_suppkey, s_name, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('UNITED STATES', 'FRANCE', 'GERMANY', 'CHINA')
    """,
    "q13_union_set_op": """
        SELECT DISTINCT nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            UNION ALL
            SELECT s_nationkey AS nationkey FROM supplier) t
    """,
    "q14_not_null_arith": """
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem
        WHERE NOT (l_quantity >= 10.0) AND l_discount IS NOT NULL
          AND (l_extendedprice * 1.1) > 1000.0
    """,
    "q15_multi_join_lineitem": """
        SELECT p_type,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY p_type
    """,
    "q16_date_range": """
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
               ROUND(SUM(l_extendedprice), 2) AS sum_price
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY l_returnflag
    """,
    "q17_rollup": """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               ROUND(SUM(l_extendedprice), 2) AS sum_price,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "q18_semi_join": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
    """,
    "q19_anti_join": """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "q20_asof_join": """
        SELECT p.event_id AS purchase_id, p.user_id, c.last_click_id
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        LEFT JOIN LATERAL (
            SELECT e.event_id AS last_click_id
            FROM events e
            WHERE e.event_type = 'click'
              AND e.user_id = p.user_id AND e.ts <= p.ts
            ORDER BY e.ts DESC, e.event_id DESC
            LIMIT 1
        ) c ON TRUE
    """,
    "q21_count_distinct": """
        SELECT o_orderpriority,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS uniq_custs,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY o_orderpriority
    """,
    "q22_correlated_subquery": """
        WITH o AS (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ), a AS (
            SELECT o_custkey AS ck,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM o GROUP BY o_custkey
        )
        SELECT o_orderkey, o_custkey, o_totalprice,
               sum_cents AS cust_sum_cents, n AS cust_n_orders
        FROM o JOIN a ON o.o_custkey = a.ck
        WHERE 2 * cents * n > 3 * sum_cents
    """,
    "q23_running_total": """
        SELECT o_custkey, o_orderkey,
               ROUND(SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING), 2) AS running_total,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
        FROM orders
    """,
    "q24_lag_gaps": """
        WITH d AS (
            SELECT o_custkey, o_orderkey, o_orderdate,
                   CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day
            FROM orders
        )
        SELECT o_custkey, o_orderkey,
               day - lag(day) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS days_since_prev
        FROM d
    """,
    "q25_set_ops": """
        SELECT nationkey, 'both' AS tag FROM (
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey AS nationkey FROM supplier) a
        UNION ALL
        SELECT nationkey, 'cust_only' AS tag FROM (
            SELECT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT s_nationkey AS nationkey FROM supplier) b
    """,
    "q26_percentiles": """
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY o_orderpriority
    """,
    "q27_outer_join_distribution": """
        WITH per_cust AS (
            SELECT c_custkey,
                   CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM per_cust GROUP BY n_orders
    """,
}

from .functions import sql_hash60 as _sql_hash60  # noqa: E402

RELATIONAL_ORACLE["q37_case_pred"] = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE CASE WHEN l_quantity <= 2 THEN 1 ELSE 0 END = 1
    GROUP BY l_returnflag
"""

RELATIONAL_ORACLE["q36_salted_join"] = """
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS sum_qty_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
"""

RELATIONAL_ORACLE["q35_rowgroup_scan"] = """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity = 25.0
"""

RELATIONAL_ORACLE["q34_cube"] = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

RELATIONAL_ORACLE["q33_range_join"] = """
    SELECT a.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_nearby
    FROM orders a JOIN orders b
      ON abs(datediff('day', CAST(a.o_orderdate AS DATE),
                      CAST(b.o_orderdate AS DATE))) <= 1
     AND a.o_orderkey != b.o_orderkey
    GROUP BY a.o_orderkey
"""

RELATIONAL_ORACLE["q32_bloom_point_lookup"] = """
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment
    FROM customer WHERE c_name = 'Customer#000000100'
"""

RELATIONAL_ORACLE["q30_shift_pred"] = """
    SELECT p_brand, COUNT(*) AS cnt, CAST(SUM(p_size) AS BIGINT) AS sum_size
    FROM part
    WHERE (p_size << 2) >= 100 AND (p_size >> 1) <= 20
    GROUP BY p_brand
"""

RELATIONAL_ORACLE["q31_registered_view"] = """
    SELECT p_type, COUNT(*) AS cnt,
           MIN(p_retailprice) AS min_price,
           MAX(p_retailprice) AS max_price
    FROM part
    WHERE p_size >= 40
    GROUP BY p_type
"""

RELATIONAL_ORACLE["q29_argmax_join"] = """
    SELECT n_name, s_name AS top_supplier, s_acctbal AS acctbal FROM (
        SELECT n_name, s_name, s_acctbal,
               ROW_NUMBER() OVER (
                   PARTITION BY s_nationkey
                   ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
        FROM supplier JOIN nation ON s_nationkey = n_nationkey) t
    WHERE rn = 1
"""

RELATIONAL_ORACLE["q28_hll_registers"] = f"""
    WITH h AS (
        SELECT {_sql_hash60('o_custkey::VARCHAR')} AS hv FROM orders
    )
    SELECT CAST(hv % {HLL_BUCKETS} AS INT) AS bucket,
           CAST(MAX({_hll_rho_sql('hv')}) AS INT) AS register
    FROM h GROUP BY 1
"""

RELATIONAL_ORACLE["q38_exists_subquery"] = """
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 150000)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    GROUP BY n_name
"""

RELATIONAL_ORACLE["q39_grouping_sets"] = """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
"""

RELATIONAL_ORACLE["q40_range_frame"] = """
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_in_band,
           CAST(SUM(cents) OVER w AS BIGINT) AS band_cents
    FROM (SELECT o_orderkey, o_custkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders) t
    WINDOW w AS (PARTITION BY o_custkey ORDER BY cents
                 RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING)
"""

RELATIONAL_ORACLE["q41_pivot"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
               AS cnt_open,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS cnt_finished,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT)
               AS cnt_pending
    FROM orders GROUP BY o_orderpriority
"""

RELATIONAL_ORACLE["q42_hll_estimate"] = f"""
    WITH h AS (
        SELECT {_sql_hash60('o_custkey::VARCHAR')} AS hv FROM orders
    ), regs AS (
        SELECT hv % {HLL_BUCKETS} AS bucket,
               MAX({_hll_rho_sql('hv')}) AS register
        FROM h GROUP BY 1
    ), fullregs AS (
        SELECT COALESCE(register, 0) AS register
        FROM range(0, {HLL_BUCKETS}) t(b)
        LEFT JOIN regs ON bucket = b
    ), s AS (
        SELECT SUM(1::BIGINT << (55 - register)) AS ind_sum FROM fullregs
    ), e AS (
        SELECT COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders
    )
    SELECT ROUND({_HLL_A!r} / ind_sum, 2) AS hll_estimate,
           CAST(exact_distinct AS BIGINT) AS exact_distinct,
           ROUND(({_HLL_A!r} / ind_sum - exact_distinct)
                 / exact_distinct, 4) AS rel_err
    FROM s CROSS JOIN e
"""

RELATIONAL_ORACLE["q43_in_pred"] = """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer WHERE c_custkey IN (17, 142, 999999999)
"""

RELATIONAL_ORACLE["q44_isnull_pred"] = """
    SELECT o_orderkey, o_orderpriority
    FROM orders WHERE o_orderpriority IS NULL
"""

RELATIONAL_ORACLE["q45_binned_quantiles"] = f"""
    WITH cents AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem
    ), bins AS (
        -- CAST(FLOOR(...)) not //: DuckDB's // truncates toward zero
        -- while the Spark side uses F.floor, and the bin value IS an
        -- output (est_lower_cents) — the engines would diverge on any
        -- negative cents value. (The division is correctly-rounded
        -- IEEE: c is an integer with |c/bin - k| >= 1/bin >> ulp, so
        -- FLOOR can never flip across an integer boundary.)
        SELECT CAST(FLOOR(c / {Q45_BIN_CENTS}.0) AS BIGINT) AS bin,
               COUNT(*) AS cnt
        FROM cents GROUP BY 1
    ), cum AS (
        SELECT bin, SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                    AS cum
        FROM bins
    ), total AS (
        SELECT COUNT(*) AS n FROM cents
    ), thr AS (
        SELECT pct, CAST(ceil(pct * n / 100.0) AS BIGINT) AS thr
        FROM (VALUES {", ".join(f"({p})" for p in Q45_PCTS)}) v(pct)
        CROSS JOIN total
    )
    SELECT pct, CAST(MIN(bin) * {Q45_BIN_CENTS} AS BIGINT)
               AS est_lower_cents
    FROM thr JOIN cum ON cum >= thr
    GROUP BY pct
"""

RELATIONAL_ORACLE["q46_partitioned_scan"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 200000
    GROUP BY o_orderpriority
"""

RELATIONAL_ORACLE["q47_zorder_scan"] = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 15
      AND l_extendedprice BETWEEN 20000 AND 30000
    GROUP BY l_returnflag
"""

RELATIONAL_ORACLE["q48_metadata_count"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(COUNT(*) FILTER (WHERE l_quantity > 1e9) AS BIGINT)
               AS impossible_rows
    FROM lineitem
"""


def _q49_sql() -> str:
    from .functions import sql_tokens

    return f"""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE list_contains({sql_tokens("text")}, 'merge')
          AND doc_id < 250
    """


RELATIONAL_ORACLE["q49_token_search"] = _q49_sql()

RELATIONAL_ORACLE["q51_partition_group_count"] = """
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
"""

RELATIONAL_ORACLE["q52_metadata_minmax"] = """
    SELECT CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem
"""

RELATIONAL_ORACLE["q53_hll_union_merge"] = f"""
    WITH keys AS (
        SELECT o_custkey::VARCHAR AS k FROM orders
        UNION ALL
        SELECT c_custkey::VARCHAR AS k FROM customer
    ), h AS (
        SELECT {_sql_hash60('k')} AS hv FROM keys
    ), regs AS (
        SELECT hv % {HLL_BUCKETS} AS bucket,
               MAX({_hll_rho_sql('hv')}) AS register
        FROM h GROUP BY 1
    ), fullregs AS (
        SELECT COALESCE(register, 0) AS register
        FROM range(0, {HLL_BUCKETS}) t(b)
        LEFT JOIN regs ON bucket = b
    ), s AS (
        SELECT SUM(1::BIGINT << (55 - register)) AS ind_sum FROM fullregs
    ), e AS (
        SELECT COUNT(DISTINCT k) AS exact_union_distinct
        FROM (SELECT o_custkey AS k FROM orders
              UNION ALL SELECT c_custkey FROM customer)
    )
    SELECT ROUND({_HLL_A!r} / ind_sum, 2) AS hll_union_estimate,
           CAST(exact_union_distinct AS BIGINT) AS exact_union_distinct
    FROM s CROSS JOIN e
"""

RELATIONAL_ORACLE["q54_catalog_describe"] = """
    SELECT 'o_custkey' AS column_name,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS null_count,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(MIN(o_totalprice) AS DOUBLE),
           CAST(MAX(o_totalprice) AS DOUBLE)
    FROM orders
"""

RELATIONAL_ORACLE["q55_colcol_pred"] = """
    SELECT CAST(COUNT(*) FILTER (WHERE l_discount >= l_tax) AS BIGINT)
               AS n_cheap,
           CAST(COUNT(*) FILTER (WHERE l_quantity > l_extendedprice)
                AS BIGINT) AS n_impossible
    FROM lineitem
"""

RELATIONAL_ORACLE["q56_bucketed_join"] = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
"""

RELATIONAL_ORACLE["q57_rank_family"] = """
    WITH ranked AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               CAST(FLOOR(PERCENT_RANK() OVER w * 10000) AS BIGINT)
                   AS pr_bp,
               CAST(FLOOR(CUME_DIST() OVER w * 10000) AS BIGINT) AS cd_bp
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY CAST(round(o_totalprice * 100) AS BIGINT))
    )
    SELECT o_orderkey, o_orderpriority, cents,
           CAST(rnk AS BIGINT) AS rnk, CAST(drnk AS BIGINT) AS drnk,
           pr_bp, cd_bp
    FROM ranked WHERE o_orderkey % 199 = 0
"""

RELATIONAL_ORACLE["q58_unpivot"] = """
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders
    WHERE o_orderstatus IN ('O', 'F', 'P')
    GROUP BY o_orderpriority, o_orderstatus
"""

RELATIONAL_ORACLE["q59_nullsafe_join"] = """
    WITH dim AS (
        SELECT DISTINCT o_orderpriority AS p,
               COALESCE(o_orderpriority, '(none)') AS label
        FROM orders
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders JOIN dim ON o_orderpriority IS NOT DISTINCT FROM p
    GROUP BY label
"""

RELATIONAL_ORACLE["q60_decimal_pred"] = """
    WITH d AS (
        SELECT l_returnflag,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS ep
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(ep * 100 AS BIGINT)) AS BIGINT) AS sum_cents
    FROM d
    WHERE ep >= 20000.00 AND ep <= 30000.00
    GROUP BY l_returnflag
"""

RELATIONAL_ORACLE["q61_count_pushdown"] = """
    SELECT CAST(COUNT(*) FILTER (WHERE o_totalprice < 150000) AS BIGINT)
               AS n_below,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 0) AS BIGINT)
               AS n_all
    FROM orders
"""

RELATIONAL_ORACLE["q62_sum_pushdown"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(COUNT(cents) AS BIGINT) AS total_n,
           CAST(SUM(cents) FILTER (WHERE cents BETWEEN 5000000
                                   AND 30000000) AS BIGINT) AS range_cents,
           CAST(COUNT(cents) FILTER (WHERE cents BETWEEN 5000000
                                     AND 30000000) AS BIGINT) AS range_n,
           CAST(MIN(cents) FILTER (WHERE cents BETWEEN 5000000
                                   AND 30000000) AS BIGINT) AS range_min,
           CAST(MAX(cents) FILTER (WHERE cents BETWEEN 5000000
                                   AND 30000000) AS BIGINT) AS range_max
    FROM c
"""

RELATIONAL_ORACLE["q76_group_hist_quantiles"] = f"""
    WITH c AS (
        SELECT o_orderstatus AS g,
               CAST(round(o_totalprice) AS BIGINT) AS v
        FROM orders
    ), b AS (
        SELECT MIN(v) AS lo, MAX(v) AS hi FROM c
    ), binned AS (
        SELECT g, LEAST(GREATEST((v - lo) * {HIST_NBINS} // (hi - lo + 1),
                                 0), {HIST_NBINS - 1}) AS bin
        FROM c CROSS JOIN b
    ), hist AS (
        SELECT g, bin, COUNT(*) AS cnt FROM binned GROUP BY g, bin
    ), tot AS (
        SELECT g, SUM(cnt) AS n FROM hist GROUP BY g
    ), cum AS (
        SELECT g, bin, cnt,
               SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum_through,
               SUM(cnt) OVER (PARTITION BY g ORDER BY bin) - cnt
                   AS cum_before
        FROM hist
    ), qs AS (
        SELECT unnest([{", ".join(str(q) for q in HIST_QS)}]) AS q
    ), t AS (
        SELECT tot.g, q,
               LEAST(GREATEST((q * n + 999) // 1000, 1), n) AS target, n
        FROM qs CROSS JOIN tot
    ), pick AS (
        SELECT t.g, t.q, t.n, t.target,
               cum.bin, cum.cnt, cum.cum_before,
               ROW_NUMBER() OVER (PARTITION BY t.g, t.q
                                  ORDER BY cum.bin) AS rn
        FROM t JOIN cum ON cum.g = t.g AND cum.cum_through >= t.target
    )
    SELECT g AS o_orderstatus,
           CAST(q AS BIGINT) AS q_permille,
           CAST(lo + ((hi - lo + 1) * bin) // {HIST_NBINS}
                   + (((hi - lo + 1) // {HIST_NBINS})
                      * (target - cum_before - 1))
                     // GREATEST(cnt, 1)
                AS BIGINT) AS est_dollars,
           CAST(n AS BIGINT) AS n_rows
    FROM pick CROSS JOIN b WHERE rn = 1
"""

RELATIONAL_ORACLE["q79_catalog_join_strategy"] = """
    WITH c AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), j AS (
        SELECT cents, CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem JOIN c ON l_orderkey = o_orderkey
    )
    SELECT CAST(SUM(CASE WHEN cents >= 35000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_narrow,
           CAST(SUM(CASE WHEN cents >= 35000000 THEN qty END)
                AS BIGINT) AS qty_narrow,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(SUM(qty) AS BIGINT) AS qty_all
    FROM j
"""

RELATIONAL_ORACLE["q77_ndv_pushdown"] = f"""
    WITH hc AS (
        SELECT {_sql_hash60('o_custkey::VARCHAR')} AS hv FROM orders
        WHERE o_custkey IS NOT NULL
    ), regsc AS (
        SELECT hv % {HLL_BUCKETS} AS bucket,
               MAX({_hll_rho_sql('hv')}) AS register
        FROM hc GROUP BY 1
    ), fullc AS (
        SELECT COALESCE(register, 0) AS register
        FROM range(0, {HLL_BUCKETS}) t(b)
        LEFT JOIN regsc ON bucket = b
    ), sc AS (
        SELECT SUM(1::BIGINT << (55 - register)) AS ind_sum FROM fullc
    ), ho AS (
        SELECT {_sql_hash60('o_orderkey::VARCHAR')} AS hv FROM orders
        WHERE o_orderkey IS NOT NULL
    ), regso AS (
        SELECT hv % {HLL_BUCKETS} AS bucket,
               MAX({_hll_rho_sql('hv')}) AS register
        FROM ho GROUP BY 1
    ), fullo AS (
        SELECT COALESCE(register, 0) AS register
        FROM range(0, {HLL_BUCKETS}) t(b)
        LEFT JOIN regso ON bucket = b
    ), so AS (
        SELECT SUM(1::BIGINT << (55 - register)) AS ind_sum FROM fullo
    )
    SELECT ROUND({_HLL_A!r} / sc.ind_sum, 2) AS ndv_custkey,
           ROUND({_HLL_A!r} / so.ind_sum, 2) AS ndv_orderkey,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows
    FROM sc CROSS JOIN so
"""

RELATIONAL_ORACLE["q78_group_ndv"] = f"""
    WITH h AS (
        SELECT o_orderstatus AS g,
               {_sql_hash60('o_custkey::VARCHAR')} AS hv
        FROM orders WHERE o_custkey IS NOT NULL
    ), regs AS (
        SELECT g, hv % {HLL_BUCKETS} AS bucket,
               MAX({_hll_rho_sql('hv')}) AS register
        FROM h GROUP BY 1, 2
    ), groups AS (
        SELECT DISTINCT o_orderstatus AS g FROM orders
    ), fullregs AS (
        SELECT groups.g, COALESCE(register, 0) AS register
        FROM groups CROSS JOIN range(0, {HLL_BUCKETS}) t(b)
        LEFT JOIN regs ON regs.g = groups.g AND regs.bucket = b
    ), s AS (
        SELECT g, SUM(1::BIGINT << (55 - register)) AS ind_sum
        FROM fullregs GROUP BY g
    )
    SELECT g AS o_orderstatus,
           ROUND({_HLL_A!r} / ind_sum, 2) AS ndv_custkey
    FROM s
"""

RELATIONAL_ORACLE["q75_hist_quantiles"] = f"""
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ), b AS (
        SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM c
    ), binned AS (
        SELECT LEAST(GREATEST((v - lo) * {HIST_NBINS} // (hi - lo + 1),
                              0), {HIST_NBINS - 1}) AS bin
        FROM c CROSS JOIN b
    ), hist AS (
        SELECT bin, COUNT(*) AS cnt FROM binned GROUP BY bin
    ), cum AS (
        SELECT bin, cnt,
               SUM(cnt) OVER (ORDER BY bin) AS cum_through,
               SUM(cnt) OVER (ORDER BY bin) - cnt AS cum_before
        FROM hist
    ), qs AS (
        SELECT unnest([{", ".join(str(q) for q in HIST_QS)}]) AS q
    ), t AS (
        SELECT q, LEAST(GREATEST((q * n + 999) // 1000, 1), n) AS target,
               lo, hi, n
        FROM qs CROSS JOIN b
    ), pick AS (
        SELECT t.q, t.n, t.lo, t.hi, t.target,
               cum.bin, cum.cnt, cum.cum_before,
               ROW_NUMBER() OVER (PARTITION BY t.q
                                  ORDER BY cum.bin) AS rn
        FROM t JOIN cum ON cum.cum_through >= t.target
    )
    SELECT CAST(q AS BIGINT) AS q_permille,
           CAST(lo + ((hi - lo + 1) * bin) // {HIST_NBINS}
                   + (((hi - lo + 1) // {HIST_NBINS})
                      * (target - cum_before - 1))
                     // GREATEST(cnt, 1)
                AS BIGINT) AS est_cents,
           CAST(n AS BIGINT) AS n_rows
    FROM pick WHERE rn = 1
"""

RELATIONAL_ORACLE["q83_time_travel"] = """
    WITH c AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_current,
           CAST(SUM(CASE WHEN o_orderkey % 3 IN (1, 2)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_asof,
           CAST(SUM(CASE WHEN o_orderkey % 3 IN (1, 2)
                          AND cents BETWEEN 10000000 AND 20000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_rng_asof,
           CAST(SUM(CASE WHEN o_orderkey % 3 IN (1, 2)
                          AND cents BETWEEN 10000000 AND 20000000
                         THEN cents END) AS BIGINT) AS sum_rng_asof_cents
    FROM c
"""

RELATIONAL_ORACLE["q89_sql_pushdown"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT cents % 10 AS last_digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM c WHERE cents BETWEEN 5000000 AND 30000000
    GROUP BY cents % 10
"""

RELATIONAL_ORACLE["q88_stream_ingest"] = """
    WITH c AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b0,
           CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN cents END)
                AS BIGINT) AS sum_b0_cents,
           CAST(SUM(CASE WHEN o_orderkey % 3 IN (0, 1) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b1,
           CAST(SUM(CASE WHEN o_orderkey % 3 IN (0, 1) THEN cents END)
                AS BIGINT) AS sum_b1_cents,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(SUM(cents) AS BIGINT) AS sum_all_cents
    FROM c
"""

RELATIONAL_ORACLE["q86_heavy_hitters"] = f"""
    WITH g AS (
        SELECT o_orderkey % 4 AS rg, o_custkey AS v
        FROM orders WHERE o_custkey IS NOT NULL
    ), cnt AS (
        SELECT rg, v, COUNT(*) AS c FROM g GROUP BY rg, v
    ), ranked AS (
        SELECT rg, v, c,
               ROW_NUMBER() OVER (PARTITION BY rg
                                  ORDER BY c DESC, v ASC) AS rn
        FROM cnt
    ), stored AS (
        SELECT rg, v, c FROM ranked WHERE rn <= {TOPK_HH_K}
    ), pergroup AS (
        SELECT rg,
               MAX(CASE WHEN rn = {TOPK_HH_K} THEN c ELSE 0 END) AS kth,
               SUM(c) - SUM(CASE WHEN rn <= {TOPK_HH_K} THEN c
                            ELSE 0 END) AS rest
        FROM ranked GROUP BY rg
    ), lower_b AS (
        SELECT v, SUM(c) AS lo FROM stored GROUP BY v
    ), slack AS (
        SELECT l.v,
               SUM(CASE WHEN s.v IS NULL
                        THEN LEAST(p.kth, p.rest) ELSE 0 END) AS sl
        FROM lower_b l
        CROSS JOIN pergroup p
        LEFT JOIN stored s ON s.rg = p.rg AND s.v = l.v
        GROUP BY l.v
    )
    SELECT l.v AS value, CAST(l.lo AS BIGINT) AS lower_cnt,
           CAST(l.lo + k.sl AS BIGINT) AS upper_cnt
    FROM lower_b l JOIN slack k ON k.v = l.v
    ORDER BY l.lo DESC, l.v ASC
    LIMIT {TOPK_HH_N}
"""

RELATIONAL_ORACLE["q87_group_heavy_hitters"] = f"""
    WITH g AS (
        SELECT o_orderstatus AS grp, o_orderkey % 2 AS rg, o_custkey AS v
        FROM orders WHERE o_custkey IS NOT NULL
    ), cnt AS (
        SELECT grp, rg, v, COUNT(*) AS c FROM g GROUP BY grp, rg, v
    ), ranked AS (
        SELECT grp, rg, v, c,
               ROW_NUMBER() OVER (PARTITION BY grp, rg
                                  ORDER BY c DESC, v ASC) AS rn
        FROM cnt
    ), stored AS (
        SELECT grp, rg, v, c FROM ranked WHERE rn <= {TOPK_HH_K}
    ), pergroup AS (
        SELECT grp, rg,
               MAX(CASE WHEN rn = {TOPK_HH_K} THEN c ELSE 0 END) AS kth,
               SUM(c) - SUM(CASE WHEN rn <= {TOPK_HH_K} THEN c
                            ELSE 0 END) AS rest
        FROM ranked GROUP BY grp, rg
    ), lower_b AS (
        SELECT grp, v, SUM(c) AS lo FROM stored GROUP BY grp, v
    ), slack AS (
        SELECT l.grp, l.v,
               SUM(CASE WHEN s.v IS NULL
                        THEN LEAST(p.kth, p.rest) ELSE 0 END) AS sl
        FROM lower_b l
        JOIN pergroup p ON p.grp = l.grp
        LEFT JOIN stored s ON s.grp = l.grp AND s.rg = p.rg AND s.v = l.v
        GROUP BY l.grp, l.v
    ), fused AS (
        SELECT l.grp, l.v, l.lo, l.lo + k.sl AS hi,
               ROW_NUMBER() OVER (PARTITION BY l.grp
                                  ORDER BY l.lo DESC, l.v ASC) AS rn
        FROM lower_b l JOIN slack k ON k.grp = l.grp AND k.v = l.v
    )
    SELECT grp AS o_orderstatus, v AS value,
           CAST(lo AS BIGINT) AS lower_cnt, CAST(hi AS BIGINT) AS upper_cnt
    FROM fused WHERE rn <= {TOPK_HH_N}
"""

RELATIONAL_ORACLE["q84_snapshot_delta"] = """
    WITH c AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT CAST(1 AS BIGINT) AS n_added_files,
           CAST(COUNT(*) AS BIGINT) AS n_delta,
           CAST(SUM(cents) AS BIGINT) AS sum_delta_cents
    FROM c
"""

RELATIONAL_ORACLE["q85_asof_pushdown"] = """
    WITH c AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(SUM(CASE WHEN o_orderkey % 3 IN (1, 2)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_asof,
           CAST(SUM(CASE WHEN o_orderkey % 3 IN (1, 2)
                         THEN cents END) AS BIGINT) AS sum_asof_cents,
           CAST(COUNT(*) AS BIGINT) AS n_current,
           CAST(SUM(cents) AS BIGINT) AS sum_current_cents
    FROM c
"""

RELATIONAL_ORACLE["q80_dict_groupby"] = """
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders WHERE o_orderstatus IS NOT NULL
    GROUP BY o_orderstatus
"""

RELATIONAL_ORACLE["q81_dict_distinct"] = """
    SELECT DISTINCT o_orderpriority
    FROM orders WHERE o_orderpriority IS NOT NULL
"""

RELATIONAL_ORACLE["q82_dict_pruning"] = """
    WITH o AS (
        SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eq,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_eq,
           CAST(COUNT(*) AS BIGINT) AS n_notin,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_notin
    FROM o
"""

RELATIONAL_ORACLE["q74_incremental_refresh"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN cents BETWEEN 10000000 AND 20000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_rng,
           CAST(SUM(CASE WHEN cents BETWEEN 10000000 AND 20000000
                         THEN cents END) AS BIGINT) AS sum_rng_cents
    FROM c
"""

RELATIONAL_ORACLE["q73_compaction"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rng,
           CAST(SUM(cents) AS BIGINT) AS sum_rng_cents
    FROM c WHERE cents BETWEEN 10000000 AND 20000000
"""

RELATIONAL_ORACLE["q72_schema_evolution"] = """
    WITH c AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 1
                    THEN CAST(round(o_totalprice * 100) AS BIGINT)
               END AS cents
        FROM orders
    )
    SELECT CAST(SUM(CASE WHEN cents > 30000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hi,
           CAST(SUM(CASE WHEN cents > 30000000 THEN cents END)
                AS BIGINT) AS sum_hi_cents,
           CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pre_evolution
    FROM c
"""

RELATIONAL_ORACLE["q71_catalog_profile"] = """
    WITH c AS (
        SELECT o_orderstatus,
               CAST(round(o_totalprice) AS BIGINT) AS d
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(d) AS BIGINT) AS sum_dollars,
           CAST(MIN(d) AS BIGINT) AS min_dollars,
           CAST(MAX(d) AS BIGINT) AS max_dollars,
           CAST(SUM(d) * 1000 // COUNT(*) AS BIGINT) AS avg_milli,
           CAST((COUNT(*) * SUM(d * d) - SUM(d) * SUM(d)) * 1000
                // (COUNT(*) * COUNT(*)) AS BIGINT) AS var_pop_milli
    FROM c GROUP BY o_orderstatus
"""

RELATIONAL_ORACLE["q70_group_var_pushdown"] = """
    WITH c AS (
        SELECT o_orderstatus,
               CAST(round(o_totalprice) AS BIGINT) AS d
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(SUM(d) AS BIGINT) AS sum_dollars,
           CAST(SUM(d * d) AS BIGINT) AS sumsq_dollars,
           CAST(COUNT(d) AS BIGINT) AS n,
           CAST((CAST(COUNT(d) AS HUGEINT) * SUM(d * d)
                 - CAST(SUM(d) AS HUGEINT) * SUM(d)) * 1000
                // (CAST(COUNT(d) AS HUGEINT) * COUNT(d))
                AS BIGINT) AS var_pop_milli
    FROM c GROUP BY o_orderstatus
"""

RELATIONAL_ORACLE["q90_rtree_plan"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           round(SUM(o_totalprice), 2) AS sum_price,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    WHERE o_totalprice BETWEEN 100000 AND 200000
"""

RELATIONAL_ORACLE["q69_remote_catalog"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           round(SUM(o_totalprice), 2) AS sum_price,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    WHERE o_totalprice BETWEEN 100000 AND 200000
"""

RELATIONAL_ORACLE["q68_var_pushdown"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice) AS BIGINT) AS d FROM orders
    ),
    a AS (
        SELECT CAST(SUM(d) AS BIGINT) AS sum_all,
               CAST(SUM(d * d) AS BIGINT) AS sumsq_all,
               CAST(COUNT(d) AS BIGINT) AS n_all
        FROM c
    ),
    r AS (
        SELECT CAST(SUM(d) AS BIGINT) AS sum_rng,
               CAST(SUM(d * d) AS BIGINT) AS sumsq_rng,
               CAST(COUNT(d) AS BIGINT) AS n_rng
        FROM c WHERE d BETWEEN 50000 AND 300000
    )
    SELECT a.sum_all, a.sumsq_all, a.n_all,
           r.sum_rng, r.sumsq_rng, r.n_rng,
           CAST((CAST(r.n_rng AS HUGEINT) * r.sumsq_rng
                 - CAST(r.sum_rng AS HUGEINT) * r.sum_rng) * 1000
                // (CAST(r.n_rng AS HUGEINT) * r.n_rng)
                AS BIGINT) AS var_pop_milli
    FROM a, r
"""

RELATIONAL_ORACLE["q63_group_sum_pushdown"] = """
    SELECT o_orderstatus,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(COUNT(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS n
    FROM orders GROUP BY o_orderstatus
"""

RELATIONAL_ORACLE["q64_div_pred"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(COUNT(*) FILTER (WHERE cents / 100 <= 70000) AS BIGINT)
               AS n_low,
           CAST(SUM(cents) FILTER (WHERE cents / 100 <= 70000) AS BIGINT)
               AS sum_low_cents,
           CAST(COUNT(*) FILTER (WHERE cents % 100 >= 100) AS BIGINT)
               AS n_impossible
    FROM c
"""

RELATIONAL_ORACLE["q67_group_minmax"] = """
    WITH c AS (
        SELECT o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(COUNT(cents) AS BIGINT) AS n
    FROM c GROUP BY o_orderstatus
"""

RELATIONAL_ORACLE["q66_topk_pushdown"] = """
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
    ORDER BY price_cents DESC NULLS LAST, o_orderkey ASC
    LIMIT 10
"""

RELATIONAL_ORACLE["q65_decimal_minmax"] = """
    WITH d AS (
        SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS ep FROM lineitem
    )
    SELECT CAST(MIN(ep) AS DOUBLE) AS min_ep,
           CAST(MAX(ep) AS DOUBLE) AS max_ep,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM d
"""

RELATIONAL_ORACLE["q50_join_pruned_scan"] = """
    SELECT c_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey IN (7, 61, 139)
    GROUP BY c_name
"""

RELATIONAL_ORACLE["q91_delete_scan"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(cents % 5 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM c
    WHERE cents % 7 <> 0
      AND cents BETWEEN 5000000 AND 25000000
    GROUP BY cents % 5
"""

RELATIONAL_ORACLE["q92_dv_count_sum_pushdown"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(cents) AS BIGINT) AS sum_live_cents,
           CAST(SUM(CAST(cents AS HUGEINT) * cents) AS VARCHAR)
               AS sumsq_live_cents
    FROM c WHERE cents % 7 <> 0
"""

RELATIONAL_ORACLE["q93_dv_compaction"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(cents) AS BIGINT) AS sum_live_cents,
           CAST(MIN(cents) AS BIGINT) AS min_live_cents,
           CAST(MAX(cents) AS BIGINT) AS max_live_cents
    FROM c WHERE cents % 7 <> 0
"""

RELATIONAL_ORACLE["q94_merge_upsert"] = """
    WITH c AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN o_orderkey % 97 = 0
                         THEN cents + 1 ELSE cents END) AS BIGINT)
               AS sum_cents,
           CAST(SUM(CASE WHEN o_orderkey % 97 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
    FROM c
"""

RELATIONAL_ORACLE["q95_dedup_delete_vectors"] = """
    WITH f AS (
        SELECT doc_id, md5(substr(text, 1, 40)) AS fp FROM documents
    ),
    k AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY fp)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST((SELECT COUNT(*) FROM f) - COUNT(*) AS BIGINT)
               AS n_deleted
    FROM k
"""

RELATIONAL_ORACLE["q97_change_feed"] = """
    WITH c AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    dels AS (
        SELECT k, cents FROM c WHERE cents % 7 = 0
        UNION ALL
        SELECT k, cents FROM c WHERE k % 97 = 0 AND cents % 7 <> 0
    ),
    ins AS (
        SELECT k, cents + 1 AS cents FROM c WHERE k % 97 = 0
    )
    SELECT 'delete' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(k) AS BIGINT) AS sum_key
    FROM dels
    UNION ALL
    SELECT 'insert' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(k) AS BIGINT) AS sum_key
    FROM ins
    ORDER BY change_type
"""

RELATIONAL_ORACLE["q98_update_where"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN cents % 11 = 0
                         THEN cents + 1000 ELSE cents END) AS BIGINT)
               AS sum_cents,
           CAST(SUM(CASE WHEN cents % 11 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
    FROM c
"""

RELATIONAL_ORACLE["q99_incremental_agg_from_feed"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    live AS (
        SELECT CASE WHEN cents % 11 = 0 THEN cents + 1003
                    ELSE cents END AS cents
        FROM c WHERE cents % 3 <> 1
    )
    SELECT CAST(cents % 5 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM live
    GROUP BY cents % 5
    ORDER BY bucket
"""

RELATIONAL_ORACLE["q100_optimize_lifecycle"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN cents % 13 = 0
                         THEN cents + 1 ELSE cents END) AS BIGINT)
               AS sum_cents
    FROM c
"""

RELATIONAL_ORACLE["q102_incremental_join_view_from_feed"] = """
    WITH c AS (
        SELECT o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    live AS (
        SELECT o_custkey,
               CASE WHEN cents % 11 = 0 THEN cents + 500
                    ELSE cents END AS cents
        FROM c WHERE cents % 3 <> 1
    )
    SELECT CAST(cu.c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(live.cents) AS BIGINT) AS sum_cents
    FROM live JOIN customer cu ON cu.c_custkey = live.o_custkey
    GROUP BY cu.c_nationkey
    ORDER BY nationkey
"""

RELATIONAL_ORACLE["q101_snapshot_restore"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM c
"""

RELATIONAL_ORACLE["q103_append"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST((SELECT COUNT(*) FROM c)
                + (SELECT COUNT(*) FROM c WHERE cents % 9 = 4)
                AS BIGINT) AS n_total,
           CAST((SELECT SUM(cents) FROM c)
                + COALESCE((SELECT SUM(cents + 7) FROM c
                            WHERE cents % 9 = 4), 0)
                AS BIGINT) AS sum_cents
"""

RELATIONAL_ORACLE["q104_snapshot_expiry"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    live AS (
        SELECT CASE WHEN cents % 7 = 3 THEN cents + 11
                    ELSE cents END AS cents
        FROM c WHERE cents % 5 <> 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM live
"""

RELATIONAL_ORACLE["q105_append_merge_schema"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    b AS (
        SELECT cents + 3 AS cents, cents % 1000 AS disc
        FROM c WHERE cents % 11 = 5
    )
    SELECT CAST((SELECT COUNT(*) FROM c) + (SELECT COUNT(*) FROM b)
                AS BIGINT) AS n_total,
           CAST((SELECT SUM(cents) FROM c)
                + COALESCE((SELECT SUM(cents) FROM b), 0)
                AS BIGINT) AS sum_cents,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_pre_evolution,
           CAST((SELECT COUNT(*) FROM b WHERE disc > 500)
                AS BIGINT) AS n_hi,
           CAST(COALESCE((SELECT SUM(disc) FROM b WHERE disc > 500), 0)
                AS BIGINT) AS sum_hi_disc
"""

RELATIONAL_ORACLE["q107_page_index_scan"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_match,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey BETWEEN 100 AND 300
"""

RELATIONAL_ORACLE["q106_concurrent_writers"] = """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    live AS (SELECT cents FROM c WHERE cents % 17 <> 3),
    b AS (SELECT cents + 5 AS cents FROM c WHERE cents % 13 = 6)
    SELECT CAST((SELECT COUNT(*) FROM live) + (SELECT COUNT(*) FROM b)
                AS BIGINT) AS n_total,
           CAST(COALESCE((SELECT SUM(cents) FROM live), 0)
                + COALESCE((SELECT SUM(cents) FROM b), 0)
                AS BIGINT) AS sum_cents
"""

RELATIONAL_ORACLE["q96_stream_retraction"] = """
    WITH c AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(SUM(CASE WHEN NOT (cents % 10 = 3
                                   AND o_orderkey % 3 <= 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_era0,
           CAST(SUM(CASE WHEN NOT (cents % 10 = 3
                                   AND o_orderkey % 3 <= 1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_era1,
           CAST(SUM(CASE WHEN cents % 10 <> 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
           CAST(SUM(CASE WHEN cents % 10 <> 3
                         THEN cents END) AS BIGINT) AS sum_live_cents,
           CAST(SUM(CASE WHEN cents % 10 = 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_retracted
    FROM c
"""
