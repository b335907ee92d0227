"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` maps every
implemented operator of SURVEY.md §2 (plus north-star extensions) to a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the
DuckDB-runnable ANSI-SQL twin of each query. Column names/aliases match
exactly between the two sides (the driver sorts columns by name before
value-hashing).
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_grouper_spark import keys, oracles
from dataset_grouper_spark.functions import dp as dp_fns
from dataset_grouper_spark.functions import featurize, textanalysis, textstats
from dataset_grouper_spark.functions import bpe as bpe_fns
from dataset_grouper_spark.functions import lm as lm_fns
from dataset_grouper_spark.functions import sketches as sketches_fns
from dataset_grouper_spark.functions import bloom
from dataset_grouper_spark.functions import hashing, quality, vocab
from dataset_grouper_spark.operators import profile as profile_ops
from dataset_grouper_spark.operators import sessions as sessions_ops
from dataset_grouper_spark.operators import chunking, dedup, multimodal, similarity
from dataset_grouper_spark.operators import graph as graph_ops
from dataset_grouper_spark.operators import linkage as linkage_ops
from dataset_grouper_spark.operators import scd as scd_ops
from dataset_grouper_spark.operators import spatial as spatial_ops
from dataset_grouper_spark.operators import regress as regress_ops
from dataset_grouper_spark.operators import spandedup as spandedup_ops
from dataset_grouper_spark.operators import group_counts as gc
from dataset_grouper_spark.operators import packing
from dataset_grouper_spark.sources import read_table


from contextlib import contextmanager


@contextmanager
def _stream_shuffle_partitions(spark: SparkSession, n: int = 8):
    """Pin the shuffle width while a streaming plan compiles. A
    streaming query's STATE STORE count equals spark.sql.shuffle
    .partitions at checkpoint creation, and each store pays a fixed
    open/commit cost per micro-batch — at oracle scale (sf<=1, fresh
    ephemeral checkpoints every run) 32 stores per stateful operator
    is pure overhead: the stream-stream join ran 12.3s at 32
    partitions vs 3.1s at 8 on identical data/results (PERF.md). A
    production deployment sizes this to volume (thousands of
    partitions at 100 TB) — which is exactly why it must be a
    per-query compile-time choice, not a session constant."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain_stream(q, timeout: int = 300) -> None:
    """Block until an availableNow query finishes, RAISING on timeout:
    awaitTermination returns False when the clock runs out, and
    proceeding then would read a partially-written sink and silently
    return truncated results."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not finish within {timeout}s — sink is "
            "incomplete; not reading partial results"
        )

SF0001 = "/root/testdata/sf0.001"

# DuckDB-side dtype listings for SQL twin generation (must mirror the
# parquet schemas in TESTDATA.md).
EVENTS_SCHEMA = [
    ("event_id", "bigint"),
    ("ts", "timestamp"),
    ("user_id", "bigint"),
    ("event_type", "string"),
    ("value", "double"),
    ("props", "string"),
]
EVENTS_STRINGS = ["event_type", "props"]
DOCUMENTS_SCHEMA = [
    ("doc_id", "bigint"),
    ("text", "string"),
    ("lang", "string"),
    ("source", "string"),
    ("n_chars", "bigint"),
]
DOCUMENTS_STRINGS = ["text", "lang", "source"]
LINEITEM_SCHEMA = [
    ("l_orderkey", "bigint"),
    ("l_partkey", "bigint"),
    ("l_suppkey", "bigint"),
    ("l_linenumber", "int"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
    ("l_tax", "double"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "timestamp"),
]
LINEITEM_STRINGS = ["l_returnflag", "l_linestatus"]

DOC_BYTES_SQL = textstats.row_bytes_sql(DOCUMENTS_SCHEMA)
DOC_WORDS_SQL = textstats.row_words_sql(DOCUMENTS_STRINGS)
EVT_BYTES_SQL = textstats.row_bytes_sql(EVENTS_SCHEMA)
EVT_WORDS_SQL = textstats.row_words_sql(EVENTS_STRINGS)

# Dirichlet keyer configuration (embeddings: labels 0..9).
DIR_LABELS, DIR_GROUPS, DIR_ALPHA, DIR_SEED = 10, 8, 0.5, 7

PACK_LIMIT = 4000  # bytes per group for the sf-scale packing demo


# ---------------------------------------------------------------- queries

def q_group_counts_events_by_user(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "events")
    return gc.compute_group_counts(df, keys.by_feature("user_id"))


def q_group_counts_documents_by_source(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "documents")
    return gc.compute_group_counts(df, keys.by_feature("source"))


def q_group_counts_lineitem_by_flag(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "lineitem")
    return gc.compute_group_counts(
        df, keys.composite("l_returnflag", "l_linestatus")
    )


def q_group_counts_tensors(spark: SparkSession, sf: str) -> DataFrame:
    """Multidim-tensor byte sizing — the reference's image-dataset path
    (uint8[28,28,1] tensors, data_loaders_test.py:25-34; sizing =
    prod(shape) x dtype.size, tf_utils.py:26-38). Each embedding is
    chunked into a 4-wide 2-d tensor (array<array<float>>) plus a
    struct-of-array metadata column; group counts by label then size
    the nested structure."""
    df = read_table(spark, sf, "embeddings")
    nrows = F.ceil(F.size("embedding") / F.lit(4)).cast("int")
    tensor = F.transform(
        F.sequence(F.lit(1), nrows),
        lambda r: F.slice(F.col("embedding"), (r - 1) * 4 + 1, F.lit(4)),
    )
    t = df.select(
        F.col("label"),
        tensor.alias("tensor"),
        F.struct(
            F.slice(F.col("embedding"), 1, 8).alias("head"),
            F.col("vec_id").alias("id"),
        ).alias("meta"),
    )
    return gc.compute_group_counts(t, keys.by_feature("label"))


def q_format_group_counts(spark: SparkSession, sf: str) -> DataFrame:
    counts = q_group_counts_documents_by_source(spark, sf)
    return gc.format_group_counts(counts, ",")


def q_key_random_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "lineitem")
    rowid = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    keyed = keys.with_group_key(df, keys.random(rowid, 16))
    return keyed.groupBy(keys.GROUP_COL).agg(
        F.count(F.lit(1)).alias("num_examples"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_key_url_domain(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ),
    )
    keyed = keys.with_group_key(df, keys.url_domain("url"))
    return keyed.groupBy(keys.GROUP_COL).agg(
        F.count(F.lit(1)).alias("num_examples")
    )


def q_key_dirichlet_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "embeddings")
    keyed = keys.dirichlet(
        spark, df, "label", "vec_id", DIR_LABELS, DIR_GROUPS, DIR_ALPHA, DIR_SEED
    )
    return keyed.groupBy(keys.GROUP_COL).agg(
        F.count(F.lit(1)).alias("num_examples"),
        F.countDistinct("label").alias("num_labels"),
    )


def q_pack_bytecap_documents(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "documents")
    keyed = keys.with_group_key(df, keys.by_feature("source"))
    capped = packing.cap_prefix(
        keyed, "doc_id", textstats.row_bytes_expr(df), PACK_LIMIT
    )
    return capped.groupBy(keys.GROUP_COL).agg(
        F.count(F.lit(1)).alias("num_examples"),
        F.sum(textstats.row_bytes_expr(df)).alias("num_bytes"),
        F.array_join(
            F.array_sort(F.collect_list(F.col("doc_id"))), ","
        ).alias("packed_ids"),
    )


def q_tpch_q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "lineitem")
    return (
        df.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6: pure filter+agg — every predicate must reach the
    parquet scan (PushedFilters), columns pruned to 4."""
    df = read_table(spark, sf, "lineitem")
    return (
        df.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q3_unshipped_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 (adapted to the synthetic schema): top-10 highest-value
    orders in a market segment still unshipped at the cutoff. Customer
    side is broadcast (tiny dim), lineitem joins orders on the
    shuffle-free side AQE picks; revenue tie-break on l_orderkey keeps
    the limit deterministic."""
    cutoff = "1996-06-30"
    cust = read_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff)
    )
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff)
    )
    return (
        li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        )
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_tpch_q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): the group-filter semi-join
    shape — orders whose lineitems sum past a quantity threshold, with
    customer detail, top-100. Plan: ONE lineitem shuffle produces the
    qualifying-order aggregate, which is tiny and broadcasts into both
    downstream joins, so orders and customer are never shuffled; the
    orderkey tiebreak keeps the limit deterministic."""
    lineitem = read_table(spark, sf, "lineitem")
    orders = read_table(spark, sf, "orders")
    customer = read_table(spark, sf, "customer")
    qual = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    ordered = orders.join(
        F.broadcast(qual), orders["o_orderkey"] == qual["l_orderkey"]
    )
    return (
        customer.join(
            F.broadcast(ordered),
            ordered["o_custkey"] == customer["c_custkey"],
        )
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate"),
            F.col("o_orderkey"),
        )
        .limit(100)
    )


def q_tpch_q16_supplier_cnt(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 (adapted: lineitem stands in for partsupp, negative
    account balance for the complaints filter): the anti-join +
    count-distinct shape the other TPC-H queries don't cover. Plan:
    broadcast anti-join knocks out excluded suppliers with zero
    shuffle, the part dim broadcasts into the fact scan, and the only
    exchange is the distinct aggregation."""
    lineitem = read_table(spark, sf, "lineitem")
    part = read_table(spark, sf, "part")
    supplier = read_table(spark, sf, "supplier")
    excl = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = lineitem.join(
        F.broadcast(excl),
        lineitem["l_suppkey"] == excl["s_suppkey"],
        "left_anti",
    )
    pf = part.filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 23, 45, 50)
    )
    return (
        li.join(F.broadcast(pf), li["l_partkey"] == pf["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q17_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the correlated scalar
    subquery shape, decorrelated the way Catalyst would — per-part
    average quantity computed once as an aggregate, broadcast back into
    the fact scan, filter on the correlated threshold, global sum.
    Lineitem is scanned twice but shuffled only for the per-part agg."""
    lineitem = read_table(spark, sf, "lineitem")
    part = read_table(spark, sf, "part")
    pf = part.filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    li = lineitem.join(
        F.broadcast(pf), lineitem["l_partkey"] == pf["p_partkey"]
    )
    avg_qty = (
        li.groupBy("l_partkey")
        .agg((F.avg("l_quantity") * 0.2).alias("_thresh"))
        .withColumnRenamed("l_partkey", "_pk")
    )
    return (
        li.join(F.broadcast(avg_qty), li["l_partkey"] == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
        )
    )


def q_tpch_q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): the plain EXISTS left-semi
    shape — the one join conversion the other TPC-H queries don't
    cover (Catalyst rewrites EXISTS to LeftSemi; dup lineitems never
    multiply order rows). Adapted predicate: this lineitem table has no
    commit/receipt dates, so "a late line exists" is l_shipdate a
    quarter past the order window. Plan: the date window prunes the
    orders scan, the semi-join build side is a single projected column,
    and no aggregate runs on the probe side before the join — the
    count groups AFTER the semi join, exactly Q4's shape. No broadcast
    hint: the build side is unbounded at scale, so the size-based
    planner (AQE) picks broadcast only when the filtered side is
    provably small."""
    orders = read_table(spark, sf, "orders")
    lineitem = read_table(spark, sf, "lineitem")
    ow = orders.filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    late = lineitem.filter(F.col("l_shipdate") >= "1997-01-01").select(
        "l_orderkey"
    )
    return (
        ow.join(late, ow["o_orderkey"] == late["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_tpch_q19_disjunctive_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, adapted to this part schema):
    the DISJUNCTIVE-predicate shape — three OR'd (brand, size-range,
    quantity-range) blocks spanning both join sides. The optimizer must
    (a) keep the join an equijoin on partkey with the disjunction as a
    post-join filter or pushed residual — never a nested loop — and
    (b) push the single-side implications (brand IN ..., size/quantity
    envelope) down to the scans as derived filters. The one TPC-H
    shape where predicate pushdown has to reason across an OR."""
    lineitem = read_table(spark, sf, "lineitem")
    part = read_table(spark, sf, "part")
    j = lineitem.join(part, lineitem["l_partkey"] == part["p_partkey"])
    blocks = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(blocks).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


def q_tpch_q7_nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue flowing between two nations
    by year and direction. The shape no other TPC-H query here covers:
    the SAME dim (nation) joins BOTH sides of the fact chain under a
    pair-disjunction — (supp=N1 AND cust=N2) OR (supp=N2 AND cust=N1).
    Plan: nation filters broadcast into supplier and customer (each
    shrinks to ~2/25), the pair disjunction evaluates post-join on two
    tiny dim columns, and only lineitem-orders shuffles. supplier is
    hint-broadcast (smallest dim); customer-orders is left to
    size-based planning — at 100 TB the filtered customer side may
    exceed the broadcast budget and AQE falls back to shuffle."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = (
        read_table(spark, sf, "nation")
        .filter(F.col("n_name").isin(n1, n2))
        .select("n_nationkey", "n_name")
    )
    supp = (
        read_table(spark, sf, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        read_table(spark, sf, "customer")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = read_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = read_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    pair = (
        (F.col("supp_nation") == n1) & (F.col("cust_nation") == n2)
    ) | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    lost to returns in one quarter — the large-agg-then-TakeOrdered
    shape where the top-k must run AFTER a full groupBy over ~all
    customers (unlike Q3, whose limit keys are join keys). Revenue
    accumulates in exact DECIMAL(18,4) (per-term round first) so the
    sum — and therefore the cent-rounded ordering and the top-20 SET —
    is independent of double summation order; tie-break on c_custkey
    keeps the limit deterministic across engines."""
    cust = read_table(spark, sf, "customer")
    nation = read_table(spark, sf, "nation").select("n_nationkey", "n_name")
    orders = read_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")),
                        4,
                    ).cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q22_CODES = (3, 5, 7, 10, 12, 15, 20)


def q_tpch_q22_global_sales(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity, adapted: nationkey stands
    in for the phone country code): customers from 7 countries with
    above-average positive balances and no RECENT orders — in this
    synthetic data every customer has some order, so "lapsed since
    1999" keeps Q22's NOT-EXISTS semantics non-vacuous. Combines the
    two subquery shapes Q4/Q17 cover separately — a scalar AVG
    subquery (broadcast into the filter) AND a NOT-EXISTS anti-join —
    in one query. The anti build side is just o_custkey, date-pruned
    and distinct-reduced before the join; the scalar rides a broadcast
    crossJoin."""
    cust = read_table(spark, sf, "customer").filter(
        F.col("c_nationkey").isin(*Q22_CODES)
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    orders = (
        read_table(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.round(F.col("c_acctbal"), 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


def q_tpch_q21_waiting_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting — adapted: "late"
    is l_shipdate > o_orderdate + 60 days, as this lineitem has no
    commit/receipt dates). The one shape that stacks an EXISTS
    left-semi AND a NOT-EXISTS left-anti against the SAME fact table
    with a non-equality conjunct (other-supplier lines of the same
    order): Catalyst must plan both as single-pass join conversions on
    l_orderkey with the suppkey inequality as a residual — never a
    per-row subquery. Top-10 is tie-broken on s_name (unique per
    group), so the result set is deterministic."""
    orders = read_table(spark, sf, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = read_table(spark, sf, "lineitem")
    supp = read_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    late1 = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    late_others = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select(
            F.col("l_orderkey").alias("o3_orderkey"),
            F.col("l_suppkey").alias("o3_suppkey"),
        )
    )
    waiting = (
        late1.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(
            F.broadcast(supp), waiting["l_suppkey"] == supp["s_suppkey"]
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


def q_tpch_q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of per-customer
    order counts INCLUDING zero-order customers — the left-outer join
    with a predicate inside the ON clause (filtering the join, not the
    preserved side), then a two-level aggregation (count per customer,
    then count of counts). Customers all have orders in this data, but
    the priority exclusion creates a real zero bucket."""
    cust = read_table(spark, sf, "customer").select("c_custkey")
    orders = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    joined = cust.join(
        orders,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (~F.col("o_orderpriority").like("%URGENT%")),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q_tpch_q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 (top supplier): revenue view + scalar-MAX subquery —
    the supplier(s) whose quarterly revenue equals the maximum. Revenue
    accumulates in exact DECIMAL(18,4) so the max-equality predicate is
    well-defined on both engines (double max-equality is summation-
    order roulette). The max rides a broadcast crossJoin; the supplier
    dim is broadcast into the 100-row revenue frame."""
    li = read_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).cast("decimal(18,4)")
        ).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    supp = read_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


def q_embedding_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroids — the vector aggregation every
    clustering/IVF fit needs, done relationally: posexplode the vector
    to (label, pos, val) narrow rows, one shuffle on (label, pos),
    mean per component. Returns two centroid components (first/last)
    rounded to 6; the DuckDB twin unnests WITH ORDINALITY."""
    df = read_table(spark, sf, "embeddings")
    comps = df.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).filter(F.col("pos").isin(0, 63))
    return (
        comps.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"),
        )
    )


def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier, adapted: no partsupp table, so
    the part-supplier catalog is the DISTINCT (l_partkey, l_suppkey)
    pairs and 'cost' is the supplier's account balance): for each part
    shipped in one region, the supplier(s) achieving the per-part
    minimum — the correlated-MIN-subquery shape, decorrelated into a
    per-part aggregate joined back on (part, value) EQUALITY. Doubles
    are safe as the min key here because the min is compared against
    values drawn from the same column (no arithmetic), so equality is
    exact."""
    nation = read_table(spark, sf, "nation")
    region = read_table(spark, sf, "region").filter(
        F.col("r_name") == "ASIA"
    )
    supp = (
        read_table(spark, sf, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"],
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    from dataset_grouper_spark.cache import persist_tracked

    pairs = (
        read_table(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    # persisted: the catalog feeds BOTH the per-part min and the
    # equality join back — without it the lineitem distinct (the
    # expensive pass) executes twice
    catalog = persist_tracked(
        pairs.join(
            F.broadcast(supp), pairs["l_suppkey"] == supp["s_suppkey"]
        )
    )
    mins = catalog.groupBy("l_partkey").agg(
        F.min("s_acctbal").alias("_min_bal")
    )
    part = read_table(spark, sf, "part").filter(F.col("p_size") < 5)
    return (
        catalog.join(
            mins,
            (catalog["l_partkey"] == mins["l_partkey"])
            & (catalog["s_acctbal"] == mins["_min_bal"]),
        )
        .drop(mins["l_partkey"])
        .join(F.broadcast(part), F.col("l_partkey") == part["p_partkey"])
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("supp_nation"),
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


Q11_SHARE = 0.0008


def q_tpch_q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 (important stock, adapted to revenue): parts whose
    revenue exceeds a FRACTION OF THE GLOBAL TOTAL — the
    scalar-subquery-inside-HAVING shape. One aggregation pass feeds
    both sides: the per-part frame re-aggregates to the global scalar,
    which broadcasts back into the filter. Decimal accumulation makes
    the threshold comparison exact."""
    li = read_table(spark, sf, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).cast("decimal(18,4)")
        ).alias("part_rev")
    )
    total = rev.agg(F.sum("part_rev").alias("_total"))
    return (
        rev.crossJoin(F.broadcast(total))
        .filter(
            F.col("part_rev")
            > (F.col("_total") * F.lit(Q11_SHARE)).cast("decimal(28,8)")
        )
        .select(
            "l_partkey",
            F.col("part_rev").cast("double").alias("part_rev"),
        )
    )


def q_tpch_q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 (product-type profit, adapted: no partsupp table, so
    unit supply cost is 0.1 * p_retailprice): per-nation per-year
    profit over parts matching a name pattern — the five-way
    snowflake where THREE broadcast dims (part, supplier, nation)
    hang off the fact and a fact-fact join (orders) supplies the
    year. The part name LIKE filter prunes the fact rows through the
    broadcast join before the orders shuffle; profit accumulates in
    exact DECIMAL(18,4) so the per-group sum is summation-order-
    independent. Completes the 22/22 TPC-H join-shape matrix with
    Q20."""
    li = read_table(spark, sf, "lineitem")
    part = (
        read_table(spark, sf, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = read_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf, "nation").select("n_nationkey", "n_name")
    orders = read_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - 0.1 * F.col("p_retailprice") * F.col("l_quantity"),
                    4,
                ).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("profit")
        )
    )


def q_tpch_q20_excess_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion, adapted: no partsupp, so
    "excess availability" becomes shipment concentration — pairs
    whose 1996 shipped quantity exceeds half their all-time total).
    The nested-semi-join-chain shape: a correlated scalar aggregate
    (per-pair half-total) decorrelated into ONE conditional
    aggregation pass (no self-join — the year split and the total
    come out of the same groupBy), filtered through a broadcast part
    name screen, then collapsed to a left-semi against the ASIA
    supplier dim. l_quantity is integral so the double comparison is
    exact on both engines."""
    li = read_table(spark, sf, "lineitem")
    pairs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(
            F.when(F.year("l_shipdate") == 1996, F.col("l_quantity")).otherwise(
                0.0
            )
        ).alias("qty_96"),
        F.sum("l_quantity").alias("qty_total"),
    )
    part = (
        read_table(spark, sf, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    excess = (
        pairs.join(F.broadcast(part), pairs["l_partkey"] == part["p_partkey"])
        .filter(F.col("qty_96") > 0.5 * F.col("qty_total"))
        .select("l_suppkey")
    )
    nation = read_table(spark, sf, "nation")
    region = read_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    supp = (
        read_table(spark, sf, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"],
                ).select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return supp.join(
        excess, supp["s_suppkey"] == excess["l_suppkey"], "left_semi"
    )


def q_tpch_q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3-supplied share of
    ASIA-region PROMO-part order volume, by year — the
    conditional-ratio shape (one pass computes both the numerator CASE
    sum and the denominator sum; the share is their quotient, never a
    self-join). All dims broadcast; volume accumulates in exact
    DECIMAL(18,4) so the ratio is summation-order-independent."""
    region = read_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf, "nation")
    cust_nations = (
        nation.join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    cust = read_table(spark, sf, "customer").join(
        F.broadcast(cust_nations), F.col("c_nationkey") == F.col("cn_key")
    )
    supp = (
        read_table(spark, sf, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = read_table(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    li = read_table(spark, sf, "lineitem")
    orders = read_table(spark, sf, "orders")
    vol = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    ).cast("decimal(18,4)")
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).alias("_num"),
            F.sum(vol).alias("_den"),
        )
        .select(
            "o_year",
            F.round(
                (F.col("_num") / F.col("_den")).cast("double"), 6
            ).alias("mkt_share"),
            F.col("_den").cast("double").alias("total_volume"),
        )
    )


def q_tpch_q12_priority_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 (shipping-priority audit, adapted: l_linestatus stands
    in for the missing l_shipmode): per status, how many of a year's
    shipped lines belong to critical- vs normal-priority orders — the
    CASE-count aggregation over a fact-fact join where ALL the
    filtering lives on the probe side and the agg input is two
    booleans."""
    li = read_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~crit, 1).otherwise(0)).alias("low_line_count"),
        )
    )


PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def q_pivot_lang_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: per-source document counts spread across language
    columns — groupBy().pivot() with an EXPLICIT value list, which is
    what keeps the plan a single pass (no value-discovery job) and the
    output schema bounded at 100 TB."""
    df = read_table(spark, sf, "documents")
    out = df.groupBy("source").pivot("lang", PIVOT_LANGS).count()
    # pivot cells with no rows are NULL; the oracle twin uses
    # conditional counts, which yield 0 — align on 0
    return out.select(
        "source",
        *[
            F.coalesce(F.col(lang), F.lit(0)).alias(f"n_{lang}")
            for lang in PIVOT_LANGS
        ],
    )


def q_unpivot_lang_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot (melt): the per-source language-count matrix back to
    long form — `DataFrame.unpivot` is the Catalyst Expand operator
    (rows multiply by the value-column count in one pass, no union of
    N scans). Zero counts are kept: melt must be lossless over the
    matrix, which the oracle states as a cross join of sources with
    the language list."""
    wide = q_pivot_lang_by_source(spark, sf)
    return wide.unpivot(
        "source",
        [f"n_{lang}" for lang in PIVOT_LANGS],
        "lang_col",
        "n",
    ).select(
        "source",
        F.expr("substring(lang_col, 3)").alias("lang"),
        "n",
    )


def q_docs_except_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """Set-operation parity: doc ids that are long-text XOR
    high-quality-source — EXCEPT ALL and INTERSECT run as Catalyst
    left-anti / left-semi under distinct-aware aggregation, not
    row-comparison loops. Returns the per-side counts plus id
    checksums so a dropped duplicate or a phantom row mismatches."""
    df = read_table(spark, sf, "documents")
    long_docs = df.filter(F.col("n_chars") >= 200).select("doc_id")
    en_docs = df.filter(F.col("lang") == "en").select("doc_id")
    only_long = long_docs.exceptAll(en_docs)
    both = long_docs.intersect(en_docs)
    return (
        only_long.agg(
            F.lit("long_not_en").alias("side"),
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
        )
    ).unionByName(
        both.agg(
            F.lit("long_and_en").alias("side"),
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
        )
    )


def q_grouping_sets_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS ((returnflag), (linestatus)) — the two
    single-column marginals in ONE pass and NOTHING else (rollup and
    cube can't express this selection: no grand total, no pair cells).
    One Expand + one exchange; grouping_id() disambiguates which
    marginal a row belongs to."""
    df = read_table(spark, sf, "lineitem")
    df.createOrReplaceTempView("_li_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, '-') AS returnflag,
               coalesce(l_linestatus, '-') AS linestatus,
               count(*) AS n,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


def q_group_counts_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — all four grouping sets in
    one pass (rollup covers three; the cube adds the
    linestatus-only marginal). One shuffle: Spark expands grouping
    sets map-side, partial-aggregates, and exchanges once."""
    df = read_table(spark, sf, "lineitem")
    return (
        df.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("num_examples"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "num_examples",
            "sum_price",
        )
    )


def q_dedup_exact_documents(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "documents")
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_unique_texts"),
    )


def q_text_analysis_documents(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "documents")
    feats = textanalysis.quality_features(F.col("text"))
    return df.select(
        "doc_id",
        textanalysis.lang_id(F.col("text")).alias("pred_lang"),
        textanalysis.token_count(F.col("text")).alias("n_tokens"),
        textanalysis.fingerprint(F.col("text")).alias("fp"),
        feats["n_words"].alias("n_words"),
        feats["avg_word_len"].alias("avg_word_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    )


# Shared parameters for dedup/similarity (Spark side and oracle side
# must use identical values).
NGRAM_N, JACCARD_T = 3, 0.8
MH_PERM, MH_BANDS, MH_SEED = 16, 4, 42
SIMHASH_BITS = 16
TOPK_K, TOPK_QFILTER = 5, "vec_id < 8"


def q_dedup_exact_survivors(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "documents")
    out = dedup.exact_dedup(df, "text", "doc_id")
    return out.select("doc_id", "source", "dup_count")


def q_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(df, "text", "doc_id", NGRAM_N, JACCARD_T)


def q_minhash_lsh_candidates(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "documents")
    sigs = dedup.minhash_signatures(df, "text", "doc_id", NGRAM_N, MH_PERM, MH_SEED)
    return dedup.lsh_candidate_pairs(sigs, "doc_id", MH_PERM, MH_BANDS)


CONTAM_N, CONTAM_BENCH_FILTER = 5, "doc_id % 50 = 0"


INCR_NEW_FILTER = "doc_id % 5 = 0"
PIPE2_DUP_FRAC_MAX, PIPE2_CAP = 0.8, 10


def q_pipeline_ingest_style(spark: SparkSession, sf: str) -> DataFrame:
    """Round-2 flagship composition — the ingest-cleaning recipe:
    benchmark decontamination (any 5-gram overlap with the eval set
    drops the doc, including the eval docs themselves), duplicated-span
    filter (dup_frac < 0.8 over corpus 3-grams), deterministic
    per-source cap, then per-source counts. Every stage is an oracled
    operator; the composition hash-checks end-to-end."""
    from dataset_grouper_spark.operators import sessions

    from dataset_grouper_spark.cache import persist_tracked

    df = read_table(spark, sf, "documents")
    bench = df.filter(F.expr(CONTAM_BENCH_FILTER))
    clean = dedup.decontaminate(df, bench, "text", "doc_id", CONTAM_N)
    # ONE corpus 3-gram shingle pass feeds both the dup-fraction filter
    # and the audit's minhash signatures
    sh3 = persist_tracked(dedup.shingles(df, "text", "doc_id", NGRAM_N))
    frac = dedup.duplicate_ngram_fraction(
        df, "text", "doc_id", NGRAM_N, shingle_df=sh3
    )
    # threshold on the EXACT counts, not the rounded dup_frac — a
    # rounded value straddling the boundary would diverge from the
    # oracle's unrounded comparison
    kept = clean.join(
        frac.filter(
            F.col("dup_ngrams")
            < F.lit(PIPE2_DUP_FRAC_MAX) * F.col("total_ngrams")
        ).select("doc_id"),
        "doc_id",
    )
    capped = sessions.cap_per_group(kept, "source", "doc_id", PIPE2_CAP)
    # observability for the LSH hot-bucket cap rides along as audit
    # columns: on this corpus the cap must be inert, and the oracle's
    # constant-0 twin hash-fails if any bucket ever exceeds it
    sigs = dedup.minhash_signatures(
        df, "text", "doc_id", NGRAM_N, MH_PERM, MH_SEED, shingle_df=sh3
    )
    audit = (
        dedup.lsh_oversized_buckets(sigs, "doc_id", MH_PERM, MH_BANDS)
        .agg(
            F.count(F.lit(1)).alias("n_oversized_buckets"),
            F.coalesce(F.sum("n_dropped"), F.lit(0)).alias(
                "n_dropped_members"
            ),
        )
    )
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .crossJoin(F.broadcast(audit))
    )


def q_incremental_dedup_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time near-dup screen: every 5th doc plays the 'new crawl
    batch', screened against the rest of the corpus by shared MinHash
    LSH bands (corpus never self-joins). Returns surviving new rows."""
    df = read_table(spark, sf, "documents")
    new = df.filter(F.expr(INCR_NEW_FILTER))
    existing = df.filter(~F.expr(INCR_NEW_FILTER))
    out = dedup.minhash_dedup_against(
        new, existing, "text", "doc_id", NGRAM_N, MH_PERM, MH_BANDS, MH_SEED
    )
    return out.select("doc_id", "source")


def q_fingerprint_screen_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-style ingest screen (relational form): a 'new crawl
    batch' of fresh docs PLUS planted replays of existing corpus texts
    is screened against the corpus via the broadcast fingerprint set —
    definitely-new rows never shuffle, only fingerprint hits reach the
    exact anti join. Output is row-identical to the plain exact screen
    (the oracle IS that anti join), so a screen that drops a fresh row
    or admits a replay hash-mismatches."""
    df = read_table(spark, sf, "documents")
    existing = df.filter("doc_id % 5 != 0")
    fresh = df.filter("doc_id % 5 = 0")
    plants = existing.filter("doc_id % 7 = 0").withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    new = fresh.unionByName(plants)
    out = dedup.fingerprint_screen_against(new, existing, "text")
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("doc_id").alias("sum_ids"),
    )


def q_bloom_screen_dedup_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-memory Bloom-filter ingest screen: same batch shape as
    the fingerprint screen (fresh docs + planted corpus replays) but
    the corpus membership sketch is a true m-bit Bloom filter —
    distributed numpy bitset build with a bounded tree merge, probe as
    a broadcast + vectorized pandas_udf, NO per-key broadcast growth.
    num_bits is deliberately small (2^14 against ~thousands of corpus
    texts at sf0.1) so BOTH paths carry rows: real misses skip the
    corpus join, hits (true replays + forced false positives) go
    through the exact 128-bit anti join. Output is row-identical to
    the unscreened anti join — the oracle IS that anti join — so a
    false negative (dropped fresh row) or admitted replay anywhere
    hash-mismatches."""
    df = read_table(spark, sf, "documents")
    existing = df.filter("doc_id % 4 != 0")
    fresh = df.filter("doc_id % 4 = 0")
    plants = existing.filter("doc_id % 9 = 0").withColumn(
        "doc_id", F.col("doc_id") + 2000000
    )
    new = fresh.unionByName(plants)
    out = bloom.bloom_screen_against(new, existing, "text", num_bits=1 << 14)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("doc_id").alias("sum_ids"),
    )


def q_dup_ngram_fraction_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-span signal: fraction of each doc's distinct 3-grams
    that appear in any other doc (relational stand-in for suffix-array
    substring dedup, Lee et al. 2022)."""
    df = read_table(spark, sf, "documents")
    return dedup.duplicate_ngram_fraction(df, "text", "doc_id", NGRAM_N)


LINE_DEDUP_MIN_DOCS = 5
# derive 3-word lines from the single-line fixture texts, identically
# in both engines, so cross-doc duplicate lines occur organically
LINE_DEDUP_RE = r"(\S+ \S+ \S+) "


def q_line_dedup_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus line-level boilerplate removal (CCNet paragraph
    dedup / RefinedWeb line-wise filtering): any line appearing in >=
    5 distinct docs is stripped from ALL of them and each text rebuilt
    from its surviving lines in order. Returns a per-doc summary
    (line counts + rebuilt-text fingerprint) so a single mis-dropped
    or mis-ordered line anywhere in the corpus hash-mismatches."""
    df = read_table(spark, sf, "documents").withColumn(
        "_ml", F.regexp_replace(F.col("text"), LINE_DEDUP_RE, "$1\n")
    )
    out = dedup.line_dedup(
        df, "_ml", "doc_id", min_docs=LINE_DEDUP_MIN_DOCS, min_len=10
    )
    return out.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.octet_length("_ml_clean").alias("clean_len"),
        F.md5(F.col("_ml_clean")).alias("clean_md5"),
    )


def q_span_dedup_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Exact substring-span dedup, the Lee et al. 2022 ExactSubstr
    mode (operators/spandedup.py): token spans >= 8 tokens occurring
    more than once anywhere in the corpus are REMOVED from every
    occurrence but the corpus-global first. Returns every doc with its
    rebuilt text and removal count — one mis-kept or mis-dropped token
    anywhere hash-mismatches. Two shuffles (gram agg + equijoin), no
    all-pairs; the gram agg is partial-aggregatable so hot boilerplate
    never serializes into one task."""
    from dataset_grouper_spark.operators import spandedup

    return spandedup.remove_duplicate_spans(
        read_table(spark, sf, "documents"), "doc_id", "text", k=8
    )


def q_span_dedup_incremental_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ExactSubstr ingest (spandedup.
    remove_duplicate_spans_against): the doc_id%4==0 slice arrives as
    a NEW batch and is cleaned against the already-ingested rest of
    the corpus — batch spans >= 8 tokens that exist anywhere in the
    corpus (or repeat within the batch, non-first) are removed. The
    corpus contributes only its distinct gram set; it never
    self-joins, so ingest is O(batch + corpus scan)."""
    from dataset_grouper_spark.operators import spandedup

    docs = read_table(spark, sf, "documents")
    return spandedup.remove_duplicate_spans_against(
        docs.filter(F.col("doc_id") % 4 == 0),
        docs.filter(F.col("doc_id") % 4 != 0),
        "doc_id",
        "text",
        k=8,
    )


def q_dup_spans_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal duplicated-span report (the audit face of
    q_span_dedup_documents): inclusive token ranges per document that
    exact-substring dedup would remove, overlapping windows merged by
    a gaps-and-islands pass."""
    from dataset_grouper_spark.operators import spandedup

    out = spandedup.duplicate_spans(
        read_table(spark, sf, "documents"), "doc_id", "text", k=8
    )
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    )


def q_ols_chars_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed closed-form OLS (sufficient-statistics pattern): fit
    n_chars ~ intercept + n_spaces + n_vowel_a over the corpus in ONE
    aggregation pass — the Gram row's integer sums are exact, so the
    Cramer solve is a deterministic float64 expression tree shared
    with the oracle. The minimum-cost linear model at 100 TB: one
    scan, map-side partials, constant-size solve, nothing iterates."""
    from dataset_grouper_spark.operators import regress

    df = (
        read_table(spark, sf, "documents")
        .withColumn(
            "n_spaces",
            F.octet_length("text")
            - F.octet_length(F.replace(F.col("text"), F.lit(" "), F.lit(""))),
        )
        .withColumn(
            "n_a",
            F.octet_length("text")
            - F.octet_length(F.replace(F.col("text"), F.lit("a"), F.lit(""))),
        )
    )
    return regress.ols_fit2(df, "n_chars", ["n_spaces", "n_a"])


def q_split_by_group_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe 80/10/10 split by source group: every doc of a
    source lands in one split (row-level splits leak near-dups across
    the train/test boundary on grouped data)."""
    from dataset_grouper_spark.operators import sessions

    df = read_table(spark, sf, "documents")
    out = sessions.split_by_group(
        df, "source", {"train": 80, "val": 10, "test": 10}
    )
    return out.select("doc_id", "source", "split")


def q_cap_per_source_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Domain balancing: deterministically cap each source's
    contribution at 10 docs (md5-order keep — engine-portable, no RNG
    state), the corpus-mixing primitive."""
    from dataset_grouper_spark.operators import sessions

    df = read_table(spark, sf, "documents")
    return sessions.cap_per_group(df, "source", "doc_id", 10).select(
        "doc_id", "source"
    )


def q_tfidf_top_terms_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 characteristic terms per doc by TF-IDF with deterministic
    tie-break — keyword extraction over the shared tokenizer."""
    from dataset_grouper_spark.functions.vocab import top_terms

    df = read_table(spark, sf, "documents")
    return top_terms(df, "text", "doc_id", k=3)


def q_group_profile_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-slice numeric profile (count/min/max/mean + exact
    interpolated percentiles) — the pipeline-QA distribution gate."""
    from dataset_grouper_spark.operators.profile import group_numeric_profile

    df = read_table(spark, sf, "events")
    return group_numeric_profile(df, ["event_type"], "value")


def q_vocabulary_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary with term/doc frequencies, min-count pruned
    and rank-truncated — tokenizer-training prep over the shared
    single-space tokenizer."""
    from dataset_grouper_spark.functions.vocab import vocabulary

    df = read_table(spark, sf, "documents")
    return vocabulary(df, "text", "doc_id", min_count=2, top_k=100)


FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel_events(spark: SparkSession, sf: str) -> DataFrame:
    """view -> click -> purchase funnel per user: first completion time
    of each step, each step strictly after the previous one."""
    from dataset_grouper_spark.operators.funnel import funnel_first_completion

    ev = read_table(spark, sf, "events").withColumn(
        "ts_us", F.expr("CAST(ts DIV 1000 AS BIGINT)")
    )
    return funnel_first_completion(
        ev, "user_id", "ts_us", "event_type", FUNNEL_STEPS
    )


RETENTION_PERIOD_US = 7 * 24 * 3600 * 1_000_000  # one week


def q_retention_events(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention grid over events: users bucketed by
    first-activity week, distinct-user counts per later week offset."""
    from dataset_grouper_spark.operators.funnel import retention_cohorts

    ev = read_table(spark, sf, "events").withColumn(
        "ts_us", F.expr("CAST(ts DIV 1000 AS BIGINT)")
    )
    return retention_cohorts(ev, "user_id", "ts_us", RETENTION_PERIOD_US)


def q_asof_purchase_click_events(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time join: each purchase picks up the latest same-user
    click at or before it (event feature lookup). Single-shuffle
    union+window as-of — no range-join explosion; the DuckDB twin is a
    native ASOF LEFT JOIN. Right side deduped on (user, ts) so tie
    resolution is engine-independent."""
    from pyspark.sql import Window

    from dataset_grouper_spark.operators.asof import asof_join

    ev = read_table(spark, sf, "events").withColumn(
        "ts_us", F.expr("CAST(ts DIV 1000 AS BIGINT)")
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    wdedup = Window.partitionBy("user_id", "ts_us").orderBy(
        F.col("event_id").desc()
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts_us", "event_id", "value")
        .withColumn("_rn", F.row_number().over(wdedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return asof_join(
        left, right, "ts_us", ["user_id"], ["event_id", "value"],
        suffix="_click",
    )


ASOF_TOL_US = 3_600_000_000  # 1 hour


def q_asof_tolerance_events(spark: SparkSession, sf: str) -> DataFrame:
    """The BOUNDED-staleness as-of variant: a purchase only picks up a
    click from the last hour — matches older than the tolerance null
    out (the feature-freshness contract real feature stores enforce).
    Same single-shuffle union+window plan; the DuckDB twin wraps the
    native ASOF join in a CASE on the match age."""
    from pyspark.sql import Window

    from dataset_grouper_spark.operators.asof import asof_join

    ev = read_table(spark, sf, "events").withColumn(
        "ts_us", F.expr("CAST(ts DIV 1000 AS BIGINT)")
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    wdedup = Window.partitionBy("user_id", "ts_us").orderBy(
        F.col("event_id").desc()
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts_us", "event_id", "value")
        .withColumn("_rn", F.row_number().over(wdedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return asof_join(
        left, right, "ts_us", ["user_id"], ["event_id", "value"],
        tolerance=ASOF_TOL_US,
        suffix="_click",
    )


def q_url_canonicalize_documents(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization for web-corpus dedup keys: synthesize a
    messy URL per doc (case noise, www, tracking params, fragment),
    canonicalize, and hash the canonical string against the DuckDB
    twin. Also counts docs per canonical host-level dedup key."""
    from dataset_grouper_spark.functions.urls import canonicalize_url

    df = read_table(spark, sf, "documents")
    messy = df.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.col("source"),
            F.lit(".Example.COM/Path/"),
            F.col("doc_id").cast("string"),
            F.lit("/?utm_source=feed&id="),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("&utm_campaign=c&gclid=x#frag"),
        ).alias("url"),
    )
    return messy.select(
        "doc_id", canonicalize_url("url").alias("canonical_url")
    )


def q_pii_redact_documents(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub audit: synthesize an email / IPv4 / phone per doc
    (deterministic from doc_id+source), then count and redact with the
    Catalyst-only regex cascade. Output hashes the redacted text, so
    the oracle verifies replacement byte-for-byte."""
    from dataset_grouper_spark.functions import redact

    df = read_table(spark, sf, "documents")
    synth = df.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@"),
            F.col("source"),
            F.lit(".example.com from 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" call +1 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("t"),
    )
    return redact.redact_table(synth, "t", out_col="redacted").drop("t")


def q_contamination_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination scan: the 'eval set' is every 50th
    doc; per-doc distinct-5-gram overlap counts against it. Clean docs
    report zeros (500 rows either way)."""
    df = read_table(spark, sf, "documents")
    bench = df.filter(F.expr(CONTAM_BENCH_FILTER))
    return dedup.contamination(df, bench, "text", "doc_id", CONTAM_N)


def q_neardup_clusters_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Production dedup shape: LSH candidate edges -> connected
    components -> per-doc cluster id (min doc id of the component;
    singletons cluster to themselves). Survivors = rows where
    doc_id == cluster_id."""
    df = read_table(spark, sf, "documents")
    return dedup.cluster_near_dups(
        df, "text", "doc_id", NGRAM_N, MH_PERM, MH_BANDS, MH_SEED
    )


def q_simhash_documents(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "documents")
    return dedup.simhash(df, "text", "doc_id", SIMHASH_BITS)


def q_cosine_topk_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "embeddings")
    qs = df.filter(F.expr(TOPK_QFILTER))
    # blocked variant: exact, identical output to cosine_topk (tested),
    # BLAS block scoring + partial top-k instead of a per-pair fold
    return similarity.cosine_topk_blocked(
        df, qs, "embedding", "vec_id", "vec_id", TOPK_K
    )


LSH_BITS, LSH_TABLES, LSH_SEED = 8, 4, 42
IVF_CENTROIDS, IVF_NPROBE = 16, 4
EMB_DIM = 64


def q_lsh_topk_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH buckets + exact rerank —
    seeded planes make the candidate set deterministic, so the whole
    path is value-hashable against the DuckDB twin (VERDICT r1 #3)."""
    df = read_table(spark, sf, "embeddings")
    qs = df.filter(F.expr(TOPK_QFILTER))
    return similarity.lsh_topk(
        df, qs, "embedding", "vec_id", "vec_id",
        dim=EMB_DIM, k=TOPK_K, bits=LSH_BITS, tables=LSH_TABLES,
        seed=LSH_SEED,
    )


def q_ivf_topk_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-k via a deterministic inverted-file index (hash-sampled
    centroids, nprobe cells, exact rerank) — the oracle-checkable twin
    of the KMeans ivf_topk."""
    df = read_table(spark, sf, "embeddings")
    qs = df.filter(F.expr(TOPK_QFILTER))
    return similarity.ivf_topk_flat(
        df, qs, "embedding", "vec_id", "vec_id",
        k=TOPK_K, num_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
    )


def q_ivf_index_topk_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted-IVF ANN: build the partitioned-by-cell disk index,
    then search it — the scan reads only the probed cells' partition
    directories (static partition pruning). Same deterministic cell
    scheme as ivf_topk_flat, so the identical SQL oracle applies."""
    import tempfile

    df = read_table(spark, sf, "embeddings")
    idx = similarity.IvfDiskIndex.build(
        df, "embedding", "vec_id",
        tempfile.mkdtemp(prefix="ivf_idx_"),
        num_centroids=IVF_CENTROIDS,
    )
    qs = df.filter(F.expr(TOPK_QFILTER))
    return idx.search(
        qs, "embedding", "vec_id", k=TOPK_K, nprobe=IVF_NPROBE
    )


def _spread(df: DataFrame) -> DataFrame:
    """Spread a fixture frame across cores before a CPU-bound
    mapInPandas payload-synthesis pass: the local sf parquet inputs
    are one split, which would run the whole Arrow pass on one core
    (measured: the JPEG fixture query spent 8s single-threaded at
    sf0.1, ~0.5s spread). Value-neutral — repartition changes row
    placement only. At 100 TB inputs have thousands of splits and
    this is a no-op."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def q_multimodal_image_meta(spark: SparkSession, sf: str) -> DataFrame:
    # documents.text stands in for binary media payloads: encode to
    # binary, then run the (stubbed) decode through real mapInPandas
    # plumbing — schema, Arrow batching, partition behavior all live.
    df = read_table(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("content")
    )
    return multimodal.decode_image_meta(df, "content", "doc_id", fake=True)


ATTR_WINDOW_NS = 3_600_000_000_000  # 1 hour in epoch-nanos


def q_interval_attribution_events(spark: SparkSession, sf: str) -> DataFrame:
    """Clicks within an hour after a purchase by the same user —
    point-in-interval matching via the binned interval join (hash
    equijoin on (user, time bin), never a nested-loop range join)."""
    from dataset_grouper_spark.operators import joins

    ev = read_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("t_start"),
        (F.col("ts") + F.lit(ATTR_WINDOW_NS)).alias("t_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("t_click"),
    )
    out = joins.interval_join(
        clicks, purchases, "t_click", "t_start", "t_end",
        by=["user_id"], bin_width=ATTR_WINDOW_NS,
    )
    return out.select("user_id", "purchase_id", "click_id")


def q_salted_join_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-salted lineitem-orders join aggregated to priority revenue —
    results row-identical to the plain join (the oracle) while the hot
    keys spread across num_salts sub-partitions."""
    from dataset_grouper_spark.operators import joins

    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = read_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = joins.salted_join(li, orders, ["l_orderkey"], num_salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q5_local_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where customer and supplier share
    the nation, one region, one order year. Six-table join — region,
    nation, customer, supplier are broadcast dims; only
    lineitem-orders shuffles. The c_nationkey = s_nationkey predicate
    rides the join, not a post-filter."""
    region = read_table(spark, sf, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = read_table(spark, sf, "nation")
    cust = read_table(spark, sf, "customer")
    supp = read_table(spark, sf, "supplier")
    orders = read_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = read_table(spark, sf, "lineitem")
    dims = (
        nation.join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .join(supp, supp["s_nationkey"] == nation["n_nationkey"])
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(dims),
            (li["l_suppkey"] == dims["s_suppkey"])
            & (cust["c_nationkey"] == dims["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14: promo revenue share over a month — broadcast the part
    dim, one conditional agg, scalar result."""
    part = read_table(spark, sf, "part").select("p_partkey", "p_type")
    li = read_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0)
                )
                / F.sum(disc),
                4,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_gopher_quality_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-rule quality flags for every document — pure Catalyst
    projection, zero shuffles; the keep flag is the pre-training
    filter gate."""
    from dataset_grouper_spark.functions import quality

    df = read_table(spark, sf, "documents")
    return quality.gopher_quality(df, "text", "doc_id")


NGRAM_N = 3
NGRAM_TOP_K = 200


def q_ngram_counts_documents(spark: SparkSession, sf: str) -> DataFrame:
    from dataset_grouper_spark.functions import vocab

    df = read_table(spark, sf, "documents")
    return vocab.ngram_counts(df, "text", n=NGRAM_N, top_k=NGRAM_TOP_K)


STRATA_FRACTIONS = {"wiki": 100, "web": 40, "books": 25}
STRATA_DEFAULT_PCT = 10


def q_stratified_sample_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-mixing draw: per-source keep percentages in one
    deterministic hash filter; aggregated per source so the oracle
    checks both membership and mass."""
    from dataset_grouper_spark.operators import sessions

    df = read_table(spark, sf, "documents")
    kept = sessions.stratified_sample(
        df, "source", "doc_id", STRATA_FRACTIONS, STRATA_DEFAULT_PCT
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )


def q_key_skew_events(spark: SparkSession, sf: str) -> DataFrame:
    from dataset_grouper_spark.operators import profile

    df = read_table(spark, sf, "events")
    return profile.key_skew_profile(df, "user_id", top_n=15)


EMB_NEARDUP_T = 0.4


def q_embedding_neardup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup tier (SemDeDup shape): blocked exact
    cosine pairs above threshold -> connected components -> per-vector
    cluster id, singletons labeling themselves."""
    df = read_table(spark, sf, "embeddings")
    return similarity.embedding_neardup_clusters(
        df, "embedding", "vec_id", EMB_NEARDUP_T, num_blocks=4
    )


SEMDEDUP_TARGET, SEMDEDUP_PROBE = 64, 2


def q_semdedup_cells_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Cell-blocked SemDeDup (VERDICT r10 task 1) — the CORPUS-SCALE
    embedding near-dup tier: coarse-quantize into deterministic flat
    cells (ivf_topk_flat's hash-sampled scheme), exact tile join only
    WITHIN each cell (probe=2 boundary rider), connected components.
    O(n * cell_size) work instead of the exact variant's O(n^2) —
    the plan that survives 100x data."""
    df = read_table(spark, sf, "embeddings")
    return similarity.embedding_neardup_clusters(
        df, "embedding", "vec_id", EMB_NEARDUP_T,
        num_cells="auto", probe=SEMDEDUP_PROBE,
        target_cell_rows=SEMDEDUP_TARGET,
    )


# two-level quantizer contract (VERDICT r11 task 1): target 8 rows/cell
# forces the derived cell count past the 4-cell tier threshold at every
# driver scale (n >= 33 rows -> C = ceil(n/8) > 4), so these queries
# always exercise the TWO-LEVEL path while the static SQL twins encode
# the same two-level contract unconditionally
TWOLEVEL_TARGET, TWOLEVEL_THRESHOLD, TWOLEVEL_COARSE_PROBE = 8, 4, 2
# INVARIANT (ADVICE r12): the static two_level=True SQL twins stay
# hash-consistent with Spark's runtime tier switch only because
# coarse_probe >= ceil(sqrt(threshold)) — just past the threshold the
# coarse level has <= ceil(sqrt(C)) cells and probing all of them
# makes the two-level argmin degenerate to the exact single-level
# argmin, so BOTH tiers produce identical assignments at small C.
# Bumping TWOLEVEL_THRESHOLD without raising TWOLEVEL_COARSE_PROBE
# would hash-mismatch only at small scales; enforce it here.
assert TWOLEVEL_COARSE_PROBE >= math.ceil(
    math.sqrt(TWOLEVEL_THRESHOLD)
), "two-level twins: coarse_probe must cover ceil(sqrt(threshold))"


def q_semdedup_twolevel_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Two-level cell-blocked SemDeDup (VERDICT r11 task 1) — the
    100 TB-scale assignment path: only ceil(sqrt(C)) coarse centroids
    are ever broadcast; fine centroids resolve their coarse home
    distributedly; vectors meet only their probed coarse cells' fine
    centroids in a salted cogroup. Assignment FLOPs n*sqrt(C)*(1 +
    coarse_probe) instead of the single-level n*C — no broadcast or
    per-task working set grows with the corpus. Cell target forced
    tiny here so the two-level tier engages at driver scales."""
    df = read_table(spark, sf, "embeddings")
    return similarity.embedding_neardup_clusters(
        df, "embedding", "vec_id", EMB_NEARDUP_T,
        num_cells="auto", probe=SEMDEDUP_PROBE,
        target_cell_rows=TWOLEVEL_TARGET,
        two_level_threshold=TWOLEVEL_THRESHOLD,
        coarse_probe=TWOLEVEL_COARSE_PROBE,
    )


def q_text_cosine_twolevel_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Two-level cell-blocked text near-dup pairs (VERDICT r11 task 1)
    — hashed-TF vectors through the same two-level coarse quantizer as
    q_semdedup_twolevel_embeddings, emitting the within-cell cosine
    pairs directly (the edge tier a text-dedup pipeline consumes)."""
    from dataset_grouper_spark.cache import persist_tracked

    df = read_table(spark, sf, "documents")
    vecs = persist_tracked(
        featurize.hashed_tf(df, "text", "doc_id", TF_DIM, normalize=False)
    )
    return similarity.cosine_pairs_cells(
        vecs, "vector", "doc_id", TF_COSINE_T,
        probe=SEMDEDUP_PROBE, target_cell_rows=TWOLEVEL_TARGET,
        two_level_threshold=TWOLEVEL_THRESHOLD,
        coarse_probe=TWOLEVEL_COARSE_PROBE,
    )


def q_winnow_fingerprints_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (MOSS) over documents —
    Karp-Rabin kernel, one narrow Catalyst projection. The cascade is
    CPU-bound per row, so when the input has fewer splits than cores
    (small local files) the normalized rows are spread first; at scale
    input splits abound and the operator stays shuffle-free."""
    df = read_table(spark, sf, "documents")
    cores = spark.sparkContext.defaultParallelism
    par = cores if df.rdd.getNumPartitions() < cores else None
    return textanalysis.winnow_fingerprints(
        df, "text", "doc_id", k=8, window=4, parallelism=par
    )


def q_streaming_windowed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming tier, driver-oracled: run windowed_group_counts as
    an availableNow stream over the events parquet into a memory sink,
    then return the drained result table. Deterministic on a static
    source, so the batch-twin SQL hash-matches — closes the one
    component family with no CORRECTNESS presence (VERDICT r2 #6)."""
    import uuid

    from dataset_grouper_spark.streaming import windowed_group_counts

    from dataset_grouper_spark.sources import read_events_stream

    stream = read_events_stream(spark, sf)  # int64-nanos ts contract
    evt_cols = stream.columns
    # integer DIV: a double division would lose precision at 1e18 nanos
    stream = stream.withColumn(
        "_tsc", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
    )
    out = windowed_group_counts(
        stream,
        keys.by_feature("user_id"),
        "_tsc",
        window="1 hour",
        watermark="10 minutes",
        count_cols=evt_cols,
    )
    name = f"swc_{uuid.uuid4().hex[:8]}"
    # ORACLE-ONLY SHAPE — do not copy into production pipelines.
    # complete mode + memory sink gives a deterministic, driver-readable
    # result for the hash-check, but complete mode retains EVERY window
    # in state and the memory sink collects to the driver. At scale use
    # append mode with the watermark and a file sink, as
    # q_streaming_session_windows / test_streaming_windowed.py do.
    with _stream_shuffle_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)
    return spark.table(name).select(
        F.col("time_window.start").alias("window_start"),
        "group_id",
        "num_examples",
        "num_bytes",
        "num_words",
    )


def q_multimodal_image_headers(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image-metadata extraction: synthesize valid encoded headers
    (PNG IHDR / JPEG SOFn / GIF / BMP / WebP VP8L) deterministically
    from doc_id, then parse them back with the struct-based header
    parser (no codec library). The oracle recomputes the planted
    dimensions in closed form — so a parse bug cannot hash-match."""
    import pandas as pd

    df = read_table(spark, sf, "documents").select("doc_id")
    fmts = ["png", "jpeg", "gif", "bmp", "webp"]

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "content": [
                        multimodal.encode_header_bytes(
                            fmts[i % 5], 1 + (i * 7) % 2000, 1 + (i * 13) % 2000
                        )
                        for i in ids
                    ],
                }
            )

    imgs = _spread(df).mapInPandas(gen, "doc_id long, content binary")
    meta = multimodal.decode_image_meta(imgs, "content", "doc_id")
    return meta.select("id", "format", "width", "height")


def q_streaming_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Session-window counts over the events stream in APPEND mode with
    a watermark and a FILE sink — the production output shape: state is
    bounded by the watermark and sessions emit when they close, unlike
    the complete-mode memory-sink oracle shape of
    q_streaming_windowed_counts. availableNow over the static source
    (plus the final no-data batch) makes the emitted set deterministic:
    exactly the sessions whose end precedes max(event time) - delay.
    The reference has no streaming surface at all (SURVEY §2.8)."""
    import tempfile

    from dataset_grouper_spark.sources import read_events_stream
    from dataset_grouper_spark.streaming import session_group_counts

    stream = read_events_stream(spark, sf).withColumn(
        "_tsc", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
    )
    out = session_group_counts(
        stream,
        keys.by_feature("user_id"),
        "_tsc",
        gap="30 minutes",
        watermark="1 hour",
    )
    outdir = tempfile.mkdtemp(prefix="ssw_out_")
    ckpt = tempfile.mkdtemp(prefix="ssw_ck_")
    with _stream_shuffle_partitions(spark):
        q = (
            out.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)
    return spark.read.parquet(outdir).select(
        "group_id",
        F.expr("unix_micros(session.start)").alias("session_start_us"),
        F.expr("unix_micros(session.end)").alias("session_end_us"),
        "num_examples",
    )


STREAM_CAP_LIMIT = 60


def q_streaming_stateful_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) driver-oracled:
    the running byte-cap admission rule (reference MergeWithLimitFn,
    beam_transforms.py:42-52 — accept iff admitted_bytes + size <
    limit, dropped rows consume no budget) over the events stream,
    verified against a recursive-CTE DuckDB twin that walks the same
    sequential rule. Update output mode requires the memory sink
    (file sinks are append-only); the per-group row aggregation makes
    the result robust to micro-batch splits."""
    import uuid

    from dataset_grouper_spark.sources import read_events_stream
    from dataset_grouper_spark.streaming.stateful import streaming_cap_pack

    stream = read_events_stream(spark, sf).filter("event_id % 37 = 0")
    keyed = keys.with_group_key(
        stream, keys.by_feature("event_type")
    ).withColumn("sz", F.octet_length("props"))
    out = streaming_cap_pack(keyed, "sz", "event_id", STREAM_CAP_LIMIT)
    name = f"ssc_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)
    return (
        spark.table(name)
        .groupBy("group_id")
        .agg(
            F.max("admitted").alias("admitted"),
            F.max("admitted_bytes").alias("admitted_bytes"),
            F.sum("dropped").alias("dropped"),
        )
    )


def q_streaming_dedup_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark) in append
    mode to a file sink, drained with availableNow. The watermark horizon
    (365 days) exceeds the data's time span, so no state expires and the
    kept set is exactly one row per distinct content value — which
    duplicate survives is arrival-order-dependent, so the query returns
    only the content column, making the result the deterministic
    distinct set (batch-equivalence with exact_dedup)."""
    import tempfile

    from dataset_grouper_spark.sources import read_events_stream
    from dataset_grouper_spark.streaming.dedup import streaming_exact_dedup

    stream = read_events_stream(spark, sf).withColumn(
        "_tsc", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
    )
    kept = streaming_exact_dedup(stream, "props", "_tsc", watermark="365 days")
    outdir = tempfile.mkdtemp(prefix="sdd_out_")
    ckpt = tempfile.mkdtemp(prefix="sdd_ck_")
    with _stream_shuffle_partitions(spark):
        q = (
            kept.select("props")
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)
    return spark.read.parquet(outdir)


def q_streaming_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Unbounded-horizon incremental dedup over continuous ingest:
    documents arrive as a 3-file stream (one micro-batch each), every
    batch is screened against the SNAPSHOT-STORE survivor corpus
    (anti-join; each epoch an atomic tagged version, so crash-replays
    land zero duplicates — exactly-once), and only never-seen content
    is admitted — the training-corpus contract
    streaming_exact_dedup's time-bounded state can't give. WHICH
    duplicate survives depends on batch order, but the survivor SET is
    exactly the distinct texts, so the rollup (count + total length
    over survivors) is deterministic and SQL-twinned."""
    import tempfile

    from dataset_grouper_spark.streaming.incremental import (
        read_survivors,
        streaming_incremental_dedup,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="sid_src_")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    store = tempfile.mkdtemp(prefix="sid_store_")
    ckpt = tempfile.mkdtemp(prefix="sid_ck_")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    with _stream_shuffle_partitions(spark):
        q = streaming_incremental_dedup(
            stream, store, ckpt, content_col="text", order_col="doc_id"
        )
        _drain_stream(q)
    return read_survivors(spark, store).agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum(F.octet_length("text")).alias("total_len"),
    )


def q_streaming_span_dedup_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous-ingest exact-substring dedup (streaming/spandedup
    .py): documents arrive as a 3-file stream (doc_id%3 per batch,
    one micro-batch each), every batch is span-cleaned against the
    snapshot corpus store's ORIGINAL texts and appended as an atomic
    tagged epoch. Storing originals makes sequential ingest EXACTLY
    global precedence-ordered ExactSubstr under (batch, doc, pos), so
    the DuckDB twin is ONE query with a composite canonical key — the
    full per-doc cleaned text, removal count, and arrival epoch all
    hash-check."""
    import tempfile

    from dataset_grouper_spark.streaming.spandedup import (
        read_clean_corpus,
        streaming_span_dedup,
    )

    import glob as _glob
    import os as _os

    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="ssd_src_")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    # Pin batch ORDER explicitly: the file stream source orders new
    # files by mtime (path only breaks ties), and the oracle's
    # epoch = doc_id%3 assumption needs b0 < b1 < b2. Coarse-mtime
    # filesystems could otherwise flip it (r9 review) — force strictly
    # increasing, well-separated mtimes per batch.
    base = _os.path.getmtime(src)
    for i in range(3):
        for p in _glob.glob(f"{src}/b{i}/*.parquet"):
            t = base + 60.0 * (i + 1)
            _os.utime(p, (t, t))
    store = tempfile.mkdtemp(prefix="ssd_store_")
    ckpt = tempfile.mkdtemp(prefix="ssd_ck_")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    with _stream_shuffle_partitions(spark):
        q = streaming_span_dedup(
            stream, store, ckpt, "doc_id", "text", k=8
        )
        _drain_stream(q)
    return read_clean_corpus(spark, store).select(
        "doc_id",
        "clean_text",
        "removed_tokens",
        F.col("_epoch").cast("int").alias("epoch"),
    )


def q_streaming_attribution_events(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-STREAM interval attribution: purchases and clicks as two
    watermarked streams, inner-joined on user with the click bounded to
    the hour after the purchase — the streaming twin of
    q_interval_attribution_events (same oracle rows). The time-range
    predicate is what lets Spark age out join state (an anchor older
    than watermark+window can never match); inner joins emit eagerly,
    so the availableNow drain reproduces the batch join exactly."""
    import tempfile

    from dataset_grouper_spark.sources import read_events_stream
    from dataset_grouper_spark.streaming.joins import (
        stream_interval_attribution,
    )

    stream = read_events_stream(spark, sf).withColumn(
        "_tsc", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
    )
    purchases = stream.filter("event_type = 'purchase'").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("_tsc").alias("t_purchase"),
    )
    clicks = stream.filter("event_type = 'click'").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("_tsc").alias("t_click"),
    )
    out = stream_interval_attribution(
        purchases,
        clicks,
        ["user_id"],
        "t_purchase",
        "t_click",
        window="1 hour",
        watermark="1 hour",
    ).select("user_id", "purchase_id", "click_id")
    outdir = tempfile.mkdtemp(prefix="sat_out_")
    ckpt = tempfile.mkdtemp(prefix="sat_ck_")
    with _stream_shuffle_partitions(spark):
        q = (
            out.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)
    return spark.read.parquet(outdir)


def q_streaming_attribution_outer(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT-OUTER stream-stream attribution: every purchase emits —
    matched ones with their in-window clicks, unmatched ones with a
    NULL click once the watermark PROVES no click can ever match
    (purchase time + window < final watermark, empirically pinned and
    mirrored in the oracle; purchases newer than that stay in state at
    drain end, exactly as an unbounded run would hold them). The
    late-data-correctness twin of q_streaming_attribution_events."""
    import tempfile

    from dataset_grouper_spark.sources import read_events_stream
    from dataset_grouper_spark.streaming.joins import (
        stream_interval_attribution,
    )

    stream = read_events_stream(spark, sf).withColumn(
        "_tsc", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
    )
    purchases = stream.filter("event_type = 'purchase'").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("_tsc").alias("t_purchase"),
    )
    clicks = stream.filter("event_type = 'click'").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("_tsc").alias("t_click"),
    )
    out = stream_interval_attribution(
        purchases,
        clicks,
        ["user_id"],
        "t_purchase",
        "t_click",
        window="1 hour",
        watermark="1 hour",
        how="left_outer",
    ).select("user_id", "purchase_id", "click_id")
    outdir = tempfile.mkdtemp(prefix="sao_out_")
    ckpt = tempfile.mkdtemp(prefix="sao_ck_")
    with _stream_shuffle_partitions(spark):
        q = (
            out.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)
    return spark.read.parquet(outdir)


def q_multimodal_resize_pixels(spark: SparkSession, sf: str) -> DataFrame:
    """REAL pixel-level resize, oracled in closed form: synthesize a
    gradient BMP per doc (value at (y,x,c) = (x*7 + y*13 + 3*doc_id +
    c*37) mod 256, dims varying per doc), resize to 8x8 with the
    deterministic nearest-neighbor kernel, and return position-weighted
    checksums over the resized raster. The oracle recomputes the exact
    expected checksums from the nearest-neighbor index map — an
    off-by-one in pixel selection, a row flip, or a channel swap all
    hash-mismatch."""
    imgs = _gradient_bmp_frame(read_table(spark, sf, "documents"))
    rs = multimodal.resize_images(imgs, "content", "doc_id", width=8, height=8)
    return rs.select(
        "id",
        "width",
        "height",
        "pixel_sum",
        "checksum",
        F.octet_length("content").alias("n_bytes"),
    )


def q_multimodal_resize_png(spark: SparkSession, sf: str) -> DataFrame:
    """The PNG twin of q_multimodal_resize_pixels: the SAME gradient
    rasters, but encoded as real zlib-compressed PNGs whose scanline
    filters cycle through all five types (None/Sub/Up/Average/Paeth) —
    so the stdlib inflate+unfilter decoder, not just the raw-raster
    path, must reproduce the closed-form checksums. n_bytes is omitted:
    deflate output length is not SQL-expressible."""
    imgs = _gradient_png_frame(read_table(spark, sf, "documents"))
    rs = multimodal.resize_images(imgs, "content", "doc_id", width=8, height=8)
    return rs.select("id", "width", "height", "pixel_sum", "checksum")


def _gradient_png_frame(df: DataFrame) -> DataFrame:
    """(doc_id, content) of gradient PNGs — same raster formula as
    ``_gradient_bmp_frame`` (the oracle contract), filters cycling
    0..4 per scanline to exercise every unfilter branch."""
    import numpy as np
    import pandas as pd

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            for i in ids:
                w_in, h_in = 4 + int(i) % 13, 4 + int(i) % 11
                y, x, c = np.ogrid[0:h_in, 0:w_in, 0:3]
                arr = ((x * 7 + y * 13 + int(i) * 3 + c * 37) % 256).astype(
                    np.uint8
                )
                outs.append(
                    multimodal.encode_png_pixels(arr, [0, 1, 2, 3, 4])
                )
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    return _spread(df.select("doc_id")).mapInPandas(
        gen, "doc_id long, content binary"
    )


def q_multimodal_gif_pixels(spark: SparkSession, sf: str) -> DataFrame:
    """REAL GIF pixel decode (pure-stdlib LZW + color tables +
    interlace), oracled in closed form: synthesize an ANIMATED GIF per
    doc — 2-3 full-canvas frames of the indexed gradient
    idx(y,x,f) = (x*5 + y*11 + 3*doc_id + f*17) mod 256 under the
    arithmetic palette (i, 3i mod 256, 7i mod 256), odd docs stored
    interlaced — then decode with decode_gif_frames and return
    per-frame position-weighted checksums. The oracle recomputes the
    expected rasters from the formulas: a wrong LZW width schedule, a
    palette index slip, or a botched de-interlace all hash-mismatch."""
    imgs = _gradient_gif_frame(read_table(spark, sf, "documents"))
    return multimodal.gif_frame_pixels(imgs, "content", "doc_id")


def q_multimodal_jpeg_pixels(spark: SparkSession, sf: str) -> DataFrame:
    """REAL baseline JPEG decode (pure stdlib+numpy Huffman + dequant +
    IDCT + fixed-point YCbCr — operators/jpeg.py), oracled in closed
    form: synthesize a 4:2:0 block-mosaic JPEG per doc whose Y is
    constant per 8x8 luma block and whose Cb/Cr are constant per 16x16
    macroblock, under uniform quant 8 — DC-only blocks whose
    DCT/quant roundtrip is EXACT integer math — then decode and return
    pixel rollups. The oracle recomputes RGB from the same libjpeg
    fixed-point integer conversion; a wrong Huffman table, a botched
    dequant, an IDCT scale slip, or a chroma-upsample offset all
    hash-mismatch."""
    imgs = _jpeg_mosaic_frame(read_table(spark, sf, "documents"))
    return multimodal.image_pixel_stats(imgs, "content", "doc_id")


def q_multimodal_jpeg_progressive(spark: SparkSession, sf: str) -> DataFrame:
    """REAL PROGRESSIVE (SOF2) JPEG decode — the encoding most large
    web photos actually ship as: the SAME closed-form mosaic planes
    as multimodal_jpeg_pixels, but entropy-coded through the full
    progressive scan script (interleaved first-DC at Al=1, staged
    spectral bands, successive-approximation refinements, EOB runs).
    The quantized coefficients are identical by construction, so the
    SAME oracle pins the multi-scan accumulation: a broken refinement
    bit, EOB-run miscount, or band mis-assignment shifts pixels and
    hash-mismatches."""
    imgs = _jpeg_mosaic_frame(
        read_table(spark, sf, "documents"), progressive=True
    )
    return multimodal.image_pixel_stats(imgs, "content", "doc_id")


def q_multimodal_webp_pixels(spark: SparkSession, sf: str) -> DataFrame:
    """REAL WebP lossless (VP8L) decode — pure stdlib+numpy
    (operators/webp.py: canonical prefix codes, color cache, LZ77,
    all four inverse transforms), oracled in closed form: per-doc
    gradient images encode through the literal VP8L writer and decode
    back EXACTLY (lossless), so the oracle regenerates the raster
    from the gradient formula. Bit-reader ordering, canonical code
    assignment, or raster-order slips all hash-mismatch. Advanced
    stream features (transforms/cache/LZ77/meta groups) are pinned by
    hand-built spec streams in tests/test_webp.py."""
    imgs = _webp_gradient_frame(read_table(spark, sf, "documents"))
    return multimodal.image_pixel_stats(imgs, "content", "doc_id")


def _webp_gradient_frame(df: DataFrame) -> DataFrame:
    """(doc_id, content) of VP8L lossless WebPs — dims
    (5 + d%6) x (4 + d%5), value(y,x,c) = (x*11 + y*19 + c*41 + d*7)
    % 256. The formula is the oracle contract (lockstep with the SQL
    twin)."""
    import numpy as np
    import pandas as pd

    from dataset_grouper_spark.operators import webp as Wc

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            for i in ids:
                d = int(i)
                w, h = 5 + d % 6, 4 + d % 5
                y, x, c = np.ogrid[0:h, 0:w, 0:3]
                img = ((x * 11 + y * 19 + c * 41 + d * 7) % 256).astype(
                    np.uint8
                )
                outs.append(Wc.encode_webp_lossless(img))
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    return _spread(df.select("doc_id")).mapInPandas(
        gen, "doc_id long, content binary"
    )


def _jpeg_mosaic_frame(df: DataFrame, progressive: bool = False) -> DataFrame:
    """(doc_id, content) of 4:2:0 baseline JPEGs — macro grid
    (1 + d%3) x (1 + d%2), Y per luma block (lbx,lby) =
    (lbx*31 + lby*17 + 3d) mod 256, Cb/Cr per macroblock (mx,my) =
    (mx*23 + my*29 + 5d) / (mx*13 + my*37 + 7d) mod 256, uniform
    quant 8. Formulas are the oracle contract (lockstep with the SQL
    twin). Alternating docs carry restart markers so DRI/RSTn decode
    is driver-oracled too."""
    import numpy as np
    import pandas as pd

    from dataset_grouper_spark.operators import jpeg as J

    q8 = [8] * 64

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            for i in ids:
                d = int(i)
                mw, mh = 1 + d % 3, 1 + d % 2
                w, h = 16 * mw, 16 * mh
                y = np.empty((h, w), dtype=np.int32)
                cb = np.empty((h, w), dtype=np.int32)
                cr = np.empty((h, w), dtype=np.int32)
                for lby in range(2 * mh):
                    for lbx in range(2 * mw):
                        y[
                            lby * 8 : lby * 8 + 8, lbx * 8 : lbx * 8 + 8
                        ] = (lbx * 31 + lby * 17 + 3 * d) % 256
                for my in range(mh):
                    for mx in range(mw):
                        sl = np.s_[
                            my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16
                        ]
                        cb[sl] = (mx * 23 + my * 29 + 5 * d) % 256
                        cr[sl] = (mx * 13 + my * 37 + 7 * d) % 256
                # encode the planes VERBATIM (not via RGB->YCbCr float
                # conversion): block-constant planes under uniform
                # quant 8 roundtrip exactly, so the decoded RGB is the
                # fixed-point conversion of these very values
                if progressive:
                    outs.append(
                        J.encode_jpeg_ycbcr_progressive(
                            y, cb, cr, "4:2:0", qtables=(q8, q8)
                        )
                    )
                else:
                    outs.append(
                        J.encode_jpeg_ycbcr(
                            y, cb, cr, "4:2:0", qtables=(q8, q8),
                            restart_interval=(2 if d % 2 == 0 else 0),
                        )
                    )
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    return _spread(df.select("doc_id")).mapInPandas(
        gen, "doc_id long, content binary"
    )


def _gradient_gif_frame(df: DataFrame) -> DataFrame:
    """(doc_id, content) of animated gradient GIFs — dims
    (4 + d%9, 4 + d%7), 2 + d%2 frames, interlaced when d is odd; the
    index/palette formulas are the oracle contract (lockstep with the
    SQL twin)."""
    import numpy as np
    import pandas as pd

    pi = np.arange(256, dtype=np.int64)
    palette = np.stack(
        [pi % 256, (pi * 3) % 256, (pi * 7) % 256], 1
    ).astype(np.uint8)

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            for i in ids:
                d = int(i)
                w_in, h_in = 4 + d % 9, 4 + d % 7
                y, x = np.ogrid[0:h_in, 0:w_in]
                frames = [
                    ((x * 5 + y * 11 + d * 3 + f * 17) % 256).astype(
                        np.uint8
                    )
                    for f in range(2 + d % 2)
                ]
                outs.append(
                    multimodal.encode_gif_pixels(
                        frames, palette, interlace=(d % 2 == 1)
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    return _spread(df.select("doc_id")).mapInPandas(
        gen, "doc_id long, content binary"
    )


def _gradient_bmp_frame(df: DataFrame) -> DataFrame:
    """(doc_id, content) of synthesized gradient BMPs, shared by the
    pixel-kernel oracle queries. Value at (y, x, c) is
    (x*7 + y*13 + 3*doc_id + c*37) mod 256 with dims
    (4 + doc_id%13, 4 + doc_id%11) — the SQL oracles mirror this
    formula in closed form, so it must only change in lockstep with
    BOTH oracle twins."""
    import numpy as np
    import pandas as pd

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            for i in ids:
                w_in, h_in = 4 + int(i) % 13, 4 + int(i) % 11
                y, x, c = np.ogrid[0:h_in, 0:w_in, 0:3]
                arr = ((x * 7 + y * 13 + int(i) * 3 + c * 37) % 256).astype(
                    np.uint8
                )
                outs.append(multimodal.encode_bmp_pixels(arr))
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    return _spread(df.select("doc_id")).mapInPandas(
        gen, "doc_id long, content binary"
    )


SEQ_BUDGET = 512


def q_pack_sequences_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Doc-boundary-preserving greedy sequence packing per source:
    whole documents assigned to 512-token training sequences in doc_id
    order — the pretraining batch-construction primitive chunk_tokens
    (doc-splitting) doesn't cover."""
    from dataset_grouper_spark.operators import chunking

    df = read_table(spark, sf, "documents").withColumnRenamed(
        "source", "group_id"
    )
    return chunking.pack_doc_sequences(df, "text", "doc_id", SEQ_BUDGET)


def q_multimodal_embed_pixels(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image-embedding path oracled in closed form: the same
    synthesized gradient BMPs as q_multimodal_resize_pixels, embedded
    via the 4x4 grayscale-thumbnail feature (decode -> nearest-neighbor
    thumbnail -> channel mean -> L2 normalize). The oracle recomputes
    two embedding components from the index map; rounding to 3 decimals
    absorbs the float32 storage of the embedding column."""
    imgs = _gradient_bmp_frame(read_table(spark, sf, "documents"))
    emb = multimodal.image_embeddings(imgs, "content", "doc_id", dim=16)
    return emb.select(
        "id",
        F.round(F.element_at("embedding", 1).cast("double"), 3).alias("e00"),
        F.round(F.element_at("embedding", 16).cast("double"), 3).alias("e33"),
    )


def _wav_frame(df: DataFrame) -> DataFrame:
    """(doc_id, content) of synthesized mono PCM16 WAVs, shared by the
    audio oracle queries.  Sample ``i`` of doc ``d`` is
    ``((d*31 + i*17) % 4001) - 2000`` over ``64 + d%57`` frames at
    ``8000 + (d%5)*1000`` Hz — the SQL oracles mirror this closed form,
    so it must only change in lockstep with ALL audio oracle twins."""
    import numpy as np
    import pandas as pd

    from dataset_grouper_spark.operators import audio

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            for d in ids:
                d = int(d)
                n = 64 + d % 57
                rate = 8000 + (d % 5) * 1000
                i = np.arange(n, dtype=np.int64)
                s = ((d * 31 + i * 17) % 4001) - 2000
                outs.append(audio.encode_wav_pcm16(s, rate))
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    return _spread(df.select("doc_id")).mapInPandas(
        gen, "doc_id long, content binary"
    )


def _ppm_video_frame(df: DataFrame) -> DataFrame:
    """(doc_id, content) of synthesized concatenated-PPM "videos":
    ``2 + d%5`` gradient frames of dims ``(4 + d%5, 3 + d%3)``, value
    at (y,x,c) of frame f = ``(x*7 + y*13 + d*3 + f*29 + c*37) % 256``.
    The video oracle mirrors this closed form — change only in
    lockstep."""
    import numpy as np
    import pandas as pd

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            for d in ids:
                d = int(d)
                w, h = 4 + d % 5, 3 + d % 3
                y, x, c = np.ogrid[0:h, 0:w, 0:3]
                frames = []
                for f in range(2 + d % 5):
                    arr = (
                        (x * 7 + y * 13 + d * 3 + f * 29 + c * 37) % 256
                    ).astype(np.uint8)
                    frames.append(multimodal.encode_ppm_pixels(arr))
                outs.append(b"".join(frames))
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    return _spread(df.select("doc_id")).mapInPandas(
        gen, "doc_id long, content binary"
    )


def q_video_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video frame sampling oracled in closed form: walk each
    concatenated-PPM container, decode every 2nd frame, and return
    per-frame position-weighted checksums.  The oracle regenerates the
    sampled frames' rasters from the gradient formula — a frame-offset
    slip, a stride error in the container walk, or sampling the wrong
    frames all hash-mismatch."""
    vids = _ppm_video_frame(read_table(spark, sf, "documents"))
    return multimodal.sample_video_frames(vids, "content", "doc_id", every_k=2)


def q_group_entropy_events(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-planning diagnostics: Shannon entropy (nats +
    normalized) and top-group share of the user_id group-size
    distribution — the single-row summary that decides whether a key
    needs salting before it becomes the shuffle key (normalized
    entropy ~1 = uniform = safe; low + high top-share = hot key).
    Two tiny aggregations over the per-group counts; rounding absorbs
    cross-libm ln drift."""
    ev = read_table(spark, sf, "events")
    sizes = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    total = sizes.agg(F.sum("n").alias("_tot"))
    p = sizes.crossJoin(F.broadcast(total)).withColumn(
        "_p", F.col("n") / F.col("_tot")
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n").alias("n_rows"),
        F.round(-F.sum(F.col("_p") * F.log("_p")), 6).alias("entropy_nats"),
        F.round(F.max("n") / F.first("_tot"), 6).alias("top_share"),
    )


def q_gif_frame_meta(spark: SparkSession, sf: str) -> DataFrame:
    """REAL animated-GIF structure walk oracled in closed form: per doc
    a structurally-valid GIF with 1 + d%4 frames (animated — one
    graphic-control extension per frame — when d%2=1), dims
    (4 + d%3, 3 + d%2). The walker counts image blocks without LZW
    decode; a sub-block mis-skip or color-table stride error changes
    the counts and hash-mismatches."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            for d in ids:
                d = int(d)
                outs.append(
                    multimodal.encode_gif_frames(
                        4 + d % 3, 3 + d % 2, 1 + d % 4,
                        animated=bool(d % 2),
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    gifs = (
        _spread(read_table(spark, sf, "documents").select("doc_id"))
        .mapInPandas(gen, "doc_id long, content binary")
    )
    return multimodal.gif_meta(gifs, "content", "doc_id")


def q_audio_flac_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL FLAC decode (pure stdlib+numpy — operators/flac.py: frame
    sync + CRCs, subframe dispatch, Rice residuals) oracled in closed
    form: the SAME waveform formula as the WAV fixture, FLAC-encoded
    per doc, decoded through the full frame machinery. FLAC is
    lossless, so the oracle IS the WAV features oracle — a broken
    bit-reader, CRC, blocksize walk, or sign extension
    hash-mismatches. Predictor/stereo paths are pinned by spec streams
    in tests/test_flac.py."""
    from dataset_grouper_spark.operators import audio

    flacs = _flac_frame(read_table(spark, sf, "documents"))
    return audio.audio_features(flacs, "content", "doc_id")


def _flac_frame(df: DataFrame) -> DataFrame:
    """(doc_id, content) of FLAC files over the _wav_frame waveform
    formula (sample i of doc d = ((d*31 + i*17) % 4001) - 2000, n =
    64 + d%57, rate = 8000 + (d%5)*1000) — blocksize 32 so every doc
    spans multiple frames. Change only in lockstep with the audio
    oracles."""
    import numpy as np
    import pandas as pd

    from dataset_grouper_spark.operators import flac as FL

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            for d in ids:
                d = int(d)
                n = 64 + d % 57
                rate = 8000 + (d % 5) * 1000
                i = np.arange(n, dtype=np.int64)
                s = ((d * 31 + i * 17) % 4001) - 2000
                outs.append(
                    FL.encode_flac_verbatim(s, rate, block_size=32)
                )
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    return _spread(df.select("doc_id")).mapInPandas(
        gen, "doc_id long, content binary"
    )


def q_audio_features_wav(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode oracled in closed form: synthesize a PCM16 WAV
    per doc (see _wav_frame), parse the RIFF container and compute exact
    integer signal features (peak, energy, zero crossings) executor-side.
    The oracle regenerates the waveform with generate_series and LAG —
    a byte-order slip, an off-by-one frame count, or a sign-class error
    in the crossing rule all hash-mismatch."""
    from dataset_grouper_spark.operators import audio

    wavs = _wav_frame(read_table(spark, sf, "documents"))
    return audio.audio_features(wavs, "content", "doc_id")


AUDIO_FRAME_LEN = 16


def q_audio_frame_energy(spark: SparkSession, sf: str) -> DataFrame:
    """Audio frame explode (the audio analogue of video frame
    sampling): each synthesized WAV becomes ceil(n/16) fixed-length
    analysis frames with exact integer energy/peak, emitted from one
    Arrow pass with no shuffle."""
    from dataset_grouper_spark.operators import audio

    wavs = _wav_frame(read_table(spark, sf, "documents"))
    return audio.frame_energy(
        wavs, "content", "doc_id", frame_len=AUDIO_FRAME_LEN
    )


AUDIO_OUT_RATE = 4000


def q_audio_resample_wav(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-neighbor resample to 4 kHz and PCM16 re-encode; verified
    via the closed-form index map (output sample j copies input sample
    j*n_in//n_out — the same integer kernel as the image resize). The
    re-encoded bytes are returned by the operator but excluded here:
    deflate-free as WAV is, binary columns have no DuckDB twin."""
    from dataset_grouper_spark.operators import audio

    wavs = _wav_frame(read_table(spark, sf, "documents"))
    rs = audio.resample_nearest(wavs, "content", "doc_id", AUDIO_OUT_RATE)
    return rs.select("id", "sample_rate", "n_frames", "sum_sq")


# IMA-ADPCM oracle fixture: a 24-nibble pattern (all magnitudes, both
# signs, index growth and shrink) whose spec-expansion from index 0
# stays within [-216, +99] — so with block predictors >= 500 every
# decoded sample is positive and the features are closed-form.
ADPCM_NIBS = [3, 11, 5, 13, 1, 9, 7, 15, 2, 10, 4, 12,
              6, 14, 0, 8, 3, 11, 5, 13, 2, 10, 1, 9]
ADPCM_RATE = 8000


def _adpcm_frame(df: DataFrame) -> DataFrame:
    """(doc_id, content) of hand-framed mono IMA-ADPCM WAVs: ``2 +
    d%3`` 16-byte blocks, block ``b`` anchored at predictor ``500 +
    (d*37 + b*101) % 1500`` with step index 0, nibble payload =
    ADPCM_NIBS.  Block independence makes the decode exactly ``P_b +
    C_i`` (C = the spec expansion of ADPCM_NIBS) — the oracle's
    closed form.  Change only in lockstep with the ADPCM oracle."""
    import struct

    import pandas as pd

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            packed = bytes(
                ADPCM_NIBS[i] | (ADPCM_NIBS[i + 1] << 4)
                for i in range(0, len(ADPCM_NIBS), 2)
            )
            for d in ids:
                d = int(d)
                n_blocks = 2 + d % 3
                data = b"".join(
                    struct.pack("<hBB", 500 + (d * 37 + b * 101) % 1500, 0, 0)
                    + packed
                    for b in range(n_blocks)
                )
                spb = 1 + len(ADPCM_NIBS)
                fmt = struct.pack(
                    "<HHIIHHHH", 0x11, 1, ADPCM_RATE,
                    ADPCM_RATE * 16 // spb, 16, 4, 2, spb,
                )
                wav = (
                    b"RIFF"
                    + struct.pack("<I", 4 + 8 + len(fmt) + 12 + 8 + len(data))
                    + b"WAVEfmt "
                    + struct.pack("<I", len(fmt))
                    + fmt
                    + b"fact"
                    + struct.pack("<II", 4, n_blocks * spb)
                    + b"data"
                    + struct.pack("<I", len(data))
                    + data
                )
                outs.append(wav)
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    return _spread(df.select("doc_id")).mapInPandas(
        gen, "doc_id long, content binary"
    )


def q_audio_adpcm_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL compressed-audio decode (IMA/DVI ADPCM, WAV format 0x11 —
    pure stdlib+numpy, operators/audio.py) oracled in closed form: the
    fixture's blocks re-anchor at known predictors with a fixed nibble
    pattern, so each decoded sample is predictor + a constant offset
    computed by an INDEPENDENT scalar spec expansion (oracles.py). A
    wrong step-table walk, nibble order, sign expansion, or block
    framing shifts every offset and hash-mismatches."""
    from dataset_grouper_spark.operators import audio

    wavs = _adpcm_frame(read_table(spark, sf, "documents"))
    return audio.audio_features(wavs, "content", "doc_id").select(
        "id", "n_frames", "duration_ms", "peak", "sum_sq", "zero_crossings"
    )


G711_RATE = 8000


def _g711_frame(df: DataFrame) -> DataFrame:
    """(doc_id, content) of mono G.711 WAVs — mu-law (format tag 7)
    for even doc_id, A-law (tag 6) for odd.  Code byte ``i`` of doc
    ``d`` is ``(d*7 + i*13) % 256`` over ``48 + d%41`` samples at
    8000 Hz, sweeping every code value including both signs and the
    ±0 mu-law codes.  The oracle decodes the same byte formula with
    the G.711 expansion written in SQL — change only in lockstep."""
    import struct

    import pandas as pd

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            outs = []
            for d in ids:
                d = int(d)
                n = 48 + d % 41
                codes = bytes((d * 7 + i * 13) % 256 for i in range(n))
                tag = 7 if d % 2 == 0 else 6
                fmt = struct.pack(
                    "<HHIIHH", tag, 1, G711_RATE, G711_RATE, 1, 8
                )
                outs.append(
                    b"RIFF"
                    + struct.pack(
                        "<I", 4 + 8 + len(fmt) + 12 + 8 + len(codes)
                    )
                    + b"WAVEfmt "
                    + struct.pack("<I", len(fmt))
                    + fmt
                    + b"fact"
                    + struct.pack("<II", 4, n)
                    + b"data"
                    + struct.pack("<I", len(codes))
                    + codes
                )
            yield pd.DataFrame({"doc_id": ids, "content": outs})

    return _spread(df.select("doc_id")).mapInPandas(
        gen, "doc_id long, content binary"
    )


def q_audio_g711_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL G.711 telephony-audio decode (WAV format tags 6 = A-law,
    7 = mu-law — the ITU-T logarithmic 8-bit codings every telephony
    corpus is stored in), pure table-lookup expansion in
    operators/audio.py. Oracled in closed form: the fixture stores raw
    code bytes from a known formula and the DuckDB twin performs the
    SAME G.711 integer expansion (complement / xor-0x55, segment
    shift, bias) in SQL — a wrong sign convention, segment threshold,
    or bias hash-mismatches on the first byte. Reference analogue:
    audio payloads are opaque bytes features to the grouper
    (dataset_grouper/core/serialization.py:23-48); decode is an
    extension."""
    from dataset_grouper_spark.operators import audio

    wavs = _g711_frame(read_table(spark, sf, "documents"))
    return audio.audio_features(wavs, "content", "doc_id")


COSINE_PAIR_T = 0.45


def q_embedding_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "embeddings")
    # explicit num_blocks skips the count-derivation job; pair values
    # are independent of the blocking factor
    return similarity.cosine_pairs(
        df, "embedding", "vec_id", COSINE_PAIR_T, num_blocks=4
    )


def q_partitioned_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Full storage lifecycle (write partitioned -> group index -> read
    pruned): returns the group index. Not SQL-expressible (filesystem
    side effects) -> rows-only driver check."""
    import tempfile

    from dataset_grouper_spark import sinks
    from dataset_grouper_spark.loader import PartitionedDataset

    df = read_table(spark, sf, "documents")
    path = tempfile.mkdtemp(prefix="pds_rt_")
    sinks.write_partitioned(df, keys.by_feature("source"), path, order_col="doc_id")
    return PartitionedDataset(spark, path).group_index()


CMP_TARGET_ROWS = 10


def q_bucketed_colocated_join(spark: SparkSession, sf: str) -> DataFrame:
    """Spark-native bucketed-table lifecycle: write orders AND customer
    bucketed by custkey (same bucket count), then join and aggregate.
    The joined plan is asserted Exchange-FREE before execution (the
    100 TB point: both fact scans join map-side, the only shuffle left
    is the 5-row mktsegment rollup) — with broadcast scoped off so the
    assertion exercises the bucketed sort-merge path, not a small-dim
    broadcast. The oracle is the plain relational join on the original
    parquet: bucketing must not change a single row."""
    import tempfile

    from dataset_grouper_spark import plans
    from dataset_grouper_spark.sinks import bucketed_tables as bt

    orders = read_table(spark, sf, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = read_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    on = bt.temp_table_name("q_orders_b")
    cn = bt.temp_table_name("q_cust_b")
    bt.write_bucketed_table(
        spark, orders, on, tempfile.mkdtemp(prefix="bt_o_"),
        ["o_custkey"], 8, ["o_custkey"],
    )
    bt.write_bucketed_table(
        spark, cust, cn, tempfile.mkdtemp(prefix="bt_c_"),
        ["o_custkey"], 8, ["o_custkey"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bt.colocated_join(spark, on, cn, "o_custkey")
        n_ex = plans.count_exchanges(j)
        if n_ex != 0:
            raise AssertionError(
                f"bucketed join planned {n_ex} Exchange(s) — co-location "
                "contract broken"
            )
        return j.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)")
            )
            .cast("double")
            .alias("total_price"),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def q_upsert_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE lifecycle on the partitioned layout: write the corpus,
    then one upsert batch that REPLACES every doc_id%5==0 text (suffix
    '-v2') and INSERTS a clone (+10M id, 'new-<id>' text) for every
    doc_id%7==0. The oracle reconstructs the exact final state in SQL,
    so a lost replacement, a double-applied insert, or a row leaked
    from an untouched group all hash-mismatch. Group-pruned rewrite
    mechanics (untouched dirs never touched) are mtime-asserted in
    tests/test_upsert.py."""
    import tempfile

    from dataset_grouper_spark import sinks

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "source", "text"
    )
    path = tempfile.mkdtemp(prefix="ups_rt_")
    sinks.write_partitioned(
        docs, keys.by_feature("source"), path, order_col="doc_id"
    )
    updates = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit("-v2"))
    )
    inserts = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        "source",
        F.concat(F.lit("new-"), F.col("doc_id").cast("string")).alias(
            "text"
        ),
    )
    sinks.upsert_partitioned(
        spark,
        updates.unionByName(inserts),
        keys.by_feature("source"),
        path,
        "doc_id",
        "doc_id",
    )
    final = spark.read.parquet(f"{path}/data")
    return final.groupBy(
        F.col(keys.GROUP_COL).alias("group_id")
    ).agg(
        F.count(F.lit(1)).alias("num_examples"),
        F.sum(F.octet_length("text")).alias("num_bytes"),
        F.sum("doc_id").alias("sum_ids"),
    )


DP_EPS = 1.0
DP_SEED = 42
DP_CLAMP = 100.0


def q_dp_group_counts_documents(spark: SparkSession, sf: str) -> DataFrame:
    """ε-DP per-source document counts (google-parfait's home turf:
    group structure exists so per-user releases can carry privacy
    budgets — the public reference releases raw counts, this is the
    private release mechanism): true count + seeded Laplace(1/ε) noise
    from the md5 inverse-CDF. The oracle regenerates the identical
    noise closed-form; the seed exists FOR that reproducibility —
    production passes seed=None (fresh randomness), as the module
    docstring spells out."""
    from dataset_grouper_spark.functions import dp

    docs = read_table(spark, sf, "documents")
    return dp.dp_group_counts(docs, "source", epsilon=DP_EPS, seed=DP_SEED)


def q_dp_group_counts_geo_documents(spark: SparkSession, sf: str) -> DataFrame:
    """ε-DP per-source counts via the GEOMETRIC mechanism (discrete
    Laplace — Ghosh et al.'s universally-optimal integer mechanism):
    integer releases, so the hash compare is exact with no rounding
    anywhere."""
    from dataset_grouper_spark.functions import dp

    docs = read_table(spark, sf, "documents")
    return dp.dp_group_counts_geometric(
        docs, "source", epsilon=DP_EPS, seed=DP_SEED
    )


def q_dp_group_sums_events(spark: SparkSession, sf: str) -> DataFrame:
    """ε-DP per-type event-value sums with explicit per-row clamping
    (the clamp IS the sensitivity bound — the guarantee evaporates
    without it)."""
    from dataset_grouper_spark.functions import dp

    ev = read_table(spark, sf, "events")
    return dp.dp_group_sums(
        ev, "event_type", "value", epsilon=DP_EPS, clamp=DP_CLAMP,
        seed=DP_SEED,
    )


SHARD_TOKENS = 5000


def q_token_shards_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budgeted training shards via the DISTRIBUTED prefix sum
    (range-repartition -> per-partition window -> driver-prefixed
    offsets — never the single-task global window): each shard holds
    ~5000 consecutive tokens of doc_id-ordered corpus, docs never
    split. The oracle recomputes the assignment with a plain window
    cumsum — the two spellings must agree exactly."""
    from dataset_grouper_spark.operators import prefix

    docs = read_table(spark, sf, "documents").select("doc_id", "text")
    sharded = prefix.with_token_shards(
        docs,
        textstats.words_expr("text"),
        "doc_id",
        SHARD_TOKENS,
        num_partitions=16,
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(textstats.words_expr("text")).alias("tokens"),
    )


def q_delete_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """DELETE lifecycle (GDPR/TTL shape) on the partitioned layout:
    write the corpus, erase every German doc with doc_id%3==0
    (group-pruned rewrite — only directories containing matches are
    touched), return the survivor rollup. The oracle is the filter
    complement over the pristine table: a row deleted too many/few, or
    leaked from an untouched group, hash-mismatches."""
    import tempfile

    from dataset_grouper_spark import sinks

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    path = tempfile.mkdtemp(prefix="del_rt_")
    sinks.write_partitioned(
        docs, keys.by_feature("source"), path, order_col="doc_id"
    )
    sinks.delete_partitioned(
        spark, path, "lang = 'de' AND doc_id % 3 = 0", order_col="doc_id"
    )
    final = spark.read.parquet(f"{path}/data")
    return final.groupBy(F.col(keys.GROUP_COL).alias("group_id")).agg(
        F.count(F.lit(1)).alias("num_examples"),
        F.sum(F.octet_length("text")).alias("num_bytes"),
        F.sum("doc_id").alias("sum_ids"),
    )


LM_TIERS = 4


def q_lm_tiered_documents(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet's actual release shape, composed from two oracled ops:
    score every doc under the English-reference bigram LM, then cut
    the corpus into 4 equal-population QUALITY TIERS (equi-depth bins
    over avg_logprob — head/tail perplexity tiers, the way CCNet ships
    CommonCrawl). One pipeline: LM joins → prefix-sum rank → tier
    rollup; returns per tier (n_docs, id-sum, score bounds)."""
    from dataset_grouper_spark.functions import lm
    from dataset_grouper_spark.operators import profile

    docs = read_table(spark, sf, "documents")
    scores = lm.bigram_logprob(
        docs, "text", "doc_id", ref=docs.filter(LM_REF_FILTER)
    ).withColumn(
        # rank on the ROUNDED score: engines differ in the last ulps of
        # the log-average, and an unrounded rank could flip two
        # near-equal docs across a tier edge
        "avg_logprob",
        F.round("avg_logprob", 9),
    )
    return (
        profile.equidepth_bins(scores, "avg_logprob", "doc_id", LM_TIERS)
        .withColumnRenamed("bin", "tier")
        .withColumnRenamed("n_rows", "n_docs")
    )


NEG_K = 4


def q_contrastive_negatives_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic contrastive negative sampling: 4 uniform
    non-self negatives per anchor doc via dense prefix-sum ranks + a
    content-hash walk — reproducible on any engine/cluster (RNG-based
    sampling is not). Pins exact pair membership."""
    from dataset_grouper_spark.operators import sessions

    docs = read_table(spark, sf, "documents")
    return sessions.contrastive_negatives(docs, "doc_id", NEG_K)


def q_clean_text_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Web-text normalization cascade: every doc is wrapped in planted
    noise (tags, a comment, entities, both mojibake variants of ’) and
    then cleaned — tag/comment strip, entity decode, double-encoding
    repair, whitespace collapse, all Catalyst regex/replace chains.
    The oracle plants and cleans identically, so a single divergent
    replacement rule hash-mismatches. Returns per-doc cleaned length +
    checksum."""
    from dataset_grouper_spark.functions import textfix

    # noise built FROM the repair table (literal mojibake in source is
    # mangle-prone): cp1252 + latin-1 forms of ’, and the é form
    moj_a = textfix.MOJIBAKE[7][0]
    moj_b = textfix.MOJIBAKE[8][0]
    moj_e = textfix.MOJIBAKE[0][0]
    docs = read_table(spark, sf, "documents")
    dirty = F.concat(
        F.lit("<p class='x'>"),
        F.col("text"),
        F.lit(f"</p> <!-- note --> &amp; caf{moj_e}{moj_a}{moj_b}  end"),
    )
    cleaned = textfix.clean_text(dirty)
    return docs.select(
        "doc_id",
        F.length(cleaned).alias("clean_len"),
        F.conv(F.substring(F.md5(cleaned), 1, 9), 16, 10)
        .cast("long")
        .alias("clean_checksum"),
    )


BPE_MERGES = 8


def q_bpe_merges_documents(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich 2016) on the corpus: learn 8
    merges over the frequency-weighted word vocabulary — per merge one
    vocab-sized pair aggregation + a 1-row deterministic argmax
    (count desc, pair asc). The oracle unrolls the merge loop into CTE
    stages whose argmax feeds the next stage's replace through scalar
    subqueries, so the learned merge table is cross-engine EXACT."""
    from dataset_grouper_spark.functions import bpe

    docs = read_table(spark, sf, "documents")
    merges, _ = bpe.fit_bpe(docs, "text", BPE_MERGES)
    return spark.createDataFrame(
        [
            (i + 1, left, right, cnt)
            for i, (left, right, cnt) in enumerate(merges)
        ],
        "merge_rank int, merge_left string, merge_right string, "
        "pair_count long",
    )


def q_bpe_token_counts_documents(spark: SparkSession, sf: str) -> DataFrame:
    """BPE ENCODE-side accounting: per-document token counts under the
    8-merge vocabulary fit on the same corpus — the doc word stream
    joins the merged vocab (size-based broadcast). Fit + encode in one
    query; the twin reuses the same unrolled stages."""
    from dataset_grouper_spark.functions import bpe

    docs = read_table(spark, sf, "documents")
    _, vocab = bpe.fit_bpe(docs, "text", BPE_MERGES)
    return bpe.bpe_token_counts(docs, "text", "doc_id", vocab)


def q_weighted_sample_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted sampling: keep probability proportional to
    document length (clamped at 1) — longer docs are likelier to
    survive, decided by the deterministic content-hash bucket.
    Zero-shuffle scan-side predicate; the rollup pins the exact
    surviving membership."""
    from dataset_grouper_spark.operators import sessions

    docs = read_table(spark, sf, "documents")
    kept = sessions.probability_sample(
        docs, F.octet_length("text") / F.lit(800.0), "doc_id"
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_ids"),
    )


CMS_WIDTH = 256
CMS_DEPTH = 4
HLL_P = 9


def q_cms_user_counts_events(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch frequency estimation over event user_ids:
    build (one exploded aggregation into depth×width=1024 cells —
    fixed memory at ANY key cardinality), then point-estimate every
    distinct user. The md5 bucket math is engine-portable, so the
    DuckDB twin reproduces the estimates bit-for-bit — including the
    collision overestimates, which is the point: the sketch's exact
    deterministic behavior is the contract, est >= true always."""
    from dataset_grouper_spark.functions import sketches

    ev = read_table(spark, sf, "events")
    sketch = sketches.cms_build(ev, "user_id", CMS_WIDTH, CMS_DEPTH)
    probes = ev.select("user_id").distinct()
    return sketches.cms_estimate(
        sketch, probes, "user_id", CMS_WIDTH, CMS_DEPTH
    )


def _documents_check_suite():
    """Shared constraint suite — ONE definition feeds both the Spark
    query and the DuckDB twin (operators/expectations.py)."""
    from dataset_grouper_spark.operators import expectations as E

    return [
        E.completeness("text", 1.0),
        E.completeness("lang", 1.0),
        E.uniqueness("doc_id", 1.0),
        E.uniqueness("source", 0.5),  # expected to FAIL: few sources
        E.in_range("n_chars", 1, 100000, 1.0),
        E.matches("lang", "^[a-z][a-z]$", 1.0),
        E.in_set("lang", ["en", "de", "fr", "es", "zh"], 0.99),
        E.satisfies("text_len_agrees", "length(text) = n_chars", 0.9),
        E.satisfies("non_empty_text", "length(text) > 0", 1.0),
    ]


def q_quality_checks_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality constraint suite (the Deequ/Great-Expectations
    ingest-gate shape) over documents: 9 declared checks —
    completeness, uniqueness, range, regex, set membership, arbitrary
    row predicates — ALL computed in ONE aggregation pass (a 30-check
    suite at 100 TB is still a single scan with map-side partials,
    never a job per check). Rates are banker's-rounded before the
    threshold compare so a summation ulp can never flip a verdict
    differently across engines; the oracle is generated from the SAME
    suite objects."""
    from dataset_grouper_spark.operators import expectations as E

    docs = read_table(spark, sf, "documents")
    return E.run_checks(docs, _documents_check_suite())


def q_hll_distinct_events(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized HyperLogLog registers (functions/sketches.py):
    per-event-type sketches over user_id (low cardinality — exercises
    the linear-counting correction) AND event_id (high cardinality —
    the raw harmonic estimator), estimated per group. Unlike
    approx_count_distinct, the register table itself is the artifact —
    storable and lossless-mergeable across days/engines — and the md5
    hash idiom makes the registers, and therefore the estimates,
    engine-portable: the DuckDB twin reproduces them to the shared
    4-decimal round."""
    from dataset_grouper_spark.functions import sketches

    ev = read_table(spark, sf, "events")
    frames = []
    for key in ("user_id", "event_id"):
        est = sketches.hll_estimate(
            sketches.hll_build(ev, key, ("event_type",), p=HLL_P),
            ("event_type",),
            p=HLL_P,
        )
        frames.append(est.withColumn("key", F.lit(key)))
    return frames[0].unionByName(frames[1]).select(
        "key", "event_type", "zeros", "est"
    )


KMV_K = 64


def q_kmv_distinct_events(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized KMV / bottom-k ("theta"-style) distinct sketches
    (functions/sketches.py): per-event-type kept-hash sets over
    user_id (150 distinct > k=64, so the (k-1)/theta estimator branch
    runs, not the exact one), the lossless roll-up UNION across all
    types, and a theta-rule INTERSECTION estimate of click∩view users
    — the set algebra HLL registers cannot do. The md5 hash idiom
    makes every kept hash, and therefore every estimate, engine-
    portable: the DuckDB twin reproduces kept sets bit-exactly and the
    estimates to the shared 4-decimal round."""
    from dataset_grouper_spark.functions import sketches

    ev = read_table(spark, sf, "events")
    sk = sketches.kmv_build(ev, "user_id", ("event_type",), k=KMV_K)
    per = sketches.kmv_estimate(sk, ("event_type",), KMV_K).select(
        F.col("event_type").alias("scope"), "n_hashes", "est"
    )
    union_sk = sketches.kmv_merge(sk, group_cols=())
    total = sketches.kmv_estimate(union_sk, (), KMV_K).select(
        F.lit("__union__").alias("scope"), "n_hashes", "est"
    )
    sa = sk.where(F.col("event_type") == "click").drop("event_type")
    sb = sk.where(F.col("event_type") == "view").drop("event_type")
    inter = sketches.kmv_intersect_estimate(sa, sb, KMV_K).select(
        F.lit("click&view").alias("scope"),
        F.col("matched").alias("n_hashes"),
        F.col("est_intersect").alias("est"),
    )
    return per.unionByName(total).unionByName(inter)


def q_matview_refresh_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-aggregate lifecycle: materialize the
    per-source (rows, bytes, id-sum) rollup over HALF the corpus, then
    fold the other half in via `refresh_materialized_sums` — O(batch +
    groups), the corpus is never rescanned (the same merge contract
    the sidecar indexes use internally). The oracle is the direct
    GROUP BY over the full table: a dropped group, double-fold, or
    stale store hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.operators import matview

    docs = read_table(spark, sf, "documents")
    sums = {
        "num_examples": F.lit(1),
        "num_bytes": F.octet_length("text"),
        "sum_ids": F.col("doc_id"),
    }
    path = os.path.join(tempfile.mkdtemp(prefix="mv_"), "agg")
    matview.create_materialized_sums(
        docs.filter("doc_id % 2 = 0"), ["source"], sums, path
    )
    matview.refresh_materialized_sums(
        spark, docs.filter("doc_id % 2 = 1"), ["source"], sums, path
    )
    return spark.read.parquet(path)


K_ANON_K = 30
L_DIV_L = 3


def q_k_anonymize_customers(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity suppression (operators/anonymize.py): customers are
    generalized (account balance recoded to 2000-unit buckets), then
    every row whose (segment, balance-bucket) equivalence class has
    fewer than k=30 members is SUPPRESSED — the privacy release gate
    run before a corpus leaves the pipeline. One shuffle (class
    counts) + one semi join; NULL quasi values form their own class.
    The oracle replays the identical recode+suppress in SQL, so a
    leaked small-class row or an over-suppressed class
    hash-mismatches."""
    from dataset_grouper_spark.operators import anonymize

    cust = read_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return anonymize.k_anonymize(
        cust,
        ["c_mktsegment", "c_acctbal"],
        K_ANON_K,
        generalize={
            "c_acctbal": F.floor(F.col("c_acctbal") / 2000).cast("long")
        },
    )


def q_l_diversity_documents(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity audit (operators/anonymize.py): per (lang, source)
    equivalence class, the count of distinct length-bucket 'sensitive'
    values and whether it meets l=3 — the homogeneity-attack check a
    k-anonymous release still needs. One shuffle."""
    from dataset_grouper_spark.operators import anonymize

    docs = read_table(spark, sf, "documents").withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 500).cast("long")
    )
    return anonymize.l_diversity_check(
        docs, ["lang", "source"], "len_bucket", L_DIV_L
    )


def q_matview_join_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental JOIN-view maintenance (operators/matview.py
    join_delta / refresh_materialized_join): materialize
    orders ⋈ lineitem over the OLD halves, then fold append-only
    deltas of BOTH sides in one refresh — only the three
    delta-quadrant joins run (dA⋈B ∪ A⋈dB ∪ dA⋈dB, the classic IVM
    identity), the stored old×old rows carry over untouched. The
    oracle is the rollup of the FULL re-join, so a missing quadrant,
    a double-folded row, or broken duplicate multiplicity all
    hash-mismatch. At 100 TB this is the operator that keeps a joined
    feature table fresh at O(batch) instead of O(corpus²)."""
    import tempfile

    from dataset_grouper_spark.operators import matview

    orders = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = read_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_returnflag",
        "l_extendedprice",
        "l_discount",
    )
    a_old = orders.filter("o_orderkey % 4 != 0")
    d_a = orders.filter("o_orderkey % 4 = 0")
    b_old = li.filter("o_orderkey % 5 != 0")
    d_b = li.filter("o_orderkey % 5 = 0")
    path = os.path.join(tempfile.mkdtemp(prefix="mvj_"), "view")
    matview.create_materialized_join(a_old, b_old, ["o_orderkey"], path)
    matview.refresh_materialized_join(
        spark, path, a_old, d_a, b_old, d_b, ["o_orderkey"]
    )
    return (
        spark.read.parquet(path)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
    )


def q_streaming_delta_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ingestion into a DELTA table, exactly-once per epoch
    (streaming/delta_sink.py): documents arrive as a 3-file stream
    (one micro-batch each); every epoch commits its data AND a
    protocol ``txn {appId, version=epoch}`` action in ONE atomic log
    entry. The query then REPLAYS a committed epoch on purpose
    (delta_append_txn with an already-committed version over the whole
    corpus) — were the txn check broken, every group would
    double-count against the plain GROUP BY oracle. Read back through
    the pure-Python log reader."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_append_txn,
        read_delta,
    )
    from dataset_grouper_spark.streaming.delta_sink import (
        stream_append_delta,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    src = tempfile.mkdtemp(prefix="sdelta_src_")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    ckpt = tempfile.mkdtemp(prefix="sdelta_ck_")
    table = os.path.join(tempfile.mkdtemp(prefix="sdelta_tbl_"), "tbl")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    with _stream_shuffle_partitions(spark):
        _drain_stream(stream_append_delta(stream, table, ckpt))
    # deliberate crash-replay of epoch 0 with the FULL corpus: the txn
    # ledger must reject it (None), else every group double-counts
    replayed = delta_append_txn(
        spark, docs, table, "dataset-grouper-stream", 0
    )
    assert replayed is None, "txn replay must be a no-op"
    return (
        read_delta(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum(F.octet_length("text")).alias("text_bytes"),
        )
    )


def q_streaming_delta_sink_partitioned(
    spark: SparkSession, sf: str
) -> DataFrame:
    """PARTITIONED streaming write through the registered delta_lite
    FORMAT (streaming/delta_source.py): documents arrive as a 3-file
    stream; each micro-batch's executor tasks split their Arrow
    batches into one parquet file per distinct lang, partition
    literals land in ``add.partitionValues`` (never in the data
    files), and the batch's files + a ``txn {appId, version=batchId}``
    action commit atomically. The stream is then re-run from a FRESH
    checkpoint with the SAME appId — every epoch replays and must
    no-op (else every group double-counts against the plain GROUP BY
    oracle). Partition pruning over the API-written log is asserted
    in-query."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_skip_plan,
        read_delta,
    )
    from dataset_grouper_spark.streaming.delta_source import (
        DeltaLiteDataSource,
    )

    spark.dataSource.register(DeltaLiteDataSource)
    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    src = tempfile.mkdtemp(prefix="pdelta_src_")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    table = os.path.join(tempfile.mkdtemp(prefix="pdelta_tbl_"), "tbl")

    def drain(ckpt_dir: str) -> None:
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        q = (
            stream.writeStream.format("delta_lite")
            .option("path", table)
            .option("partitionBy", "lang")
            .option("txnAppId", "dg-part-stream")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)

    with _stream_shuffle_partitions(spark):
        drain(tempfile.mkdtemp(prefix="pdelta_ck1_"))
        # deliberate crash-replay: fresh checkpoint, same appId — every
        # epoch re-fires and the txn ledger must reject each one
        drain(tempfile.mkdtemp(prefix="pdelta_ck2_"))
    kept, total = delta_skip_plan(spark, table, [("lang", "=", "en")])
    assert kept and len(kept) < total, "partition pruning must prune"
    return (
        read_delta(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum(F.octet_length("text")).alias("text_bytes"),
        )
    )


def q_streaming_webdataset_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ingestion into WebDataset tar shards, exactly-once
    per epoch (streaming/webdataset_sink.py): documents arrive as a
    3-file stream (one micro-batch each); every epoch writes its own
    deterministic shard set under epoch=<id>/ and commits an
    _epochs/<id>.json marker strictly after the bytes land — replays
    no-op on the marker, torn epochs stay invisible to the committed-
    epoch reader. Read back through the one-task-per-shard streamed
    tar reads and re-aggregate per extension; the DuckDB twin
    recomputes counts, byte totals and md5 content checksums straight
    from the documents table, so a duplicated epoch, dropped sample,
    or corrupted member anywhere in the tar codec hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.streaming.webdataset_sink import (
        read_webdataset_epochs,
        stream_webdataset_sink,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "text", "lang"
    )
    src = tempfile.mkdtemp(prefix="swds_src_")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    ckpt = tempfile.mkdtemp(prefix="swds_ck_")
    out = os.path.join(tempfile.mkdtemp(prefix="swds_out_"), "wds")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    with _stream_shuffle_partitions(spark):
        _drain_stream(
            stream_webdataset_sink(
                stream, out, "doc_id",
                {"text": "txt", "lang": "cls"}, ckpt, num_shards=2,
            )
        )
    long = read_webdataset_epochs(spark, out)
    return long.groupBy("ext").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.length("data")).cast("long").alias("n_bytes"),
        F.sum(
            F.conv(F.substring(F.md5(F.col("data")), 1, 9), 16, 10)
            .cast("long")
        ).cast("long").alias("content_checksum"),
        F.countDistinct("key").cast("long").alias("n_keys"),
    )


def q_streaming_iceberg_sink_partitioned(
    spark: SparkSession, sf: str
) -> DataFrame:
    """PARTITIONED streaming write through the registered iceberg_lite
    FORMAT (streaming/iceberg_source.py): identity-transform spec
    created from ``partitionBy``, each task one file per distinct
    lang, the manifest entry's ``partition`` struct carrying the
    tuple (what manifest-level pruning reads), epoch guard in the
    snapshot summary. Re-run from a fresh checkpoint with the same
    appId — every epoch must no-op. Manifest partition pruning over
    the API-written table is asserted in-query."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        _live_files,
        _load_metadata,
        read_iceberg,
    )
    from dataset_grouper_spark.streaming.iceberg_source import (
        IcebergLiteDataSource,
    )

    spark.dataSource.register(IcebergLiteDataSource)
    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    src = tempfile.mkdtemp(prefix="pice_src_")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    table = os.path.join(tempfile.mkdtemp(prefix="pice_tbl_"), "tbl")

    def drain(ckpt_dir: str) -> None:
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        q = (
            stream.writeStream.format("iceberg_lite")
            .option("path", table)
            .option("partitionBy", "lang")
            .option("epochAppId", "dg-part-ice")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)

    with _stream_shuffle_partitions(spark):
        drain(tempfile.mkdtemp(prefix="pice_ck1_"))
        drain(tempfile.mkdtemp(prefix="pice_ck2_"))  # replay: no-ops
    meta = _load_metadata(table)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    pruned, _d, _r, _e = _live_files(table, snap, {"lang": "en"})
    full, _d2, _r2, _e2 = _live_files(table, snap)
    assert pruned and len(pruned) < len(full), "manifest pruning must prune"
    return (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum(F.octet_length("text")).alias("text_bytes"),
        )
    )


def q_streaming_iceberg_sink_bucketed(
    spark: SparkSession, sf: str
) -> DataFrame:
    """BUCKET-partitioned streaming sink through the registered
    iceberg_lite format (r13, VERDICT r12 task 3): the table is
    created by ``iceberg_append(partition_spec=[('doc_id',
    'bucket[8]')])``, then the rest of the corpus streams in through
    ``writeStream.format("iceberg_lite")`` — the factory resolves the
    NON-IDENTITY spec, write tasks compute each row's bucket with the
    spec's murmur3 (``_transform_value``, the same function read-side
    pruning uses), and the manifest carries the exact partition
    struct ``iceberg_append`` would commit. Replayed from a fresh
    checkpoint with the same appId: every epoch no-ops (a replay
    doubles counts and hash-mismatches). Stage 0 = whole table by
    lang; stage 1 = a bucket-pruned point lookup over an
    API-written row (manifest pruning asserted in-query)."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        _expected_partition,
        _live_files,
        _load_metadata,
        iceberg_append,
        read_iceberg,
    )
    from dataset_grouper_spark.streaming.iceberg_source import (
        IcebergLiteDataSource,
    )

    spark.dataSource.register(IcebergLiteDataSource)
    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table = os.path.join(tempfile.mkdtemp(prefix="bice_tbl_"), "tbl")
    iceberg_append(
        spark,
        docs.filter(F.col("doc_id") % 2 == 0),
        table,
        partition_spec=[("doc_id", "bucket[8]")],
    )
    src = tempfile.mkdtemp(prefix="bice_src_")
    for i in range(2):
        docs.filter(
            (F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 2 * i + 1)
        ).coalesce(1).write.parquet(f"{src}/b{i}")

    def drain(ckpt_dir: str) -> None:
        stream = (
            spark.readStream.schema("doc_id long, lang string, n_chars long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        q = (
            stream.writeStream.format("iceberg_lite")
            .option("path", table)
            .option("epochAppId", "dg-bucket-ice")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)

    with _stream_shuffle_partitions(spark):
        drain(tempfile.mkdtemp(prefix="bice_ck1_"))
        drain(tempfile.mkdtemp(prefix="bice_ck2_"))  # replay: no-ops
    meta = _load_metadata(table)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    # bucket pruning must prune the stream-written files too: the
    # filter translates through the spec ({'doc_id': 1} ->
    # {'doc_id_bucket': murmur3-bucket(1)}), as read_iceberg does
    pruned, _d, _r, _e = _live_files(
        table, snap, _expected_partition(meta, {"doc_id": 1})
    )
    full, _d2, _r2, _e2 = _live_files(table, snap)
    assert pruned and len(pruned) < len(full), "bucket pruning must prune"
    whole = (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("stage", F.lit(0))
    )
    point = (
        read_iceberg(spark, table, partition_filter={"doc_id": 1})
        .filter(F.col("doc_id") == 1)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("stage", F.lit(1))
    )
    return whole.unionByName(point).select(
        "stage", "lang", "n", "sum_ids", "sum_chars"
    )


def q_convert_cm_delta_to_iceberg(
    spark: SparkSession, sf: str
) -> DataFrame:
    """COLUMN-MAPPED Delta -> Iceberg conversion via name mapping
    (r13, VERDICT r12 task 4; sources/convert.py + iceberg.py
    _name_mapping_extras): the corpus lives in a name-mapped Delta
    table (physical col-1/col-2/col-3 parquet names),
    ``convert_delta_to_iceberg`` exposes the SAME files as an Iceberg
    table with ``schema.name-mapping.default`` (the spec's Column
    Projection rule) — zero data rewritten — and ``read_iceberg``
    coalesces the mapped scan back to logical names (a reader that
    scans logical names only returns all-NULL and hash-mismatches).
    Stage 0 = the converted snapshot; stage 1 = after a CM
    delta_append (+1000000 ids, physical-named file) mirrored over by
    ``sync_delta_to_iceberg`` — the incremental mirror rides the same
    mapping."""
    import tempfile

    from dataset_grouper_spark.sources.convert import (
        convert_delta_to_iceberg,
        sync_delta_to_iceberg,
    )
    from dataset_grouper_spark.sources.delta import delta_append
    from dataset_grouper_spark.sources.iceberg import read_iceberg

    table = _column_mapped_docs_table(spark, sf)
    ice = os.path.join(tempfile.mkdtemp(prefix="cmconv_"), "ice")
    convert_delta_to_iceberg(spark, table, ice)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
    ]
    a = (
        read_iceberg(spark, ice)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(0))
    )
    docs = read_table(spark, sf, "documents").select(
        "doc_id", "text", "lang"
    )
    delta_append(
        spark,
        docs.filter(F.col("doc_id") % 4 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        ),
        table,
    )
    assert sync_delta_to_iceberg(spark, table, ice) is not None
    b = (
        read_iceberg(spark, ice)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(1))
    )
    return a.unionByName(b).select(
        "stage", "lang", "n", "sum_ids", "text_bytes"
    )


def q_delta_cm_format_write(spark: SparkSession, sf: str) -> DataFrame:
    """delta_lite writes on a COLUMN-MAPPED table (r13, VERDICT r12
    task 3; streaming/delta_source.py): the corpus lives in a
    name-mapped table (physical col-1/col-2/col-3), a batch
    ``df.write.format("delta_lite")`` appends doc_id%3==0 shifted by
    +1000000 (files staged under PHYSICAL names — a logical-named
    file reads back all-NULL and hash-mismatches), and a streaming
    append lands doc_id%5==0 shifted by +2000000 through the same
    staging with the txn epoch guard (drained twice from one
    checkpoint: the replay must no-op). Read back through BOTH
    halves: stage 0 aggregates ``read_delta``, stage 1 the registered
    batch reader — they must agree with each other and the oracle."""
    import tempfile

    from dataset_grouper_spark.sources.delta import read_delta
    from dataset_grouper_spark.streaming.delta_source import (
        DeltaLiteDataSource,
    )

    try:
        spark.dataSource.register(DeltaLiteDataSource)
    except Exception:
        pass  # already registered in this session

    table = _column_mapped_docs_table(spark, sf)
    docs = read_table(spark, sf, "documents").select(
        "doc_id", "text", "lang"
    )
    (
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .write.format("delta_lite")
        .mode("append")
        .option("path", table)
        .save()
    )
    src = tempfile.mkdtemp(prefix="cmdw_src_")
    (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2000000)
        .coalesce(1)
        .write.parquet(f"{src}/b0")
    )
    ckpt = tempfile.mkdtemp(prefix="cmdw_ck_")

    def drain() -> None:
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .parquet(src + "/*")
        )
        q = (
            stream.writeStream.format("delta_lite")
            .option("path", table)
            .option("txnAppId", "dg-cm-delta")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)

    with _stream_shuffle_partitions(spark):
        drain()
        drain()  # replay from the same checkpoint: txn guard no-ops
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
    ]
    a = (
        read_delta(spark, table)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(0))
    )
    b = (
        spark.read.format("delta_lite")
        .option("path", table)
        .load()
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(1))
    )
    return a.unionByName(b).select(
        "stage", "lang", "n", "sum_ids", "text_bytes"
    )


def q_streaming_iceberg_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ingestion into an ICEBERG table, exactly-once per
    epoch (streaming/iceberg_sink.py): documents arrive as a 3-file
    stream (one micro-batch each); every epoch commits one snapshot
    whose SUMMARY carries ``{app-id, epoch}`` atomically. The query
    then REPLAYS a committed epoch on purpose with the FULL corpus —
    were the epoch guard broken, every group would double-count
    against the plain GROUP BY oracle. Read back through the
    pure-Python metadata walk."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        iceberg_append_epoch,
        read_iceberg,
    )
    from dataset_grouper_spark.streaming.iceberg_sink import (
        stream_append_iceberg,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    src = tempfile.mkdtemp(prefix="siceberg_src_")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    ckpt = tempfile.mkdtemp(prefix="siceberg_ck_")
    table = os.path.join(tempfile.mkdtemp(prefix="siceberg_tbl_"), "tbl")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    with _stream_shuffle_partitions(spark):
        _drain_stream(stream_append_iceberg(stream, table, ckpt))
    replayed = iceberg_append_epoch(
        spark, docs, table, "dataset-grouper-stream", 0
    )
    assert replayed is None, "epoch replay must be a no-op"
    return (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum(F.octet_length("text")).alias("text_bytes"),
        )
    )


def q_streaming_matview_sums(spark: SparkSession, sf: str) -> DataFrame:
    """Continuously-maintained materialized rollup: documents arrive as
    a 3-file stream (one micro-batch each) and every epoch folds into
    the per-source (rows, bytes, id-sum) table at O(batch + groups) —
    the epoch tag commits atomically WITH the fold (same directory
    swap), so a crash-replayed epoch is a no-op. The query then
    REPLAYS a committed epoch on purpose (re-folding the ENTIRE corpus
    under an already-folded tag): were idempotence broken, every group
    would double-count and the hash against the plain GROUP BY oracle
    would fail."""
    import tempfile

    from dataset_grouper_spark.operators import matview
    from dataset_grouper_spark.streaming.matview_sink import (
        stream_refresh_materialized_sums,
    )

    docs = read_table(spark, sf, "documents")
    src = tempfile.mkdtemp(prefix="smv_src_")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    ckpt = tempfile.mkdtemp(prefix="smv_ck_")
    path = os.path.join(tempfile.mkdtemp(prefix="smv_tbl_"), "agg")
    sums = {
        "num_examples": F.lit(1),
        "num_bytes": F.octet_length("text"),
        "sum_ids": F.col("doc_id"),
    }
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    with _stream_shuffle_partitions(spark):
        q = stream_refresh_materialized_sums(
            stream, ["source"], sums, path, ckpt
        )
        _drain_stream(q)
    # deliberate replay of a committed epoch: must be a no-op
    replay_tag = sorted(matview.folded_tags(path))[0]
    folded = matview.refresh_materialized_sums(
        spark, docs, ["source"], sums, path, tag=replay_tag
    )
    assert folded is False, "replayed epoch tag must not re-fold"
    return spark.read.parquet(path)


def q_drift_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Source-distribution drift between two halves of the corpus (the
    versions-of-a-crawl QA check): per-source counts, smoothed shares,
    and KL(A‖B) contributions. Two aggs + one vocabulary-sized
    full-outer join; rational arithmetic inside the ln."""
    from dataset_grouper_spark.operators import profile

    docs = read_table(spark, sf, "documents")
    return profile.distribution_drift(
        docs.filter("doc_id % 2 = 0"),
        docs.filter("doc_id % 3 = 0"),
        "source",
    )


LM_REF_FILTER = "lang = 'en'"


def q_lm_score_documents(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality scoring: per-doc mean log-probability and
    perplexity under an add-k bigram LM fit on the ENGLISH subset (the
    curated-reference setup of Wenzek et al. 2020) — low-likelihood
    docs are the boilerplate/gibberish tier. Fit = two aggregations;
    score = two shuffle joins + one agg, all Catalyst; the DuckDB twin
    reproduces the rational-arithmetic-inside-ln exactly."""
    from dataset_grouper_spark.functions import lm

    docs = read_table(spark, sf, "documents")
    return lm.bigram_logprob(
        docs, "text", "doc_id", ref=docs.filter(LM_REF_FILTER)
    )


ED_BINS = 16


def q_equidepth_events(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth (quantile) binning of the events value column: every
    bin holds N/16 rows; edges are exact quantiles. The global rank
    comes from the distributed prefix sum (range exchange + partition
    windows + driver-prefixed offsets) — never a one-task global
    window; bin assignment is integer arithmetic, no float boundary.
    Complements `value_histogram_events` (equi-width)."""
    from dataset_grouper_spark.operators import profile

    ev = read_table(spark, sf, "events")
    return profile.equidepth_bins(ev, "value", "event_id", ED_BINS)


def q_vocab_index_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Categorical string-indexer FIT over the token stream: dense ids
    ordered by (frequency desc, token asc) — the StringIndexer
    contract, ranked with the distributed prefix sum (a word vocab can
    be 10^7 terms; a one-task window is a non-starter). Returns the
    full fitted (value, index, n_occurrences) table."""
    from dataset_grouper_spark.functions import vocab as vocab_fns
    from dataset_grouper_spark.functions.hashing import tokens

    docs = read_table(spark, sf, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    return vocab_fns.vocabulary_index(toks, "tok")


PR_ITERATIONS = 6
PR_DAMPING = 0.85
PR_SUPP_OFFSET = 1_000_000


def q_pagerank_partsupp(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the directed part→supplier shipment graph (every
    supplier node is a SINK, so the dangling-mass correction carries
    real weight every iteration — rank mass is conserved or the hash
    mismatches). Fixed 6 iterations, lineage-truncated per round like
    connected components; the DuckDB twin unrolls the rounds into a
    CTE chain. Float summation order differs between engines; the
    driver's 6-decimal float rounding absorbs the ulps."""
    from dataset_grouper_spark.operators import graph

    li = read_table(spark, sf, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + PR_SUPP_OFFSET).alias("dst"),
    ).distinct()
    return graph.pagerank(
        edges, "src", "dst", iterations=PR_ITERATIONS, damping=PR_DAMPING
    )


KNN_GRAPH_K = 5
BFS_SOURCE = 1
BFS_MAX_HOPS = 4

ER_MAX_DIST = 2
ER_NAME_PREFIX = 17
# Drop-and-audit block cap, ENGAGED in the contract queries (r9
# verdict's one scale-killer): the (nation, segment) pass's 125-value
# key grows block size linearly with data — candidate pairs then grow
# quadratically (measured 47.9x at 10x data uncapped; 0.46x ratio with
# the cap). Blocks above the cap are dropped before the pair join and
# recall falls back to the name-prefix pass, whose block size is
# scale-constant. At sf<=0.1 no block reaches the cap, so capped and
# uncapped results are identical there.
ER_MAX_BLOCK = 400


def q_scd2_user_events(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-changing-dimension (Type 2) history of each user's
    event_type 'state': consecutive re-statements collapse, each
    retained version carries [valid_from, valid_to) in epoch nanos and
    an is_current flag — the warehouse dimension-history build, one
    shuffle (both windows share the (user × time) partitioning).
    event_id breaks same-timestamp ties so the version chain is a
    total order on both engines."""
    from dataset_grouper_spark.operators import scd

    ev = read_table(spark, sf, "events")
    return scd.scd2_from_changes(
        ev, "user_id", ["event_type"], "ts", order_cols=["event_id"]
    )


SCD2_SPLIT_NS = 1_705_708_800_000_000_000  # 2024-01-20T00:00:00Z


def q_scd2_apply_events(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental SCD2 maintenance: the dimension is built from
    events up to the split instant, then the newer half is merged with
    :func:`scd2_apply` — O(batch + touched keys), never a history
    rebuild, with the strictly-newer contract enforced in-plan (an
    out-of-order batch raises from the executors instead of writing
    wrong history). The oracle is the FULL rebuild over all events:
    apply(rebuild(old), new) == rebuild(old ∪ new) is the operator's
    defining law, so this query pins the incremental path end-to-end
    cross-engine."""
    from dataset_grouper_spark.operators import scd

    ev = read_table(spark, sf, "events")
    old = ev.filter(F.col("ts") <= SCD2_SPLIT_NS)
    new = ev.filter(F.col("ts") > SCD2_SPLIT_NS)
    dim = scd.scd2_from_changes(
        old, "user_id", ["event_type"], "ts", order_cols=["event_id"]
    )
    return scd.scd2_apply(
        dim, new, "user_id", ["event_type"], "ts", order_cols=["event_id"]
    )


SPATIAL_RADIUS_KM = 100.0
# deterministic synthetic coordinates derived arithmetically from the
# customer key (identical integer->double arithmetic on both engines):
# lat in [-70, 70), lon in [-180, 180) — inside the default
# max_abs_lat=75 cell-ring bound
_LAT_EXPR_SQL = "((c_custkey * 7919) % 14000) / 100.0 - 70.0"
_LON_EXPR_SQL = "((c_custkey * 104729) % 36000) / 100.0 - 180.0"


def _customer_points(spark: SparkSession, sf: str) -> DataFrame:
    cust = read_table(spark, sf, "customer")
    return cust.select(
        F.col("c_custkey").alias("id"),
        F.expr(_LAT_EXPR_SQL).alias("lat"),
        F.expr(_LON_EXPR_SQL).alias("lon"),
    )


def q_spatial_radius_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Geospatial radius self-join: all customer pairs within 100 km,
    by equirectangular grid blocking (one exploded equijoin on the
    cell key — NEVER all-pairs) + exact haversine verify, with the
    declared latitude bound enforced in-plan by an executor-side
    raise_error (no second scan). The same block-probe-verify shape as
    LSH/IVF/ER; density skew (a hot city cell) is an AQE skew-join
    case. Haversine is a fixed IEEE-754 expression tree both engines
    evaluate to within an ulp; distances round to 4 decimals."""
    from dataset_grouper_spark.operators import spatial

    return spatial.radius_pairs(
        _customer_points(spark, sf), "id", "lat", "lon", SPATIAL_RADIUS_KM
    )


def _customer_blocks():
    """Two ER blocking passes over customers: exact (nation, segment)
    agreement, plus a name-prefix pass that catches records the
    attribute pass splits (the standard multi-key recall hedge)."""
    return [
        ["c_nationkey", "c_mktsegment"],
        [F.substring("c_name", 1, ER_NAME_PREFIX)],
    ]


_CUSTOMER_BLOCKS_SQL = [
    ["c_nationkey", "c_mktsegment"],
    [f"substring(c_name, 1, {ER_NAME_PREFIX})"],
]


def q_entity_match_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy record linkage over customers: blocked candidate pairs
    (two passes, unioned + deduped — never all-pairs) scored with
    JVM-side levenshtein on the name, kept at edit distance <= 2 with
    a normalized similarity. levenshtein is built into BOTH engines,
    so the score itself is the cross-engine contract. max_block_size
    is ENGAGED (mirrored in the DuckDB twin): oversized blocks from
    the non-scaling (nation, segment) pass drop rather than detonate
    quadratically at scale — see ER_MAX_BLOCK."""
    from dataset_grouper_spark.operators import linkage

    cust = read_table(spark, sf, "customer")
    pairs = linkage.blocked_pairs(
        cust, "c_custkey", _customer_blocks(), max_block_size=ER_MAX_BLOCK
    )
    return linkage.match_pairs(
        cust, pairs, "c_custkey", "c_name", ER_MAX_DIST
    )


def q_entity_clusters_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Full entity-resolution pipeline: block → levenshtein match →
    connected components → every customer labeled with its entity id
    (min record id of the match-graph component; singletons are their
    own entity). The three-stage ER shape every metadata-dedup pass in
    a training-data pipeline runs before corpus mixing. max_block_size
    ENGAGED, mirrored in the twin — see ER_MAX_BLOCK."""
    from dataset_grouper_spark.operators import linkage

    cust = read_table(spark, sf, "customer")
    return linkage.resolve_entities(
        cust,
        "c_custkey",
        "c_name",
        _customer_blocks(),
        ER_MAX_DIST,
        max_block_size=ER_MAX_BLOCK,
    )


KNN_FANOUT_CAP = 256  # >> max suppliers-per-part at any tested sf
# (52 at sf0.1): the cap exists to stop a PATHOLOGICAL hot part from
# detonating the projection join quadratically, not to trim real data


from collections import OrderedDict

_KNN_EDGE_CACHE: "OrderedDict[tuple[int, str], tuple]" = OrderedDict()
_KNN_EDGE_CACHE_MAX = 4


def _supplier_knn_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier-similarity kNN graph via operators.graph.bipartite_knn:
    two suppliers are co-supply partners weighted by how many distinct
    parts they both ship (bipartite projection of distinct
    (part, supplier) pairs), and each supplier keeps its K strongest
    partners (ties broken by partner id). The top-K cut keeps the
    graph SPARSE at any scale factor — at most n*K directed edges no
    matter how dense co-supply gets — and the hot-key fanout cap
    bounds the projection join's quadratic blow-up on a pathological
    part, the same drop-and-audit contract as the LSH hot-bucket cap.

    The materialized edge list (n*K rows, kilobytes) is persisted and
    shared across the graph queries of one session — triangle and BFS
    analyze the SAME graph, so building it twice was pure waste
    (VERDICT r8 task 5: the edge build, not the graph algorithms,
    dominated both queries' cold cost)."""
    from dataset_grouper_spark.operators import graph

    # keyed by session identity; the session object is held in the
    # value so its id() cannot be recycled while the entry lives. A
    # plain persist() (NOT cache.persist) so bench's per-query
    # release_intermediates() does not evict it between the pair.
    # n*K rows — kilobytes resident; bounded + unpersisted on
    # eviction so a long-lived process cycling sessions/scale
    # factors cannot accumulate dead sessions or stranded blocks.
    key = (id(spark), sf)
    cached = _KNN_EDGE_CACHE.get(key)
    if cached is not None:
        return cached[1]
    while len(_KNN_EDGE_CACHE) >= _KNN_EDGE_CACHE_MAX:
        _, (_, old) = _KNN_EDGE_CACHE.popitem(last=False)
        try:
            old.unpersist()
        except Exception:
            pass  # evicted session may already be stopped
    li = read_table(spark, sf, "lineitem")
    edges = graph.bipartite_knn(
        li, "l_partkey", "l_suppkey", KNN_GRAPH_K,
        max_right_fanout=KNN_FANOUT_CAP,
    ).persist()
    _KNN_EDGE_CACHE[key] = (spark, edges)
    return edges


def _knn_cache_clear() -> None:
    """Unpersist + drop every cached edge list (tools needing true
    cold re-measurement call this instead of clearing the dict)."""
    while _KNN_EDGE_CACHE:
        _, (_, edges) = _KNN_EDGE_CACHE.popitem()
        try:
            edges.unpersist()
        except Exception:
            pass


def _supplier_knn_edges_sql() -> str:
    """DuckDB twin of :func:`_supplier_knn_edges` — same projection,
    same fanout cap, same symmetrize, same (n DESC, v ASC) top-K."""
    from dataset_grouper_spark.operators import graph

    return graph.bipartite_knn_sql(
        "SELECT l_partkey, l_suppkey FROM lineitem",
        "l_partkey", "l_suppkey", KNN_GRAPH_K,
        max_right_fanout=KNN_FANOUT_CAP,
    )


def q_triangle_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-supplier triangle counts + clustering coefficient over the
    co-supply kNN graph — the local-density diagnostic used on
    similarity graphs (a near-dup cluster shows up as a high-clustering
    neighborhood). Spark runs the DEGREE-ORIENTED distributed triangle
    algorithm (graph.py — wedge join fan-out bounded by O(sqrt(m))
    oriented out-degree, never a hub's raw degree); the DuckDB twin
    enumerates canonically ordered triangles — different physical
    strategy, provably identical result set."""
    from dataset_grouper_spark.operators import graph

    edges = _supplier_knn_edges(spark, sf)
    return graph.triangle_counts(edges, "src", "dst").select(
        F.col("node").alias("supp"),
        "triangles",
        "degree",
        "clustering",
    )


def q_bfs_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Single-source BFS hop distances from supplier #1 over the same
    co-supply kNN graph (the 'how connected is this vendor network'
    diagnostic): frontier-expansion rounds shuffling O(frontier), early
    exit when the frontier dries, lineage truncated per round. The
    DuckDB twin is a recursive CTE with UNION dedup (node-count
    bounded, not path-count)."""
    from dataset_grouper_spark.operators import graph

    edges = _supplier_knn_edges(spark, sf)
    return graph.bfs_distances(
        edges, "src", "dst", BFS_SOURCE, max_hops=BFS_MAX_HOPS
    ).select(F.col("node").alias("supp"), "dist")


RAG_WINDOW = 32
RAG_STRIDE = 24
MIX_TEMPERATURE = 2.0


def q_chunk_sliding_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping sliding-window chunks per document (RAG indexing
    shape): 32-token windows at stride 24, so consecutive chunks share
    8 tokens and no span is lost at a boundary. Zero-shuffle
    projection chain (tokenize -> sequence -> explode -> slice), all
    Catalyst. Complements chunk_tokens (training shape: exact cuts on
    the concatenated group stream)."""
    from dataset_grouper_spark.operators import chunking

    docs = read_table(spark, sf, "documents")
    return chunking.chunk_sliding(docs, "text", "doc_id", RAG_WINDOW, RAG_STRIDE)


def q_temperature_mix_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-flattened corpus mixing (T=2): per-source acceptance
    rates computed FROM the observed distribution (share^(1/T)
    flattening, smallest source kept whole), broadcast back, decided
    by the engine-portable content-hash bucket. Returns the per-source
    survivor rollup, which pins both the rate computation and the
    exact row membership."""
    from dataset_grouper_spark.operators import sessions

    docs = read_table(spark, sf, "documents")
    mixed = sessions.temperature_mix(
        docs, "source", "doc_id", temperature=MIX_TEMPERATURE
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_ids"),
    )


def q_snapshot_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot store (sinks/snapshots.py) lifecycle with TIME TRAVEL:
    write the corpus as v1, UPSERT a marked rewrite of every 10th doc
    (copy-on-write — only files containing a touched row are
    rewritten, the rest carry by reference) as v2, DELETE every 7th
    doc as v3 — then read ALL THREE pinned versions back and roll each
    up to (rows, id-sum, text-checksum). The oracle reconstructs each
    version closed-form from the pristine table, so a mutation leaking
    into an older version, a lost carried file, or a CoW rewrite that
    drops/duplicates a row all hash-mismatch. The reference rewrites
    datasets in place (tfds_pipelines.py:25-78) — no versioning at
    all; this is the audit/pinning contract a 100 TB corpus needs."""
    import tempfile

    from dataset_grouper_spark.sinks import snapshots as snap

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    path = tempfile.mkdtemp(prefix="snap_tt_")
    snap.snapshot_write(docs.repartition(8), path)
    updates = docs.filter("doc_id % 10 = 0").withColumn(
        "text", F.concat(F.lit("UPD:"), F.col("text"))
    )
    snap.snapshot_upsert(updates, path, id_col="doc_id")
    snap.snapshot_delete(spark, path, F.expr("doc_id % 7 = 0"))
    # 9 hex chars = 36 bits/row: the int64 sum is overflow-safe to
    # ~1e8 rows (15 chars overflowed at mere thousands)
    checksum = F.sum(
        F.conv(F.substring(F.md5(F.col("text")), 1, 9), 16, 10).cast(
            "long"
        )
    ).alias("text_checksum")
    frames = []
    for v in snap.snapshot_versions(path):
        frames.append(
            snap.read_snapshot(spark, path, v)
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("num_examples"),
                F.sum("doc_id").alias("sum_ids"),
                checksum,
            )
            .withColumn("version", F.lit(v).cast("int"))
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def q_compaction_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Full storage lifecycle with small-file repair: write half the
    corpus, APPEND the other half (fragmenting every group dir), then
    compact to ``CMP_TARGET_ROWS``-row files. Returns per group the
    sidecar-index count AND the physical file count — the oracle knows
    both in closed form (count, and ceil(count/target): the compaction
    contract), so lost/duplicated rows, a stale index, or a broken
    file bound all hash-mismatch."""
    import tempfile

    from dataset_grouper_spark import sinks
    from dataset_grouper_spark.loader import PartitionedDataset

    docs = read_table(spark, sf, "documents")
    path = tempfile.mkdtemp(prefix="pds_cmp_")
    sinks.write_partitioned(
        docs.filter("doc_id % 2 = 0"),
        keys.by_feature("source"),
        path,
        order_col="doc_id",
    )
    sinks.append_partitioned(
        docs.filter("doc_id % 2 = 1"),
        keys.by_feature("source"),
        path,
        order_col="doc_id",
    )
    sinks.compact_partitioned(
        spark, path, target_rows_per_file=CMP_TARGET_ROWS, order_col="doc_id"
    )
    pds = PartitionedDataset(spark, path)
    per_file = (
        pds.dataframe()
        .select(F.input_file_name().alias("_f"), "group_id")
        .groupBy("group_id")
        .agg(F.countDistinct("_f").alias("n_files"))
    )
    return pds.group_index().join(per_file, "group_id")


def q_tfrecord_roundtrip(
    spark: SparkSession, sf: str, _suffix: str = ""
) -> DataFrame:
    """Pack documents per source into SequenceExamples, write sharded
    TFRecords (pure-python proto+crc codec), read back distributed and
    count — byte-level storage parity with the reference. Rows-only
    check.

    Fully distributed end to end (VERDICT r1 #4): Arrow-batched
    pandas-UDF proto encode, parallel shard write, parallel shard read
    (read_tfrecord_dataframe) — no row-at-a-time UDF, no driver loop;
    record CRCs ride the numpy-vectorized crc32c."""
    import tempfile

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from dataset_grouper_spark.compat import tfexample, tfrecord

    def _enc(ids, txts):
        # module has `from __future__ import annotations`, so pd.Series
        # type hints would reach pyspark as strings — use the explicit
        # returnType form instead
        return pd.Series(
            [
                tfexample.encode_example({"doc_id": int(i), "text": t})
                for i, t in zip(ids, txts)
            ],
            dtype=object,
        )

    enc = pandas_udf(_enc, "binary")

    df = read_table(spark, sf, "documents")
    ser = df.withColumn("ex", enc("doc_id", "text"))
    # 20 groups: an explicitly narrow pack exchange beats 32 near-empty
    # window tasks; write/read stay 2-shard parallel
    packed = packing.pack_groups(
        ser, keys.by_feature("source"), "doc_id", payload_col="ex",
        size_cols=["doc_id", "text"], num_partitions=4,
    )
    prefix = tempfile.mkdtemp(prefix="tfr_rt_") + "/docs.tfrecord"
    paths = tfrecord.write_grouped_tfrecords(
        packed, "group_id", "packed", prefix, num_shards=2,
        file_name_suffix=_suffix,
    )
    back = tfrecord.read_tfrecord_dataframe(spark, paths)
    return back.select(F.size("payloads").cast("long").alias("examples_in_group"))


def q_tfrecord_gzip_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """The same sharded TFRecord lifecycle through TF-standard
    whole-file gzip (`*.tfrecord.gz`, TFRecordOptions('GZIP') parity —
    the format TFDS ships compressed shards in): suffix-inferred
    compression on the distributed write AND read, deterministic
    member bytes (mtime=0). Identical result contract to
    `tfrecord_roundtrip`, so the same oracle pins it."""
    return q_tfrecord_roundtrip(spark, sf, _suffix=".gz")


def q_webdataset_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """WebDataset tar-shard lifecycle: documents become tar shards
    (one sample per doc: `{doc_id}.txt` text + `.cls` lang + `.src`
    source, deterministic bytes), written by one applyInPandas task
    per shard, then streamed back by one task per shard and
    re-aggregated per extension — member count, byte total, an
    order-insensitive md5 content checksum, and distinct sample keys.
    The DuckDB twin recomputes all four straight from the documents
    table, so a dropped member, a corrupted byte, or a key collision
    anywhere in the tar codec hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources import webdataset as wds

    df = read_table(spark, sf, "documents")
    dst = tempfile.mkdtemp(prefix="wds_rt_")
    manifest = wds.write_webdataset(
        df, dst, "doc_id",
        {"text": "txt", "lang": "cls", "source": "src"}, num_shards=4,
    )
    manifest.count()  # action: materialize the shards before listing
    long = wds.read_webdataset(spark, dst)
    return long.groupBy("ext").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.length("data")).cast("long").alias("n_bytes"),
        F.sum(
            F.conv(F.substring(F.md5(F.col("data")), 1, 9), 16, 10)
            .cast("long")
        ).cast("long").alias("content_checksum"),
        F.countDistinct("key").cast("long").alias("n_keys"),
    )


GS_SEED = 7
GS_BATCH = 2
GS_SKIP_COHORTS = 1
GS_CHECK_MOD = 1_000_000_007


def q_group_stream(spark: SparkSession, sf: str) -> DataFrame:
    """Group-stream consumption (build_group_stream analogue),
    VALUE-ORACLED: write the events table partitioned by the
    event_type keyer, stream the groups through the real iterator in
    seeded-shuffle order with cohort batching and a column projection,
    and fold what was actually consumed into a deterministic frame —
    per group: its cohort index (a pure function of the seeded order,
    md5(f"{seed}:{gid}")), row count, and an order-insensitive content
    checksum over the consumed pandas frames. The DuckDB twin
    recomputes all three from the raw table, so a wrong group
    membership, a dropped/duplicated row, a broken shuffle order, or a
    mis-batched cohort all hash-mismatch — the loader is value-proven,
    not just "runs" (VERDICT r4 #5)."""
    import hashlib
    import tempfile

    from dataset_grouper_spark import sinks
    from dataset_grouper_spark.loader import PartitionedDataset

    df = read_table(spark, sf, "events")
    path = tempfile.mkdtemp(prefix="pds_gs_")
    sinks.write_partitioned(
        df, keys.by_feature("event_type"), path, order_col="event_id"
    )
    pds = PartitionedDataset(spark, path)
    def consume(stream) -> list[list[tuple]]:
        out = []
        for cohort_idx, cohort in enumerate(stream):
            batch = []
            for gid, pdf in cohort:
                checksum = sum(
                    int(
                        hashlib.md5(f"{e}:{u}".encode()).hexdigest()[:15],
                        16,
                    )
                    % GS_CHECK_MOD
                    for e, u in zip(pdf["event_id"], pdf["user_id"])
                )
                batch.append((cohort_idx, gid, len(pdf), checksum))
            out.append(batch)
        return out

    def stream(skip: int, prefetch: int):
        return pds.group_stream(
            shuffle=True,
            seed=GS_SEED,
            skip=skip,
            batch_groups=GS_BATCH,
            columns=["event_id", "user_id"],
            prefetch=prefetch,
        )

    # pass 0: the full stream, prefetch=2 (order-preserving pipelined
    # reads). pass 1: COHORT RESUME — skip the first GS_SKIP_COHORTS
    # cohorts (the train_jax.py:172 resume-by-skip shape) at
    # prefetch=2, and pin the loader's order-invariance claim by
    # comparing against the SERIAL resumed stream value-for-value
    # before anything reaches the oracle.
    full = consume(stream(skip=0, prefetch=2))
    skip_groups = GS_SKIP_COHORTS * GS_BATCH
    resumed = consume(stream(skip=skip_groups, prefetch=2))
    serial = consume(stream(skip=skip_groups, prefetch=0))
    assert resumed == serial, (
        "group_stream: prefetch=2 resumed stream diverged from the "
        "serial path — order invariance broken"
    )
    rows = [(0, *r) for batch in full for r in batch] + [
        (1, *r) for batch in resumed for r in batch
    ]
    return spark.createDataFrame(
        rows,
        "pass: long, cohort: long, group_id: string, n_rows: long,"
        " checksum: long",
    )


PIPE_MIN_WORDS = 40


def q_group_counts_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical group stats via rollup — a capability the reference
    lacks entirely (SURVEY §2.8: no grouping sets)."""
    df = read_table(spark, sf, "lineitem")
    return (
        df.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("num_examples"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "num_examples",
            "sum_price",
        )
    )


def q_pipeline_c4_style(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end training-data cleaning pass (the C4 recipe shape):
    quality filter -> exact dedup (keep min doc_id) -> group by URL
    domain -> group counts. One declarative plan, one shuffle per
    stage boundary."""
    from pyspark.sql import Window

    df = read_table(spark, sf, "documents")
    feats = textanalysis.quality_features(F.col("text"))
    filtered = df.withColumn("_nw", feats["n_words"]).filter(
        F.col("_nw") >= PIPE_MIN_WORDS
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    deduped = (
        filtered.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .withColumn(
            "url",
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example.com/doc/"),
                F.col("doc_id").cast("string"),
            ),
        )
    )
    keyed = keys.with_group_key(deduped, keys.url_domain("url"))
    return keyed.groupBy(keys.GROUP_COL).agg(
        F.count(F.lit(1)).alias("num_docs"),
        F.sum("_nw").alias("num_words"),
    )


CHUNK_LEN = 128


SESSION_GAP_US = 30 * 60 * 10**6  # 30 minutes in micros
SAMPLE_PCT = 20


TF_DIM, TF_COSINE_T = 64, 0.9


def q_text_hashed_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Text -> hashed-TF vectors -> near-dup pairs by cosine.

    Dense path: at dim=64 every doc fills most buckets, so the sparse
    bucket equijoin degenerates toward all-pairs (measured 25s); the
    blocked-matmul cosine over dense vectors does the same exact math
    in under a second. ``normalize=False`` keeps the arithmetic
    identical to the oracle's integer-count formulation."""
    df = read_table(spark, sf, "documents")
    vecs = featurize.hashed_tf(df, "text", "doc_id", TF_DIM, normalize=False)
    # explicit num_blocks: deriving it would count() through the whole
    # hashed_tf aggregation a second time
    return similarity.cosine_pairs(
        vecs, "vector", "doc_id", TF_COSINE_T, num_blocks=4
    )


def q_text_cosine_cells_documents(spark: SparkSession, sf: str) -> DataFrame:
    """The TEXT-side cell-blocked scale path (VERDICT r10 task 1):
    hashed-TF vectors -> auto-sized flat cells -> exact pairing only
    WITHIN cells (probe-2 boundary rider). Same exact math per pair as
    q_text_hashed_cosine_pairs, O(n * cell) total work instead of
    O(n^2) — the variant a 100 TB text-dedup run uses. The vector
    frame is persisted once (tiny: dim doubles per doc) so the cell
    sizing count and the pair join share one featurization pass."""
    from dataset_grouper_spark.cache import persist_tracked

    df = read_table(spark, sf, "documents")
    vecs = persist_tracked(
        featurize.hashed_tf(df, "text", "doc_id", TF_DIM, normalize=False)
    )
    return similarity.cosine_pairs_cells(
        vecs, "vector", "doc_id", TF_COSINE_T,
        probe=SEMDEDUP_PROBE, target_cell_rows=SEMDEDUP_TARGET,
    )


def q_moving_avg_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user analytic window: 3-event moving average and running
    max of value in time order (capabilities the reference lacks
    entirely — SURVEY §2.8: no window/analytic functions)."""
    from pyspark.sql import Window

    df = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return df.select(
        "user_id",
        "event_id",
        F.round(
            F.avg("value").over(w.rowsBetween(-2, 0)), 4
        ).alias("mov_avg_3"),
        F.round(
            F.max("value").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            2,
        ).alias("running_max"),
    )


def q_zorder_layout_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) layout lifecycle: events clustered on the
    interleaved bits of (user grid, value grid) — one range exchange —
    then read back and filtered on EACH dimension independently. The
    rollup proves the curve layout preserved every row; the per-file
    footer-envelope property (either-dimension pruning) is asserted in
    tests/test_zorder.py."""
    import tempfile

    from dataset_grouper_spark.sinks import zorder

    ev = read_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = tempfile.mkdtemp(prefix="zord_ev_")
    zorder.write_zordered(
        ev,
        path,
        zorder.to_grid(F.col("user_id"), 0.0, 2048.0, 8),
        zorder.to_grid(F.col("value"), 0.0, 1000.0, 8),
        bits=8,
        num_files=16,
    )
    back = spark.read.parquet(path)
    return (
        back.filter((F.col("user_id") < 300) | (F.col("value") >= 900.0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_ids"),
        )
    )


def q_jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL interchange: corpus -> line-delimited JSON -> read back
    with an EXPLICIT schema (no inference job at 100 TB) -> rollup.
    Escaping must round-trip every text byte — the hash covers it."""
    import tempfile

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="jsonl_rt_") + "/docs"
    docs.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "doc_id long, source string, text string, n_chars long"
    ).json(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CSV interchange with RFC-style quoting (escape = quote = '\"',
    multiLine read): the adversarial columns are the texts — embedded
    commas, quotes, and newlines — and the hash proves byte-exact
    round-trip. Explicit schema on read: no inference pass."""
    import tempfile

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "source", "text"
    )
    path = tempfile.mkdtemp(prefix="csv_rt_") + "/docs"
    (
        docs.write.mode("overwrite")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    back = (
        spark.read.schema("doc_id long, source string, text string")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(path)
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
        F.sum("doc_id").alias("sum_ids"),
    )


def q_iceberg_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg interop WITHOUT the iceberg runtime jar: build a
    2-snapshot Iceberg table from documents per the public spec —
    Avro manifest lists + manifests written by our own stdlib Avro
    codec, metadata JSON with snapshot lineage — then read BOTH
    snapshots back through the pure-Python reader
    (sources/iceberg.py). Same oracle family as delta_time_travel: a
    mis-walked manifest, ignored delete status, or snapshot leak
    hash-mismatches."""
    import glob
    import json as _json
    import shutil
    import tempfile

    from dataset_grouper_spark.sources.avro import write_avro_file
    from dataset_grouper_spark.sources.iceberg import read_iceberg

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="iceberg_tt_") + "/tbl"
    os.makedirs(os.path.join(table, "metadata"))
    os.makedirs(os.path.join(table, "data"))

    def stage(parity: int) -> str:
        tmp = tempfile.mkdtemp(prefix=f"ice_stage{parity}_")
        docs.filter(F.col("doc_id") % 2 == parity).coalesce(2).write.mode(
            "overwrite"
        ).parquet(tmp)
        man_entries = []
        for i, part in enumerate(
            sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
        ):
            dst = os.path.join(table, "data", f"p{parity}_{i}.parquet")
            shutil.move(part, dst)
            man_entries.append(
                {
                    "status": 1,
                    "snapshot_id": None,
                    "data_file": {
                        "content": 0,
                        "file_path": dst,
                        "file_format": "PARQUET",
                        "record_count": 1,
                        "file_size_in_bytes": os.path.getsize(dst),
                    },
                }
            )
        mpath = os.path.join(table, "metadata", f"m{parity}.avro")
        write_avro_file(mpath, _ICE_MANIFEST_SCHEMA, man_entries)
        return mpath

    m0, m1 = stage(0), stage(1)

    def mlist(name: str, manifests: list[str], snap: int) -> str:
        p = os.path.join(table, "metadata", name)
        write_avro_file(
            p,
            _ICE_MLIST_SCHEMA,
            [
                {
                    "manifest_path": mp,
                    "manifest_length": os.path.getsize(mp),
                    "partition_spec_id": 0,
                    "content": 0,
                    "added_snapshot_id": snap,
                }
                for mp in manifests
            ],
        )
        return p

    meta = {
        "format-version": 2,
        "table-uuid": "0" * 36,
        "location": table,
        "current-snapshot-id": 2,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "doc_id", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "text", "required": False,
                     "type": "string"},
                    {"id": 3, "name": "lang", "required": False,
                     "type": "string"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1,
             "manifest-list": mlist("snap-1.avro", [m0], 1)},
            {"snapshot-id": 2, "timestamp-ms": 2,
             "manifest-list": mlist("snap-2.avro", [m0, m1], 2)},
        ],
    }
    with open(os.path.join(table, "metadata", "v1.metadata.json"), "w") as f:
        _json.dump(meta, f)
    frames = []
    for snap, tag in ((1, 0), (2, 1)):
        frames.append(
            read_iceberg(spark, table, snapshot_id=snap)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("doc_id").alias("sum_ids"),
            )
            .withColumn("version", F.lit(tag))
        )
    return frames[0].unionByName(frames[1]).select(
        "version", "lang", "n", "sum_ids"
    )


def q_delta_mor_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Delta DELETION VECTORS end-to-end (sources/delta.py +
    sources/roaring.py): append documents as a lang-partitioned Delta
    table, run TWO ``delta_delete_where`` commits — each writes
    per-file roaring-bitmap ``.bin`` sidecars from EXECUTORS (one
    applyInPandas task per affected file; positions never pass the
    driver) and commits remove/re-add actions with 'u' descriptors —
    then read the current version back (tombstones anti-joined against
    the scan's _metadata row ordinals, descriptors decoded
    distributed) plus the pre-delete version for time travel. A
    mis-serialized bitmap, bad Z85 uuid, skipped union with an
    existing DV, or tombstone leak across versions hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_append,
        delta_delete_where,
        read_delta,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="delta_mor_") + "/tbl"
    delta_append(spark, docs, table, partition_by=["lang"])
    delta_delete_where(spark, table, "doc_id % 3 = 0")
    delta_delete_where(spark, table, "lang = 'de'")
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
    ]
    cur = read_delta(spark, table).groupBy("lang").agg(*agg)
    pre = read_delta(spark, table, version=0).groupBy("lang").agg(*agg)
    return (
        pre.withColumn("stage", F.lit(0))
        .unionByName(cur.withColumn("stage", F.lit(1)))
        .select("stage", "lang", "n", "sum_ids", "text_bytes")
    )


def q_iceberg_mor_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg v2 MERGE-ON-READ deletes end-to-end (sources/iceberg.py):
    append documents as a real table, run TWO ``iceberg_delete_where``
    commits (each writes position-delete parquet + a content=1 delete
    manifest — NO data file rewritten), then read the current snapshot
    back through the pure-Python reader, which anti-joins the scan's
    own ``_metadata`` (file, row-ordinal) against the delete set. The
    pre-delete snapshot is also read to pin time travel across MoR
    commits. A mis-applied position, path-normalization slip, or
    delete-file leak across snapshots hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        iceberg_append,
        iceberg_delete_where,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="iceberg_mor_") + "/tbl"
    iceberg_append(spark, docs, table)
    iceberg_delete_where(spark, table, "doc_id % 3 = 0")
    iceberg_delete_where(spark, table, "lang = 'de'")
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
    ]
    cur = read_iceberg(spark, table).groupBy("lang").agg(*agg)
    pre = (
        read_iceberg(spark, table, snapshot_id=1)
        .groupBy("lang")
        .agg(*agg)
    )
    return (
        pre.withColumn("stage", F.lit(0))
        .unionByName(cur.withColumn("stage", F.lit(1)))
        .select("stage", "lang", "n", "sum_ids", "text_bytes")
    )


_ICE_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}

_ICE_MLIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}


def q_avro_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Avro interchange WITHOUT the spark-avro jar: corpus -> 2
    deflate-compressed object-container shards written task-side
    (pure-stdlib binary encoding, [null,string] unions for nullable
    text) -> distributed read back (sources/avro.py, shards→tasks)
    -> rollup. The hash proves byte-exact text round-trip through
    zigzag varints + deflate blocks."""
    import tempfile

    import pandas as pd

    from dataset_grouper_spark.sources import avro as avro_src

    schema = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "source", "type": ["null", "string"]},
            {"name": "text", "type": ["null", "string"]},
            {"name": "n_chars", "type": "long"},
        ],
    }
    outdir = tempfile.mkdtemp(prefix="avro_rt_")
    docs = read_table(spark, sf, "documents").select(
        "doc_id", "source", "text", "n_chars"
    ).repartition(2)

    def write_shard(pdf_iter):
        from pyspark import TaskContext

        idx = TaskContext.get().partitionId()
        path = os.path.join(outdir, f"part-{idx:05d}.avro")
        recs = []
        for pdf in pdf_iter:
            recs.extend(pdf.to_dict("records"))
        avro_src.write_avro_file(path, schema, recs)
        yield pd.DataFrame({"path": [path]})

    paths = sorted(
        r.path for r in docs.mapInPandas(write_shard, "path string").collect()
    )
    back = avro_src.read_avro(spark, paths)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_delta_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Delta Lake interop WITHOUT the delta jar: build a lang-
    partitioned Delta table from documents by writing the public
    transaction-log format by hand (v0 = even docs, v1 = + odd docs),
    then read BOTH versions back through the pure-Python log reader
    (sources/delta.py) — partition columns restored from
    partitionValues, snapshots pinned per version. The oracle is the
    parity-filtered GROUP BY; a mis-replayed log, lost partition
    value, or version leak hash-mismatches."""
    import glob
    import json as _json
    import shutil
    import tempfile

    from dataset_grouper_spark.sources.delta import read_delta

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="delta_tt_") + "/tbl"
    os.makedirs(os.path.join(table, "_delta_log"))
    schema = {
        "type": "struct",
        "fields": [
            {"name": "doc_id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "text", "type": "string", "nullable": True, "metadata": {}},
            {"name": "lang", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
    meta = {
        "metaData": {
            "id": "0" * 32,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(schema),
            "partitionColumns": ["lang"],
            "configuration": {},
        }
    }

    def stage_parity(parity: int) -> list[dict]:
        stage = tempfile.mkdtemp(prefix=f"delta_stage{parity}_")
        docs.filter(F.col("doc_id") % 2 == parity).write.mode(
            "overwrite"
        ).partitionBy("lang").parquet(stage)
        adds = []
        for lang_dir in sorted(glob.glob(os.path.join(stage, "lang=*"))):
            lang = os.path.basename(lang_dir).split("=", 1)[1]
            os.makedirs(os.path.join(table, f"lang={lang}"), exist_ok=True)
            for i, part in enumerate(
                sorted(glob.glob(os.path.join(lang_dir, "part-*.parquet")))
            ):
                rel = f"lang={lang}/p{parity}_{i}.parquet"
                shutil.move(part, os.path.join(table, rel))
                adds.append(
                    {
                        "add": {
                            "path": rel,
                            "partitionValues": {"lang": lang},
                            "size": 1,
                            "modificationTime": 0,
                            "dataChange": True,
                        }
                    }
                )
        return adds

    def commit(version: int, actions: list[dict]) -> None:
        with open(
            os.path.join(table, "_delta_log", f"{version:020d}.json"), "w"
        ) as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    commit(0, [meta] + stage_parity(0))
    commit(1, stage_parity(1))
    frames = []
    for v in (0, 1):
        frames.append(
            read_delta(spark, table, version=v)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("doc_id").alias("sum_ids"),
            )
            .withColumn("version", F.lit(v))
        )
    return frames[0].unionByName(frames[1]).select(
        "version", "lang", "n", "sum_ids"
    )


def q_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC interchange (the other columnar interchange format big
    Hive/Trino estates hold corpora in): corpus -> zlib ORC -> read
    back -> rollup. Predicate pushdown and column pruning work the
    same as parquet (ORC carries its own stripe-level min/max), so an
    ORC-resident 100 TB corpus is a first-class source, not an import
    step. The hash proves byte-exact text round-trip through the ORC
    string codec."""
    import tempfile

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="orc_rt_") + "/docs"
    docs.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "doc_id long, source string, text string, n_chars long"
    ).orc(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_value_percentiles_events(spark: SparkSession, sf: str) -> DataFrame:
    """Exact grouped percentiles (p50/p90/p99 of value per event type)
    — the latency-SLO/score-threshold query shape. Spark's exact
    `percentile` and DuckDB's `quantile_cont` share the same
    rank-interpolation formula, verified BIT-identical; rounded for
    belt-and-braces. At 100 TB the same query swaps to
    `approx_percentile` (bounded-memory t-digest-style sketch, no
    per-group sort buffer) — accuracy pinned in tests/test_misc_ops.py."""
    df = read_table(spark, sf, "events")
    pcts = {f"p{int(p * 100)}": p for p in (0.5, 0.9, 0.99)}
    return df.groupBy("event_type").agg(
        *[
            hashing.round_even(
                F.expr(f"percentile(value, {p})"), 6
            ).alias(name)
            for name, p in pcts.items()
        ],
        F.count(F.lit(1)).alias("n"),
    )


def q_topn_per_group_events(spark: SparkSession, sf: str) -> DataFrame:
    """Top-N per group — the ubiquitous "3 highest-value events per
    event type" pattern: window rank inside each group, filter, done in
    ONE shuffle (no self-join, no per-group collect). Ties broken on
    event_id so rank — and therefore the kept set — is total-ordered
    and engine-portable."""
    from pyspark.sql import Window

    df = read_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "event_type",
            "rnk",
            "event_id",
            F.round("value", 4).alias("value"),
        )
    )


HIST_BINS = 10


def q_value_histogram_events(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram of event values per event type: bin index
    from a global (min, max) envelope computed in one tiny pre-agg and
    broadcast back — two jobs total, no Python. The max value folds
    into the top bin (the width_bucket convention both engines can
    state in closed form)."""
    df = read_table(spark, sf, "events")
    env = df.agg(
        F.min("value").alias("_lo"), F.max("value").alias("_hi")
    )
    binned = df.crossJoin(F.broadcast(env)).withColumn(
        "bin",
        F.least(
            F.floor(
                (F.col("value") - F.col("_lo"))
                / ((F.col("_hi") - F.col("_lo")) / HIST_BINS)
            ).cast("int"),
            F.lit(HIST_BINS - 1),
        ),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_value_correlation_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group bivariate statistics: Pearson correlation and sample
    covariance between an event's value and its JSON payload field —
    one partial-aggregable pass (corr/covar are algebraic aggregates:
    sums of products cross the wire, not rows). The JSON extraction is
    projected BEFORE the aggregate: expressions inside two aggregate
    functions are evaluated per-function (no CSE across aggregate
    buffers), so inlining get_json_object would parse every props
    string twice."""
    df = read_table(spark, sf, "events")
    proj = df.select(
        "event_type",
        "value",
        F.get_json_object(F.col("props"), "$.k").cast("double").alias("_k"),
    )
    return proj.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("value", "_k"), 6).alias("corr_vk"),
        F.round(F.covar_samp("value", "_k"), 6).alias("covar_vk"),
    )


def q_json_props_events(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured handling: extract a JSON field from the props
    column and aggregate per event type — get_json_object is a
    Catalyst expression, no UDF."""
    df = read_table(spark, sf, "events")
    # projected once pre-agg: sum and avg would each re-parse the JSON
    # (no CSE across aggregate buffers — same lesson as the corr query)
    proj = df.select(
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("_k"),
    )
    return proj.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_k").alias("sum_k"),
        F.round(F.avg("_k"), 4).alias("avg_k"),
    )


def q_repetition_documents(spark: SparkSession, sf: str) -> DataFrame:
    df = read_table(spark, sf, "documents")
    return textanalysis.repetition_features(df, "text", "doc_id", n=2)


def q_sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    from dataset_grouper_spark.operators import sessions

    # ts arrives as int64 nanos (nanosAsLong); work in MICROSECONDS
    # because DuckDB timestamps are micro-precision — the oracle could
    # never see the last three nano digits.
    # integer DIV, not / — float64 can't represent epoch-nanos exactly
    df = read_table(spark, sf, "events").withColumn(
        "ts_us", F.expr("CAST(ts DIV 1000 AS BIGINT)")
    )
    return sessions.sessionize(df, "user_id", "ts_us", SESSION_GAP_US)


def q_sample_documents(spark: SparkSession, sf: str) -> DataFrame:
    from dataset_grouper_spark.operators import sessions

    df = read_table(spark, sf, "documents")
    kept = sessions.sample_groups(df, "doc_id", SAMPLE_PCT)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )


APPROX_DISTINCT_RSD = 0.02
# Acceptance bound for the sketch-vs-exact assertion: 5x the
# configured relative standard deviation. HLL++ error is a random
# variable with sd=rsd, so a hard in-query bound needs headroom —
# 5 sigma makes a spurious failure astronomically unlikely while a
# BROKEN sketch (wrong register merge, off-by-2x) still trips it.
APPROX_DISTINCT_BOUND = 5 * APPROX_DISTINCT_RSD


def q_approx_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate distinct-group cardinality (HLL++ sketch) per event
    type — the constant-memory path for counting groups at 100 TB.
    Sketch VALUES are engine-specific, so the contract asserts the
    sketch IN-QUERY instead: each group emits the exact count plus
    within_bound = |approx - exact| / exact <= 5*rsd. The oracle pins
    exact_users and within_bound=TRUE, so a broken sketch (or exact
    path) hash-mismatches — this retires the surface's last rows-only
    driver row (r9 verdict task 3)."""
    df = read_table(spark, sf, "events")
    return (
        df.groupBy("event_type")
        .agg(
            F.approx_count_distinct(
                "user_id", APPROX_DISTINCT_RSD
            ).alias("_approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(APPROX_DISTINCT_BOUND)
            ).alias("within_bound"),
        )
    )


def q_chunk_tokens_documents(spark: SparkSession, sf: str) -> DataFrame:
    from dataset_grouper_spark.operators import chunking

    df = read_table(spark, sf, "documents")
    keyed = keys.with_group_key(df, keys.by_feature("source"))
    return chunking.chunk_tokens(keyed, "text", "doc_id", CHUNK_LEN)


def q_delta_change_feed(spark: SparkSession, sf: str) -> DataFrame:
    """Delta CHANGE FEED (sources/delta.py read_delta_changes): three
    append commits (doc_id mod 3 splits), then the appended row set for
    two commit ranges — (0, latest] and (1, latest] — read straight
    from the commits' add actions, O(new data) never O(table). A
    mis-bounded range, re-read base commit, or dropped add action
    hash-mismatches against the parity-filtered oracle."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_append,
        read_delta_changes,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="delta_cdf_") + "/tbl"
    for r in (0, 1, 2):
        delta_append(spark, docs.filter(F.col("doc_id") % 3 == r), table)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    frames = []
    for stage, frm in ((0, 0), (1, 1)):
        frames.append(
            read_delta_changes(spark, table, frm)
            .groupBy("lang")
            .agg(*agg)
            .withColumn("stage", F.lit(stage))
        )
    return frames[0].unionByName(frames[1]).select(
        "stage", "lang", "n", "sum_ids"
    )


def q_delta_checkpoint_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Delta CHECKPOINT lifecycle (sources/delta.py delta_checkpoint /
    delta_truncate_log): two lang-partitioned appends, a deletion-
    vector delete, CHECKPOINT the state into one parquet, TRUNCATE the
    replaced JSON commits, then append again — reads at the checkpoint
    version (stage 0: pure checkpoint replay, partitionValues + DV
    descriptors restored from parquet rows) and at latest (stage 1:
    checkpoint + JSON tail). A checkpoint that drops a deletion
    vector, loses a partition value, or a writer that mis-resolves the
    next version after truncation hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_append,
        delta_checkpoint,
        delta_delete_where,
        delta_truncate_log,
        read_delta,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="delta_ckpt_") + "/tbl"
    for r in (0, 1):
        delta_append(
            spark,
            docs.filter(F.col("doc_id") % 3 == r),
            table,
            partition_by=["lang"],
        )
    delta_delete_where(spark, table, "doc_id % 5 = 0")
    cp = delta_checkpoint(spark, table)
    delta_truncate_log(table)
    delta_append(
        spark,
        docs.filter(F.col("doc_id") % 3 == 2),
        table,
        partition_by=["lang"],
    )
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    at_cp = (
        read_delta(spark, table, version=cp)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    latest = (
        read_delta(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return at_cp.unionByName(latest).select("stage", "lang", "n", "sum_ids")


def _column_mapped_docs_table(spark: SparkSession, sf: str) -> str:
    """Hand-built column-mapped Delta table over documents: data files
    carry opaque physical names (col-1/col-2/col-3), the metaData
    schema maps them to logical doc_id/text/lang via
    delta.columnMapping.physicalName + field ids, maxColumnId=3."""
    import glob
    import json as _json
    import shutil
    import tempfile

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="delta_cm_") + "/tbl"
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    stage = tempfile.mkdtemp(prefix="delta_cm_stage_")
    docs.toDF("col-1", "col-2", "col-3").write.mode("overwrite").parquet(
        stage
    )
    adds = []
    for i, src in enumerate(
        sorted(glob.glob(os.path.join(stage, "part-*.parquet")))
    ):
        name = f"part-{i:05d}.parquet"
        shutil.move(src, os.path.join(table, name))
        adds.append(
            {
                "add": {
                    "path": name,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(table, name)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    shutil.rmtree(stage, ignore_errors=True)
    schema = {
        "type": "struct",
        "fields": [
            {
                "name": logical,
                "type": typ,
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": i + 1,
                    "delta.columnMapping.physicalName": f"col-{i + 1}",
                },
            }
            for i, (logical, typ) in enumerate(
                (("doc_id", "long"), ("text", "string"), ("lang", "string"))
            )
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "0" * 32,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(schema),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "3",
                },
            }
        },
    ] + adds
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    return table


def q_delta_column_mapping(spark: SparkSession, sf: str) -> DataFrame:
    """Delta COLUMN MAPPING (name mode): data files carry opaque
    physical names (col-1/col-2/col-3), the metaData schema maps them
    to logical doc_id/text/lang via delta.columnMapping.physicalName —
    the reader must scan physical and return logical (the rename-
    without-rewrite feature every long-lived 100 TB table ends up
    using). A reader that scans logical names returns nulls and
    hash-mismatches."""
    from dataset_grouper_spark.sources.delta import read_delta

    table = _column_mapped_docs_table(spark, sf)
    return read_delta(spark, table).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
    )


def q_delta_column_mapping_merge(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO a column-mapped (renamed-columns) Delta table
    (sources/delta.py delta_merge physical-name rewrites): updates
    re-lang every doc_id % 10 == 0 row to 'merged', inserts add
    doc_id + 1000000 rows langed 'inserted' — the touched files are
    scanned under their PHYSICAL col-<n> names and rewritten back
    physical, so the rename-without-rewrite feature keeps working
    across upserts. A merge that wrote logical-named files would read
    back all-NULL and hash-mismatch; one that missed a touched file
    double-counts."""
    from dataset_grouper_spark.sources.delta import delta_merge, read_delta

    table = _column_mapped_docs_table(spark, sf)
    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    updates = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "lang", F.lit("merged")
    )
    inserts = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("lang", F.lit("inserted"))
    )
    delta_merge(spark, updates.unionByName(inserts), table, on=["doc_id"])
    return read_delta(spark, table).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
    )


def q_hudi_upsert_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi COPY-ON-WRITE lifecycle (sources/hudi.py — timeline +
    file-group layout from the public storage spec, no Hudi jar):
    bulk-insert the corpus, then UPSERT (every doc_id % 10 == 0 row
    re-langed 'merged', doc_id + 1000000 rows inserted as new file
    groups) — only the file groups holding a matched key get a new
    slice, each under its existing fileId. Stage 0 = final snapshot,
    stage 1 = TIME TRAVEL to the pre-upsert instant (the old slices
    must still serve it byte-for-byte). A reader that picks the wrong
    slice per group, double-reads both slices, or loses an untouched
    group hash-mismatches the closed-form twin."""
    import tempfile

    from dataset_grouper_spark.sources.hudi import (
        hudi_insert,
        hudi_upsert,
        read_hudi,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = os.path.join(tempfile.mkdtemp(prefix="hudi_rt_"), "tbl")
    pre = hudi_insert(
        spark, docs.repartition(4, "doc_id"), table, record_key="doc_id"
    )
    updates = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "lang", F.lit("merged")
    )
    inserts = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("lang", F.lit("inserted"))
    )
    hudi_upsert(spark, updates.unionByName(inserts), table)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
    ]
    final = (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    before = (
        read_hudi(spark, table, as_of=pre)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return final.unionByName(before).select(
        "stage", "lang", "n", "sum_ids", "text_bytes"
    )


def q_hudi_mor_read(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi MERGE_ON_READ lifecycle (sources/hudi.py — log-file
    upserts/deletes in the spec's slice model, Avro-container log
    payloads from sources/avro.py): bulk-insert the corpus as a MoR
    table, log-UPSERT every doc_id % 7 == 0 row (n_chars + 1000, no
    base file rewritten), log-DELETE every doc_id % 13 == 0 key, read
    the merged snapshot, then COMPACT (logs folded into new base
    slices) and read again — both reads must hash-match the closed-form
    twin, so a merge that misses a log row, resurrects a deleted key,
    or double-counts after compaction fails."""
    import tempfile

    from dataset_grouper_spark.sources.hudi import (
        hudi_compact,
        hudi_insert,
        hudi_mor_delete,
        hudi_mor_upsert,
        read_hudi,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table = os.path.join(tempfile.mkdtemp(prefix="hudi_mor_"), "tbl")
    hudi_insert(
        spark,
        docs.repartition(4, "doc_id"),
        table,
        record_key="doc_id",
        table_type="MERGE_ON_READ",
    )
    hudi_mor_upsert(
        spark,
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "n_chars", F.col("n_chars") + 1000
        ),
        table,
    )
    hudi_mor_delete(
        spark,
        docs.filter(F.col("doc_id") % 13 == 0).select("doc_id"),
        table,
    )
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    ]
    merged = (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    hudi_compact(spark, table)
    compacted = (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return merged.unionByName(compacted).select(
        "stage", "lang", "n", "sum_ids", "sum_chars"
    )


def q_hudi_log_format_read(spark: SparkSession, sf: str) -> DataFrame:
    """MoR merge over a log written in REAL HoodieLogFormat block
    framing (sources/hudi_log.py — the r8 interop gap, closed in r9):
    bulk-insert the corpus as one MoR file group, then append a
    foreign-framed log carrying an AVRO_DATA block and (r12) a
    PARQUET_DATA block at one instant (the later block supersedes the
    earlier for shared keys — block sequence ordering; real Hudi
    writes parquet blocks under
    hoodie.logfile.data.block.format=parquet) plus a v3 Avro DELETE
    block, complete the deltacommit, and read the merged snapshot
    before AND after compaction folds the foreign log into a new base
    slice. Both reads hash-check against a closed-form CASE twin, so a
    framing mis-parse, a lost block, wrong same-instant ordering, a
    parquet-payload mis-decode, or a resurrected delete fails. The
    foreign rows are a BOUNDED fixed set (doc_id < 40): the
    driver-side block encoding is O(40), planning-scale."""
    import tempfile

    from dataset_grouper_spark.sources import hudi_log
    from dataset_grouper_spark.sources.hudi import (
        _next_instant,
        hudi_compact,
        hudi_file_slices,
        hudi_insert,
        read_hudi,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table = os.path.join(tempfile.mkdtemp(prefix="hudi_logfmt_"), "tbl")
    hudi_insert(
        spark,
        docs.coalesce(1),
        table,
        record_key="doc_id",
        table_type="MERGE_ON_READ",
    )
    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "_hoodie_record_key", "type": ["null", "string"]},
            {"name": "_hoodie_partition_path", "type": ["null", "string"]},
            {"name": "doc_id", "type": ["null", "long"]},
            {"name": "lang", "type": ["null", "string"]},
            {"name": "n_chars", "type": ["null", "long"]},
        ],
    }

    def recs(rows, bump):
        return [
            {
                "_hoodie_record_key": str(r["doc_id"]),
                "_hoodie_partition_path": "",
                "doc_id": r["doc_id"],
                "lang": r["lang"],
                "n_chars": r["n_chars"] + bump,
            }
            for r in rows
        ]

    small = docs.filter(F.col("doc_id") < 40).collect()  # bounded: <= 40
    up5 = recs([r for r in small if r["doc_id"] % 5 == 0], 500)
    up10 = recs([r for r in small if r["doc_id"] % 10 == 0], 700)
    dels = [
        {"recordKey": str(r["doc_id"]), "partitionPath": ""}
        for r in small
        if r["doc_id"] % 9 == 0
    ]
    _part, fid, base, _path = hudi_file_slices(table)[0]
    di = _next_instant(table)
    hudi_log.write_log_file(
        os.path.join(table, f".{fid}_{base}.log.1_0-1-0"),
        [
            hudi_log.encode_avro_data_block(up5, schema, di),
            hudi_log.encode_parquet_data_block(up10, schema, di),
            hudi_log.encode_delete_block(dels, di),
        ],
    )
    hp = os.path.join(table, ".hoodie")
    from dataset_grouper_spark.compat import fs as _hfs

    for suffix in ("deltacommit.requested", "deltacommit.inflight"):
        _hfs.write_text(os.path.join(hp, f"{di}.{suffix}"), "{}")
    _hfs.write_text(
        os.path.join(hp, f"{di}.deltacommit"),
        json.dumps({"partitionToWriteStats": {}, "operationType": "UPSERT"}),
    )
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    ]
    merged = (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    hudi_compact(spark, table)
    compacted = (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return merged.unionByName(compacted).select(
        "stage", "lang", "n", "sum_ids", "sum_chars"
    )


def q_hudi_ordering_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi precombine/orderingVal semantics (VERDICT r11 task 4,
    sources/hudi.py _mor_order): a MoR table declaring
    hoodie.table.precombine.field=evt merges by EVENT TIME — largest
    orderingVal wins, commit order only breaks ties. Base rows carry
    evt=(doc_id%7)*100; a first deltacommit upserts every doc_id%5==0
    (<40) to evt=1000 (+500 chars); a LATER deltacommit carries
    OUT-OF-ORDER rows for doc_id%10==0 at evt=900 (+700 chars) — they
    must LOSE to the earlier commit's evt=1000 rows (a commit-time
    merge yields +700, hash-mismatch) — plus a DELETE block at
    orderingVal=950 for doc_id%9==0 (kills only rows whose winning
    evt < 950: the %5==0 overlap survives), a DELETE with NO
    orderingVal for doc_id%11==3 (DeleteRecord's NATURAL-ORDER
    default: applies unconditionally by commit order — Hudi's
    merged-log-scanner sentinel-0 behavior, hudi.py _mor_winners), a
    second natural-order DELETE (orderingVal=0) for doc_id%20==0
    that kills even evt=1000 winners, and a data block written AFTER
    it re-upserting doc_id%40==0 at evt=5 (+900 chars) — the reborn
    row survives because event-time competition restarts past a
    natural-order delete (it also outlives the seq-earlier 950
    delete the sentinel swallowed). Read before and after
    compaction: both stages ride the same merge law."""
    import tempfile

    from dataset_grouper_spark.sources import hudi_log
    from dataset_grouper_spark.sources.hudi import (
        _next_instant,
        hudi_compact,
        hudi_file_slices,
        hudi_insert,
        read_hudi,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    ).withColumn("evt", (F.col("doc_id") % 7).cast("long") * 100)
    table = os.path.join(tempfile.mkdtemp(prefix="hudi_ord_"), "tbl")
    hudi_insert(
        spark,
        docs.coalesce(1),
        table,
        record_key="doc_id",
        table_type="MERGE_ON_READ",
        precombine_field="evt",
    )
    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "_hoodie_record_key", "type": ["null", "string"]},
            {"name": "_hoodie_partition_path", "type": ["null", "string"]},
            {"name": "doc_id", "type": ["null", "long"]},
            {"name": "lang", "type": ["null", "string"]},
            {"name": "n_chars", "type": ["null", "long"]},
            {"name": "evt", "type": ["null", "long"]},
        ],
    }

    def recs(rows, bump, evt):
        return [
            {
                "_hoodie_record_key": str(r["doc_id"]),
                "_hoodie_partition_path": "",
                "doc_id": r["doc_id"],
                "lang": r["lang"],
                "n_chars": r["n_chars"] + bump,
                "evt": evt,
            }
            for r in rows
        ]

    small = docs.filter(F.col("doc_id") < 40).collect()  # bounded: <= 40
    _part, fid, base, _path = hudi_file_slices(table)[0]
    from dataset_grouper_spark.compat import fs as _hfs

    hp = os.path.join(table, ".hoodie")

    def commit(di):
        for sfx in ("deltacommit.requested", "deltacommit.inflight"):
            _hfs.write_text(os.path.join(hp, f"{di}.{sfx}"), "{}")
        _hfs.write_text(
            os.path.join(hp, f"{di}.deltacommit"),
            json.dumps(
                {"partitionToWriteStats": {}, "operationType": "UPSERT"}
            ),
        )

    di1 = _next_instant(table)
    hudi_log.write_log_file(
        os.path.join(table, f".{fid}_{base}.log.1_0-1-0"),
        [
            hudi_log.encode_avro_data_block(
                recs([r for r in small if r["doc_id"] % 5 == 0], 500, 1000),
                schema,
                di1,
            )
        ],
    )
    commit(di1)
    di2 = _next_instant(table)
    hudi_log.write_log_file(
        os.path.join(table, f".{fid}_{base}.log.2_0-1-0"),
        [
            hudi_log.encode_avro_data_block(
                recs([r for r in small if r["doc_id"] % 10 == 0], 700, 900),
                schema,
                di2,
            ),
            hudi_log.encode_delete_block(
                [
                    {
                        "recordKey": str(r["doc_id"]),
                        "partitionPath": "",
                        "orderingVal": 950,
                    }
                    for r in small
                    if r["doc_id"] % 9 == 0
                ],
                di2,
            ),
            hudi_log.encode_delete_block(
                [
                    {"recordKey": str(r["doc_id"]), "partitionPath": ""}
                    for r in small
                    if r["doc_id"] % 11 == 3
                ],
                di2,
            ),
            hudi_log.encode_delete_block(
                [
                    {
                        "recordKey": str(r["doc_id"]),
                        "partitionPath": "",
                        "orderingVal": 0,
                    }
                    for r in small
                    if r["doc_id"] % 20 == 0
                ],
                di2,
            ),
            hudi_log.encode_avro_data_block(
                recs([r for r in small if r["doc_id"] % 40 == 0], 900, 5),
                schema,
                di2,
            ),
        ],
    )
    commit(di2)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("evt").alias("sum_evt"),
    ]
    merged = (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    hudi_compact(spark, table)
    compacted = (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return merged.unionByName(compacted).select(
        "stage", "lang", "n", "sum_ids", "sum_chars", "sum_evt"
    )


def q_hudi_changes_cdc(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi incremental (CDC) read (sources/hudi.py read_hudi_changes
    — the trio member next to delta_change_feed /
    iceberg_incremental): on a MERGE_ON_READ table the log rows ARE
    the change stream. Insert the corpus, log-upsert doc_id%7
    (n_chars+1000), log-delete doc_id%13, then read every change
    after the initial insert: upserts surface as update_postimage
    rows, deletes as identity-only delete rows — one phantom or
    missing change hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.hudi import (
        hudi_insert,
        hudi_mor_delete,
        hudi_mor_upsert,
        read_hudi_changes,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table = os.path.join(tempfile.mkdtemp(prefix="hudi_cdc_"), "tbl")
    i1 = hudi_insert(
        spark,
        docs.repartition(4, "doc_id"),
        table,
        record_key="doc_id",
        table_type="MERGE_ON_READ",
    )
    hudi_mor_upsert(
        spark,
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "n_chars", F.col("n_chars") + 1000
        ),
        table,
    )
    hudi_mor_delete(
        spark,
        docs.filter(F.col("doc_id") % 13 == 0).select("doc_id"),
        table,
    )
    return read_hudi_changes(spark, table, starting_instant=i1).select(
        F.col("_change_type").alias("change"),
        F.col("_change_key").alias("change_key"),
        "doc_id",
        "lang",
        "n_chars",
    )


def q_hudi_rollback_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi ROLLBACK lifecycle (sources/hudi.py hudi_rollback): insert
    the corpus, upsert a slice (n_chars+1000 for doc_id%7==0), ROLL
    the upsert BACK (its rewritten slices physically deleted, timeline
    marker recorded), then prove the table is intact and writable: a
    different upsert (n_chars+500 for doc_id%11==0) lands on top.
    Stage 0 reads after rollback (must equal the ORIGINAL corpus —
    a rollback that leaves the upsert's slice or drops a group
    hash-mismatches); stage 1 reads after the new upsert."""
    import tempfile

    from dataset_grouper_spark.sources.hudi import (
        hudi_insert,
        hudi_rollback,
        hudi_upsert,
        read_hudi,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table = os.path.join(tempfile.mkdtemp(prefix="hudi_rb_"), "tbl")
    hudi_insert(
        spark, docs.repartition(4, "doc_id"), table, record_key="doc_id"
    )
    hudi_upsert(
        spark,
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "n_chars", F.col("n_chars") + 1000
        ),
        table,
    )
    hudi_rollback(table)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    ]
    after_rb = (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    hudi_upsert(
        spark,
        docs.filter(F.col("doc_id") % 11 == 0).withColumn(
            "n_chars", F.col("n_chars") + 500
        ),
        table,
    )
    after_up = (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return after_rb.unionByName(after_up).select(
        "stage", "lang", "n", "sum_ids", "sum_chars"
    )


def q_hudi_partitions(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi per-partition planning view (hudi_partitions — the twin of
    delta_partitions/iceberg_partitions): a lang-partitioned CoW table
    where one partition then takes an upsert (new slice, same fileId —
    slice count per partition must NOT grow) plus a brand-new
    partition. Pure timeline read; row counts come from commit
    write-stats, never a data scan."""
    import tempfile

    from dataset_grouper_spark.sources.hudi import (
        hudi_insert,
        hudi_partitions,
        hudi_upsert,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table = os.path.join(tempfile.mkdtemp(prefix="hudi_parts_"), "tbl")
    hudi_insert(
        spark,
        docs.coalesce(1),
        table,
        record_key="doc_id",
        partition_by=["lang"],
    )
    first_lang = docs.select(F.min("lang").alias("l")).collect()[0]["l"]
    updates = docs.filter(
        (F.col("lang") == first_lang) & (F.col("doc_id") % 2 == 0)
    ).withColumn("n_chars", F.col("n_chars") + 5)
    news = docs.limit(3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.lit("zz").alias("lang"),
        F.col("n_chars"),
    )
    hudi_upsert(spark, updates.unionByName(news).coalesce(1), table)
    return hudi_partitions(spark, table).select(
        "partition", "n_slices", "n_rows"
    )


def q_streaming_hudi_sink_partitioned(
    spark: SparkSession, sf: str
) -> DataFrame:
    """PARTITIONED exactly-once streaming ingestion through the
    hudi_lite format: micro-batches split per partition tuple
    executor-side (hive-style lang=... dirs), each batch one INSERT
    deltalike commit with {app-id, epoch}; the whole stream REPLAYS
    from a fresh checkpoint and every epoch must no-op, else the
    per-lang oracle double-counts."""
    import tempfile

    from dataset_grouper_spark.sources.hudi import read_hudi
    from dataset_grouper_spark.streaming.hudi_source import (
        HudiLiteDataSource,
    )

    try:
        spark.dataSource.register(HudiLiteDataSource)
    except Exception:
        pass

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    src = tempfile.mkdtemp(prefix="hudi_psink_src_")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    table = os.path.join(tempfile.mkdtemp(prefix="hudi_psink_"), "tbl")

    def drain(ckpt_dir: str) -> None:
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        q = (
            stream.repartition(2, "lang")
            .writeStream.format("hudi_lite")
            .option("path", table)
            .option("recordKey", "doc_id")
            .option("partitionBy", "lang")
            .option("epochAppId", "dg-hudi-pstream")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)

    with _stream_shuffle_partitions(spark):
        drain(tempfile.mkdtemp(prefix="hudi_pck1_"))
        drain(tempfile.mkdtemp(prefix="hudi_pck2_"))  # replay: no-ops
    return (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum(F.octet_length("text")).alias("text_bytes"),
        )
    )


def q_hudi_clean_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi retention lifecycle (hudi_clean — the vacuum twin of
    delta_vacuum / iceberg_remove_orphans): a single-group CoW table
    takes an upsert (new slice, same fileId), clean reaps EXACTLY the
    one superseded base slice, and the surviving snapshot must still
    hash-match the merged oracle. Stage 1 carries the removed-file
    count — a clean that reaps a live file or misses the stale one
    fails closed-form."""
    import tempfile

    from dataset_grouper_spark.sources.hudi import (
        hudi_clean,
        hudi_insert,
        hudi_upsert,
        read_hudi,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table = os.path.join(tempfile.mkdtemp(prefix="hudi_clean_"), "tbl")
    hudi_insert(spark, docs.coalesce(1), table, record_key="doc_id")
    hudi_upsert(
        spark,
        docs.filter(F.col("doc_id") % 5 == 0).withColumn(
            "n_chars", F.col("n_chars") + 7
        ),
        table,
    )
    removed = hudi_clean(table)
    snapshot = (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("stage", F.lit(0))
    )
    audit = spark.createDataFrame(
        [("__removed__", len(removed), None, 1)],
        "lang string, n long, sum_chars long, stage int",
    )
    return snapshot.unionByName(audit).select(
        "stage", "lang", "n", "sum_chars"
    )


def q_convert_tables_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only table conversion (sources/convert.py — the
    XTable/UniForm shape): the SAME corpus lands once per source
    format, is re-exposed in the target format by writing ONLY new
    metadata referencing the shared parquet files (zero data
    movement), and each converted view must hash-match the plain
    corpus oracle. Stage 0 = Delta->Iceberg, 1 = Iceberg->Delta,
    2 = Hudi->Delta (the _hoodie_* meta columns projected away by the
    Delta scan schema)."""
    import tempfile

    from dataset_grouper_spark.sources.convert import (
        convert_delta_to_iceberg,
        convert_hudi_to_delta,
        convert_iceberg_to_delta,
    )
    from dataset_grouper_spark.sources.delta import delta_append, read_delta
    from dataset_grouper_spark.sources.hudi import hudi_insert
    from dataset_grouper_spark.sources.iceberg import (
        iceberg_append,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="convert_rt_")
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    ]
    d1 = os.path.join(root, "d1")
    delta_append(spark, docs.coalesce(2), d1)
    convert_delta_to_iceberg(spark, d1, os.path.join(root, "i1"))
    s0 = (
        read_iceberg(spark, os.path.join(root, "i1"))
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    i2 = os.path.join(root, "i2")
    iceberg_append(spark, docs.coalesce(2), i2)
    convert_iceberg_to_delta(spark, i2, os.path.join(root, "d2"))
    s1 = (
        read_delta(spark, os.path.join(root, "d2"))
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    h3 = os.path.join(root, "h3")
    hudi_insert(spark, docs.coalesce(2), h3, record_key="doc_id")
    convert_hudi_to_delta(spark, h3, os.path.join(root, "d3"))
    s2 = (
        read_delta(spark, os.path.join(root, "d3"))
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(2))
    )
    return s0.unionByName(s1).unionByName(s2).select(
        "stage", "lang", "n", "sum_ids", "sum_chars"
    )


_FOREIGN_FIXTURES = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests", "fixtures", "foreign",
)


def q_foreign_lakehouse_fixtures(spark: SparkSession, sf: str) -> DataFrame:
    """COMMITTED foreign-engine golden fixtures (r9 verdict task 2,
    tools/make_foreign_fixtures.py): four KB-scale tables hand-built
    to the published specs in the exact layout/metadata shape the real
    engines emit — Spark-Delta 3.x (commitInfo riders, stats JSON
    strings, partition column absent from data files), Spark-Iceberg
    v2 (full manifest stats block, file_sequence_number, field
    summaries), Hudi 0.14 CoW (17-digit instants, UUID file ids, write
    tokens, full writeStats, a foreign .clean) and MoR (HoodieLogFormat
    log under a deltacommit). Each is read through open_table; the
    oracle is the LITERAL expected row set, so a reader that only
    understands its own writer's dialect hash-mismatches here. sf is
    unused: the fixtures are the committed bytes themselves."""
    from functools import reduce

    from dataset_grouper_spark.sources import open_table

    frames = [
        open_table(
            spark, os.path.join(_FOREIGN_FIXTURES, sub)
        ).select(F.lit(sub).alias("fmt"), "id", "txt", "lang")
        for sub in (
            "delta",
            "iceberg",
            "hudi_cow",
            "hudi_mor",
            # r11 nasty combinations (VERDICT r10 task 4): column
            # mapping + DV + parquet checkpoint in ONE Delta table
            # (the DV descriptor lives in the checkpoint struct), and
            # a MoR log whose rollback COMMAND_BLOCK sits in a .log.2
            # rollover file (cross-file invalidation)
            "delta_cm",
            "hudi_mor_rollover",
            # r12: event-time precombine merge — a commit-time reader
            # hash-mismatches on all three rows (wrong winner for id
            # 1, wrongly-deleted id 2, resurrected id 3)
            "hudi_mor_ordering",
        )
    ]
    return reduce(DataFrame.unionByName, frames)


_FOREIGN_ORACLE_ROWS = [
    ("delta", 1, "alpha", "en"),
    ("delta", 2, "bravo", "en"),
    # id=3 is masked by the foreign 'u'-storage deletion vector
    ("delta", 6, "foxtrot", "de"),
    ("delta", 7, "golf", "de"),
    ("delta", 10, "kilo", "en"),
    ("delta", 11, "lima", "en"),
    ("iceberg", 1, "alpha", "en"),
    ("iceberg", 2, "bravo", "en"),
    ("iceberg", 3, "charlie", "en"),
    ("iceberg", 4, "delta", "de"),
    ("iceberg", 5, "echo", "de"),
    ("iceberg", 8, "hotel", "en"),
    ("iceberg", 9, "india", "en"),
    ("hudi_cow", 1, "ALPHA!", "en"),
    ("hudi_cow", 2, "bravo", "en"),
    ("hudi_cow", 3, "charlie", "en"),
    ("hudi_cow", 4, "delta", "de"),
    ("hudi_cow", 5, "echo", "de"),
    ("hudi_mor", 1, "alpha", "en"),
    ("hudi_mor", 2, "BRAVO!", "en"),
    ("hudi_mor", 9, "juliett", "en"),
    # delta_cm: column mapping (physical col-<uuid> names) + a
    # 'u'-storage DV (kills id=2) + a parquet checkpoint carrying BOTH
    ("delta_cm", 1, "alpha", "en"),
    ("delta_cm", 3, "charlie", "en"),
    ("delta_cm", 4, "delta", "de"),
    ("delta_cm", 5, "echo", "de"),
    ("delta_cm", 8, "hotel", "en"),
    ("delta_cm", 9, "india", "en"),
    # hudi_mor_rollover: failed T3 blocks in .log.1 must be killed by
    # the rollback COMMAND_BLOCK living in .log.2 — same surviving
    # rows as hudi_mor, or the rollback leaked
    ("hudi_mor_rollover", 1, "alpha", "en"),
    ("hudi_mor_rollover", 2, "BRAVO!", "en"),
    ("hudi_mor_rollover", 9, "juliett", "en"),
    # hudi_mor_ordering: precombine event-time merge — the later
    # commit's older-evt row loses, the low-orderingVal delete does
    # not apply, the high one does
    ("hudi_mor_ordering", 1, "NEWEST", "en"),
    ("hudi_mor_ordering", 2, "bravo", "en"),
    # id 4: a natural-order (orderingVal 0) delete kills the base row
    # by commit order, then a LATER data block re-inserts the key —
    # the rebirth row survives (event-time competition restarts past
    # a natural-order delete)
    ("hudi_mor_ordering", 4, "reborn", "en"),
]


def q_sync_hudi_delta_mirror(spark: SparkSession, sf: str) -> DataFrame:
    """The third mirror direction (sources/convert.py
    sync_hudi_to_delta) — and the only one that mirrors REPLACEMENT:
    even docs land in Hudi and convert to a Delta view; one Hudi
    upsert then both REWRITES existing file groups (every doc_id%6==0
    row gets n_chars+1000) and inserts the odd docs, and ONE
    incremental sync expresses all of it as a single Delta commit
    (remove superseded base files + add new slices — O(changed
    groups) metadata, zero copies). The mirror read must hash-match
    the post-upsert corpus (stage 0) while Delta version 0 still
    serves the pre-sync state (stage 1)."""
    import tempfile

    from dataset_grouper_spark.sources.convert import (
        convert_hudi_to_delta,
        sync_hudi_to_delta,
    )
    from dataset_grouper_spark.sources.delta import read_delta
    from dataset_grouper_spark.sources.hudi import hudi_insert, hudi_upsert

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="sync_mirror_hudi_")
    h = os.path.join(root, "h")
    d = os.path.join(root, "d")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    hudi_insert(spark, base.coalesce(1), h, record_key="doc_id")
    convert_hudi_to_delta(spark, h, d)
    batch = (
        base.filter(F.col("doc_id") % 6 == 0)
        .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
        .unionByName(docs.filter(F.col("doc_id") % 2 == 1))
    )
    hudi_upsert(spark, batch.coalesce(1), h)
    sync_hudi_to_delta(spark, h, d)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    ]
    full = (
        read_delta(spark, d)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    pre = (
        read_delta(spark, d, version=0)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return full.unionByName(pre).select(
        "stage", "lang", "n", "sum_ids", "sum_chars"
    )


def q_sync_hudi_iceberg_mirror(spark: SparkSession, sf: str) -> DataFrame:
    """The FOURTH mirror direction (sources/convert.py
    sync_hudi_to_iceberg): same corpus shape as the Hudi->Delta
    mirror, but the upsert lands in Iceberg as a REPLACE snapshot
    whose one manifest re-declares the live set (superseded base
    files absent — the compaction-commit shape), proving replacement
    is expressible on the Iceberg side too. Stage 0 = post-upsert
    mirror read, stage 1 = time travel to the conversion snapshot."""
    import tempfile

    from dataset_grouper_spark.sources.convert import (
        convert_hudi_to_iceberg,
        sync_hudi_to_iceberg,
    )
    from dataset_grouper_spark.sources.hudi import hudi_insert, hudi_upsert
    from dataset_grouper_spark.sources.iceberg import read_iceberg

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="sync_mirror_hi_")
    h = os.path.join(root, "h")
    i = os.path.join(root, "i")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    hudi_insert(spark, base.coalesce(1), h, record_key="doc_id")
    pre = convert_hudi_to_iceberg(spark, h, i)
    batch = (
        base.filter(F.col("doc_id") % 6 == 0)
        .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
        .unionByName(docs.filter(F.col("doc_id") % 2 == 1))
    )
    hudi_upsert(spark, batch.coalesce(1), h)
    sync_hudi_to_iceberg(spark, h, i)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    ]
    full = (
        read_iceberg(spark, i)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    prev = (
        read_iceberg(spark, i, snapshot_id=pre)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return full.unionByName(prev).select(
        "stage", "lang", "n", "sum_ids", "sum_chars"
    )


def q_sync_delta_iceberg_mirror(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous Delta->Iceberg mirroring (sources/convert.py
    sync_delta_to_iceberg — the UniForm shape): half the corpus lands
    in Delta and converts; the other half appends on the Delta side in
    two commits and ONE incremental sync appends exactly the new files
    to the Iceberg mirror (O(new files) metadata, zero copies). The
    mirror read must hash-match the full corpus; its first snapshot
    must still serve only the pre-sync half (stage 1)."""
    import tempfile

    from dataset_grouper_spark.sources.convert import (
        convert_delta_to_iceberg,
        sync_delta_to_iceberg,
    )
    from dataset_grouper_spark.sources.delta import delta_append
    from dataset_grouper_spark.sources.iceberg import read_iceberg

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="sync_mirror_")
    d = os.path.join(root, "d")
    i = os.path.join(root, "i")
    delta_append(spark, docs.filter(F.col("doc_id") % 2 == 0).coalesce(1), d)
    convert_delta_to_iceberg(spark, d, i)
    delta_append(
        spark,
        docs.filter(
            (F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 3 == 0)
        ).coalesce(1),
        d,
    )
    delta_append(
        spark,
        docs.filter(
            (F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 3 != 0)
        ).coalesce(1),
        d,
    )
    sync_delta_to_iceberg(spark, d, i)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    ]
    full = (
        read_iceberg(spark, i)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    pre = (
        read_iceberg(spark, i, snapshot_id=1)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return full.unionByName(pre).select(
        "stage", "lang", "n", "sum_ids", "sum_chars"
    )


def q_sync_iceberg_delta_mirror(spark: SparkSession, sf: str) -> DataFrame:
    """The REVERSE mirror (sources/convert.py sync_iceberg_to_delta):
    half the corpus lands in Iceberg and converts to a Delta view; the
    other half appends on the Iceberg side in two snapshots and ONE
    incremental sync appends exactly the new files to the Delta mirror
    (O(new files) metadata, zero copies). The mirror read must
    hash-match the full corpus; version 0 must still serve only the
    pre-sync half (stage 1)."""
    import tempfile

    from dataset_grouper_spark.sources.convert import (
        convert_iceberg_to_delta,
        sync_iceberg_to_delta,
    )
    from dataset_grouper_spark.sources.delta import read_delta
    from dataset_grouper_spark.sources.iceberg import iceberg_append

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="sync_mirror_rev_")
    i = os.path.join(root, "i")
    d = os.path.join(root, "d")
    iceberg_append(
        spark, docs.filter(F.col("doc_id") % 2 == 0).coalesce(1), i
    )
    convert_iceberg_to_delta(spark, i, d)
    iceberg_append(
        spark,
        docs.filter(
            (F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 3 == 0)
        ).coalesce(1),
        i,
    )
    iceberg_append(
        spark,
        docs.filter(
            (F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 3 != 0)
        ).coalesce(1),
        i,
    )
    sync_iceberg_to_delta(spark, i, d)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    ]
    full = (
        read_delta(spark, d)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    pre = (
        read_delta(spark, d, version=0)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return full.unionByName(pre).select(
        "stage", "lang", "n", "sum_ids", "sum_chars"
    )


def q_open_table_dispatch(spark: SparkSession, sf: str) -> DataFrame:
    """Unified table entry point (sources.open_table): the SAME corpus
    split five ways — plain parquet, a hand-less Delta log
    (delta_append), a Hudi CoW timeline (hudi_insert), an Iceberg
    snapshot commit (iceberg_append), and this engine's snapshot store
    — each opened back through ONE format-sniffing call (table_format
    dispatch), tagged and aggregated. A mis-sniffed layout reads zero
    or foreign rows and hash-mismatches its split's parity filter."""
    import tempfile

    from dataset_grouper_spark.sinks.snapshots import snapshot_write
    from dataset_grouper_spark.sources import open_table
    from dataset_grouper_spark.sources.delta import delta_append
    from dataset_grouper_spark.sources.hudi import hudi_insert
    from dataset_grouper_spark.sources.iceberg import iceberg_append

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    base = tempfile.mkdtemp(prefix="open_table_")
    paths = {r: os.path.join(base, f"t{r}") for r in range(5)}
    splits = {r: docs.filter(F.col("doc_id") % 5 == r) for r in range(5)}
    splits[0].write.mode("overwrite").parquet(paths[0])
    delta_append(spark, splits[1], paths[1])
    iceberg_append(spark, splits[2], paths[2])
    snapshot_write(splits[3], paths[3])
    hudi_insert(spark, splits[4], paths[4], record_key="doc_id")
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    frames = [
        open_table(spark, paths[r])
        .select("doc_id", "lang")
        .groupBy("lang")
        .agg(*agg)
        .withColumn("fmt", F.lit(r))
        for r in range(5)
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.select("fmt", "lang", "n", "sum_ids")


def q_iceberg_partition_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg TRANSFORM partition pruning end-to-end: a table laid
    out by (bucket[4](doc_id), truncate[1](lang)) with per-file
    partition metadata in hand-written Avro manifests; stage 0 reads
    with partition_filter={'doc_id': 7} (murmur3 bucket resolution)
    plus the exact row filter, stage 1 reads with
    partition_filter={'lang': 'de'} and NO row filter — the result is
    exactly the rows of surviving files, so an under-pruning reader
    (extra langs) or an over-pruning one (missing rows) both
    hash-mismatch. This is the manifest-level planning win that makes
    a partition-scoped read at 100 TB touch only matching files."""
    import glob
    import json as _json
    import shutil
    import tempfile

    import pandas as pd

    from dataset_grouper_spark.sources.avro import write_avro_file
    from dataset_grouper_spark.sources.iceberg import read_iceberg

    def _bucket4_fn(ids):
        import struct

        from dataset_grouper_spark.sources.iceberg import _murmur3_32

        return ids.map(
            lambda v: (_murmur3_32(struct.pack("<q", int(v))) & 0x7FFFFFFF)
            % 4
        ).astype("int32")

    _bucket4 = F.pandas_udf(_bucket4_fn, "int")

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="iceberg_prune_") + "/tbl"
    os.makedirs(os.path.join(table, "metadata"))
    os.makedirs(os.path.join(table, "data"))
    stage = tempfile.mkdtemp(prefix="ice_prune_stage_")
    (
        docs.withColumn("b", _bucket4("doc_id"))
        .withColumn("l1", F.substring("lang", 1, 1))
        .write.mode("overwrite")
        .partitionBy("b", "l1")
        .parquet(stage)
    )
    entries = []
    for i, src in enumerate(
        sorted(glob.glob(os.path.join(stage, "b=*", "l1=*", "*.parquet")))
    ):
        l1_dir, b_dir = (
            os.path.basename(os.path.dirname(src)),
            os.path.basename(os.path.dirname(os.path.dirname(src))),
        )
        dst = os.path.join(table, "data", f"f{i}.parquet")
        shutil.move(src, dst)
        entries.append(
            {
                "status": 1,
                "snapshot_id": None,
                "data_file": {
                    "content": 0,
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(dst),
                    "partition": {
                        "doc_id_bucket": int(b_dir.split("=")[1]),
                        "lang_trunc": l1_dir.split("=")[1],
                    },
                },
            }
        )
    shutil.rmtree(stage, ignore_errors=True)
    man_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r3",
                                "fields": [
                                    {
                                        "name": "doc_id_bucket",
                                        "type": "int",
                                    },
                                    {
                                        "name": "lang_trunc",
                                        "type": "string",
                                    },
                                ],
                            },
                        },
                    ],
                },
            },
        ],
    }
    mpath = os.path.join(table, "metadata", "m0.avro")
    write_avro_file(mpath, man_schema, entries)
    mlist = os.path.join(table, "metadata", "snap-1.avro")
    write_avro_file(
        mlist,
        _ICE_MLIST_SCHEMA,
        [
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 0,
                "added_snapshot_id": 1,
            }
        ],
    )
    meta = {
        "format-version": 2,
        "table-uuid": "0" * 36,
        "location": table,
        "current-snapshot-id": 1,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "doc_id", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "text", "required": False,
                     "type": "string"},
                    {"id": 3, "name": "lang", "required": False,
                     "type": "string"},
                ],
            }
        ],
        "current-schema-id": 0,
        "default-spec-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": "doc_id_bucket",
                        "transform": "bucket[4]",
                        "source-id": 1,
                        "field-id": 1000,
                    },
                    {
                        "name": "lang_trunc",
                        "transform": "truncate[1]",
                        "source-id": 3,
                        "field-id": 1001,
                    },
                ],
            }
        ],
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1, "manifest-list": mlist}
        ],
    }
    with open(os.path.join(table, "metadata", "v1.metadata.json"), "w") as f:
        _json.dump(meta, f)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    by_id = (
        read_iceberg(spark, table, partition_filter={"doc_id": 7})
        .filter(F.col("doc_id") == 7)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    by_lang = (
        read_iceberg(spark, table, partition_filter={"lang": "de"})
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return by_id.unionByName(by_lang).select("stage", "lang", "n", "sum_ids")


def q_iceberg_equality_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg v2 EQUALITY deletes (sources/iceberg.py
    iceberg_delete_values / _apply_equality_deletes): append two
    corpus halves, DELETE BY KEY (doc_id % 6 == 0 — an O(keys) commit
    that never scans the table), then append the third-half rows,
    some of which REUSE deleted keys — sequence-number ordering must
    keep every row written after the delete while dropping all older
    matches. Stage 0 = final state (survivors + reinserts), stage 1 =
    time travel to the pre-delete snapshot. A reader that applies
    deletes to newer files, misses one of two older files, or ignores
    the delete entirely hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        iceberg_append,
        iceberg_delete_values,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="iceberg_eq_") + "/tbl"
    for r in (0, 1):
        iceberg_append(spark, docs.filter(F.col("doc_id") % 3 == r), table)
    pre_delete = iceberg_append(
        spark, docs.filter(F.col("doc_id") % 3 == 2), table
    )
    iceberg_delete_values(
        spark,
        docs.filter(F.col("doc_id") % 6 == 0).select("doc_id"),
        table,
    )
    # reinserted rows carry a LARGER sequence number than the delete
    iceberg_append(
        spark,
        docs.filter(F.col("doc_id") % 12 == 0)
        .withColumn("lang", F.lit("reborn")),
        table,
    )
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    final = (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    before = (
        read_iceberg(spark, table, snapshot_id=pre_delete)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return final.unionByName(before).select("stage", "lang", "n", "sum_ids")


def q_iceberg_dv_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg v3 DELETION VECTORS (sources/iceberg.py
    iceberg_dv_delete + sources/puffin.py): append the corpus across
    multiple data files, v2-position-delete one slice (doc_id%11==3),
    then DV-delete another (doc_id%7==0) — one real Puffin file per
    touched data file (spec blob framing: magic D1D33964, portable
    roaring64, BE CRC-32), manifest entries carrying
    referenced_data_file + ranged-read coordinates, format-version
    bumped to 3. The read must compose BOTH delete generations in one
    anti-join (stage 0); stage 1 time-travels to the pre-DV snapshot
    where only the v2 deletes apply. A mis-decoded bitmap, a wrong
    ordinal, or a missed composition anywhere hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        iceberg_append,
        iceberg_delete_where,
        iceberg_dv_delete,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    table = tempfile.mkdtemp(prefix="iceberg_dv_") + "/tbl"
    iceberg_append(spark, docs.repartition(3), table)
    pre_dv = iceberg_delete_where(spark, table, "doc_id % 11 = 3")
    iceberg_dv_delete(spark, table, "doc_id % 7 = 0")
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    ]
    final = (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    mid = (
        read_iceberg(spark, table, snapshot_id=pre_dv)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return final.unionByName(mid).select(
        "stage", "lang", "n", "sum_ids", "sum_chars"
    )


def q_iceberg_row_lineage(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg v3 ROW LINEAGE (sources/iceberg.py
    iceberg_enable_row_lineage + read_iceberg(row_ids=True)): evens
    land sorted in one file, lineage is enabled (the retrofit assigns
    first_row_id in file order), odds append afterwards (ids continue
    from next-row-id), then a deletion-vector delete knocks out every
    doc_id%5==0 row, then the table is COMPACTED (r12: the
    lineage-preserving rewrite materializes _row_id physically in the
    merged file, first_row_id = null in its manifest entry). The read
    exposes _row_id = coalesce(materialized, first_row_id + ordinal);
    the DuckDB twin recomputes every id with row_number() arithmetic
    — so an id that shifts after the delete OR the rewrite (the exact
    bugs lineage exists to prevent), a wrong retrofit order, or a
    next-row-id gap hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        iceberg_append,
        iceberg_dv_delete,
        iceberg_enable_row_lineage,
        iceberg_rewrite_data_files,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "lang")
    table = tempfile.mkdtemp(prefix="iceberg_rl_") + "/tbl"
    evens = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    iceberg_append(spark, evens, table)
    iceberg_enable_row_lineage(table)
    odds = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    iceberg_append(spark, odds, table)
    iceberg_dv_delete(spark, table, "doc_id % 5 = 0")
    iceberg_rewrite_data_files(spark, table, min_input_files=2)
    return read_iceberg(spark, table, row_ids=True).select(
        "doc_id", "lang", F.col("_row_id").cast("long").alias("row_id")
    )


def q_delta_row_tracking(spark: SparkSession, sf: str) -> DataFrame:
    """Delta ROW TRACKING (sources/delta.py delta_enable_row_tracking
    + read_delta(row_ids=True)) — the Delta-side twin of
    iceberg_row_lineage: evens land sorted, the retrofit assigns
    baseRowId per file in add-path order with the high watermark in
    the spec's delta.rowTracking domainMetadata, odds append
    afterwards taking the next id block atomically, a
    deletion-vector DELETE knocks out every doc_id%5==0 row, the
    table is OPTIMIZE-compacted (r12: the id-preserving rewrite
    materializes _row_id physically in the merged file), and a MERGE
    updates lang='xx' for surviving doc_id%7==1 rows (r12: updates
    INHERIT the matched row's id — stable row ids under DML). _row_id
    = coalesce(materialized, baseRowId + ordinal) must survive the
    delete, the rewrite, AND the merge unrenumbered; the twin
    recomputes every id with row_number() arithmetic and a CASE for
    the merged lang."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_append,
        delta_delete_where,
        delta_enable_row_tracking,
        delta_merge,
        delta_optimize,
        read_delta,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "lang")
    t = tempfile.mkdtemp(prefix="delta_rt_") + "/tbl"
    evens = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    delta_append(spark, evens, t)
    delta_enable_row_tracking(spark, t)
    odds = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    delta_append(spark, odds, t)
    delta_delete_where(spark, t, "doc_id % 5 = 0")
    delta_optimize(spark, t)
    delta_merge(
        spark,
        docs.filter(
            (F.col("doc_id") % 7 == 1) & (F.col("doc_id") % 5 != 0)
        ).withColumn("lang", F.lit("xx")),
        t,
        on=["doc_id"],
    )
    return read_delta(spark, t, row_ids=True).select(
        "doc_id", "lang", F.col("_row_id").cast("long").alias("row_id")
    )


def q_iceberg_gdpr_compose(spark: SparkSession, sf: str) -> DataFrame:
    """Position deletes STACKED ON equality deletes (sources/iceberg.py
    iceberg_delete_where over a table carrying equality deletes — the
    Flink-CDC + GDPR composition): append the corpus, equality-delete
    keys (doc_id % 6 == 0, the CDC retraction), then predicate-delete
    rows on the CURRENT view (lang = 'de' or doc_id % 11 == 3, the
    GDPR sweep). The predicate scan must apply the sequence-ordered
    equality deletes FIRST, so already-retracted rows never match and
    the two delete kinds compose. Stage 0 = final state, stage 1 =
    time travel to the post-equality / pre-predicate snapshot."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        iceberg_append,
        iceberg_delete_values,
        iceberg_delete_where,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="iceberg_gdpr_") + "/tbl"
    iceberg_append(spark, docs, table)
    eq_snap = iceberg_delete_values(
        spark,
        docs.filter(F.col("doc_id") % 6 == 0).select("doc_id"),
        table,
    )
    iceberg_delete_where(spark, table, "lang = 'de' OR doc_id % 11 = 3")
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    final = (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    mid = (
        read_iceberg(spark, table, snapshot_id=eq_snap)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return final.unionByName(mid).select("stage", "lang", "n", "sum_ids")


def q_delta_merge_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Delta MERGE (sources/delta.py delta_merge): copy-on-write
    upsert at FILE granularity — updates (every doc_id % 10 == 0
    re-langed to 'merged') and inserts (doc_id + 1000000 rows langed
    'inserted') land in ONE commit that rewrites only files containing
    a matched key. Stage 0 = post-merge state, stage 1 = time travel
    to the pre-merge version (CoW must leave it intact). A merge that
    duplicates matched rows, loses survivors from rewritten files, or
    forgets inserts hash-mismatches the closed-form twin."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_append,
        delta_merge,
        read_delta,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="delta_merge_") + "/tbl"
    delta_append(
        spark,
        docs.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id"),
        table,
    )
    updates = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "lang", F.lit("merged")
    )
    inserts = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("lang", F.lit("inserted"))
    )
    v = delta_merge(
        spark, updates.unionByName(inserts), table, on=["doc_id"]
    )
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.length("text")).alias("text_bytes"),
    ]
    after = (
        read_delta(spark, table)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(0))
    )
    before = (
        read_delta(spark, table, version=v - 1)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(1))
    )
    return after.unionByName(before).select(
        "stage", "lang", "n", "sum_ids", "text_bytes"
    )


def q_iceberg_partitioned_write(spark: SparkSession, sf: str) -> DataFrame:
    """First-class PARTITIONED Iceberg writes (sources/iceberg.py
    iceberg_append(partition_spec=...)): the corpus lands under
    (identity(lang), bucket[4](doc_id)) with per-file partition
    structs in real Avro manifests — the write side of the transform
    table whose read side q_iceberg_partition_pruning exercises over
    hand-built metadata. In-query assert: a lang filter must prune
    files at the manifest level. Stage 0 = pruned lang read, stage 1
    = bucket-pruned point read — both exact (every file carries
    partition metadata) and hash-checked; a writer that records the
    wrong bucket value or drops a partition struct loses rows."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        _expected_partition,
        _live_files,
        _load_metadata,
        iceberg_append,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="iceberg_pw_") + "/tbl"
    halves = [docs.filter(F.col("doc_id") % 2 == r) for r in (0, 1)]
    iceberg_append(
        spark,
        halves[0].coalesce(4),
        table,
        partition_spec=[("lang", "identity"), ("doc_id", "bucket[4]")],
    )
    iceberg_append(spark, halves[1].coalesce(4), table)  # spec inherited
    meta = _load_metadata(table)
    snap = {s["snapshot-id"]: s for s in meta["snapshots"]}[
        meta["current-snapshot-id"]
    ]
    total, _p, _r, _e = _live_files(table, snap)
    kept, _p, _r, _e = _live_files(
        table, snap, _expected_partition(meta, {"lang": "de"})
    )
    if not (0 < len(kept) < len(total)):
        raise AssertionError(
            f"manifest pruning did not drop files: {len(kept)}/{len(total)}"
        )
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.length("text")).alias("text_bytes"),
    ]
    by_lang = (
        read_iceberg(spark, table, partition_filter={"lang": "de"})
        .filter(F.col("lang") == "de")
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    point = (
        read_iceberg(spark, table, partition_filter={"doc_id": 42})
        .filter(F.col("doc_id") == 42)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return by_lang.unionByName(point).select(
        "stage", "lang", "n", "sum_ids", "text_bytes"
    )


def q_iceberg_stats_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg COLUMN-BOUND file skipping (sources/iceberg.py
    _footer_bounds / read_iceberg(skip_filters=...)): the corpus fans
    out 40×, lands doc_id-clustered across 6 files whose manifests
    carry Appendix-D-serialized lower/upper bounds per column; a
    doc_id range read must prune files at the MANIFEST level
    (asserted in-query) while the returned aggregate flows through
    the skipping path + exact row filter — so a skip that wrongly
    drops a candidate file loses rows and hash-mismatches. The same
    planning win as Delta's add.stats, spoken in Iceberg's dialect."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        _live_files,
        _load_metadata,
        iceberg_append,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "lang")
    base = (
        docs.withColumn("copy", F.explode(F.sequence(F.lit(1), F.lit(40))))
        .withColumn("y", (F.col("doc_id") * 91 + F.col("copy") * 7) % 1000)
        .select("doc_id", "lang", "y")
    )
    table = tempfile.mkdtemp(prefix="iceberg_ss_") + "/tbl"
    iceberg_append(
        spark,
        base.repartitionByRange(6, "doc_id").sortWithinPartitions("doc_id"),
        table,
    )
    meta = _load_metadata(table)
    snap = {s["snapshot-id"]: s for s in meta["snapshots"]}[
        meta["current-snapshot-id"]
    ]
    total, _p, _r, _e = _live_files(table, snap)
    hi = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    cut = hi // 3
    kept, _p, _r, _e = _live_files(
        table, snap, None, [(1, "<=", cut)], {1: "long"}
    )
    if len(total) >= 4 and len(kept) >= len(total):
        raise AssertionError(
            f"bound skipping did not prune: {len(kept)}/{len(total)}"
        )
    return (
        read_iceberg(spark, table, skip_filters=[("doc_id", "<=", cut)])
        .filter(F.col("doc_id") <= cut)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("y").alias("sum_y"),
        )
        .select("lang", "n", "sum_ids", "sum_y")
    )


def q_gapfill_daily_events(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series GAP FILL (operators/timeseries.py gap_fill): daily
    per-user event rollups with the EMPTY days materialized and
    zero-filled — the regularization step every windowed model needs
    over an irregular event stream. The dense axis is sequence+explode
    over each user's own [first, last] day span (distributed with the
    groups, no driver loop); fills are pure projections. The oracle
    rebuilds the axis with DuckDB's range() lateral, so a span
    off-by-one, a dropped empty bucket, or a fill on the wrong side
    all hash-mismatch."""
    from dataset_grouper_spark.operators.timeseries import gap_fill

    ev = (
        read_table(spark, sf, "events")
        .filter(F.col("user_id") < 30)
        .withColumn("sec", F.expr("ts div 1000000000"))
    )
    return gap_fill(
        ev,
        "sec",
        86400,
        ["user_id"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        ],
        fill={"n_events": "zero", "sum_value": "zero"},
    ).select(
        "user_id",
        "bucket_start",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_resample_linear_events(spark: SparkSession, sf: str) -> DataFrame:
    """FORWARD-FILL and LINEAR INTERPOLATION over a sparse resample
    (operators/timeseries.py gap_fill fill='ffill'/'linear'): a 1-in-97
    event sample bucketed 6-hourly per event type leaves most buckets
    empty; the ffill column carries the last observation forward, the
    linear column interpolates between the nearest observations on
    each side (falling back to the single available side at the
    edges). Both engines compute the identical prev/next windows
    (last/first IGNORE NULLS) and the identical double arithmetic, so
    an edge-case fallback or an off-by-one-bucket interpolation
    fraction hash-mismatches."""
    from dataset_grouper_spark.operators.timeseries import gap_fill

    ev = (
        read_table(spark, sf, "events")
        .filter(F.col("event_id") % 97 == 0)
        .withColumn("sec", F.expr("ts div 1000000000"))
    )
    return gap_fill(
        ev,
        "sec",
        21600,
        ["event_type"],
        [
            F.avg("value").alias("avg_ffill"),
            F.avg("value").alias("avg_linear"),
        ],
        fill={"avg_ffill": "ffill", "avg_linear": "linear"},
    ).select("event_type", "bucket_start", "avg_ffill", "avg_linear")


def q_iceberg_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg rewrite_data_files compaction (sources/iceberg.py
    iceberg_rewrite_data_files): four 1-file appends of the corpus +
    one merge-on-read position delete, then a REPLACE-snapshot
    bin-pack that must (a) shrink the live data-file set from 4 to 1,
    (b) apply the position deletes during the rewrite, and (c) leave
    the pre-compaction snapshot time-travel-readable. Stage 0 reads
    the compacted table, stage 1 time-travels to the pre-compaction
    snapshot; both carry their LIVE FILE COUNT as a column, so a
    compaction that loses rows, resurrects deleted rows, or fails to
    actually merge files hash-mismatches against the oracle's
    literal-file-count twin."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        _live_files,
        _load_metadata,
        iceberg_append,
        iceberg_delete_where,
        iceberg_rewrite_data_files,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "text", "lang"
    )
    table = tempfile.mkdtemp(prefix="iceberg_rw_") + "/tbl"
    for quarter in range(4):
        iceberg_append(
            spark,
            docs.filter(F.col("doc_id") % 4 == quarter).coalesce(1),
            table,
        )
    iceberg_delete_where(spark, table, "lang = 'de'")
    pre_snap = _load_metadata(table)["current-snapshot-id"]
    iceberg_rewrite_data_files(spark, table)

    def stage(snapshot_id, tag):
        meta = _load_metadata(table)
        snap = {s["snapshot-id"]: s for s in meta["snapshots"]}[
            snapshot_id
            if snapshot_id is not None
            else meta["current-snapshot-id"]
        ]
        files, _p, _r, _e = _live_files(table, snap)
        return (
            read_iceberg(spark, table, snapshot_id)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").alias("sum_ids"),
                F.sum(F.length("text")).alias("text_chars"),
            )
            .select(
                F.lit(tag).alias("stage"),
                F.lit(len(files)).alias("n_files"),
                "n_docs",
                "sum_ids",
                "text_chars",
            )
        )

    return stage(None, 0).unionByName(stage(pre_snap, 1))


def q_delta_table_history(spark: SparkSession, sf: str) -> DataFrame:
    """Table introspection: DESCRIBE HISTORY over a 3-commit Delta
    table (sources/delta.py delta_history) — two 2-file appends then
    an OPTIMIZE whose commit must show the remove/add pairing with
    dataChange=false. Each history row is joined with the ROW COUNT
    visible at that version (read_delta time travel), so the oracle
    pins both the commit metadata (action counts, data-change flags)
    and the actual version-pinned table contents in one hash."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_append,
        delta_history,
        delta_optimize,
        read_delta,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "text", "lang"
    )
    table = tempfile.mkdtemp(prefix="delta_hist_") + "/tbl"
    delta_append(
        spark, docs.filter(F.col("lang") == "en").repartition(2), table
    )
    delta_append(
        spark, docs.filter(F.col("lang") != "en").repartition(2), table
    )
    delta_optimize(spark, table, small_file_bytes=1 << 30)
    hist = delta_history(spark, table).select(
        "version", "n_adds", "n_removes", "data_change", "has_dv"
    )
    counts = [
        (v, read_delta(spark, table, version=v).count())
        for v in range(3)
    ]
    rows_at = spark.createDataFrame(
        counts, "`version` long, `n_rows` long"
    )
    return hist.join(rows_at, "version").select(
        "version", "n_adds", "n_removes", "data_change", "has_dv", "n_rows"
    )


def q_delta_bloom_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """Per-file Bloom point-lookup index (sources/delta_bloom.py —
    Delta's 'Bloom filter index' feature re-expressed on the engine's
    own primitives): documents land in a multi-file Delta table, ONE
    distributed scan builds a per-file bitset sidecar on doc_id
    (Catalyst xxhash64 double hashing shared by build and probe), and
    point reads route through `read_delta(bloom_point=...)` — a
    sidecar miss proves a file can't hold the needle, so an unsorted
    table answers point lookups by opening only true hits plus rare
    false positives. The oracle is the literal probed rows: a false
    NEGATIVE anywhere (a wrongly-pruned file dropping a real row)
    hash-mismatches; absent probes must return zero rows through the
    same path."""
    import tempfile

    from dataset_grouper_spark.sources.delta import delta_append, read_delta
    from dataset_grouper_spark.sources.delta_bloom import (
        delta_build_bloom_index,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    t = tempfile.mkdtemp(prefix="delta_bloom_") + "/tbl"
    delta_append(spark, docs.repartition(8, "doc_id"), t)
    delta_build_bloom_index(spark, t, "doc_id", num_bits=1 << 22)
    probes = [3, 17, 101, 999_999_937]  # the last one exists nowhere
    frames = [
        read_delta(spark, t, bloom_point=("doc_id", p))
        .filter(F.col("doc_id") == p)
        .select("doc_id", "lang", "source", "n_chars")
        for p in probes
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def q_delta_zorder_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """Delta DATA SKIPPING + OPTIMIZE ZORDER BY (sources/delta.py
    _file_stats / delta_skip_plan / delta_optimize(zorder_by=)): the
    corpus fans out 40× with two derived dimensions, lands
    doc_id-clustered (y-filters prune NOTHING), then a z-ordered
    rewrite narrows every file's stats envelope on BOTH dimensions —
    verified in-query: when ≥4 files exist, a y-range skip plan that
    fails to drop files raises. The returned aggregate reads THROUGH
    the skipping path (skip_filters + the exact row filter), so a
    skip plan that wrongly drops a candidate file loses rows and
    hash-mismatches — the safety property that matters at 100 TB,
    where skipping is the difference between opening 40 files and
    40,000."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_append,
        delta_optimize,
        delta_skip_plan,
        read_delta,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "lang")
    base = (
        docs.withColumn("copy", F.explode(F.sequence(F.lit(1), F.lit(40))))
        .withColumn("x", (F.col("doc_id") * 37 + F.col("copy")) % 1000)
        .withColumn("y", (F.col("doc_id") * 91 + F.col("copy") * 7) % 1000)
        .select("doc_id", "lang", "x", "y")
    )
    table = tempfile.mkdtemp(prefix="delta_zs_") + "/tbl"
    delta_append(
        spark,
        base.repartitionByRange(6, "doc_id").sortWithinPartitions("doc_id"),
        table,
    )
    delta_optimize(
        spark, table, target_file_bytes=40_000, zorder_by=("x", "y")
    )
    kept, total = delta_skip_plan(spark, table, [("y", "<", 300)])
    if total >= 4 and len(kept) >= total:
        raise AssertionError(
            f"z-ordered layout did not prune on y: {len(kept)}/{total}"
        )
    return (
        read_delta(spark, table, skip_filters=[("y", "<", 300)])
        .filter(F.col("y") < 300)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("y").alias("sum_y"),
        )
        .select("lang", "n", "sum_ids", "sum_y")
    )


def q_streaming_delta_source(spark: SparkSession, sf: str) -> DataFrame:
    """delta_lite STREAMING source + format-API WRITES
    (streaming/delta_source.py — the SPARK-44076 Python data source,
    both halves): every commit here lands through
    ``df.write.format("delta_lite")`` (executor-side Arrow parquet
    tasks + a driver commit claiming the version exclusively, with
    footer stats), then Structured Streaming tails the log, offsets =
    commit versions. Sink A consumes commits 0-1 with availableNow, a
    third commit lands, sink A resumes from ITS OWN checkpoint (must
    pick up exactly the new commit — no replays, no gaps); sink B
    starts at startingVersion=2 (must see ONLY the third commit).
    Stage 0 = sink A (the whole corpus exactly once), stage 1 = sink
    B. A writer that drops rows, commits twice, or an offset tracker
    that replays or mis-slices the log hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.streaming.delta_source import (
        DeltaLiteDataSource,
    )

    try:
        spark.dataSource.register(DeltaLiteDataSource)
    except Exception:
        pass  # already registered in this session

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    base = tempfile.mkdtemp(prefix="delta_src_")
    table = os.path.join(base, "tbl")
    for r in (0, 1):
        (
            docs.filter(F.col("doc_id") % 3 == r)
            .write.format("delta_lite")
            .mode("append")
            .option("path", table)
            .save()
        )

    def run(sink, ckpt, starting=None):
        reader = spark.readStream.format("delta_lite").option("path", table)
        if starting is not None:
            reader = reader.option("startingVersion", starting)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)

    sink_a, ckpt_a = os.path.join(base, "a"), os.path.join(base, "ckpt_a")
    sink_b, ckpt_b = os.path.join(base, "b"), os.path.join(base, "ckpt_b")
    run(sink_a, ckpt_a)
    (
        docs.filter(F.col("doc_id") % 3 == 2)
        .write.format("delta_lite")
        .mode("append")
        .option("path", table)
        .save()
    )
    run(sink_a, ckpt_a)  # resume: exactly the new commit
    run(sink_b, ckpt_b, starting=2)  # slice: only the new commit
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    a = (
        spark.read.parquet(sink_a)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(0))
    )
    b = (
        spark.read.parquet(sink_b)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(1))
    )
    return a.unionByName(b).select("stage", "lang", "n", "sum_ids")


def q_streaming_hudi_source(spark: SparkSession, sf: str) -> DataFrame:
    """hudi_lite STREAMING source + format-API WRITES
    (streaming/hudi_source.py — the SPARK-44076 Python data source,
    Hudi twin of delta_lite): every commit lands through
    ``df.write.format("hudi_lite")`` (executor-side Arrow staging
    under an invisible placeholder instant, driver commit renames
    into the exclusively-claimed instant), then Structured Streaming
    tails the timeline, offsets = completed instant times, each batch
    reading exactly the files its commits' partitionToWriteStats
    declare. Sink A consumes instants 1-2 with availableNow, a third
    insert lands, sink A resumes from ITS OWN checkpoint (exactly the
    new instant — no replays, no gaps); sink B starts at
    startingInstant = instant 2 (only the third commit). Stage 0 =
    sink A, stage 1 = sink B."""
    import tempfile

    from dataset_grouper_spark.sources.hudi import hudi_timeline
    from dataset_grouper_spark.streaming.hudi_source import (
        HudiLiteDataSource,
    )

    try:
        spark.dataSource.register(HudiLiteDataSource)
    except Exception:
        pass  # already registered in this session

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    base = tempfile.mkdtemp(prefix="hudi_src_")
    table = os.path.join(base, "tbl")
    for r in (0, 1):
        (
            docs.filter(F.col("doc_id") % 3 == r)
            .write.format("hudi_lite")
            .mode("append")
            .option("path", table)
            .option("recordKey", "doc_id")
            .save()
        )
    second = max(
        ts for ts, _a, s in hudi_timeline(table) if s == "completed"
    )

    def run(sink, ckpt, starting=None):
        reader = spark.readStream.format("hudi_lite").option("path", table)
        if starting is not None:
            reader = reader.option("startingInstant", starting)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)

    sink_a, ckpt_a = os.path.join(base, "a"), os.path.join(base, "ckpt_a")
    sink_b, ckpt_b = os.path.join(base, "b"), os.path.join(base, "ckpt_b")
    with _stream_shuffle_partitions(spark):
        run(sink_a, ckpt_a)
        (
            docs.filter(F.col("doc_id") % 3 == 2)
            .write.format("hudi_lite")
            .mode("append")
            .option("path", table)
            .save()
        )
        run(sink_a, ckpt_a)  # resume: exactly the new instant
        run(sink_b, ckpt_b, starting=second)  # slice: only the new one
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    a = (
        spark.read.parquet(sink_a)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(0))
    )
    b = (
        spark.read.parquet(sink_b)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(1))
    )
    return a.unionByName(b).select("stage", "lang", "n", "sum_ids")


def q_streaming_hudi_mor_source(spark: SparkSession, sf: str) -> DataFrame:
    """hudi_lite MERGE_ON_READ streaming source, mode=cdc
    (streaming/hudi_source.py, VERDICT r12 task 1): tail a MoR CDC
    table through the registered format. The table takes the corpus
    as its base (deltacommit walk starts at instant 0), a log UPSERT
    (doc_id%7 -> n_chars+1000), a log DELETE block (doc_id%13), and a
    COMPACTION; the stream drains with availableNow — upsert log rows
    surface as 'update_postimage', delete markers as 'delete'
    (identity-carrying, other columns null), base files as 'insert',
    and the compaction contributes NOTHING (logically no change). A
    second upsert (doc_id%11 -> n_chars+5000) lands after the first
    drain and the stream RESUMES from its own checkpoint — exactly
    the new deltacommit, no replays (a replay or a phantom compaction
    row hash-mismatches the oracle). Keys the delete already removed
    (%11 AND %13) re-enter as NEW file groups — 'insert' change rows,
    which the oracle distinguishes from the postimages. Deletes ride the avro-container
    dialect, so they keep their stored record key column
    (read_hudi_changes parity, pinned by
    test_cdc_tail_matches_batch_changes)."""
    import tempfile

    from dataset_grouper_spark.sources.hudi import (
        hudi_compact,
        hudi_insert,
        hudi_mor_delete,
        hudi_mor_upsert,
    )
    from dataset_grouper_spark.streaming.hudi_source import (
        HudiLiteDataSource,
    )

    try:
        spark.dataSource.register(HudiLiteDataSource)
    except Exception:
        pass  # already registered in this session

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    base = tempfile.mkdtemp(prefix="hudi_mor_src_")
    table = os.path.join(base, "tbl")
    hudi_insert(
        spark,
        docs.repartition(2, "doc_id"),
        table,
        record_key="doc_id",
        table_type="MERGE_ON_READ",
    )
    hudi_mor_upsert(
        spark,
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "n_chars", F.col("n_chars") + 1000
        ),
        table,
    )
    hudi_mor_delete(
        spark, docs.filter(F.col("doc_id") % 13 == 0).select("doc_id"),
        table,
    )
    hudi_compact(spark, table)

    def run(sink, ckpt):
        q = (
            spark.readStream.format("hudi_lite")
            .option("path", table)
            .option("mode", "cdc")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)

    sink, ckpt = os.path.join(base, "a"), os.path.join(base, "ckpt_a")
    with _stream_shuffle_partitions(spark):
        run(sink, ckpt)
        hudi_mor_upsert(
            spark,
            docs.filter(F.col("doc_id") % 11 == 0).withColumn(
                "n_chars", F.col("n_chars") + 5000
            ),
            table,
        )
        run(sink, ckpt)  # resume: exactly the new deltacommit
    return (
        spark.read.parquet(sink)
        .groupBy(F.col("_change_type").alias("ct"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select("ct", "lang", "n", "sum_ids", "sum_chars")
    )


def q_streaming_hudi_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ingestion into a Hudi CoW table through the
    hudi_lite FORMAT, exactly-once per epoch: each micro-batch is one
    INSERT commit whose extraMetadata carries {app-id, epoch} — the
    whole stream is then REPLAYED from a fresh checkpoint with the
    same appId and every epoch must no-op (else every group
    double-counts against the plain GROUP BY oracle). Read back
    through the pure-Python timeline walk."""
    import tempfile

    from dataset_grouper_spark.sources.hudi import read_hudi
    from dataset_grouper_spark.streaming.hudi_source import (
        HudiLiteDataSource,
    )

    try:
        spark.dataSource.register(HudiLiteDataSource)
    except Exception:
        pass

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    src = tempfile.mkdtemp(prefix="hudi_sink_src_")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    table = os.path.join(tempfile.mkdtemp(prefix="hudi_sink_"), "tbl")

    def drain(ckpt_dir: str) -> None:
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        q = (
            stream.writeStream.format("hudi_lite")
            .option("path", table)
            .option("recordKey", "doc_id")
            .option("epochAppId", "dg-hudi-stream")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)

    with _stream_shuffle_partitions(spark):
        drain(tempfile.mkdtemp(prefix="hudi_ck1_"))
        drain(tempfile.mkdtemp(prefix="hudi_ck2_"))  # replay: no-ops
    return (
        read_hudi(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum(F.octet_length("text")).alias("text_bytes"),
        )
    )


def q_streaming_iceberg_source(spark: SparkSession, sf: str) -> DataFrame:
    """iceberg_lite STREAMING source (streaming/iceberg_source.py —
    the SPARK-44076 Python data source, Iceberg twin of delta_lite):
    Structured Streaming tails the snapshot log, offsets = DATA
    SEQUENCE NUMBERS. Sink A consumes snapshots 1-2 with availableNow;
    a rewrite_data_files compaction (REPLACE, seq 3) plus a fourth
    append (seq 4) land; sink A resumes from ITS OWN checkpoint and
    must pick up ONLY the appended rows — the compaction snapshot
    contributes nothing despite re-adding every file. Sink B starts at
    startingSequence=4 (only the final append). An offset tracker
    that replays the compacted files double-counts stage 0 and
    hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        iceberg_append,
        iceberg_rewrite_data_files,
    )
    from dataset_grouper_spark.streaming.iceberg_source import (
        IcebergLiteDataSource,
    )

    try:
        spark.dataSource.register(IcebergLiteDataSource)
    except Exception:
        pass  # already registered in this session

    docs = read_table(spark, sf, "documents").select("doc_id", "lang")
    base = tempfile.mkdtemp(prefix="iceberg_src_")
    table = os.path.join(base, "tbl")
    for r in (0, 1):
        # commits land through the format-API WRITE half, so this
        # oracle row covers writer AND reader
        (
            docs.filter(F.col("doc_id") % 3 == r)
            .coalesce(1)
            .write.format("iceberg_lite")
            .mode("append")
            .option("path", table)
            .save()
        )

    def run(sink, ckpt, starting=None):
        reader = spark.readStream.format("iceberg_lite").option(
            "path", table
        )
        if starting is not None:
            reader = reader.option("startingSequence", starting)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain_stream(q)

    sink_a, ckpt_a = os.path.join(base, "a"), os.path.join(base, "ckpt_a")
    sink_b, ckpt_b = os.path.join(base, "b"), os.path.join(base, "ckpt_b")
    run(sink_a, ckpt_a)
    iceberg_rewrite_data_files(spark, table)  # seq 3: replace, no rows
    (
        docs.filter(F.col("doc_id") % 3 == 2)
        .coalesce(1)
        .write.format("iceberg_lite")
        .mode("append")
        .option("path", table)
        .save()
    )  # seq 4
    run(sink_a, ckpt_a)  # resume: ONLY the new append
    run(sink_b, ckpt_b, starting=4)  # slice: only the final append
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    a = (
        spark.read.parquet(sink_a)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(0))
    )
    b = (
        spark.read.parquet(sink_b)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(1))
    )
    return a.unionByName(b).select("stage", "lang", "n", "sum_ids")


def q_iceberg_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg retention lifecycle (sources/iceberg.py
    iceberg_expire_snapshots + iceberg_remove_orphans): three appends
    and an equality delete build four snapshots; EXPIRE keeps the last
    two, REMOVE ORPHANS reaps what no retained snapshot references
    (verified non-empty in-query — the expired manifest lists at
    minimum). Stage 0 = latest after reaping (delete applied), stage 1
    = the retained pre-delete snapshot (time travel across retention
    must survive orphan removal untouched). An orphan scan that reaps
    a carried-over manifest or a live data file breaks one of the two
    stages and hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        iceberg_append,
        iceberg_delete_values,
        iceberg_expire_snapshots,
        iceberg_remove_orphans,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="iceberg_ret_") + "/tbl"
    for r in (0, 1):
        iceberg_append(spark, docs.filter(F.col("doc_id") % 3 == r), table)
    pre_delete = iceberg_append(
        spark, docs.filter(F.col("doc_id") % 3 == 2), table
    )
    iceberg_delete_values(
        spark, docs.filter(F.col("doc_id") % 9 == 0).select("doc_id"), table
    )
    iceberg_expire_snapshots(table, keep_last=2)
    reaped = iceberg_remove_orphans(table)
    if not reaped:
        raise AssertionError("expected expired manifest lists to be reaped")
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    latest = (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    retained = (
        read_iceberg(spark, table, snapshot_id=pre_delete)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return latest.unionByName(retained).select("stage", "lang", "n", "sum_ids")


def q_delta_optimize_vacuum(spark: SparkSession, sf: str) -> DataFrame:
    """Delta OPTIMIZE + VACUUM lifecycle (sources/delta.py
    delta_optimize / delta_vacuum): three small appends and a
    deletion-vector delete leave many small files + a DV sidecar;
    OPTIMIZE bin-packs them and MATERIALIZES the tombstones
    (dataChange=false — invisible to the change feed), then
    checkpoint + log-truncate + VACUUM physically reap the replaced
    files. Stage 0 reads at the optimize version, stage 1 at latest
    after vacuum — both must be the identical survivor set, so an
    optimize that drops/duplicates rows, forgets a DV, or a vacuum
    that reaps a live file all hash-mismatch."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_append,
        delta_checkpoint,
        delta_delete_where,
        delta_optimize,
        delta_truncate_log,
        delta_vacuum,
        read_delta,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="delta_opt_") + "/tbl"
    for r in (0, 1, 2):
        delta_append(spark, docs.filter(F.col("doc_id") % 3 == r), table)
    delta_delete_where(spark, table, "doc_id % 7 = 0")
    v_opt = delta_optimize(spark, table, target_file_bytes=1 << 30)
    delta_checkpoint(spark, table)
    delta_truncate_log(table)
    delta_vacuum(spark, table)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.length("text")).alias("text_bytes"),
    ]
    at_opt = (
        read_delta(spark, table, version=v_opt)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(0))
    )
    latest = (
        read_delta(spark, table)
        .groupBy("lang")
        .agg(*agg)
        .withColumn("stage", F.lit(1))
    )
    return at_opt.unionByName(latest).select(
        "stage", "lang", "n", "sum_ids", "text_bytes"
    )


def q_delta_restore_timestamp(spark: SparkSession, sf: str) -> DataFrame:
    """Delta RESTORE + timestampAsOf (sources/delta.py delta_restore /
    resolve_delta_version): two appends and a DV delete with commit
    mtimes pinned to t=1000,1001,1002; RESTORE TO VERSION 1 commits
    the diff-only rollback. Stage 0 = timestamp travel to t=1001.5
    (resolves version 1), stage 1 = latest after restore (must equal
    stage 0 — the rollback contract), stage 2 = timestamp t=1002.5
    (the rolled-back DELETE state stays time-travelable — history is
    linear, not rewritten). A restore that copies instead of
    re-references, or timestamp resolution that rounds the wrong way,
    hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.delta import (
        delta_append,
        delta_delete_where,
        delta_restore,
        read_delta,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="delta_restore_") + "/tbl"
    for r in (0, 1):
        delta_append(spark, docs.filter(F.col("doc_id") % 2 == r), table)
    delta_delete_where(spark, table, "doc_id % 5 = 0")
    log = os.path.join(table, "_delta_log")
    for v in (0, 1, 2):
        p = os.path.join(log, f"{v:020d}.json")
        os.utime(p, (1000.0 + v, 1000.0 + v))
    delta_restore(spark, table, 1)
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("sum_ids"),
    ]
    frames = [
        read_delta(spark, table, timestamp=1001.5)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(0)),
        read_delta(spark, table)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(1)),
        read_delta(spark, table, timestamp=1002.5)
        .groupBy("lang").agg(*agg).withColumn("stage", F.lit(2)),
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.select("stage", "lang", "n", "sum_ids")


def q_delta_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Delta mergeSchema append (sources/delta.py delta_append
    merge_schema=True): the second append carries a NEW n_chars
    column; one metaData action rides the same commit and the
    schema-superset scan backfills the first append's rows with NULL
    — rename-free widening, the additive-evolution path every
    long-lived ingestion table needs. Grouped counts split n vs
    count(n_chars), so a reader that drops old files, nulls the wrong
    side, or a writer that reorders columns hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.delta import delta_append, read_delta

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="delta_evolve_") + "/tbl"
    delta_append(
        spark,
        docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang"),
        table,
    )
    delta_append(
        spark,
        docs.filter(F.col("doc_id") % 2 == 1)
        .withColumn("n_chars", F.length("text"))
        .select("doc_id", "lang", "n_chars"),
        table,
        merge_schema=True,
    )
    return (
        read_delta(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("n_chars").alias("n_evolved"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select("lang", "n", "n_evolved", "sum_chars")
    )


def q_quality_quarantine_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level dead-letter split (operators/expectations.py
    quarantine + row_predicate): the corpus runs through a 3-check
    suite and every FAILING row comes back with the ordered names of
    the checks it violated — the quarantine/triage shape streaming
    ingest gates route on (streaming/quality_gate.py wraps the same
    split as a foreachBatch hook). NULL-scoped semantics are pinned:
    a NULL lang fails completeness but NOT in_set, and a NULL
    satisfies-predicate fails its row. The oracle rebuilds the failed
    list with ordered CASE arms, so wrong NULL handling or suite-order
    drift hash-mismatches."""
    from dataset_grouper_spark.operators.expectations import (
        completeness,
        in_set,
        quarantine,
        satisfies,
    )

    docs = read_table(spark, sf, "documents")
    suite = [
        completeness("lang"),
        in_set("lang", ["en", "de", "fr"]),
        satisfies("text_min_50", "length(text) >= 50"),
    ]
    _good, bad = quarantine(docs, suite)
    return bad.select(
        "doc_id",
        F.concat_ws("|", "failed_checks").alias("failed_checks"),
    )


def q_rolling_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """TIME-RANGE rolling aggregates (operators/timeseries.py
    rolling): per user, each event's trailing-hour event count and
    value sum — event-time windows (RANGE frame on epoch seconds), not
    row-count frames, so a burst inside one minute lands entirely in
    each of its members' windows. Rows sharing a second are
    frame-peers in BOTH engines, keeping the result order-insensitive
    and hash-stable."""
    from dataset_grouper_spark.operators.timeseries import rolling

    ev = (
        read_table(spark, sf, "events")
        .withColumn("sec", F.expr("ts div 1000000000"))
        .select("user_id", "event_id", "sec", "value")
    )
    out = rolling(
        ev,
        "sec",
        3600,
        ["user_id"],
        {
            "n_1h": F.count(F.lit(1)),
            "sum_1h": F.sum("value"),
        },
    )
    return out.select(
        "user_id",
        "event_id",
        "n_1h",
        F.round("sum_1h", 4).alias("sum_1h"),
    )


def q_table_diff_versions(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level version reconciliation (operators/diff.py frame_diff
    over two PINNED Delta reads): v0 = the corpus, v1 = a partitioned-
    table-free MERGE (updates + inserts), v2 = a DV delete; the diff
    of v0 against the final state must classify every key exactly —
    removed beats changed when a row was updated THEN deleted, and an
    insert that was later deleted never appears. The oracle rebuilds
    the status map in closed form, so a wrong join side, a hash-based
    false negative, or DV rows leaking into the read hash-mismatch."""
    import tempfile

    from dataset_grouper_spark.operators.diff import frame_diff
    from dataset_grouper_spark.sources.delta import (
        delta_append,
        delta_delete_where,
        delta_merge,
        read_delta,
    )

    docs = read_table(spark, sf, "documents").select(
        "doc_id", "lang", "text"
    )
    table = tempfile.mkdtemp(prefix="delta_diff_") + "/tbl"
    delta_append(spark, docs, table)  # v0
    src = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("text", F.lit("REDACTED"))
        .unionByName(
            docs.filter(F.col("doc_id") % 50 == 0).withColumn(
                "doc_id", F.col("doc_id") + 100000
            )
        )
    )
    delta_merge(spark, src, table, on=["doc_id"])  # v1
    delta_delete_where(spark, table, "doc_id % 7 = 3")  # v2 (DVs)
    return frame_diff(
        read_delta(spark, table, version=0),
        read_delta(spark, table),
        keys=["doc_id"],
    )


def q_iceberg_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg additive schema evolution (sources/iceberg.py
    iceberg_append merge_schema=True): the second append's NEW n_chars
    column lands as a NEW schema entry with CONTINUING field ids (the
    invariant equality deletes and partition source-ids depend on);
    the first append's files predate the column and backfill NULL at
    read. Same oracle family as delta_schema_evolution: a reader that
    drops old files, nulls the wrong side, or a writer that reuses a
    field id hash-mismatches."""
    import tempfile

    from dataset_grouper_spark.sources.iceberg import (
        iceberg_append,
        read_iceberg,
    )

    docs = read_table(spark, sf, "documents").select("doc_id", "text", "lang")
    table = tempfile.mkdtemp(prefix="iceberg_evolve_") + "/tbl"
    iceberg_append(
        spark,
        docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang"),
        table,
    )
    iceberg_append(
        spark,
        docs.filter(F.col("doc_id") % 2 == 1)
        .withColumn("n_chars", F.length("text").cast("long"))
        .select("doc_id", "lang", "n_chars"),
        table,
        merge_schema=True,
    )
    return (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("n_chars").alias("n_evolved"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select("lang", "n", "n_evolved", "sum_chars")
    )


def _query_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Declaration registry ONLY — the driver-facing order is computed
    # mechanically by tools/rotation.py from the committed
    # CORRECTNESS_r*.json history (never-driver-oracled first, then
    # stalest-green-first; declaration order here is just the final
    # tiebreak).  See queries() below.  The tier comments inside this
    # dict are historical (pre-r8 hand rotation) and no longer govern
    # anything.
    return {
        # --- tier A, changed-code first (r6): the batch-7-rewritten
        #     TFRecord chain and batch-8-touched Gopher/tokenizer twins
        #     (VERDICT r5 #1), then every query whose implementation or
        #     oracle changed THIS round: winnow (Karp-Rabin kernel),
        #     clean_text (entity ordering), cms (NULL keys),
        #     contamination/incremental/cosine_topk (guarded-join and
        #     probe-persist changes), streaming_incremental_dedup
        #     (snapshot-store exactly-once rewrite), and the new
        #     GIF/JPEG pixel-decode queries.
        "tfrecord_roundtrip": q_tfrecord_roundtrip,
        "partitioned_roundtrip": q_partitioned_roundtrip,
        "gopher_quality_documents": q_gopher_quality_documents,
        "ngram_counts_documents": q_ngram_counts_documents,
        "pii_redact_documents": q_pii_redact_documents,
        "winnow_fingerprints_documents": q_winnow_fingerprints_documents,
        "clean_text_documents": q_clean_text_documents,
        "cms_user_counts_events": q_cms_user_counts_events,
        "contamination_documents": q_contamination_documents,
        "incremental_dedup_documents": q_incremental_dedup_documents,
        "cosine_topk_embeddings": q_cosine_topk_embeddings,
        "streaming_incremental_dedup": q_streaming_incremental_dedup,
        "streaming_span_dedup_documents": q_streaming_span_dedup_documents,
        "multimodal_gif_pixels": q_multimodal_gif_pixels,
        "multimodal_jpeg_pixels": q_multimodal_jpeg_pixels,
        # --- tier A continued (r6 late additions): matview_refresh
        #     rides the refresh_materialized_sums signature change;
        #     audio_frame_energy rides the decode_wav_any routing
        #     change (audio_features/audio_resample ride the SAME
        #     change — one in-cap row covers it; they re-oracle next
        #     round from their tier-C slots, ceding cap slots to the
        #     never-oracled delta_merge_roundtrip and
        #     streaming_iceberg_sink).
        "matview_refresh_documents": q_matview_refresh_documents,
        "matview_join_refresh": q_matview_join_refresh,
        "k_anonymize_customers": q_k_anonymize_customers,
        "l_diversity_documents": q_l_diversity_documents,
        "audio_frame_energy": q_audio_frame_energy,
        # --- tier B: new this round, never driver-oracled — exactly-
        #     once streaming matview, cross-corpus line dedup, closed-
        #     form OLS, IMA-ADPCM decode, ORC interchange, exact
        #     grouped percentiles, the broadcast fingerprint screen,
        #     progressive JPEG, WebP lossless, gzip TFRecords.
        "streaming_matview_sums": q_streaming_matview_sums,
        "line_dedup_documents": q_line_dedup_documents,
        "span_dedup_documents": q_span_dedup_documents,
        "span_dedup_incremental_documents": q_span_dedup_incremental_documents,
        "dup_spans_documents": q_dup_spans_documents,
        "ols_chars_documents": q_ols_chars_documents,
        "audio_adpcm_features": q_audio_adpcm_features,
        "audio_flac_features": q_audio_flac_features,
        "iceberg_mor_delete": q_iceberg_mor_delete,
        "delta_mor_delete": q_delta_mor_delete,
        "hll_distinct_events": q_hll_distinct_events,
        "quality_checks_documents": q_quality_checks_documents,
        "streaming_delta_sink": q_streaming_delta_sink,
        "streaming_delta_sink_partitioned": q_streaming_delta_sink_partitioned,
        "streaming_iceberg_sink_partitioned": (
            q_streaming_iceberg_sink_partitioned
        ),
        "value_percentiles_events": q_value_percentiles_events,
        "fingerprint_screen_documents": q_fingerprint_screen_documents,
        "bloom_screen_dedup_documents": q_bloom_screen_dedup_documents,
        "webdataset_roundtrip": q_webdataset_roundtrip,
        "sync_hudi_delta_mirror": q_sync_hudi_delta_mirror,
        "iceberg_dv_delete": q_iceberg_dv_delete,
        "delta_bloom_skipping": q_delta_bloom_skipping,
        "streaming_webdataset_sink": q_streaming_webdataset_sink,
        "iceberg_row_lineage": q_iceberg_row_lineage,
        "delta_row_tracking": q_delta_row_tracking,
        "sync_hudi_iceberg_mirror": q_sync_hudi_iceberg_mirror,
        "multimodal_jpeg_progressive": q_multimodal_jpeg_progressive,
        "multimodal_webp_pixels": q_multimodal_webp_pixels,
        # --- tier B continued (r6 lakehouse batch): change feed,
        #     checkpoint lifecycle, column mapping, format-sniffing
        #     entry point, Iceberg transform pruning.
        "delta_checkpoint_roundtrip": q_delta_checkpoint_roundtrip,
        "delta_column_mapping": q_delta_column_mapping,
        "delta_column_mapping_merge": q_delta_column_mapping_merge,
        "iceberg_partition_pruning": q_iceberg_partition_pruning,
        "delta_optimize_vacuum": q_delta_optimize_vacuum,
        "delta_schema_evolution": q_delta_schema_evolution,
        "iceberg_equality_delete": q_iceberg_equality_delete,
        "iceberg_gdpr_compose": q_iceberg_gdpr_compose,
        "iceberg_retention": q_iceberg_retention,
        "streaming_delta_source": q_streaming_delta_source,
        "streaming_hudi_source": q_streaming_hudi_source,
        "streaming_hudi_mor_source": q_streaming_hudi_mor_source,
        "streaming_iceberg_sink_bucketed": q_streaming_iceberg_sink_bucketed,
        "delta_cm_format_write": q_delta_cm_format_write,
        "convert_cm_delta_to_iceberg": q_convert_cm_delta_to_iceberg,
        "streaming_hudi_sink": q_streaming_hudi_sink,
        "delta_zorder_skipping": q_delta_zorder_skipping,
        "iceberg_partitioned_write": q_iceberg_partitioned_write,
        "delta_merge_roundtrip": q_delta_merge_roundtrip,
        "streaming_iceberg_sink": q_streaming_iceberg_sink,
        "iceberg_stats_skipping": q_iceberg_stats_skipping,
        # --- tier B continued (r6 session 3): time-series gap-fill /
        #     interpolation, Iceberg rewrite_data_files compaction,
        #     DESCRIBE-HISTORY introspection — never driver-oracled.
        #     To keep the cap at 50, five entries whose code paths are
        #     covered by OTHER in-cap rows moved past-cap and lead
        #     tier A in r7: avro_roundtrip + orc_roundtrip (the Avro
        #     codec runs inside every in-cap Iceberg query's manifest
        #     I/O; ORC is a thin built-in wrapper),
        #     iceberg_time_travel (read path covered by mor_delete /
        #     retention / partitioned_write / stats_skipping /
        #     compaction), delta_change_feed (streaming_delta_source
        #     rides the same commit-range reader), and
        #     delta_restore_timestamp (log walk + version resolution
        #     covered by delta_time_travel + checkpoint_roundtrip).
        "gapfill_daily_events": q_gapfill_daily_events,
        "resample_linear_events": q_resample_linear_events,
        "iceberg_compaction": q_iceberg_compaction,
        "delta_table_history": q_delta_table_history,
        # streaming_iceberg_source (snapshot tailing incl. the
        # replace-skip) takes open_table_dispatch's slot: the dispatch
        # façade's underlying readers each keep their own in-cap row
        # and the sniffing logic is pytest-covered; it leads tier A
        # in r7 with the five entries below.
        "streaming_iceberg_source": q_streaming_iceberg_source,
        # iceberg_schema_evolution (the merge_schema branch) takes
        # delta_time_travel's slot: the Delta log walk + version
        # resolution keeps in-cap rows via delta_checkpoint_roundtrip,
        # delta_optimize_vacuum, delta_merge_roundtrip and the new
        # delta_table_history; delta_time_travel leads tier A in r7.
        "iceberg_schema_evolution": q_iceberg_schema_evolution,
        # table_diff_versions (frame_diff over pinned Delta reads,
        # exercising the new partitioned-merge code and DV deletes)
        # takes tfrecord_gzip_roundtrip's slot: the gzip wrapper rides
        # the SAME codec as the two in-cap TFRecord rows at positions
        # 0-1 (bytes-parity pytest keeps it honest); it leads tier A
        # in r7.
        "table_diff_versions": q_table_diff_versions,
        # --- first past-cap slot (cap is full at 50): the time-range
        #     rolling window, locally sf0.01-hash-verified this
        #     session; leads tier A in r7 with the displaced entries
        #     below.
        "rolling_window_events": q_rolling_window_events,
        "quality_quarantine_documents": q_quality_quarantine_documents,
        # G.711 mu-law/A-law decode and the KMV/theta sketch set
        # algebra (session-4 additions) — locally sf0.01-hash-verified;
        # lead tier A in r7 with the block above.
        "audio_g711_features": q_audio_g711_features,
        "kmv_distinct_events": q_kmv_distinct_events,
        # Session-5 graph additions (degree-oriented triangle counting
        # + frontier BFS over the supplier co-supply kNN graph) —
        # locally sf0.01-hash-verified; lead tier A in r7.
        "triangle_suppliers": q_triangle_suppliers,
        "bfs_suppliers": q_bfs_suppliers,
        # Session-5 entity resolution (blocked record linkage:
        # multi-pass blocking, levenshtein match, CC clustering) —
        # locally sf0.01-hash-verified; lead tier A in r7.
        "entity_match_customers": q_entity_match_customers,
        "entity_clusters_customers": q_entity_clusters_customers,
        # Session-5 SCD Type-2 dimension history — locally
        # sf0.01-hash-verified; leads tier A in r7.
        "scd2_user_events": q_scd2_user_events,
        "scd2_apply_events": q_scd2_apply_events,
        "spatial_radius_pairs": q_spatial_radius_pairs,
        # --- tier A continued: queries that have NEVER had a driver
        #     oracle row (added past-cap in r5; all locally
        #     sf0.01-hash-verified then and re-verified this round) —
        #     longest-unverified-first, after the five entries the
        #     session-3 block above displaced (their code paths carry
        #     in-cap coverage via the rows named there).
        "avro_roundtrip": q_avro_roundtrip,
        "orc_roundtrip": q_orc_roundtrip,
        "iceberg_time_travel": q_iceberg_time_travel,
        "delta_change_feed": q_delta_change_feed,
        "delta_restore_timestamp": q_delta_restore_timestamp,
        "hudi_upsert_roundtrip": q_hudi_upsert_roundtrip,
        "open_table_dispatch": q_open_table_dispatch,
        "delta_time_travel": q_delta_time_travel,
        "tfrecord_gzip_roundtrip": q_tfrecord_gzip_roundtrip,
        "tpch_q19_disjunctive_revenue": q_tpch_q19_disjunctive_revenue,
        "group_counts_cube": q_group_counts_cube,
        "tpch_q22_global_sales": q_tpch_q22_global_sales,
        "tpch_q10_returned_items": q_tpch_q10_returned_items,
        "tpch_q21_waiting_supplier": q_tpch_q21_waiting_supplier,
        "tpch_q13_customer_distribution": q_tpch_q13_customer_distribution,
        "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
        "embedding_centroids": q_embedding_centroids,
        "topn_per_group_events": q_topn_per_group_events,
        "value_histogram_events": q_value_histogram_events,
        "value_correlation_events": q_value_correlation_events,
        "zorder_layout_roundtrip": q_zorder_layout_roundtrip,
        "tpch_q8_market_share": q_tpch_q8_market_share,
        "tpch_q12_priority_shipping": q_tpch_q12_priority_shipping,
        "pivot_lang_by_source": q_pivot_lang_by_source,
        "upsert_roundtrip": q_upsert_roundtrip,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "csv_roundtrip": q_csv_roundtrip,
        "unpivot_lang_counts": q_unpivot_lang_counts,
        "docs_except_intersect": q_docs_except_intersect,
        "tpch_q2_min_cost_supplier": q_tpch_q2_min_cost_supplier,
        "tpch_q11_important_parts": q_tpch_q11_important_parts,
        "tpch_q9_product_profit": q_tpch_q9_product_profit,
        # ---- position >50: falls out this round and leads tier A
        #      next round, in this order: the displaced never-oracled
        #      tail (q20, chunk_sliding, then the r5 additions pushed
        #      out by this round's tier B), then the r4-green block
        #      (oldest driver evidence), then the r5-green stable
        #      queries (freshest evidence, rotate last). ----
        "tpch_q20_excess_suppliers": q_tpch_q20_excess_suppliers,
        "chunk_sliding_documents": q_chunk_sliding_documents,
        "equidepth_events": q_equidepth_events,
        "lm_score_documents": q_lm_score_documents,
        "drift_documents": q_drift_documents,
        "weighted_sample_documents": q_weighted_sample_documents,
        "bpe_token_counts_documents": q_bpe_token_counts_documents,
        "contrastive_negatives_documents": q_contrastive_negatives_documents,
        "lm_tiered_documents": q_lm_tiered_documents,
        "vocab_index_documents": q_vocab_index_documents,
        "temperature_mix_documents": q_temperature_mix_documents,
        "delete_roundtrip": q_delete_roundtrip,
        "token_shards_documents": q_token_shards_documents,
        "dp_group_counts_documents": q_dp_group_counts_documents,
        "dp_group_sums_events": q_dp_group_sums_events,
        "dp_group_counts_geo_documents": q_dp_group_counts_geo_documents,
        "gif_frame_meta": q_gif_frame_meta,
        "group_entropy_events": q_group_entropy_events,
        "asof_tolerance_events": q_asof_tolerance_events,
        "grouping_sets_lineitem": q_grouping_sets_lineitem,
        "group_counts_rollup": q_group_counts_rollup,
        "pipeline_c4_style": q_pipeline_c4_style,
        "chunk_tokens_documents": q_chunk_tokens_documents,
        "approx_distinct_users": q_approx_distinct_users,
        "sessionize_events": q_sessionize_events,
        "sample_documents": q_sample_documents,
        "repetition_documents": q_repetition_documents,
        "json_props_events": q_json_props_events,
        "text_hashed_cosine_pairs": q_text_hashed_cosine_pairs,
        "text_cosine_cells_documents": q_text_cosine_cells_documents,
        "moving_avg_events": q_moving_avg_events,
        "stratified_sample_documents": q_stratified_sample_documents,
        "neardup_clusters_documents": q_neardup_clusters_documents,
        "dedup_exact_documents": q_dedup_exact_documents,
        "dedup_exact_survivors": q_dedup_exact_survivors,
        "embedding_neardup_clusters": q_embedding_neardup_clusters,
        "semdedup_cells_embeddings": q_semdedup_cells_embeddings,
        "semdedup_twolevel_embeddings": q_semdedup_twolevel_embeddings,
        "text_cosine_twolevel_documents": q_text_cosine_twolevel_documents,
        "pack_sequences_documents": q_pack_sequences_documents,
        "tpch_q18_large_orders": q_tpch_q18_large_orders,
        "tpch_q16_supplier_cnt": q_tpch_q16_supplier_cnt,
        "tpch_q17_small_qty_revenue": q_tpch_q17_small_qty_revenue,
        "tpch_q5_local_supplier": q_tpch_q5_local_supplier,
        "tpch_q14_promo_revenue": q_tpch_q14_promo_revenue,
        "key_skew_events": q_key_skew_events,
        "embedding_cosine_pairs": q_embedding_cosine_pairs,
        "salted_join_revenue": q_salted_join_revenue,
        "simhash_documents": q_simhash_documents,
        "multimodal_image_meta": q_multimodal_image_meta,
        "multimodal_image_headers": q_multimodal_image_headers,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "dup_ngram_fraction_documents": q_dup_ngram_fraction_documents,
        "asof_purchase_click_events": q_asof_purchase_click_events,
        "funnel_events": q_funnel_events,
        "retention_events": q_retention_events,
        "group_profile_events": q_group_profile_events,
        "url_canonicalize_documents": q_url_canonicalize_documents,
        "vocabulary_documents": q_vocabulary_documents,
        "tfidf_top_terms_documents": q_tfidf_top_terms_documents,
        "cap_per_source_documents": q_cap_per_source_documents,
        "split_by_group_documents": q_split_by_group_documents,
        "text_analysis_documents": q_text_analysis_documents,
        "group_counts_events_by_user": q_group_counts_events_by_user,
        "group_counts_documents_by_source": q_group_counts_documents_by_source,
        "group_counts_lineitem_by_flag": q_group_counts_lineitem_by_flag,
        "group_counts_tensors": q_group_counts_tensors,
        "format_group_counts": q_format_group_counts,
        "key_random_lineitem": q_key_random_lineitem,
        "key_url_domain": q_key_url_domain,
        "key_dirichlet_embeddings": q_key_dirichlet_embeddings,
        "pack_bytecap_documents": q_pack_bytecap_documents,
        "tpch_q1_pricing_summary": q_tpch_q1_pricing_summary,
        "tpch_q6_forecast_revenue": q_tpch_q6_forecast_revenue,
        "tpch_q3_unshipped_orders": q_tpch_q3_unshipped_orders,
        "group_stream": q_group_stream,
        "tpch_q4_order_priority": q_tpch_q4_order_priority,
        "multimodal_resize_png": q_multimodal_resize_png,
        "multimodal_resize_pixels": q_multimodal_resize_pixels,
        "multimodal_embed_pixels": q_multimodal_embed_pixels,
        "lsh_topk_embeddings": q_lsh_topk_embeddings,
        "ivf_topk_embeddings": q_ivf_topk_embeddings,
        "ivf_index_topk_embeddings": q_ivf_index_topk_embeddings,
        "minhash_lsh_candidates": q_minhash_lsh_candidates,
        "pipeline_ingest_style": q_pipeline_ingest_style,
        "interval_attribution_events": q_interval_attribution_events,
        "streaming_windowed_counts": q_streaming_windowed_counts,
        "streaming_session_windows": q_streaming_session_windows,
        "streaming_stateful_counts": q_streaming_stateful_counts,
        "streaming_dedup_distinct": q_streaming_dedup_distinct,
        "streaming_attribution_events": q_streaming_attribution_events,
        "streaming_attribution_outer": q_streaming_attribution_outer,
        "snapshot_time_travel": q_snapshot_time_travel,
        "bpe_merges_documents": q_bpe_merges_documents,
        "pagerank_partsupp": q_pagerank_partsupp,
        "compaction_roundtrip": q_compaction_roundtrip,
        "audio_features_wav": q_audio_features_wav,
        "audio_frame_energy": q_audio_frame_energy,
        "audio_resample_wav": q_audio_resample_wav,
        "video_frame_sample": q_video_frame_sample,
        "tpch_q7_nation_volume": q_tpch_q7_nation_volume,
        "bucketed_colocated_join": q_bucketed_colocated_join,
        # --- r8 additions: Hudi MERGE_ON_READ lifecycle, per-partition
        #     planning view, partitioned exactly-once hudi_lite sink
        "hudi_mor_read": q_hudi_mor_read,
        "hudi_log_format_read": q_hudi_log_format_read,
        "hudi_ordering_merge": q_hudi_ordering_merge,
        "hudi_rollback_roundtrip": q_hudi_rollback_roundtrip,
        "hudi_changes_cdc": q_hudi_changes_cdc,
        "hudi_partitions": q_hudi_partitions,
        "streaming_hudi_sink_partitioned": (
            q_streaming_hudi_sink_partitioned
        ),
        "hudi_clean_roundtrip": q_hudi_clean_roundtrip,
        "convert_tables_roundtrip": q_convert_tables_roundtrip,
        "foreign_lakehouse_fixtures": q_foreign_lakehouse_fixtures,
        "sync_delta_iceberg_mirror": q_sync_delta_iceberg_mirror,
        "sync_iceberg_delta_mirror": q_sync_iceberg_delta_mirror,
    }


# --- BEGIN GENERATED _QUERY_ORDER (tools/rotation.py --update) ---
_QUERY_ORDER: list[str] = [
    "group_counts_rollup",
    "pipeline_c4_style",
    "chunk_tokens_documents",
    "sessionize_events",
    "sample_documents",
    "repetition_documents",
    "json_props_events",
    "text_hashed_cosine_pairs",
    "moving_avg_events",
    "stratified_sample_documents",
    "neardup_clusters_documents",
    "dedup_exact_documents",
    "dedup_exact_survivors",
    "embedding_neardup_clusters",
    "pack_sequences_documents",
    "tpch_q18_large_orders",
    "tpch_q16_supplier_cnt",
    "tpch_q17_small_qty_revenue",
    "tpch_q5_local_supplier",
    "tpch_q14_promo_revenue",
    "key_skew_events",
    "embedding_cosine_pairs",
    "hudi_mor_read",
    "hudi_log_format_read",
    "hudi_rollback_roundtrip",
    "hudi_changes_cdc",
    "hudi_partitions",
    "streaming_hudi_sink_partitioned",
    "hudi_clean_roundtrip",
    "convert_tables_roundtrip",
    "sync_delta_iceberg_mirror",
    "sync_iceberg_delta_mirror",
    "bloom_screen_dedup_documents",
    "webdataset_roundtrip",
    "sync_hudi_delta_mirror",
    "iceberg_dv_delete",
    "delta_bloom_skipping",
    "streaming_webdataset_sink",
    "iceberg_row_lineage",
    "delta_row_tracking",
    "sync_hudi_iceberg_mirror",
    "approx_distinct_users",
    "salted_join_revenue",
    "simhash_documents",
    "multimodal_image_meta",
    "multimodal_image_headers",
    "ngram_jaccard_pairs",
    "dup_ngram_fraction_documents",
    "asof_purchase_click_events",
    "funnel_events",
    "retention_events",
    "group_profile_events",
    "url_canonicalize_documents",
    "vocabulary_documents",
    "tfidf_top_terms_documents",
    "cap_per_source_documents",
    "split_by_group_documents",
    "text_analysis_documents",
    "group_counts_events_by_user",
    "group_counts_documents_by_source",
    "group_counts_lineitem_by_flag",
    "group_counts_tensors",
    "format_group_counts",
    "key_random_lineitem",
    "key_url_domain",
    "key_dirichlet_embeddings",
    "pack_bytecap_documents",
    "tpch_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "tpch_q3_unshipped_orders",
    "group_stream",
    "tpch_q4_order_priority",
    "multimodal_resize_png",
    "multimodal_resize_pixels",
    "multimodal_embed_pixels",
    "lsh_topk_embeddings",
    "ivf_topk_embeddings",
    "ivf_index_topk_embeddings",
    "minhash_lsh_candidates",
    "pipeline_ingest_style",
    "interval_attribution_events",
    "foreign_lakehouse_fixtures",
    "tfrecord_roundtrip",
    "partitioned_roundtrip",
    "gopher_quality_documents",
    "ngram_counts_documents",
    "pii_redact_documents",
    "winnow_fingerprints_documents",
    "clean_text_documents",
    "cms_user_counts_events",
    "contamination_documents",
    "incremental_dedup_documents",
    "cosine_topk_embeddings",
    "streaming_incremental_dedup",
    "multimodal_gif_pixels",
    "multimodal_jpeg_pixels",
    "matview_refresh_documents",
    "matview_join_refresh",
    "k_anonymize_customers",
    "l_diversity_documents",
    "audio_frame_energy",
    "streaming_matview_sums",
    "line_dedup_documents",
    "ols_chars_documents",
    "audio_adpcm_features",
    "audio_flac_features",
    "streaming_iceberg_sink",
    "iceberg_stats_skipping",
    "gapfill_daily_events",
    "resample_linear_events",
    "iceberg_compaction",
    "delta_table_history",
    "streaming_iceberg_source",
    "iceberg_schema_evolution",
    "table_diff_versions",
    "text_cosine_cells_documents",
    "semdedup_cells_embeddings",
    "streaming_windowed_counts",
    "streaming_session_windows",
    "streaming_stateful_counts",
    "streaming_dedup_distinct",
    "streaming_attribution_events",
    "streaming_attribution_outer",
    "snapshot_time_travel",
    "bpe_merges_documents",
    "pagerank_partsupp",
    "compaction_roundtrip",
    "audio_features_wav",
    "audio_resample_wav",
    "video_frame_sample",
    "tpch_q7_nation_volume",
    "bucketed_colocated_join",
    "iceberg_mor_delete",
    "delta_mor_delete",
    "hll_distinct_events",
    "quality_checks_documents",
    "streaming_delta_sink",
    "streaming_delta_sink_partitioned",
    "streaming_iceberg_sink_partitioned",
    "value_percentiles_events",
    "fingerprint_screen_documents",
    "multimodal_jpeg_progressive",
    "multimodal_webp_pixels",
    "delta_checkpoint_roundtrip",
    "delta_column_mapping",
    "delta_column_mapping_merge",
    "iceberg_partition_pruning",
    "delta_optimize_vacuum",
    "delta_schema_evolution",
    "iceberg_equality_delete",
    "iceberg_gdpr_compose",
    "iceberg_retention",
    "streaming_delta_source",
    "streaming_hudi_source",
    "streaming_hudi_sink",
    "delta_zorder_skipping",
    "iceberg_partitioned_write",
    "delta_merge_roundtrip",
    "rolling_window_events",
    "quality_quarantine_documents",
    "audio_g711_features",
    "kmv_distinct_events",
    "triangle_suppliers",
    "bfs_suppliers",
    "entity_match_customers",
    "entity_clusters_customers",
    "scd2_user_events",
    "scd2_apply_events",
    "spatial_radius_pairs",
    "avro_roundtrip",
    "orc_roundtrip",
    "iceberg_time_travel",
    "delta_change_feed",
    "delta_restore_timestamp",
    "hudi_upsert_roundtrip",
    "open_table_dispatch",
    "delta_time_travel",
    "tfrecord_gzip_roundtrip",
    "tpch_q19_disjunctive_revenue",
    "semdedup_twolevel_embeddings",
    "text_cosine_twolevel_documents",
    "hudi_ordering_merge",
    "streaming_span_dedup_documents",
    "span_dedup_documents",
    "span_dedup_incremental_documents",
    "dup_spans_documents",
    "streaming_hudi_mor_source",
    "streaming_iceberg_sink_bucketed",
    "delta_cm_format_write",
    "convert_cm_delta_to_iceberg",
    "group_counts_cube",
    "tpch_q22_global_sales",
    "tpch_q10_returned_items",
    "tpch_q21_waiting_supplier",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "embedding_centroids",
    "topn_per_group_events",
    "value_histogram_events",
    "value_correlation_events",
    "zorder_layout_roundtrip",
    "tpch_q8_market_share",
    "tpch_q12_priority_shipping",
    "pivot_lang_by_source",
    "upsert_roundtrip",
    "jsonl_roundtrip",
    "csv_roundtrip",
    "unpivot_lang_counts",
    "docs_except_intersect",
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_parts",
    "tpch_q9_product_profit",
    "tpch_q20_excess_suppliers",
    "chunk_sliding_documents",
    "equidepth_events",
    "lm_score_documents",
    "drift_documents",
    "weighted_sample_documents",
    "bpe_token_counts_documents",
    "contrastive_negatives_documents",
    "lm_tiered_documents",
    "vocab_index_documents",
    "temperature_mix_documents",
    "delete_roundtrip",
    "token_shards_documents",
    "dp_group_counts_documents",
    "dp_group_sums_events",
    "dp_group_counts_geo_documents",
    "gif_frame_meta",
    "group_entropy_events",
    "asof_tolerance_events",
    "grouping_sets_lineitem",
]
# --- END GENERATED _QUERY_ORDER ---


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-facing query map.

    The driver oracles the FIRST 50 entries only, so ordering IS the
    verification schedule.  ``_QUERY_ORDER`` is generated by
    ``python tools/rotation.py --update`` from the committed
    CORRECTNESS_r*.json history: never-driver-oracled queries first,
    then stalest-green-first (VERDICT r7 task 1 — the rotation must be
    mechanical, not prose).  ``tests/test_rotation.py`` pins the first
    50 to the tool's output; a registry/order mismatch raises here so
    it can never ship silently.
    """
    reg = _query_registry()
    missing = [k for k in _QUERY_ORDER if k not in reg]
    unlisted = [k for k in reg if k not in set(_QUERY_ORDER)]
    if missing or unlisted:
        raise RuntimeError(
            f"_QUERY_ORDER out of sync with the registry "
            f"(missing={missing}, unlisted={unlisted}); "
            "run: python tools/rotation.py --update"
        )
    return {k: reg[k] for k in _QUERY_ORDER}


# ----------------------------------------------------------- oracle SQL

def _clean_text_oracle() -> str:
    from dataset_grouper_spark.functions import textfix

    moj_a = textfix.MOJIBAKE[7][0]
    moj_b = textfix.MOJIBAKE[8][0]
    moj_e = textfix.MOJIBAKE[0][0]
    tail = f"</p> <!-- note --> &amp; caf{moj_e}{moj_a}{moj_b}  end"
    tail_sql = "'" + tail.replace("'", "''") + "'"
    dirty = f"'<p class=''x''>' || text || {tail_sql}"
    cleaned = textfix.clean_text_sql(dirty)
    return f"""
        SELECT doc_id,
               CAST(length({cleaned}) AS INT) AS clean_len,
               CAST(('0x' || substr(md5({cleaned}), 1, 9))::BIGINT
                    AS BIGINT) AS clean_checksum
        FROM documents
    """


def oracle_sql() -> dict[str, str]:
    doc_counts = f"""
        SELECT source AS group_id,
               count(*) AS num_examples,
               CAST(sum({DOC_BYTES_SQL}) AS BIGINT) AS num_bytes,
               CAST(sum({DOC_WORDS_SQL}) AS BIGINT) AS num_words
        FROM documents GROUP BY source
    """
    dirichlet_values = keys.dirichlet_interval_values_sql(
        DIR_LABELS, DIR_GROUPS, DIR_ALPHA, DIR_SEED
    )
    sql = {
        "group_counts_events_by_user": f"""
            SELECT CAST(user_id AS VARCHAR) AS group_id,
                   count(*) AS num_examples,
                   CAST(sum({EVT_BYTES_SQL}) AS BIGINT) AS num_bytes,
                   CAST(sum({EVT_WORDS_SQL}) AS BIGINT) AS num_words
            FROM events GROUP BY user_id
        """,
        "group_counts_documents_by_source": doc_counts,
        "group_counts_lineitem_by_flag": f"""
            SELECT concat_ws('|', l_returnflag, l_linestatus) AS group_id,
                   count(*) AS num_examples,
                   CAST(sum({textstats.row_bytes_sql(LINEITEM_SCHEMA)}) AS BIGINT) AS num_bytes,
                   CAST(sum({textstats.row_words_sql(LINEITEM_STRINGS)}) AS BIGINT) AS num_words
            FROM lineitem GROUP BY 1
        """,
        "group_counts_tensors": """
            SELECT CAST(label AS VARCHAR) AS group_id,
                   count(*) AS num_examples,
                   CAST(sum(
                     (CASE WHEN label IS NULL THEN 0 ELSE 4 END)
                     + coalesce(len(embedding), 0) * 4
                     + coalesce(least(len(embedding), 8), 0) * 4
                     + (CASE WHEN vec_id IS NULL THEN 0 ELSE 8 END)
                   ) AS BIGINT) AS num_bytes,
                   CAST(sum(0) AS BIGINT) AS num_words
            FROM embeddings GROUP BY label
        """,
        "format_group_counts": f"""
            SELECT concat_ws(',', group_id, CAST(num_examples AS VARCHAR),
                             CAST(num_bytes AS VARCHAR),
                             CAST(num_words AS VARCHAR)) AS line
            FROM ({doc_counts})
        """,
        "key_random_lineitem": """
            SELECT CAST((CAST((l_orderkey * 8 + l_linenumber) % 4294967296 AS HUGEINT)
                        * 2654435761)
                        % 4294967296 % 16 AS VARCHAR) AS group_id,
                   count(*) AS num_examples,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY 1
        """,
        "key_url_domain": """
            SELECT regexp_extract(
                     'https://' || source || '.example.com/doc/' ||
                     CAST(doc_id AS VARCHAR),
                     '^[a-z]+://([^/]+)', 1) AS group_id,
                   count(*) AS num_examples
            FROM documents GROUP BY 1
        """,
        "key_dirichlet_embeddings": f"""
            WITH intervals(label_key, dp_group, cum_lo, cum_hi) AS (
                VALUES {dirichlet_values}
            ), keyed AS (
                SELECT e.label, CAST(i.dp_group AS VARCHAR) AS group_id
                FROM embeddings e
                JOIN intervals i
                  ON e.label = i.label_key
                 AND ((CAST(e.vec_id % 4294967296 AS HUGEINT) * 2654435761)
                     % 4294967296) / 4294967296.0 >= i.cum_lo
                 AND ((CAST(e.vec_id % 4294967296 AS HUGEINT) * 2654435761)
                     % 4294967296) / 4294967296.0 < i.cum_hi
            )
            SELECT group_id, count(*) AS num_examples,
                   count(DISTINCT label) AS num_labels
            FROM keyed GROUP BY group_id
        """,
        "pack_bytecap_documents": f"""
            WITH sized AS (
                SELECT source AS group_id, doc_id, {DOC_BYTES_SQL} AS sz
                FROM documents
            ), cum AS (
                -- mirror cap_prefix's monster pre-filter: rows whose
                -- individual size meets the limit never enter the window
                SELECT group_id, doc_id, sz,
                       sum(sz) OVER (PARTITION BY group_id ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum_sz
                FROM sized WHERE sz < {PACK_LIMIT}
            )
            SELECT group_id, count(*) AS num_examples, CAST(sum(sz) AS BIGINT) AS num_bytes,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                     AS packed_ids
            FROM cum WHERE cum_sz < {PACK_LIMIT} GROUP BY group_id
        """,
        "tpch_q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_q3_unshipped_orders": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
              AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "dedup_exact_documents": """
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT md5(text)) AS n_unique_texts
            FROM documents GROUP BY source
        """,
        "dedup_exact_survivors": oracles.exact_dedup_sql(
            "documents", "text", "doc_id", "doc_id, source"
        ),
        "ngram_jaccard_pairs": oracles.ngram_jaccard_sql(
            "documents", "text", "doc_id", NGRAM_N, JACCARD_T
        ),
        "minhash_lsh_candidates": oracles.lsh_pairs_sql(
            "documents", "text", "doc_id", NGRAM_N, MH_PERM, MH_BANDS, MH_SEED
        ),
        "neardup_clusters_documents": oracles.neardup_clusters_sql(
            "documents", "text", "doc_id", NGRAM_N, MH_PERM, MH_BANDS, MH_SEED
        ),
        "contamination_documents": oracles.contamination_sql(
            "documents", "text", "doc_id", CONTAM_BENCH_FILTER, CONTAM_N
        ),
        "pii_redact_documents": oracles.pii_redact_sql(
            "documents", "text", "doc_id"
        ),
        "url_canonicalize_documents": oracles.url_canonicalize_sql(
            "documents", "doc_id"
        ),
        "pipeline_ingest_style": oracles.pipeline_ingest_sql(
            "documents", "text", "doc_id", CONTAM_BENCH_FILTER,
            CONTAM_N, NGRAM_N, PIPE2_DUP_FRAC_MAX, PIPE2_CAP,
        ),
        "fingerprint_screen_documents": """
            WITH existing AS (
                SELECT * FROM documents WHERE doc_id % 5 != 0
            ),
            newb AS (
                SELECT doc_id, source, text FROM documents
                WHERE doc_id % 5 = 0
                UNION ALL
                SELECT doc_id + 1000000, source, text FROM documents
                WHERE doc_id % 5 != 0 AND doc_id % 7 = 0
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_survivors,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM newb n
            WHERE NOT EXISTS (
                SELECT 1 FROM existing e WHERE e.text = n.text
            )
            GROUP BY source
        """,
        "bloom_screen_dedup_documents": """
            WITH existing AS (
                SELECT * FROM documents WHERE doc_id % 4 != 0
            ),
            newb AS (
                SELECT doc_id, source, text FROM documents
                WHERE doc_id % 4 = 0
                UNION ALL
                SELECT doc_id + 2000000, source, text FROM documents
                WHERE doc_id % 4 != 0 AND doc_id % 9 = 0
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_survivors,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM newb n
            WHERE NOT EXISTS (
                SELECT 1 FROM existing e WHERE e.text = n.text
            )
            GROUP BY source
        """,
        "delta_bloom_skipping": """
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE doc_id IN (3, 17, 101, 999999937)
        """,
        "streaming_webdataset_sink": """
            WITH m AS (
                SELECT doc_id, 'txt' AS ext, text AS v FROM documents
                UNION ALL
                SELECT doc_id, 'cls', lang FROM documents
            )
            SELECT ext,
                   CAST(count(*) AS BIGINT) AS n_members,
                   CAST(sum(strlen(v)) AS BIGINT) AS n_bytes,
                   CAST(sum(('0x' || substr(md5(v), 1, 9))::BIGINT)
                        AS BIGINT) AS content_checksum,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys
            FROM m WHERE v IS NOT NULL
            GROUP BY ext
        """,
        "delta_row_tracking": """
            WITH evens AS (
                SELECT doc_id, lang,
                       row_number() OVER (ORDER BY doc_id) - 1 AS rid
                FROM documents WHERE doc_id % 2 = 0
            ),
            odds AS (
                SELECT doc_id, lang,
                       (SELECT count(*) FROM evens)
                       + row_number() OVER (ORDER BY doc_id) - 1 AS rid
                FROM documents WHERE doc_id % 2 = 1
            ),
            allr AS (
                SELECT * FROM evens UNION ALL SELECT * FROM odds
            )
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 1 THEN 'xx' ELSE lang END
                     AS lang,
                   CAST(rid AS BIGINT) AS row_id
            FROM allr WHERE doc_id % 5 != 0
        """,
        "iceberg_row_lineage": """
            WITH evens AS (
                SELECT doc_id, lang,
                       row_number() OVER (ORDER BY doc_id) - 1 AS rid
                FROM documents WHERE doc_id % 2 = 0
            ),
            odds AS (
                SELECT doc_id, lang,
                       (SELECT count(*) FROM evens)
                       + row_number() OVER (ORDER BY doc_id) - 1 AS rid
                FROM documents WHERE doc_id % 2 = 1
            ),
            allr AS (
                SELECT * FROM evens UNION ALL SELECT * FROM odds
            )
            SELECT doc_id, lang, CAST(rid AS BIGINT) AS row_id
            FROM allr WHERE doc_id % 5 != 0
        """,
        "iceberg_dv_delete": """
            WITH live AS (
                SELECT doc_id, lang, n_chars FROM documents
                WHERE doc_id % 11 != 3
            )
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM live WHERE doc_id % 7 != 0
            GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM live GROUP BY lang
        """,
        "sync_hudi_iceberg_mirror": """
            WITH base AS (
                SELECT doc_id, lang, n_chars FROM documents
                WHERE doc_id % 2 = 0
            ),
            post AS (
                SELECT doc_id, lang, n_chars FROM base
                WHERE doc_id % 6 != 0
                UNION ALL
                SELECT doc_id, lang, n_chars + 1000 FROM base
                WHERE doc_id % 6 = 0
                UNION ALL
                SELECT doc_id, lang, n_chars FROM documents
                WHERE doc_id % 2 = 1
            )
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM post GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM base GROUP BY lang
        """,
        "sync_hudi_delta_mirror": """
            WITH base AS (
                SELECT doc_id, lang, n_chars FROM documents
                WHERE doc_id % 2 = 0
            ),
            post AS (
                SELECT doc_id, lang, n_chars FROM base
                WHERE doc_id % 6 != 0
                UNION ALL
                SELECT doc_id, lang, n_chars + 1000 FROM base
                WHERE doc_id % 6 = 0
                UNION ALL
                SELECT doc_id, lang, n_chars FROM documents
                WHERE doc_id % 2 = 1
            )
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM post GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM base GROUP BY lang
        """,
        "webdataset_roundtrip": """
            WITH m AS (
                SELECT doc_id, 'txt' AS ext, text AS v FROM documents
                UNION ALL
                SELECT doc_id, 'cls', lang FROM documents
                UNION ALL
                SELECT doc_id, 'src', source FROM documents
            )
            SELECT ext,
                   CAST(count(*) AS BIGINT) AS n_members,
                   CAST(sum(strlen(v)) AS BIGINT) AS n_bytes,
                   CAST(sum(('0x' || substr(md5(v), 1, 9))::BIGINT)
                        AS BIGINT) AS content_checksum,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys
            FROM m WHERE v IS NOT NULL
            GROUP BY ext
        """,
        "incremental_dedup_documents": oracles.minhash_against_sql(
            "documents", "text", "doc_id", INCR_NEW_FILTER,
            NGRAM_N, MH_PERM, MH_BANDS, MH_SEED, "doc_id, source",
        ),
        "dup_ngram_fraction_documents": f"""
            WITH {oracles.shingle_cte("documents", "text", "doc_id", NGRAM_N)},
            freq AS (
              SELECT shingle_h, count(*) AS _df FROM sh GROUP BY shingle_h
            ),
            stats AS (
              SELECT _id,
                     CAST(count(*) AS BIGINT) AS total_ngrams,
                     CAST(sum(CASE WHEN _df > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS dup_ngrams
              FROM sh JOIN freq USING (shingle_h) GROUP BY _id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.total_ngrams, 0) AS BIGINT) AS total_ngrams,
                   CAST(COALESCE(s.dup_ngrams, 0) AS BIGINT) AS dup_ngrams,
                   round(COALESCE(s.dup_ngrams * 1.0 / s.total_ngrams, 0.0), 6)
                     AS dup_frac
            FROM documents d LEFT JOIN stats s ON d.doc_id = s._id
        """,
        "line_dedup_documents": dedup.line_dedup_sql(
            r"""(SELECT doc_id,
                        regexp_replace(text, '(\S+ \S+ \S+) ',
                                       '\1' || chr(10), 'g') AS _ml
                 FROM documents)""",
            "_ml",
            "doc_id",
            min_docs=LINE_DEDUP_MIN_DOCS,
            min_len=10,
        ),
        "span_dedup_documents": spandedup_ops.remove_duplicate_spans_sql(
            "documents", "doc_id", "text", k=8
        ),
        "span_dedup_incremental_documents": (
            spandedup_ops.remove_duplicate_spans_against_sql(
                "(SELECT * FROM documents WHERE doc_id % 4 = 0)",
                "(SELECT * FROM documents WHERE doc_id % 4 <> 0)",
                "doc_id",
                "text",
                k=8,
            )
        ),
        "dup_spans_documents": spandedup_ops.duplicate_spans_sql(
            "documents", "doc_id", "text", k=8
        ),
        "ols_chars_documents": regress_ops.ols_fit2_sql(
            """(SELECT n_chars,
                       strlen(text) - strlen(replace(text, ' ', ''))
                           AS n_spaces,
                       strlen(text) - strlen(replace(text, 'a', ''))
                           AS n_a
                FROM documents)""",
            "n_chars",
            ["n_spaces", "n_a"],
        ),
        "split_by_group_documents": """
            SELECT doc_id, source,
                   CASE
                     WHEN (('0x' || substr(md5(source || ''), 1, 15))::BIGINT)
                          % 100 < 80 THEN 'train'
                     WHEN (('0x' || substr(md5(source || ''), 1, 15))::BIGINT)
                          % 100 < 90 THEN 'val'
                     ELSE 'test'
                   END AS split
            FROM documents
        """,
        "cap_per_source_documents": """
            SELECT doc_id, source FROM documents
            QUALIFY row_number() OVER (
              PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ) <= 10
        """,
        "tfidf_top_terms_documents": r"""
            WITH tok AS (
              SELECT doc_id AS _id,
                     unnest(string_split(
                       regexp_replace(text, '^\s+|\s+$', '', 'g'), ' '
                     )) AS token
              FROM documents
            ),
            tf AS (
              SELECT _id, token, CAST(count(*) AS BIGINT) AS tf
              FROM tok WHERE token != '' GROUP BY _id, token
            ),
            dfreq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY token),
            n AS (SELECT count(DISTINCT doc_id) AS _n FROM documents),
            scored AS (
              SELECT tf._id AS doc_id, tf.token, tf.tf,
                     round(tf.tf * ln((n._n + 1.0) / (dfreq.doc_freq + 1.0)), 6)
                       AS tfidf
              FROM tf JOIN dfreq USING (token) CROSS JOIN n
            )
            SELECT doc_id, token, tf, tfidf,
                   row_number() OVER (
                     PARTITION BY doc_id ORDER BY tfidf DESC, token
                   ) AS rank
            FROM scored
            QUALIFY rank <= 3
        """,
        "group_profile_events": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(min(value), 6) AS min_v,
                   round(max(value), 6) AS max_v,
                   round(avg(value), 6) AS mean_v,
                   round(quantile_cont(value, 0.25), 6) AS p25,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.75), 6) AS p75,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "vocabulary_documents": r"""
            WITH tok AS (
              SELECT doc_id AS _id,
                     unnest(string_split(
                       regexp_replace(text, '^\s+|\s+$', '', 'g'), ' '
                     )) AS token
              FROM documents
            ),
            c AS (
              SELECT token,
                     CAST(count(*) AS BIGINT) AS term_freq,
                     CAST(count(DISTINCT _id) AS BIGINT) AS doc_freq
              FROM tok WHERE token != '' GROUP BY token
            )
            SELECT token, term_freq, doc_freq,
                   row_number() OVER (ORDER BY term_freq DESC, token)
                     AS rank
            FROM c
            WHERE term_freq >= 2
            QUALIFY rank <= 100
        """,
        "retention_events": f"""
            WITH p AS (
              SELECT DISTINCT user_id,
                     epoch_us(ts) // {RETENTION_PERIOD_US} AS _p
              FROM events
            ),
            f AS (SELECT user_id, min(_p) AS _cohort FROM p GROUP BY user_id)
            SELECT f._cohort AS cohort_period,
                   p._p - f._cohort AS period_offset,
                   CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_active
            FROM p JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        "funnel_events": """
            WITH s0 AS (
              SELECT user_id, min(epoch_us(ts)) AS t_0
              FROM events WHERE event_type = 'view' GROUP BY user_id
            ),
            s1 AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS t_1
              FROM events e JOIN s0 USING (user_id)
              WHERE e.event_type = 'click' AND epoch_us(e.ts) > s0.t_0
              GROUP BY e.user_id
            ),
            s2 AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS t_2
              FROM events e JOIN s1 USING (user_id)
              WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s1.t_1
              GROUP BY e.user_id
            )
            SELECT s0.user_id, s0.t_0, s1.t_1, s2.t_2
            FROM s0
            LEFT JOIN s1 ON s0.user_id = s1.user_id
            LEFT JOIN s2 ON s0.user_id = s2.user_id
        """,
        "asof_purchase_click_events": """
            WITH l AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us
              FROM events WHERE event_type = 'purchase'
            ),
            r AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
              FROM events WHERE event_type = 'click'
              QUALIFY row_number() OVER (
                PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC
              ) = 1
            )
            SELECT l.event_id, l.user_id, l.ts_us,
                   r.ts_us AS ts_us_click,
                   r.event_id AS event_id_click,
                   r.value AS value_click
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
        """,
        "asof_tolerance_events": f"""
            WITH l AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us
              FROM events WHERE event_type = 'purchase'
            ),
            r AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
              FROM events WHERE event_type = 'click'
              QUALIFY row_number() OVER (
                PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC
              ) = 1
            )
            SELECT l.event_id, l.user_id, l.ts_us,
                   CASE WHEN l.ts_us - r.ts_us <= {ASOF_TOL_US}
                        THEN r.ts_us END AS ts_us_click,
                   CASE WHEN l.ts_us - r.ts_us <= {ASOF_TOL_US}
                        THEN r.event_id END AS event_id_click,
                   CASE WHEN l.ts_us - r.ts_us <= {ASOF_TOL_US}
                        THEN r.value END AS value_click
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
        """,
        "simhash_documents": oracles.simhash_sql(
            "documents", "text", "doc_id", SIMHASH_BITS
        ),
        "cosine_topk_embeddings": oracles.cosine_topk_sql(
            "embeddings", "embedding", "vec_id", TOPK_QFILTER, TOPK_K
        ),
        "lsh_topk_embeddings": oracles.lsh_topk_sql(
            "embeddings", "embedding", "vec_id", TOPK_QFILTER,
            EMB_DIM, TOPK_K, LSH_BITS, LSH_TABLES, LSH_SEED,
        ),
        "ivf_topk_embeddings": oracles.ivf_topk_flat_sql(
            "embeddings", "embedding", "vec_id", TOPK_QFILTER,
            TOPK_K, IVF_CENTROIDS, IVF_NPROBE,
        ),
        # the disk index uses the identical deterministic cell scheme,
        # so the same closed-form twin verifies the persisted path
        "ivf_index_topk_embeddings": oracles.ivf_topk_flat_sql(
            "embeddings", "embedding", "vec_id", TOPK_QFILTER,
            TOPK_K, IVF_CENTROIDS, IVF_NPROBE,
        ),
        "multimodal_image_meta": oracles.image_meta_sql(
            "documents", "text", "doc_id"
        ),
        "interval_attribution_events": f"""
            SELECT p.user_id, p.event_id AS purchase_id,
                   c.event_id AS click_id
            FROM events p JOIN events c ON p.user_id = c.user_id
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'
              AND epoch_ns(c.ts) >= epoch_ns(p.ts)
              AND epoch_ns(c.ts) <= epoch_ns(p.ts) + {ATTR_WINDOW_NS}
        """,
        # stream-stream twin: the eager inner join over a fully-drained
        # finite source must equal the batch interval join exactly
        "streaming_attribution_events": f"""
            SELECT p.user_id, p.event_id AS purchase_id,
                   c.event_id AS click_id
            FROM events p JOIN events c ON p.user_id = c.user_id
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'
              AND epoch_ns(c.ts) >= epoch_ns(p.ts)
              AND epoch_ns(c.ts) <= epoch_ns(p.ts) + {ATTR_WINDOW_NS}
        """,
        # left-outer twin: unmatched purchases emit a NULL click only
        # once provably unmatchable — purchase + window strictly below
        # the final watermark min(max purchase, max click) - delay
        "streaming_attribution_outer": f"""
            WITH p AS (
              SELECT user_id, event_id AS purchase_id, epoch_ns(ts) AS tp
              FROM events WHERE event_type = 'purchase'
            ), c AS (
              SELECT user_id AS cu, event_id AS click_id, epoch_ns(ts) AS tc
              FROM events WHERE event_type = 'click'
            ), matched AS (
              SELECT p.user_id, p.purchase_id, c.click_id
              FROM p JOIN c ON p.user_id = c.cu
              WHERE c.tc >= p.tp AND c.tc <= p.tp + {ATTR_WINDOW_NS}
            ), wm AS (
              SELECT least((SELECT max(tp) FROM p), (SELECT max(tc) FROM c))
                     - {ATTR_WINDOW_NS} AS w
            )
            SELECT user_id, purchase_id, click_id FROM matched
            UNION ALL
            SELECT p.user_id, p.purchase_id, CAST(NULL AS BIGINT) AS click_id
            FROM p
            WHERE p.purchase_id NOT IN (SELECT purchase_id FROM matched)
              AND p.tp + {ATTR_WINDOW_NS} < (SELECT w FROM wm)
        """,
        "salted_join_revenue": """
            SELECT o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "tpch_q5_local_supplier": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(*) AS n_items
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "tpch_q14_promo_revenue": """
            SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 4)
                     AS promo_share_pct,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-09-01'
              AND l_shipdate < TIMESTAMP '1996-10-01'
        """,
        "gopher_quality_documents": quality.gopher_quality_sql(
            "documents", "text", "doc_id"
        ),
        "ngram_counts_documents": vocab.ngram_counts_sql(
            "documents", "text", n=NGRAM_N, top_k=NGRAM_TOP_K
        ),
        "stratified_sample_documents": f"""
            SELECT source, count(*) AS n_kept,
                   CAST(sum(n_chars) AS BIGINT) AS chars_kept
            FROM ({sessions_ops.stratified_sample_sql(
                "documents", "source", "doc_id",
                STRATA_FRACTIONS, STRATA_DEFAULT_PCT)})
            GROUP BY source
        """,
        "key_skew_events": profile_ops.key_skew_profile_sql(
            "events", "user_id", top_n=15
        ),
        "embedding_neardup_clusters": f"""
            WITH RECURSIVE n AS (
              SELECT vec_id AS _id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings
            ), m AS (
              SELECT _id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n
            ), cand AS (
              SELECT x._id AS id_a, y._id AS id_b
              FROM m x JOIN m y ON x._id < y._id
              WHERE round_even(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6)
                    >= {EMB_NEARDUP_T}
            ), e AS (
              SELECT id_a AS a, id_b AS b FROM cand
              UNION SELECT id_b, id_a FROM cand
            ), reach(id, lbl) AS (
              SELECT a, a FROM e
              UNION
              SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
            ), comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)
            SELECT v.vec_id, COALESCE(c.component, v.vec_id) AS cluster_id
            FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.id
        """,
        "semdedup_cells_embeddings": oracles.semdedup_cells_sql(
            "embeddings", "embedding", "vec_id",
            EMB_NEARDUP_T, "auto", SEMDEDUP_PROBE,
            target_cell_rows=SEMDEDUP_TARGET,
        ),
        "semdedup_twolevel_embeddings": oracles.semdedup_cells_sql(
            "embeddings", "embedding", "vec_id",
            EMB_NEARDUP_T, "auto", SEMDEDUP_PROBE,
            target_cell_rows=TWOLEVEL_TARGET,
            two_level=True, coarse_probe=TWOLEVEL_COARSE_PROBE,
        ),
        "winnow_fingerprints_documents": textanalysis.winnow_fingerprints_sql(
            "documents", "text", "doc_id", 8, 4
        ),
        "streaming_windowed_counts": f"""
            SELECT date_trunc('hour', ts) AS window_start,
                   CAST(user_id AS VARCHAR) AS group_id,
                   count(*) AS num_examples,
                   CAST(sum({EVT_BYTES_SQL}) AS BIGINT) AS num_bytes,
                   CAST(sum({EVT_WORDS_SQL}) AS BIGINT) AS num_words
            FROM events GROUP BY 1, 2
        """,
        "multimodal_image_headers": """
            SELECT doc_id AS id,
                   CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                        WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp'
                        ELSE 'webp' END AS format,
                   CAST(1 + (doc_id * 7) % 2000 AS INT) AS width,
                   CAST(1 + (doc_id * 13) % 2000 AS INT) AS height
            FROM documents
        """,
        "tpch_q18_large_orders": """
            WITH qual AS (
              SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING round(sum(l_quantity), 2) > 300
            )
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice, sum_qty
            FROM customer
            JOIN orders ON o_custkey = c_custkey
            JOIN qual ON o_orderkey = l_orderkey
            ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
            LIMIT 100
        """,
        "tpch_q17_small_qty_revenue": """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand = 'Brand#3'
              AND l_quantity < (
                SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                WHERE l2.l_partkey = p_partkey
              )
        """,
        # group_stream twin: recompute per-group membership, counts,
        # the content checksum, and the seeded cohort assignment
        # (md5(f"{seed}:{gid}") ascending, batches of GS_BATCH) straight
        # from the raw table — the loader's write+stream round trip must
        # reproduce all four
        "group_stream": f"""
            WITH per_group AS (
              SELECT CAST(event_type AS VARCHAR) AS group_id,
                     count(*) AS n_rows,
                     CAST(sum(
                       (('0x' || substr(md5(
                          CAST(event_id AS VARCHAR) || ':' ||
                          CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)
                       % {GS_CHECK_MOD}
                     ) AS BIGINT) AS checksum
              FROM events GROUP BY 1
            ),
            ranked AS (
              SELECT group_id, n_rows, checksum,
                     row_number() OVER (
                       ORDER BY md5('{GS_SEED}:' || group_id)
                     ) AS rn
              FROM per_group
            )
            SELECT CAST(0 AS BIGINT) AS pass,
                   CAST((rn - 1) // {GS_BATCH} AS BIGINT) AS cohort,
                   group_id, n_rows, checksum
            FROM ranked
            UNION ALL
            SELECT 1,
                   CAST((rn - 1 - {GS_SKIP_COHORTS * GS_BATCH})
                        // {GS_BATCH} AS BIGINT),
                   group_id, n_rows, checksum
            FROM ranked WHERE rn > {GS_SKIP_COHORTS * GS_BATCH}
        """,
        "tpch_q19_disjunctive_revenue": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(*) AS n
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                   AND l_quantity BETWEEN 20 AND 40)
        """,
        "grouping_sets_lineitem": """
            SELECT coalesce(l_returnflag, '-') AS returnflag,
                   coalesce(l_linestatus, '-') AS linestatus,
                   count(*) AS n,
                   CAST(sum(l_quantity) AS BIGINT) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """,
        "group_counts_cube": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   count(*) AS num_examples,
                   round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "tpch_q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate >= TIMESTAMP '1997-01-01'
              )
            GROUP BY o_orderpriority
        """,
        # bucketed lifecycle twin: the co-located join must reproduce
        # the plain relational join bit-for-bit (decimal-accumulated
        # totals keep the sums order-independent).
        "bucketed_colocated_join": """
            SELECT c.c_mktsegment AS mktsegment,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(round(o.o_totalprice, 2)
                                 AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_price
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1
        """,
        "tpch_q7_nation_volume": """
            SELECT sn.n_name AS supp_nation,
                   cn.n_name AS cust_nation,
                   CAST(year(l.l_shipdate) AS INT) AS l_year,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                     AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
              AND l.l_shipdate < TIMESTAMP '1997-01-01'
              AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
                OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
        """,
        # revenue accumulates in exact DECIMAL(18,4) on BOTH engines:
        # customer 249's raw double sum lands exactly on the .005 cent
        # edge, where summation order decides the rounding.
        "tpch_q10_returned_items": """
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   CAST(round(sum(CAST(round(
                       l.l_extendedprice * (1 - l.l_discount), 4
                     ) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c.c_custkey
            LIMIT 20
        """,
        # survivor-store twin: the admitted set must equal the global
        # distinct-text set regardless of micro-batch order. Byte
        # lengths on both sides (octet_length / strlen).
        "streaming_span_dedup_documents": """
            WITH toks AS (
              SELECT doc_id, doc_id % 3 AS b,
                     string_split_regex(trim(text), '\\s+') AS _t
              FROM documents
            ),
            g2 AS (
              SELECT doc_id, b,
                     unnest(range(0, greatest(len(_t) - 8 + 1, 0))) AS _pos,
                     _t
              FROM toks
            ),
            grams AS (
              SELECT doc_id, b, _pos,
                     array_to_string(_t[_pos + 1 : _pos + 8], ' ') AS _gram
              FROM g2
            ),
            cnt AS (
              SELECT _gram,
                     min(struct_pack(b := b, d := doc_id, p := _pos))
                       AS _canon
              FROM grams GROUP BY _gram HAVING count(*) >= 2
            ),
            dup AS (
              SELECT g.doc_id, g._pos
              FROM grams g JOIN cnt USING (_gram)
              WHERE struct_pack(b := g.b, d := g.doc_id, p := g._pos)
                    <> cnt._canon
            ),
            covered AS (
              SELECT DISTINCT doc_id,
                     unnest(range(_pos, _pos + 8)) AS _tp
              FROM dup
            ),
            tokpos AS (
              SELECT doc_id, unnest(range(0, len(_t))) AS _tp, _t
              FROM toks
            ),
            kept AS (
              SELECT t.doc_id,
                     string_agg(t._t[t._tp + 1], ' ' ORDER BY t._tp)
                       AS clean_text,
                     count(*) AS _kept
              FROM tokpos t LEFT JOIN covered c
                ON t.doc_id = c.doc_id AND t._tp = c._tp
              WHERE c.doc_id IS NULL
              GROUP BY t.doc_id
            )
            SELECT toks.doc_id,
                   COALESCE(kept.clean_text, '') AS clean_text,
                   CAST(len(toks._t) - COALESCE(kept._kept, 0) AS BIGINT)
                     AS removed_tokens,
                   CAST(toks.doc_id % 3 AS INT) AS epoch
            FROM toks LEFT JOIN kept ON toks.doc_id = kept.doc_id
        """,
        "streaming_incremental_dedup": """
            WITH d AS (SELECT DISTINCT text FROM documents)
            SELECT CAST(count(*) AS BIGINT) AS n_survivors,
                   CAST(sum(strlen(text)) AS BIGINT) AS total_len
            FROM d
        """,
        # upsert twin: reconstruct the exact post-MERGE state in SQL —
        # every doc_id%5==0 text gains '-v2' (3 bytes), every
        # doc_id%7==0 doc gains a +10M-id 'new-<id>' clone
        "upsert_roundtrip": """
            WITH final AS (
              SELECT source,
                     CASE WHEN doc_id % 5 = 0 THEN strlen(text) + 3
                          ELSE strlen(text) END AS nb,
                     doc_id
              FROM documents
              UNION ALL
              SELECT source,
                     strlen('new-' || CAST(doc_id AS VARCHAR)) AS nb,
                     doc_id + 10000000 AS doc_id
              FROM documents WHERE doc_id % 7 = 0
            )
            SELECT source AS group_id,
                   CAST(count(*) AS BIGINT) AS num_examples,
                   CAST(sum(nb) AS BIGINT) AS num_bytes,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM final GROUP BY source
        """,
        # DP twins: regenerate the seeded Laplace noise closed-form
        # (md5 inverse-CDF — functions/dp.py laplace_noise_sql)
        "dp_group_counts_documents": f"""
            SELECT source AS group_id,
                   round(count(*)
                         + {dp_fns.laplace_noise_sql("source", 1.0 / DP_EPS, DP_SEED, tag="c")},
                         6) AS dp_count
            FROM documents GROUP BY source
        """,
        "dp_group_sums_events": f"""
            SELECT event_type AS group_id,
                   round(sum(greatest(least(value, {DP_CLAMP}),
                                      -{DP_CLAMP}))
                         + {dp_fns.laplace_noise_sql("event_type", DP_CLAMP / DP_EPS, DP_SEED, tag="s")},
                         6) AS dp_sum
            FROM events GROUP BY event_type
        """,
        "dp_group_counts_geo_documents": f"""
            SELECT source AS group_id,
                   count(*)
                   + {dp_fns.geometric_noise_sql("source", DP_EPS, DP_SEED)}
                     AS dp_count
            FROM documents GROUP BY source
        """,
        "token_shards_documents": f"""
            WITH t AS (
              SELECT doc_id, {textstats.words_sql("text")} AS tok
              FROM documents
            ), c AS (
              SELECT doc_id, tok,
                     sum(tok) OVER (ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
              FROM t
            )
            SELECT CAST((cum - tok) // {SHARD_TOKENS} AS BIGINT) AS shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(tok) AS BIGINT) AS tokens
            FROM c GROUP BY 1
        """,
        "delete_roundtrip": """
            SELECT source AS group_id,
                   CAST(count(*) AS BIGINT) AS num_examples,
                   CAST(sum(strlen(text)) AS BIGINT) AS num_bytes,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents
            WHERE NOT (lang = 'de' AND doc_id % 3 = 0)
            GROUP BY source
        """,
        "jsonl_roundtrip": """
            SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source
        """,
        "orc_roundtrip": """
            SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source
        """,
        "avro_roundtrip": """
            SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source
        """,
        "delta_time_travel": """
            SELECT 0 AS version, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents GROUP BY lang
        """,
        "iceberg_time_travel": """
            SELECT 0 AS version, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents GROUP BY lang
        """,
        "k_anonymize_customers": """
            WITH gen AS (
              SELECT c_custkey, c_mktsegment,
                     CAST(floor(c_acctbal / 2000.0) AS BIGINT)
                       AS c_acctbal
              FROM customer
            ),
            sizes AS (
              SELECT c_mktsegment, c_acctbal
              FROM gen GROUP BY 1, 2 HAVING count(*) >= 30
            )
            SELECT g.c_custkey, g.c_mktsegment, g.c_acctbal
            FROM gen g
            JOIN sizes s
              ON g.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment
             AND g.c_acctbal IS NOT DISTINCT FROM s.c_acctbal
        """,
        "l_diversity_documents": """
            SELECT lang, source,
                   count(*) AS class_size,
                   count(DISTINCT n_chars // 500) AS n_sensitive,
                   count(DISTINCT n_chars // 500) >= 3 AS diverse
            FROM documents GROUP BY 1, 2
        """,
        "matview_join_refresh": """
            SELECT o.o_orderpriority, l.l_returnflag,
                   count(*) AS n,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                     AS revenue
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        """,
        "streaming_delta_sink": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents GROUP BY lang
        """,
        "streaming_iceberg_sink": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents GROUP BY lang
        """,
        # the partitioned format-API sinks must reproduce the SAME
        # closed-form rollup — a doubled epoch, lost partition file, or
        # mis-restored partition literal all hash-mismatch
        "streaming_delta_sink_partitioned": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents GROUP BY lang
        """,
        "streaming_iceberg_sink_partitioned": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents GROUP BY lang
        """,
        "delta_mor_delete": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(strlen(text)) AS BIGINT)
            FROM documents
            WHERE doc_id % 3 <> 0 AND lang <> 'de'
            GROUP BY lang
        """,
        "delta_change_feed": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents WHERE doc_id % 3 <> 0 GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE doc_id % 3 = 2 GROUP BY lang
        """,
        "delta_checkpoint_roundtrip": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents
            WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0
            GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents
            WHERE (doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0)
               OR doc_id % 3 = 2
            GROUP BY lang
        """,
        "delta_column_mapping": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents GROUP BY lang
        """,
        "delta_column_mapping_merge": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM (
                SELECT CASE WHEN doc_id % 10 = 0 THEN 'merged'
                            ELSE lang END AS lang,
                       doc_id, text
                FROM documents
                UNION ALL
                SELECT 'inserted', doc_id + 1000000, text
                FROM documents WHERE doc_id % 25 = 0
            ) GROUP BY lang
        """,
        "hudi_upsert_roundtrip": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM (
                SELECT CASE WHEN doc_id % 10 = 0 THEN 'merged'
                            ELSE lang END AS lang,
                       doc_id, text
                FROM documents
                UNION ALL
                SELECT 'inserted', doc_id + 1000000, text
                FROM documents WHERE doc_id % 25 = 0
            ) GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(strlen(text)) AS BIGINT)
            FROM documents GROUP BY lang
        """,
        "open_table_dispatch": " UNION ALL ".join(
            f"""
            SELECT {r} AS fmt, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents WHERE doc_id % 5 = {r} GROUP BY lang
            """
            for r in range(5)
        ),
        "iceberg_partition_pruning": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents WHERE doc_id = 7 GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE lang LIKE 'd%' GROUP BY lang
        """,
        "delta_merge_roundtrip": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM (
                SELECT doc_id,
                       CASE WHEN doc_id % 10 = 0 THEN 'merged'
                            ELSE lang END AS lang,
                       text
                FROM documents
                UNION ALL
                SELECT doc_id + 1000000, 'inserted', text
                FROM documents WHERE doc_id % 25 = 0
            ) GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(strlen(text)) AS BIGINT)
            FROM documents GROUP BY lang
        """,
        "iceberg_partitioned_write": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents WHERE lang = 'de' GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(strlen(text)) AS BIGINT)
            FROM documents WHERE doc_id = 42 GROUP BY lang
        """,
        "iceberg_stats_skipping": """
            WITH cut AS (
                SELECT CAST(max(doc_id) / 3 AS BIGINT) AS c FROM documents
            )
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(y) AS BIGINT) AS sum_y
            FROM (
                SELECT d.doc_id, d.lang,
                       (d.doc_id * 91 + t.copy * 7) % 1000 AS y
                FROM documents d,
                     (SELECT unnest(range(1, 41)) AS copy) t
            ), cut
            WHERE doc_id <= cut.c GROUP BY lang
        """,
        "gapfill_daily_events": """
            WITH e AS (
                SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, value
                FROM events WHERE user_id < 30
            ),
            b AS (
                SELECT user_id, (sec // 86400) * 86400 AS bucket_start,
                       CAST(count(*) AS BIGINT) AS n_events,
                       sum(value) AS sum_value
                FROM e GROUP BY 1, 2
            ),
            span AS (
                SELECT user_id, min(bucket_start) AS mn,
                       max(bucket_start) AS mx
                FROM b GROUP BY 1
            ),
            axis AS (
                SELECT user_id,
                       unnest(range(mn, mx + 86400, 86400)) AS bucket_start
                FROM span
            )
            SELECT a.user_id, a.bucket_start,
                   COALESCE(b.n_events, 0) AS n_events,
                   round(COALESCE(b.sum_value, 0), 4) AS sum_value
            FROM axis a
            LEFT JOIN b ON a.user_id = b.user_id
                       AND a.bucket_start = b.bucket_start
        """,
        "resample_linear_events": """
            WITH e AS (
                SELECT event_type, epoch_ns(ts) // 1000000000 AS sec, value
                FROM events WHERE event_id % 97 = 0
            ),
            b AS (
                SELECT event_type, (sec // 21600) * 21600 AS bucket_start,
                       avg(value) AS av
                FROM e GROUP BY 1, 2
            ),
            span AS (
                SELECT event_type, min(bucket_start) AS mn,
                       max(bucket_start) AS mx
                FROM b GROUP BY 1
            ),
            axis AS (
                SELECT event_type,
                       unnest(range(mn, mx + 21600, 21600)) AS bucket_start
                FROM span
            ),
            d AS (
                SELECT a.event_type, a.bucket_start, b.av
                FROM axis a
                LEFT JOIN b ON a.event_type = b.event_type
                           AND a.bucket_start = b.bucket_start
            ),
            w AS (
                SELECT event_type, bucket_start, av,
                    last_value(av IGNORE NULLS) OVER wb AS pv,
                    last_value(CASE WHEN av IS NOT NULL THEN bucket_start
                               END IGNORE NULLS) OVER wb AS pb,
                    first_value(av IGNORE NULLS) OVER wf AS nv,
                    first_value(CASE WHEN av IS NOT NULL THEN bucket_start
                                END IGNORE NULLS) OVER wf AS nb
                FROM d
                WINDOW wb AS (PARTITION BY event_type ORDER BY bucket_start
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW),
                       wf AS (PARTITION BY event_type ORDER BY bucket_start
                              ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING)
            )
            SELECT event_type, bucket_start,
                   pv AS avg_ffill,
                   CASE WHEN av IS NOT NULL THEN av
                        WHEN pv IS NULL THEN nv
                        WHEN nv IS NULL THEN pv
                        ELSE pv + (nv - pv) *
                             (CAST(bucket_start - pb AS DOUBLE) /
                              CAST(nb - pb AS DOUBLE))
                   END AS avg_linear
            FROM w
        """,
        "iceberg_compaction": """
            WITH agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                       CAST(sum(length(text)) AS BIGINT) AS text_chars
                FROM documents WHERE lang IS DISTINCT FROM 'de'
            )
            SELECT 0 AS stage, 1 AS n_files, n_docs, sum_ids, text_chars
            FROM agg
            UNION ALL
            SELECT 1 AS stage, 4 AS n_files, n_docs, sum_ids, text_chars
            FROM agg
        """,
        "delta_table_history": """
            WITH c AS (
                SELECT CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT)
                           AS en,
                       CAST(count(*) AS BIGINT) AS total
                FROM documents
            )
            SELECT 0 AS version, 2 AS n_adds, 0 AS n_removes,
                   true AS data_change, false AS has_dv, en AS n_rows
            FROM c
            UNION ALL
            SELECT 1, 2, 0, true, false, total FROM c
            UNION ALL
            SELECT 2, 1, 4, false, false, total FROM c
        """,
        "delta_zorder_skipping": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(y) AS BIGINT) AS sum_y
            FROM (
                SELECT d.doc_id, d.lang,
                       (d.doc_id * 91 + t.copy * 7) % 1000 AS y
                FROM documents d,
                     (SELECT unnest(range(1, 41)) AS copy) t
            )
            WHERE y < 300 GROUP BY lang
        """,
        "streaming_hudi_source": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE doc_id % 3 = 2 GROUP BY lang
        """,
        "streaming_iceberg_sink_bucketed": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM documents WHERE doc_id = 1 GROUP BY lang
        """,
        "convert_cm_delta_to_iceberg": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(strlen(text)) AS BIGINT)
            FROM (
                SELECT doc_id, text, lang FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text, lang
                FROM documents WHERE doc_id % 4 = 0
            ) GROUP BY lang
        """,
        "delta_cm_format_write": """
            WITH tbl AS (
                SELECT doc_id, text, lang FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text, lang
                FROM documents WHERE doc_id % 3 = 0
                UNION ALL
                SELECT doc_id + 2000000, text, lang
                FROM documents WHERE doc_id % 5 = 0
            )
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM tbl GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(strlen(text)) AS BIGINT)
            FROM tbl GROUP BY lang
        """,
        "streaming_hudi_mor_source": """
            WITH chg AS (
                SELECT 'insert' AS ct, lang, doc_id, n_chars
                FROM documents
                UNION ALL
                SELECT 'update_postimage', lang, doc_id, n_chars + 1000
                FROM documents WHERE doc_id % 7 = 0
                UNION ALL
                SELECT 'delete', CAST(NULL AS VARCHAR), doc_id,
                       CAST(NULL AS BIGINT)
                FROM documents WHERE doc_id % 13 = 0
                UNION ALL
                -- the second upsert runs AFTER compaction: %13 keys
                -- are gone from every base slice, so re-upserting a
                -- deleted %11*%13 key opens a NEW file group — an
                -- 'insert' change row, not a postimage
                SELECT 'update_postimage', lang, doc_id, n_chars + 5000
                FROM documents WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0
                UNION ALL
                SELECT 'insert', lang, doc_id, n_chars + 5000
                FROM documents WHERE doc_id % 11 = 0 AND doc_id % 13 = 0
            )
            SELECT ct, lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM chg GROUP BY ct, lang
        """,
        "streaming_hudi_sink": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents GROUP BY lang
        """,
        "streaming_hudi_sink_partitioned": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents GROUP BY lang
        """,
        "hudi_mor_read": """
            WITH merged AS (
                SELECT doc_id, lang,
                       CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
                            ELSE n_chars END AS n_chars
                FROM documents WHERE doc_id % 13 <> 0
            )
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM merged GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM merged GROUP BY lang
        """,
        "hudi_changes_cdc": """
            SELECT 'update_postimage' AS change,
                   CAST(doc_id AS VARCHAR) AS change_key,
                   doc_id, lang,
                   CAST(n_chars + 1000 AS BIGINT) AS n_chars
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT 'delete', CAST(doc_id AS VARCHAR), doc_id,
                   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
            FROM documents WHERE doc_id % 13 = 0
        """,
        "hudi_rollback_roundtrip": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(CASE WHEN doc_id % 11 = 0
                                 THEN n_chars + 500
                                 ELSE n_chars END) AS BIGINT)
            FROM documents GROUP BY lang
        """,
        "hudi_log_format_read": """
            WITH merged AS (
                SELECT doc_id, lang,
                       CASE WHEN doc_id < 40 AND doc_id % 10 = 0
                              THEN n_chars + 700
                            WHEN doc_id < 40 AND doc_id % 5 = 0
                              THEN n_chars + 500
                            ELSE n_chars END AS n_chars
                FROM documents
                WHERE NOT (doc_id < 40 AND doc_id % 9 = 0)
            )
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM merged GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM merged GROUP BY lang
        """,
        "hudi_ordering_merge": """
            WITH eff AS (
                -- event-time winner per key: the %40 rebirth (written
                -- after the natural-order delete) carries evt 5; the
                -- %5 upsert (evt 1000) beats both the base row and
                -- the LATER commit's out-of-order %10 upsert (evt
                -- 900); elsewhere base
                SELECT doc_id, lang,
                       CASE WHEN doc_id < 40 AND doc_id % 40 = 0
                              THEN n_chars + 900
                            WHEN doc_id < 40 AND doc_id % 5 = 0
                              THEN n_chars + 500
                            ELSE n_chars END AS n_chars,
                       CASE WHEN doc_id < 40 AND doc_id % 40 = 0
                              THEN 5
                            WHEN doc_id < 40 AND doc_id % 5 = 0
                              THEN 1000
                            ELSE (doc_id % 7) * 100 END AS evt
                FROM documents
            ),
            live AS (
                -- natural-order deletes (null/0 orderingVal: %11==3,
                -- %20==0) apply unconditionally by commit order —
                -- only the %40 rebirth written after them survives;
                -- the @950 event-time delete kills winners whose
                -- evt < 950 (never the rebirth: that delete sits
                -- seq-before the sentinel that swallowed it)
                SELECT * FROM eff
                WHERE NOT (doc_id < 40 AND (
                          doc_id % 11 = 3
                       OR (doc_id % 20 = 0 AND doc_id % 40 <> 0)
                       OR (doc_id % 9 = 0 AND doc_id % 40 <> 0
                           AND evt < 950)))
            )
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(sum(evt) AS BIGINT) AS sum_evt
            FROM live GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT),
                   CAST(sum(evt) AS BIGINT)
            FROM live GROUP BY lang
        """,
        "sync_delta_iceberg_mirror": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
        """,
        "sync_iceberg_delta_mirror": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
        """,
        # the committed foreign fixtures' expected content IS the
        # oracle: literal rows, engine-independent
        "foreign_lakehouse_fixtures": (
            "SELECT * FROM (VALUES "
            + ", ".join(
                f"('{f}', CAST({i} AS BIGINT), '{t}', '{g}')"
                for f, i, t, g in _FOREIGN_ORACLE_ROWS
            )
            + ") v(fmt, id, txt, lang)"
        ),
        "convert_tables_roundtrip": """
            SELECT s.stage, d.lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(d.doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
            FROM documents d
            CROSS JOIN (SELECT unnest([0, 1, 2]) AS stage) s
            GROUP BY s.stage, d.lang
        """,
        "hudi_clean_roundtrip": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN doc_id % 5 = 0 THEN n_chars + 7
                                 ELSE n_chars END) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, '__removed__', 1, NULL
        """,
        "hudi_partitions": """
            SELECT 'lang=' || lang AS partition,
                   CAST(1 AS BIGINT) AS n_slices,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 'lang=zz', 1, 3
        """,
        "streaming_delta_source": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE doc_id % 3 = 2 GROUP BY lang
        """,
        "streaming_iceberg_source": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE doc_id % 3 = 2 GROUP BY lang
        """,
        "iceberg_retention": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents WHERE doc_id % 9 <> 0 GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents GROUP BY lang
        """,
        "iceberg_equality_delete": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM (
                SELECT doc_id, lang FROM documents WHERE doc_id % 6 <> 0
                UNION ALL
                SELECT doc_id, 'reborn' AS lang FROM documents
                WHERE doc_id % 12 = 0
            ) GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents GROUP BY lang
        """,
        "iceberg_gdpr_compose": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents
            WHERE doc_id % 6 <> 0
              AND NOT (lang = 'de' OR doc_id % 11 = 3)
            GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE doc_id % 6 <> 0 GROUP BY lang
        """,
        "delta_optimize_vacuum": """
            SELECT stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents, (SELECT unnest([0, 1]) AS stage)
            WHERE doc_id % 7 <> 0
            GROUP BY stage, lang
        """,
        "delta_restore_timestamp": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 2, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE doc_id % 5 <> 0 GROUP BY lang
        """,
        "delta_schema_evolution": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END)
                        AS BIGINT) AS n_evolved,
                   CAST(sum(CASE WHEN doc_id % 2 = 1
                                 THEN strlen(text) END)
                        AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
        """,
        "quality_quarantine_documents": """
            WITH t AS (
                SELECT doc_id,
                    concat_ws('|',
                        CASE WHEN lang IS NULL
                             THEN 'completeness:lang' END,
                        CASE WHEN NOT (lang IS NULL OR
                                       lang IN ('en', 'de', 'fr'))
                             THEN 'in_set:lang' END,
                        CASE WHEN NOT COALESCE(length(text) >= 50,
                                               FALSE)
                             THEN 'satisfies:text_min_50' END
                    ) AS failed_checks
                FROM documents
            )
            SELECT doc_id, failed_checks FROM t
            WHERE failed_checks <> ''
        """,
        "rolling_window_events": """
            SELECT user_id, event_id,
                   CAST(count(*) OVER w AS BIGINT) AS n_1h,
                   round(sum(value) OVER w, 4) AS sum_1h
            FROM (
                SELECT user_id, event_id,
                       epoch_ns(ts) // 1000000000 AS sec, value
                FROM events
            )
            WINDOW w AS (PARTITION BY user_id ORDER BY sec
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
        "table_diff_versions": """
            SELECT doc_id, 'removed' AS status
            FROM documents WHERE doc_id % 7 = 3
            UNION ALL
            SELECT doc_id, 'changed'
            FROM documents
            WHERE doc_id % 10 = 0 AND doc_id % 7 <> 3
              AND (text IS NULL OR text <> 'REDACTED')
            UNION ALL
            SELECT doc_id + 100000, 'added'
            FROM documents
            WHERE doc_id % 50 = 0 AND (doc_id + 100000) % 7 <> 3
        """,
        "iceberg_schema_evolution": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END)
                        AS BIGINT) AS n_evolved,
                   CAST(sum(CASE WHEN doc_id % 2 = 1
                                 THEN strlen(text) END)
                        AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
        """,
        "iceberg_mor_delete": """
            SELECT 0 AS stage, lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 1, lang,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(strlen(text)) AS BIGINT)
            FROM documents
            WHERE doc_id % 3 <> 0 AND lang <> 'de'
            GROUP BY lang
        """,
        "csv_roundtrip": """
            SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(strlen(text)) AS BIGINT) AS text_bytes,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents GROUP BY source
        """,
        "tpch_q2_min_cost_supplier": """
            WITH catalog AS (
              SELECT p.l_partkey, s.s_suppkey, s.s_name, s.s_acctbal,
                     n.n_name
              FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) p
              JOIN supplier s ON p.l_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'ASIA'
            )
            SELECT pt.p_partkey, pt.p_name, c.s_name,
                   c.n_name AS supp_nation,
                   round(c.s_acctbal, 2) AS s_acctbal
            FROM catalog c
            JOIN part pt ON c.l_partkey = pt.p_partkey
            WHERE pt.p_size < 5
              AND c.s_acctbal = (
                SELECT min(c2.s_acctbal) FROM catalog c2
                WHERE c2.l_partkey = c.l_partkey
              )
        """,
        "tpch_q11_important_parts": f"""
            WITH rev AS (
              SELECT l_partkey,
                     sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
                              AS DECIMAL(18,4))) AS part_rev
              FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey, CAST(part_rev AS DOUBLE) AS part_rev
            FROM rev
            WHERE part_rev > (
              SELECT CAST(sum(part_rev) * {Q11_SHARE}
                          AS DECIMAL(28,8)) FROM rev
            )
        """,
        "clean_text_documents": _clean_text_oracle(),
        "contrastive_negatives_documents": sessions_ops.contrastive_negatives_sql(
            "documents", "doc_id", NEG_K
        ),
        "lm_tiered_documents": f"""
            SELECT bin AS tier, n_rows AS n_docs, lo, hi
            FROM ({profile_ops.equidepth_bins_sql(
                "(SELECT doc_id, round(avg_logprob, 9) AS avg_logprob FROM ("
                + lm_fns.bigram_logprob_sql(
                    "documents", "text", "doc_id", ref_filter=LM_REF_FILTER
                )
                + "))",
                "avg_logprob", "doc_id", LM_TIERS,
            )})
        """,
        "bpe_merges_documents": bpe_fns.fit_bpe_sql(
            "documents", "text", BPE_MERGES
        ),
        "bpe_token_counts_documents": bpe_fns.bpe_token_counts_sql(
            "documents", "text", "doc_id", BPE_MERGES
        ),
        "weighted_sample_documents": f"""
            SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents
            WHERE {sessions_ops.probability_sample_where_sql(
                "strlen(text) / 800.0", "doc_id"
            )}
            GROUP BY source
        """,
        "cms_user_counts_events": sketches_fns.cms_estimate_sql(
            "events", "user_id", CMS_WIDTH, CMS_DEPTH
        ),
        "quality_checks_documents": __import__(
            "dataset_grouper_spark.operators.expectations",
            fromlist=["checks_sql"],
        ).checks_sql("documents", _documents_check_suite()),
        "hll_distinct_events": " UNION ALL ".join(
            f"SELECT '{key}' AS key, * FROM ({sketches_fns.hll_estimate_sql('events', key, ('event_type',), p=HLL_P)})"
            for key in ("user_id", "event_id")
        ),
        # KMV: kept hash sets reproduced bit-exactly via the shared
        # md5 idiom; per-type estimates, the union roll-up, and the
        # theta-rule intersection share one estimator expression shape
        # with the Spark side (exact below k, (k-1)/theta above).
        "kmv_distinct_events": f"""
            WITH hashes AS (
              SELECT DISTINCT event_type,
                     ('0x' || substr(md5('k' ||
                        CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
              FROM events
            ),
            bk AS (
              SELECT * FROM hashes
              QUALIFY row_number() OVER (
                PARTITION BY event_type ORDER BY h) <= {KMV_K}
            ),
            per AS (
              SELECT event_type AS scope,
                     CAST(count(*) AS BIGINT) AS n_hashes,
                     round_even(CASE WHEN count(*) < {KMV_K}
                       THEN CAST(count(*) AS DOUBLE)
                       ELSE {float(KMV_K - 1)} /
                            (CAST(max(h) AS DOUBLE) /
                             1152921504606846976.0)
                     END, 4) AS est
              FROM bk GROUP BY event_type
            ),
            uh AS (SELECT DISTINCT h FROM bk),
            ubk AS (
              SELECT h FROM uh
              QUALIFY row_number() OVER (ORDER BY h) <= {KMV_K}
            ),
            un AS (
              SELECT '__union__' AS scope,
                     CAST(count(*) AS BIGINT) AS n_hashes,
                     round_even(CASE WHEN count(*) < {KMV_K}
                       THEN CAST(count(*) AS DOUBLE)
                       ELSE {float(KMV_K - 1)} /
                            (CAST(max(h) AS DOUBLE) /
                             1152921504606846976.0)
                     END, 4) AS est
              FROM ubk
            ),
            ca AS (SELECT h FROM bk WHERE event_type = 'click'),
            vb AS (SELECT h FROM bk WHERE event_type = 'view'),
            iagg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_union,
                     CAST(sum(CASE WHEN ca.h IS NOT NULL
                                    AND vb.h IS NOT NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS matched,
                     max(u.h) AS kth
              FROM ubk u
              LEFT JOIN ca ON ca.h = u.h
              LEFT JOIN vb ON vb.h = u.h
            ),
            inter AS (
              SELECT 'click&view' AS scope,
                     matched AS n_hashes,
                     round_even(
                       (CAST(matched AS DOUBLE) /
                        CAST(n_union AS DOUBLE)) *
                       (CASE WHEN n_union < {KMV_K}
                          THEN CAST(n_union AS DOUBLE)
                          ELSE {float(KMV_K - 1)} /
                               (CAST(kth AS DOUBLE) /
                                1152921504606846976.0)
                        END), 4) AS est
              FROM iagg
            )
            SELECT * FROM per
            UNION ALL SELECT * FROM un
            UNION ALL SELECT * FROM inter
        """,
        "matview_refresh_documents": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS num_examples,
                   CAST(sum(strlen(text)) AS BIGINT) AS num_bytes,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents GROUP BY source
        """,
        "streaming_matview_sums": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS num_examples,
                   CAST(sum(strlen(text)) AS BIGINT) AS num_bytes,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents GROUP BY source
        """,
        "drift_documents": profile_ops.distribution_drift_sql(
            "SELECT * FROM documents WHERE doc_id % 2 = 0",
            "SELECT * FROM documents WHERE doc_id % 3 = 0",
            "source",
        ),
        "lm_score_documents": lm_fns.bigram_logprob_sql(
            "documents", "text", "doc_id", ref_filter=LM_REF_FILTER
        ),
        "equidepth_events": profile_ops.equidepth_bins_sql(
            "events", "value", "event_id", ED_BINS
        ),
        "vocab_index_documents": vocab.vocabulary_index_sql(
            "(SELECT unnest(string_split(regexp_replace("
            "coalesce(text, ''), '^\\s+|\\s+$', '', 'g'), ' ')) AS tok"
            " FROM documents)",
            "tok",
        ),
        "scd2_user_events": scd_ops.scd2_from_changes_sql(
            "SELECT user_id, event_type, epoch_ns(ts) AS ts, event_id"
            " FROM events",
            "user_id", ["event_type"], "ts",
            order_exprs=["event_id"],
        ),
        # the apply==rebuild law: the incremental path's oracle is the
        # full rebuild over old ∪ new
        "scd2_apply_events": scd_ops.scd2_from_changes_sql(
            "SELECT user_id, event_type, epoch_ns(ts) AS ts, event_id"
            " FROM events",
            "user_id", ["event_type"], "ts",
            order_exprs=["event_id"],
        ),
        "spatial_radius_pairs": spatial_ops.radius_pairs_sql(
            f"SELECT c_custkey AS id, {_LAT_EXPR_SQL} AS lat,"
            f" {_LON_EXPR_SQL} AS lon FROM customer",
            "id", "lat", "lon", SPATIAL_RADIUS_KM,
        ),
        "entity_match_customers": linkage_ops.match_pairs_sql(
            "customer", "c_custkey", "c_name",
            _CUSTOMER_BLOCKS_SQL, ER_MAX_DIST,
            max_block_size=ER_MAX_BLOCK,
        ),
        "entity_clusters_customers": f"""
            WITH RECURSIVE m AS (
              SELECT id_a, id_b FROM ({linkage_ops.match_pairs_sql(
                "customer", "c_custkey", "c_name",
                _CUSTOMER_BLOCKS_SQL, ER_MAX_DIST,
                max_block_size=ER_MAX_BLOCK,
              )})
            ),
            e AS (
              SELECT id_a AS a, id_b AS b FROM m
              UNION SELECT id_b, id_a FROM m
            ),
            reach(id, lbl) AS (
              SELECT a, a FROM e
              UNION
              SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
            ),
            comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)
            SELECT c.c_custkey AS record_id,
                   COALESCE(p.component, c.c_custkey) AS entity_id
            FROM customer c LEFT JOIN comp p ON p.id = c.c_custkey
        """,
        "triangle_suppliers": f"""
            SELECT node AS supp, triangles, degree, clustering
            FROM ({graph_ops.triangle_counts_sql(
                _supplier_knn_edges_sql(), "src", "dst"
            )})
        """,
        "bfs_suppliers": f"""
            SELECT node AS supp, dist
            FROM ({graph_ops.bfs_distances_sql(
                _supplier_knn_edges_sql(), "src", "dst",
                BFS_SOURCE, BFS_MAX_HOPS
            )})
        """,
        "pagerank_partsupp": graph_ops.pagerank_sql(
            f"SELECT DISTINCT l_partkey AS src, "
            f"l_suppkey + {PR_SUPP_OFFSET} AS dst FROM lineitem",
            "src", "dst", iterations=PR_ITERATIONS, damping=PR_DAMPING,
        ),
        "chunk_sliding_documents": chunking.chunk_sliding_sql(
            "documents", "text", "doc_id", RAG_WINDOW, RAG_STRIDE
        ),
        "temperature_mix_documents": f"""
            SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM ({sessions_ops.temperature_mix_sql(
                "documents", "source", "doc_id", MIX_TEMPERATURE
            )}) GROUP BY source
        """,
        "snapshot_time_travel": """
            WITH v1 AS (
              SELECT doc_id, text FROM documents
            ), v2 AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 = 0
                          THEN 'UPD:' || text ELSE text END AS text
              FROM documents
            ), v3 AS (
              SELECT * FROM v2 WHERE doc_id % 7 <> 0
            )
            SELECT 1 AS version,
                   CAST(count(*) AS BIGINT) AS num_examples,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(('0x' || substr(md5(text), 1, 9))::BIGINT)
                        AS BIGINT) AS text_checksum
            FROM v1
            UNION ALL
            SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(('0x' || substr(md5(text), 1, 9))::BIGINT)
                        AS BIGINT)
            FROM v2
            UNION ALL
            SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
                   CAST(sum(('0x' || substr(md5(text), 1, 9))::BIGINT)
                        AS BIGINT)
            FROM v3
        """,
        "tpch_q9_product_profit": """
            SELECT n.n_name AS nation,
                   year(o.o_orderdate) AS o_year,
                   CAST(sum(CAST(round(
                       l.l_extendedprice * (1 - l.l_discount)
                       - 0.1 * p.p_retailprice * l.l_quantity, 4)
                     AS DECIMAL(18,4))) AS DOUBLE) AS profit
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE p.p_name LIKE '%bolt%'
            GROUP BY 1, 2
        """,
        "tpch_q20_excess_suppliers": """
            WITH pairs AS (
              SELECT l_partkey, l_suppkey,
                     sum(CASE WHEN year(l_shipdate) = 1996
                              THEN l_quantity ELSE 0 END) AS qty_96,
                     sum(l_quantity) AS qty_total
              FROM lineitem GROUP BY 1, 2
            ), excess AS (
              SELECT pr.l_suppkey FROM pairs pr
              JOIN part p ON p.p_partkey = pr.l_partkey
              WHERE p.p_name LIKE 'small%'
                AND pr.qty_96 > 0.5 * pr.qty_total
            )
            SELECT s.s_suppkey, s.s_name
            FROM supplier s
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey
            WHERE r.r_name = 'ASIA'
              AND EXISTS (SELECT 1 FROM excess e
                          WHERE e.l_suppkey = s.s_suppkey)
        """,
        "unpivot_lang_counts": """
            WITH langs AS (
              SELECT * FROM (VALUES ('de'), ('en'), ('es'), ('fr'), ('zh'))
                AS t(lang)
            )
            SELECT s.source, l.lang,
                   CAST(count(d.doc_id) AS BIGINT) AS n
            FROM (SELECT DISTINCT source FROM documents) s
            CROSS JOIN langs l
            LEFT JOIN documents d
              ON d.source = s.source AND d.lang = l.lang
            GROUP BY s.source, l.lang
        """,
        "docs_except_intersect": """
            SELECT 'long_not_en' AS side,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM (
              SELECT doc_id FROM documents WHERE n_chars >= 200
              EXCEPT ALL
              SELECT doc_id FROM documents WHERE lang = 'en'
            )
            UNION ALL
            SELECT 'long_and_en' AS side,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM (
              SELECT doc_id FROM documents WHERE n_chars >= 200
              INTERSECT
              SELECT doc_id FROM documents WHERE lang = 'en'
            )
        """,
        "tpch_q8_market_share": """
            WITH j AS (
              SELECT year(o.o_orderdate) AS o_year,
                     CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
                          AS DECIMAL(18,4)) AS vol,
                     sn.n_name AS supp_nation
              FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation cn ON c.c_nationkey = cn.n_nationkey
              JOIN region r ON cn.n_regionkey = r.r_regionkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation sn ON s.s_nationkey = sn.n_nationkey
              WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
            )
            SELECT CAST(o_year AS INT) AS o_year,
                   round(CAST(
                     sum(CASE WHEN supp_nation = 'NATION_3'
                              THEN vol ELSE CAST(0 AS DECIMAL(18,4)) END)
                     / sum(vol) AS DOUBLE), 6) AS mkt_share,
                   CAST(sum(vol) AS DOUBLE) AS total_volume
            FROM j GROUP BY o_year
        """,
        "tpch_q12_priority_shipping": """
            SELECT l.l_linestatus,
                   CAST(sum(CASE WHEN o.o_orderpriority
                                      IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS high_line_count,
                   CAST(sum(CASE WHEN o.o_orderpriority
                                      NOT IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS low_line_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l.l_linestatus
        """,
        "pivot_lang_by_source": """
            SELECT source,
                   CAST(count(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT)
                     AS n_de,
                   CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT)
                     AS n_en,
                   CAST(count(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT)
                     AS n_es,
                   CAST(count(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT)
                     AS n_fr,
                   CAST(count(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT)
                     AS n_zh
            FROM documents GROUP BY source
        """,
        "tpch_q13_customer_distribution": """
            WITH c_orders AS (
              SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c
              LEFT OUTER JOIN orders o
                ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority NOT LIKE '%URGENT%'
              GROUP BY c.c_custkey
            )
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM c_orders GROUP BY c_count
        """,
        "tpch_q15_top_supplier": """
            WITH revenue AS (
              SELECT l_suppkey AS supplier_no,
                     sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
                              AS DECIMAL(18,4))) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY 1
            )
            SELECT s.s_suppkey, s.s_name,
                   CAST(r.total_revenue AS DOUBLE) AS total_revenue
            FROM supplier s
            JOIN revenue r ON s.s_suppkey = r.supplier_no
            WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
        """,
        "embedding_centroids": """
            WITH comps AS (
              SELECT e.label, p.pos,
                     list_extract(e.embedding, p.pos + 1) AS val
              FROM embeddings e
              CROSS JOIN (VALUES (0), (63)) p(pos)
            )
            SELECT label, CAST(pos AS INT) AS pos,
                   CAST(count(*) AS BIGINT) AS n_vectors,
                   round(avg(CAST(val AS DOUBLE)), 6) AS centroid
            FROM comps
            GROUP BY label, pos
        """,
        "tpch_q21_waiting_supplier": """
            SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM lineitem l1
            JOIN orders o ON o.o_orderkey = l1.l_orderkey
            JOIN supplier s ON s.s_suppkey = l1.l_suppkey
            WHERE o.o_orderstatus = 'F'
              AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              AND EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey
              )
              AND NOT EXISTS (
                SELECT 1 FROM lineitem l3
                JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
                  AND o3.o_orderstatus = 'F'
                  AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
              )
            GROUP BY s.s_name
            ORDER BY numwait DESC, s.s_name
            LIMIT 10
        """,
        "tpch_q22_global_sales": f"""
            WITH base AS (
              SELECT * FROM customer
              WHERE c_nationkey IN {Q22_CODES}
            ), a AS (
              SELECT avg(c_acctbal) AS ab FROM base WHERE c_acctbal > 0.0
            )
            SELECT c_nationkey AS cntrycode,
                   CAST(count(*) AS BIGINT) AS numcust,
                   CAST(sum(CAST(round(c_acctbal, 2) AS DECIMAL(18,2)))
                        AS DOUBLE) AS totacctbal
            FROM base, a
            WHERE c_acctbal > a.ab
              AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = base.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1999-01-01'
              )
            GROUP BY 1
        """,
        "tpch_q16_supplier_cnt": """
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_size IN (1, 4, 7, 10, 15, 23, 45, 50)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
              )
            GROUP BY p_brand, p_type, p_size
        """,
        # sessionize twin of Spark's session_window (merge while the
        # next event is < gap after the last; session end = last + gap)
        # restricted to sessions emitted by append mode: end <= final
        # watermark (max event time - delay)
        "streaming_session_windows": """
            WITH pts AS (
              SELECT CAST(user_id AS VARCHAR) AS group_id,
                     epoch_us(ts) AS tus
              FROM events
            ), flagged AS (
              SELECT group_id, tus,
                     CASE WHEN lag(tus) OVER w IS NULL
                          OR tus - lag(tus) OVER w >= 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM pts
              WINDOW w AS (PARTITION BY group_id ORDER BY tus)
            ), sess AS (
              SELECT group_id, tus,
                     sum(new_s) OVER (PARTITION BY group_id ORDER BY tus
                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged
            )
            SELECT group_id,
                   min(tus) AS session_start_us,
                   max(tus) + 1800000000 AS session_end_us,
                   count(*) AS num_examples
            FROM sess
            GROUP BY group_id, sid
            HAVING max(tus) + 1800000000 <=
                   (SELECT max(epoch_us(ts)) - 3600000000 FROM events)
        """,
        # recursive-CTE walk of the sequential byte-cap admission rule
        # (dropped rows consume no budget — NOT a prefix cumsum)
        "streaming_stateful_counts": f"""
            WITH RECURSIVE ordered AS (
              SELECT event_type AS group_id,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY event_id) AS rn,
                     strlen(props) AS sz
              FROM events WHERE event_id % 37 = 0
            ), walk AS (
              SELECT group_id, 0 AS rn, CAST(0 AS BIGINT) AS admitted,
                     CAST(0 AS BIGINT) AS admitted_bytes,
                     CAST(0 AS BIGINT) AS dropped
              FROM (SELECT DISTINCT group_id FROM ordered)
              UNION ALL
              SELECT w.group_id, w.rn + 1,
                     w.admitted + CASE WHEN w.admitted_bytes + o.sz
                       < {STREAM_CAP_LIMIT} THEN 1 ELSE 0 END,
                     w.admitted_bytes + CASE WHEN w.admitted_bytes + o.sz
                       < {STREAM_CAP_LIMIT} THEN o.sz ELSE 0 END,
                     w.dropped + CASE WHEN w.admitted_bytes + o.sz
                       < {STREAM_CAP_LIMIT} THEN 0 ELSE 1 END
              FROM walk w
              JOIN ordered o ON o.group_id = w.group_id AND o.rn = w.rn + 1
            ), finals AS (
              SELECT group_id, max(rn) AS maxrn FROM ordered GROUP BY group_id
            )
            SELECT w.group_id, w.admitted, w.admitted_bytes, w.dropped
            FROM walk w
            JOIN finals f ON w.group_id = f.group_id AND w.rn = f.maxrn
        """,
        # the kept set of a never-expiring streaming dedup is exactly
        # the distinct content set
        "streaming_dedup_distinct": "SELECT DISTINCT props FROM events",
        # closed-form twin of the thumbnail-embedding path: gray(y,x) =
        # channel mean of the nearest-neighbor 4x4 thumbnail of the
        # synthesized gradient; components = gray / l2-norm
        "multimodal_embed_pixels": """
            WITH px AS (
              SELECT d.doc_id, y.y AS y, x.x AS x,
                     (((x.x * (4 + d.doc_id % 13)) // 4) * 7
                      + ((y.y * (4 + d.doc_id % 11)) // 4) * 13
                      + d.doc_id * 3 + c.c * 37) % 256 AS v
              FROM documents d,
                   generate_series(0, 3) y(y),
                   generate_series(0, 3) x(x),
                   generate_series(0, 2) c(c)
            ), gray AS (
              SELECT doc_id, y, x, avg(v) AS g FROM px GROUP BY doc_id, y, x
            ), nrm AS (
              SELECT doc_id, sqrt(sum(g * g)) AS n FROM gray GROUP BY doc_id
            )
            SELECT g.doc_id AS id,
                   round(max(CASE WHEN g.y = 0 AND g.x = 0 THEN g.g END)
                         / any_value(n.n), 3) AS e00,
                   round(max(CASE WHEN g.y = 3 AND g.x = 3 THEN g.g END)
                         / any_value(n.n), 3) AS e33
            FROM gray g JOIN nrm n USING (doc_id)
            GROUP BY g.doc_id
        """,
        # closed-form twin of the nearest-neighbor resize: source pixel
        # for output (y,x) is ((y*h_in)//8, (x*w_in)//8); value formula
        # mirrors the Spark-side synthesis; weight = 1 + flat_idx % 97
        "multimodal_resize_pixels": """
            WITH px AS (
              SELECT d.doc_id,
                     (((x.x * (4 + d.doc_id % 13)) // 8) * 7
                      + ((y.y * (4 + d.doc_id % 11)) // 8) * 13
                      + d.doc_id * 3 + c.c * 37) % 256 AS v,
                     1 + ((y.y * 8 + x.x) * 3 + c.c) % 97 AS wgt
              FROM documents d,
                   generate_series(0, 7) y(y),
                   generate_series(0, 7) x(x),
                   generate_series(0, 2) c(c)
            )
            SELECT doc_id AS id,
                   CAST(8 AS INT) AS width,
                   CAST(8 AS INT) AS height,
                   CAST(sum(v) AS BIGINT) AS pixel_sum,
                   CAST(sum(v * wgt) AS BIGINT) AS checksum,
                   CAST(246 AS INT) AS n_bytes
            FROM px GROUP BY doc_id
        """,
        # GIF twin: regenerate the per-frame gradient rasters in closed
        # form (dims (4+d%9, 4+d%7), 2+d%2 frames, idx = (x*5 + y*11 +
        # 3d + 17f) mod 256, palette channel c: idx, 3*idx mod 256,
        # 7*idx mod 256; weight 1 + flat_idx % 97 — see
        # _gradient_gif_frame / gif_frame_pixels).
        "multimodal_gif_pixels": """
            WITH fr AS (
              SELECT d.doc_id, f.f,
                     4 + d.doc_id % 9 AS w,
                     4 + d.doc_id % 7 AS h
              FROM documents d
              JOIN generate_series(0, 2) f(f) ON f.f < 2 + d.doc_id % 2
            ), px AS (
              SELECT fr.doc_id, fr.f, fr.w, fr.h,
                     (x.x * 5 + y.y * 11 + fr.doc_id * 3
                      + fr.f * 17) % 256 AS idx,
                     1 + ((y.y * fr.w + x.x) * 3 + c.c) % 97 AS wgt,
                     c.c AS c
              FROM fr
              JOIN generate_series(0, 12) x(x) ON x.x < fr.w
              JOIN generate_series(0, 10) y(y) ON y.y < fr.h
              CROSS JOIN generate_series(0, 2) c(c)
            ), v AS (
              SELECT doc_id, f, w, h, wgt,
                     CASE c WHEN 0 THEN idx
                            WHEN 1 THEN (idx * 3) % 256
                            ELSE (idx * 7) % 256 END AS v
              FROM px
            )
            SELECT doc_id AS id,
                   CAST(f AS INT) AS frame,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(sum(v) AS BIGINT) AS pixel_sum,
                   CAST(sum(v * wgt) AS BIGINT) AS checksum
            FROM v GROUP BY doc_id, f, w, h
        """,
        # WebP twin: VP8L is LOSSLESS, so the decoded raster IS the
        # generating gradient — regenerate and roll up.
        "multimodal_webp_pixels": """
            WITH g AS (
              SELECT d.doc_id,
                     5 + d.doc_id % 6 AS w,
                     4 + d.doc_id % 5 AS h
              FROM documents d
            ), px AS (
              SELECT g.doc_id, g.w, g.h,
                     (x.x * 11 + y.y * 19 + c.c * 41 + g.doc_id * 7) % 256
                       AS v,
                     1 + ((y.y * g.w + x.x) * 3 + c.c) % 97 AS wgt
              FROM g
              JOIN generate_series(0, 10) x(x) ON x.x < g.w
              JOIN generate_series(0, 8) y(y) ON y.y < g.h
              CROSS JOIN generate_series(0, 2) c(c)
            )
            SELECT doc_id AS id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(sum(v) AS BIGINT) AS pixel_sum,
                   CAST(sum(v * wgt) AS BIGINT) AS checksum
            FROM px GROUP BY doc_id, w, h
        """,
        # JPEG twin: regenerate the decoded RGB in closed form — Y per
        # 8x8 luma block, Cb/Cr per 16x16 macroblock (see
        # _jpeg_mosaic_frame), through the SAME libjpeg fixed-point
        # integer YCbCr->RGB conversion the decoder uses (floor
        # semantics; jpeg._ycbcr_to_rgb_fixed).
        "multimodal_jpeg_pixels": """
            WITH g AS (
              SELECT d.doc_id,
                     16 * (1 + d.doc_id % 3) AS w,
                     16 * (1 + d.doc_id % 2) AS h
              FROM documents d
            ), px AS (
              SELECT g.doc_id, g.w, g.h, x.x AS x, y.y AS y,
                     ((x.x // 8) * 31 + (y.y // 8) * 17
                      + 3 * g.doc_id) % 256 AS yv,
                     ((x.x // 16) * 23 + (y.y // 16) * 29
                      + 5 * g.doc_id) % 256 AS cbv,
                     ((x.x // 16) * 13 + (y.y // 16) * 37
                      + 7 * g.doc_id) % 256 AS crv
              FROM g
              JOIN generate_series(0, 47) x(x) ON x.x < g.w
              JOIN generate_series(0, 31) y(y) ON y.y < g.h
            ), rgb AS (
              SELECT doc_id, w, h, x, y,
                     greatest(0, least(255, yv + CAST(floor(
                       (91881 * (crv - 128) + 32768) / 65536.0
                     ) AS BIGINT))) AS r,
                     greatest(0, least(255, yv - CAST(floor(
                       (22554 * (cbv - 128) + 46802 * (crv - 128)
                        + 32768) / 65536.0
                     ) AS BIGINT))) AS gg,
                     greatest(0, least(255, yv + CAST(floor(
                       (116130 * (cbv - 128) + 32768) / 65536.0
                     ) AS BIGINT))) AS b
              FROM px
            ), v AS (
              SELECT doc_id, w, h,
                     CASE c.c WHEN 0 THEN r WHEN 1 THEN gg ELSE b END AS v,
                     1 + ((y * w + x) * 3 + c.c) % 97 AS wgt
              FROM rgb CROSS JOIN generate_series(0, 2) c(c)
            )
            SELECT doc_id AS id,
                   CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(sum(v) AS BIGINT) AS pixel_sum,
                   CAST(sum(v * wgt) AS BIGINT) AS checksum
            FROM v GROUP BY doc_id, w, h
        """,
        "multimodal_resize_png": """
            WITH px AS (
              SELECT d.doc_id,
                     (((x.x * (4 + d.doc_id % 13)) // 8) * 7
                      + ((y.y * (4 + d.doc_id % 11)) // 8) * 13
                      + d.doc_id * 3 + c.c * 37) % 256 AS v,
                     1 + ((y.y * 8 + x.x) * 3 + c.c) % 97 AS wgt
              FROM documents d,
                   generate_series(0, 7) y(y),
                   generate_series(0, 7) x(x),
                   generate_series(0, 2) c(c)
            )
            SELECT doc_id AS id,
                   CAST(8 AS INT) AS width,
                   CAST(8 AS INT) AS height,
                   CAST(sum(v) AS BIGINT) AS pixel_sum,
                   CAST(sum(v * wgt) AS BIGINT) AS checksum
            FROM px GROUP BY doc_id
        """,
        # video twin: regenerate the sampled frames' gradient rasters
        # (frames f with f%2=0 of 2 + d%5; dims (4+d%5, 3+d%3); value
        # (x*7 + y*13 + d*3 + f*29 + c*37) % 256; weight
        # 1 + flat_idx % 97 — see _ppm_video_frame).
        "video_frame_sample": """
            WITH fr AS (
              SELECT d.doc_id, f.f,
                     4 + d.doc_id % 5 AS w,
                     3 + d.doc_id % 3 AS h
              FROM documents d
              JOIN generate_series(0, 6) f(f)
                ON f.f < 2 + d.doc_id % 5 AND f.f % 2 = 0
            ), px AS (
              SELECT fr.doc_id, fr.f, fr.w, fr.h,
                     (x.x * 7 + y.y * 13 + fr.doc_id * 3
                      + fr.f * 29 + c.c * 37) % 256 AS v,
                     1 + ((y.y * fr.w + x.x) * 3 + c.c) % 97 AS wgt
              FROM fr
              JOIN generate_series(0, 8) x(x) ON x.x < fr.w
              JOIN generate_series(0, 5) y(y) ON y.y < fr.h
              CROSS JOIN generate_series(0, 2) c(c)
            )
            SELECT doc_id AS id,
                   CAST(f AS INT) AS frame_idx,
                   CAST(any_value(w) AS INT) AS width,
                   CAST(any_value(h) AS INT) AS height,
                   CAST(sum(v) AS BIGINT) AS pixel_sum,
                   CAST(sum(v * wgt) AS BIGINT) AS checksum
            FROM px GROUP BY doc_id, f
        """,
        "approx_distinct_users": """
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                   TRUE AS within_bound
            FROM events GROUP BY event_type
        """,
        "group_entropy_events": """
            WITH s AS (
              SELECT user_id, count(*) AS n FROM events GROUP BY user_id
            ), t AS (SELECT sum(n) AS tot FROM s)
            SELECT CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(sum(n) AS BIGINT) AS n_rows,
                   round(-sum((n / tot) * ln(n / tot)), 6)
                     AS entropy_nats,
                   round(max(n) / any_value(tot), 6) AS top_share
            FROM s, t
        """,
        "gif_frame_meta": """
            SELECT doc_id AS id,
                   CAST(4 + doc_id % 3 AS INT) AS width,
                   CAST(3 + doc_id % 2 AS INT) AS height,
                   CAST(1 + doc_id % 4 AS INT) AS n_frames,
                   CAST(CASE WHEN doc_id % 2 = 1 THEN 1 + doc_id % 4
                             ELSE 0 END AS INT) AS n_extensions,
                   TRUE AS complete
            FROM documents
        """,
        # audio twins: regenerate the closed-form waveform
        # (v_i = ((d*31 + i*17) % 4001) - 2000 over 64 + d%57 frames at
        # 8000 + (d%5)*1000 Hz — see _wav_frame) and recompute the
        # exact integer features the decoder must reproduce.
        "audio_features_wav": """
            WITH s AS (
              SELECT d.doc_id, i.i,
                     ((d.doc_id * 31 + i.i * 17) % 4001) - 2000 AS v
              FROM documents d
              JOIN generate_series(0, 120) i(i)
                ON i.i < 64 + d.doc_id % 57
            ), f AS (
              SELECT doc_id, i, v,
                     lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
              FROM s
            )
            SELECT doc_id AS id,
                   CAST(1 AS INT) AS channels,
                   CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
                   CAST(16 AS INT) AS bits,
                   CAST(count(*) AS BIGINT) AS n_frames,
                   CAST(count(*) * 1000
                        // (8000 + (doc_id % 5) * 1000) AS BIGINT)
                     AS duration_ms,
                   CAST(max(abs(v)) AS BIGINT) AS peak,
                   CAST(sum(v * v) AS BIGINT) AS sum_sq,
                   CAST(sum(CASE WHEN pv IS NOT NULL
                                  AND ((v >= 0) != (pv >= 0))
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS zero_crossings
            FROM f GROUP BY doc_id
        """,
        "audio_adpcm_features": oracles.adpcm_features_sql(
            "documents", "doc_id", ADPCM_NIBS, ADPCM_RATE
        ),
        # G.711: decode the fixture's code bytes with the spec's
        # integer expansion spelled directly in SQL.  mu-law (even
        # doc_id): c = 255-u, v = ±(((c%16)*8 + 132) << ((c//16)%8))
        # ∓ 132 with c>=128 negative.  A-law (odd): c = xor(u,85),
        # seg 0 → m*16+8, seg 1 → m*16+264, else (m*16+264)<<(seg-1),
        # c>=128 POSITIVE (A-law's inverted sign convention).
        "audio_g711_features": f"""
            WITH s AS (
              SELECT d.doc_id, i.i,
                     (d.doc_id * 7 + i.i * 13) % 256 AS u
              FROM documents d
              JOIN generate_series(0, 88) i(i)
                ON i.i < 48 + d.doc_id % 41
            ), dec AS (
              SELECT doc_id, i,
                CASE WHEN doc_id % 2 = 0 THEN
                  CASE WHEN (255 - u) >= 128
                    THEN 132 - ((((255 - u) % 16) * 8 + 132)
                                 << (((255 - u) // 16) % 8))
                    ELSE ((((255 - u) % 16) * 8 + 132)
                           << (((255 - u) // 16) % 8)) - 132
                  END
                ELSE
                  (CASE WHEN xor(u, 85) >= 128 THEN 1 ELSE -1 END) *
                  (CASE (xor(u, 85) // 16) % 8
                     WHEN 0 THEN (xor(u, 85) % 16) * 16 + 8
                     WHEN 1 THEN (xor(u, 85) % 16) * 16 + 264
                     ELSE ((xor(u, 85) % 16) * 16 + 264)
                          << ((xor(u, 85) // 16) % 8 - 1)
                   END)
                END AS v
              FROM s
            ), f AS (
              SELECT doc_id, i, v,
                     lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
              FROM dec
            )
            SELECT doc_id AS id,
                   CAST(1 AS INT) AS channels,
                   CAST({G711_RATE} AS INT) AS sample_rate,
                   CAST(8 AS INT) AS bits,
                   CAST(count(*) AS BIGINT) AS n_frames,
                   CAST(count(*) * 1000 // {G711_RATE} AS BIGINT)
                     AS duration_ms,
                   CAST(max(abs(v)) AS BIGINT) AS peak,
                   CAST(sum(v * v) AS BIGINT) AS sum_sq,
                   CAST(sum(CASE WHEN pv IS NOT NULL
                                  AND ((v >= 0) != (pv >= 0))
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS zero_crossings
            FROM f GROUP BY doc_id
        """,
        # FLAC is lossless over the same waveform formula, so its twin
        # IS the WAV features twin
        "audio_flac_features": """
            WITH s AS (
              SELECT d.doc_id, i.i,
                     ((d.doc_id * 31 + i.i * 17) % 4001) - 2000 AS v
              FROM documents d
              JOIN generate_series(0, 120) i(i)
                ON i.i < 64 + d.doc_id % 57
            ), f AS (
              SELECT doc_id, i, v,
                     lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
              FROM s
            )
            SELECT doc_id AS id,
                   CAST(1 AS INT) AS channels,
                   CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
                   CAST(16 AS INT) AS bits,
                   CAST(count(*) AS BIGINT) AS n_frames,
                   CAST(count(*) * 1000
                        // (8000 + (doc_id % 5) * 1000) AS BIGINT)
                     AS duration_ms,
                   CAST(max(abs(v)) AS BIGINT) AS peak,
                   CAST(sum(v * v) AS BIGINT) AS sum_sq,
                   CAST(sum(CASE WHEN pv IS NOT NULL
                                  AND ((v >= 0) != (pv >= 0))
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS zero_crossings
            FROM f GROUP BY doc_id
        """,
        "audio_frame_energy": f"""
            WITH s AS (
              SELECT d.doc_id, i.i,
                     ((d.doc_id * 31 + i.i * 17) % 4001) - 2000 AS v
              FROM documents d
              JOIN generate_series(0, 120) i(i)
                ON i.i < 64 + d.doc_id % 57
            )
            SELECT doc_id AS id,
                   CAST(i // {AUDIO_FRAME_LEN} AS INT) AS frame_idx,
                   CAST(count(*) AS INT) AS n_samples,
                   CAST(sum(v * v) AS BIGINT) AS energy,
                   CAST(max(abs(v)) AS BIGINT) AS peak
            FROM s GROUP BY doc_id, i // {AUDIO_FRAME_LEN}
        """,
        "audio_resample_wav": f"""
            WITH p AS (
              SELECT doc_id,
                     64 + doc_id % 57 AS n_in,
                     ((64 + doc_id % 57) * {AUDIO_OUT_RATE})
                       // (8000 + (doc_id % 5) * 1000) AS n_out
              FROM documents
            ), s AS (
              SELECT p.doc_id,
                     ((p.doc_id * 31
                       + ((j.j * p.n_in) // p.n_out) * 17) % 4001) - 2000
                       AS v
              FROM p
              JOIN generate_series(0, 120) j(j) ON j.j < p.n_out
            )
            SELECT doc_id AS id,
                   CAST({AUDIO_OUT_RATE} AS INT) AS sample_rate,
                   CAST(count(*) AS BIGINT) AS n_frames,
                   CAST(sum(v * v) AS BIGINT) AS sum_sq
            FROM s GROUP BY doc_id
        """,
        "embedding_cosine_pairs": f"""
            WITH n AS (
              SELECT vec_id AS _id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings
            ), m AS (
              SELECT _id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n
            )
            SELECT x._id AS id_a, y._id AS id_b,
                   round_even(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6)
                     AS cosine
            FROM m x JOIN m y ON x._id < y._id
            WHERE round_even(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6)
                  >= {COSINE_PAIR_T}
        """,
        # partitioned_roundtrip / tfrecord_roundtrip / group_stream:
        # filesystem-lifecycle operators: the side effects are not
        # SQL-expressible, but the read-back RESULTS are — the roundtrip
        # must preserve per-group counts/content exactly (group_stream's
        # seeded shuffle is md5-derived, so even its cohort order has a
        # SQL twin; only approx_distinct remains rows-only — an
        # engine-specific sketch has no DuckDB twin).
        "tfrecord_roundtrip": """
            SELECT CAST(count(*) AS BIGINT) AS examples_in_group
            FROM documents GROUP BY source
        """,
        "tfrecord_gzip_roundtrip": """
            SELECT CAST(count(*) AS BIGINT) AS examples_in_group
            FROM documents GROUP BY source
        """,
        "partitioned_roundtrip": """
            SELECT source AS group_id,
                   CAST(count(*) AS BIGINT) AS num_examples
            FROM documents GROUP BY source
        """,
        # compaction contract: every row survives write+append+compact,
        # the rebuilt index agrees, and each group holds exactly
        # ceil(count/target) physical files
        "compaction_roundtrip": f"""
            SELECT source AS group_id,
                   CAST(count(*) AS BIGINT) AS num_examples,
                   CAST(ceil(count(*) / {CMP_TARGET_ROWS}.0) AS BIGINT)
                     AS n_files
            FROM documents GROUP BY source
        """,
        "chunk_tokens_documents": chunking.chunk_tokens_sql(
            "documents", "text", "doc_id", "source", CHUNK_LEN
        ),
        "pack_sequences_documents": chunking.pack_doc_sequences_sql(
            "documents", "text", "doc_id", "source", SEQ_BUDGET
        ),
        "sessionize_events": f"""
            WITH flagged AS (
              SELECT user_id, epoch_us(ts) AS tus,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                            (PARTITION BY user_id ORDER BY epoch_us(ts))
                            > {SESSION_GAP_US}
                          THEN 1 ELSE 0 END AS new_s
              FROM events
            ), sess AS (
              SELECT user_id, tus,
                     CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   CAST(max(tus) - min(tus) AS BIGINT) AS duration,
                   CAST(min(tus) AS BIGINT) AS t_first,
                   CAST(max(tus) AS BIGINT) AS t_last
            FROM sess GROUP BY user_id, session_id
        """,
        "repetition_documents": textanalysis.repetition_sql(
            "documents", "text", "doc_id", 2
        ),
        "text_hashed_cosine_pairs": featurize.sparse_cosine_sql(
            "documents", "text", "doc_id", TF_DIM, TF_COSINE_T
        ),
        "text_cosine_cells_documents": oracles.cosine_pairs_cells_sql(
            featurize.hashed_tf_dense_sql(
                "documents", "text", "doc_id", TF_DIM
            ),
            "n",  # auto cell count derives from the VECTOR frame
            TF_COSINE_T, "auto", SEMDEDUP_PROBE,
            target_cell_rows=SEMDEDUP_TARGET,
        ),
        "text_cosine_twolevel_documents": oracles.cosine_pairs_cells_sql(
            featurize.hashed_tf_dense_sql(
                "documents", "text", "doc_id", TF_DIM
            ),
            "n",
            TF_COSINE_T, "auto", SEMDEDUP_PROBE,
            target_cell_rows=TWOLEVEL_TARGET,
            two_level=True, coarse_probe=TWOLEVEL_COARSE_PROBE,
        ),
        "moving_avg_events": """
            SELECT user_id, event_id,
                   round(avg(value) OVER (PARTITION BY user_id
                         ORDER BY event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
                     AS mov_avg_3,
                   round(max(value) OVER (PARTITION BY user_id
                         ORDER BY event_id
                         ROWS UNBOUNDED PRECEDING), 2) AS running_max
            FROM events
        """,
        "zorder_layout_roundtrip": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(event_id) AS BIGINT) AS sum_ids
            FROM events
            WHERE user_id < 300 OR value >= 900.0
            GROUP BY event_type
        """,
        "value_percentiles_events": """
            SELECT event_type,
                   round_even(quantile_cont(value, 0.5), 6) AS p50,
                   round_even(quantile_cont(value, 0.9), 6) AS p90,
                   round_even(quantile_cont(value, 0.99), 6) AS p99,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY event_type
        """,
        "topn_per_group_events": """
            WITH r AS (
              SELECT event_type, event_id, value,
                     row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY value DESC, event_id
                     ) AS rnk
              FROM events
            )
            SELECT event_type, CAST(rnk AS INT) AS rnk, event_id,
                   round(value, 4) AS value
            FROM r WHERE rnk <= 3
        """,
        # bin expression written with the identical IEEE op shape as
        # the Spark side, so boundary values floor identically
        "value_histogram_events": f"""
            WITH env AS (
              SELECT min(value) AS lo, max(value) AS hi FROM events
            )
            SELECT event_type,
                   least(CAST(floor((value - lo)
                              / ((hi - lo) / {HIST_BINS})) AS INT),
                         {HIST_BINS - 1}) AS bin,
                   CAST(count(*) AS BIGINT) AS n
            FROM events, env
            GROUP BY 1, 2
        """,
        "value_correlation_events": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   round(corr(value,
                     CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6)
                     AS corr_vk,
                   round(covar_samp(value,
                     CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6)
                     AS covar_vk
            FROM events GROUP BY event_type
        """,
        "json_props_events": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                     AS BIGINT) AS sum_k,
                   round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)),
                         4) AS avg_k
            FROM events GROUP BY event_type
        """,
        "sample_documents": f"""
            SELECT source, count(*) AS n_kept,
                   CAST(sum(n_chars) AS BIGINT) AS chars_kept
            FROM documents
            WHERE (CAST((doc_id + 0) % 4294967296 AS HUGEINT) * 2654435761)
                  % 4294967296 % 100 < {SAMPLE_PCT}
            GROUP BY source
        """,
        "group_counts_rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   count(*) AS num_examples,
                   round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "pipeline_c4_style": f"""
            WITH quality AS (
              SELECT doc_id, text, source,
                     CAST(len(string_split(regexp_replace(coalesce(text, ''),
                       '^\\s+|\\s+$', '', 'g'), ' ')) AS BIGINT) AS _nw
              FROM documents
            ), filtered AS (
              SELECT * FROM quality WHERE _nw >= {PIPE_MIN_WORDS}
            ), deduped AS (
              SELECT doc_id, source, _nw FROM (
                SELECT doc_id, source, _nw,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS _rn
                FROM filtered
              ) WHERE _rn = 1
            )
            SELECT regexp_extract(
                     'https://' || source || '.example.com/doc/' ||
                     CAST(doc_id AS VARCHAR),
                     '^[a-z]+://([^/]+)', 1) AS group_id,
                   count(*) AS num_docs,
                   CAST(sum(_nw) AS BIGINT) AS num_words
            FROM deduped GROUP BY 1
        """,
        "text_analysis_documents": f"""
            SELECT doc_id,
                   {textanalysis.lang_id_sql('text')} AS pred_lang,
                   {textanalysis.token_count_sql('text')} AS n_tokens,
                   {textanalysis.fingerprint_sql('text')} AS fp,
                   {textanalysis.quality_sql('text')['n_words']} AS n_words,
                   {textanalysis.quality_sql('text')['avg_word_len']}
                     AS avg_word_len,
                   {textanalysis.quality_sql('text')['punct_ratio']}
                     AS punct_ratio,
                   {textanalysis.quality_sql('text')['stopword_ratio']}
                     AS stopword_ratio
            FROM documents
        """,
    }
    # the progressive mosaic carries identical quantized coefficients,
    # so its oracle IS the baseline jpeg oracle
    sql["multimodal_jpeg_progressive"] = sql["multimodal_jpeg_pixels"]
    return sql


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's group-counts pipeline (beam_transforms
    .py:112-131) over documents grouped by source at sf0.001."""
    return q_group_counts_documents_by_source(spark, SF0001)
