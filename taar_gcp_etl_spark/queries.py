"""Query registry — the correctness surface consumed by `__spark_entry__.py`.

Each entry binds one operator family from SURVEY.md §2 to the driver fixture
tables (TESTDATA.md) and pairs the PySpark plan with the ANSI-SQL oracle
DuckDB runs over the same parquet. Column names and types are aligned on both
sides (the driver hash-compares values after sorting columns by name).

Float policy: any column produced by floating-point aggregation is rounded
to a fixed number of decimals ON BOTH SIDES, so the comparison is exact by
construction; raw double columns pass through untouched (bit-identical).
Casts of double→bigint always go through FLOOR on both sides (Spark
truncates, DuckDB rounds — floor makes them agree).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from taar_gcp_etl_spark.functions import sha256_key
from taar_gcp_etl_spark.operators import ranking, windows
from taar_gcp_etl_spark.operators.joins import (
    anti_join_delete,
    enrich_left_join,
    range_join,
    semi_intersection,
)
from taar_gcp_etl_spark.operators.serving import pack_serving_rows


from taar_gcp_etl_spark.io import ensure_parallelism, read_table

# Session confs the engine's semantics depend on, applied defensively at
# query entry because the driver calls these with ITS OWN SparkSession:
#   - UTC: naive-UTC datetime compares (taar_etl/taar_amowhitelist.py:89-91)
#     and DuckDB-oracle timestamp parity;
#   - ANSI off: BigQuery SAFE_CAST / permissive element_at semantics
#     (taar_etl/taar_profile_bigtable.py:78);
#   - nanosAsLong: the events fixture stores TIMESTAMP(NANOS).
_SESSION_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _pin_session(spark: SparkSession) -> None:
    for k, v in _SESSION_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not recognized on this Spark version — best effort


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _pin_session(spark)
    return read_table(spark, sf_dir, name)


def _wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table feeding a CPU-bound per-row operator (hashing, vector math):
    fan out to full parallelism if the local scan under-split the file."""
    return ensure_parallelism(_t(spark, sf_dir, name))


def _r2(c: Column) -> Column:
    return F.round(c, 2)


def _r6(c: Column) -> Column:
    return F.round(c, 6)


# ---------------------------------------------------------------------------
# Reference-parity queries (SURVEY.md §2.1-§2.9)
# ---------------------------------------------------------------------------


def q_install_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + P2 — the taar_lite_guid_ranking job
    (taar_etl/taar_lite_guid_ranking.py:19-27): date-partition filter then
    grouped count. The date predicate pushes down to the parquet scan."""
    ev = _t(spark, sf_dir, "events")
    return ranking.grouped_count(
        ev.filter(F.to_date("ts") == F.lit("2024-01-15")),
        "event_type",
        "user_id",
        "install_count",
    )


def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — explicit top-k (only_guids_top_200 contract,
    taar_etl/taar_update_whitelist.py:19): TakeOrdered, no global sort."""
    ev = _t(spark, sf_dir, "events")
    counts = ranking.grouped_count(ev, "user_id", "event_id", "n_events")
    return ranking.top_k(
        counts, [F.desc("n_events"), F.asc("user_id")], 100
    )


def q_distinct_optout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — distinct opt-out ids over a date window
    (taar_etl/taar_profile_bigtable.py:197-202)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("event_type") == "error")
            & F.to_date("ts").between("2024-01-01", "2024-01-28")
        )
        .select("user_id")
        .distinct()
    )


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P5 analogue — conjunctive predicate + projection + rename +
    floor-cast (SAFE_CAST parity, taar_etl/taar_profile_bigtable.py:76-91)."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_totalprice") >= 50000.0)
        & (F.col("o_orderdate") <= F.lit("1998-01-01").cast("timestamp"))
    ).select(
        F.col("o_orderkey"),
        F.col("o_custkey").alias("cust_id"),
        F.floor(F.col("o_totalprice")).cast("long").alias("price_floor"),
        F.col("o_orderpriority").alias("priority"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14/P8 — JSON field extraction + validity filter
    (marshal/schema-on-read family, taar_etl/taar_amodump.py:255-291)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_id", "event_type", k.alias("k"))
        .filter(F.col("k").isNotNull() & (F.col("k") > 50))
    )


def q_anti_join_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + F1 — GDPR delete as broadcast anti-join on sha256 keys
    (taar_etl/taar_profile_bigtable.py:193-223,304-307): the serving store
    never shuffles; the deletion set is broadcast."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    store = cust.select(
        sha256_key(F.col("c_custkey").cast("string")).alias("key"),
        "c_name",
        "c_acctbal",
    )
    deletions = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(sha256_key(F.col("o_custkey").cast("string")).alias("key"))
        .distinct()
    )
    return anti_join_delete(store, deletions, "key")


def q_enrich_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 + F11 — key-addressed enrichment with coalesce-to-default
    (taar_etl/taar_amodump.py:199-205; null convention
    taar_etl/taar_profile_bigtable.py:236-246). Dimension side broadcast."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment"
    )
    return enrich_left_join(orders, cust, "o_custkey", broadcast_enrichment=True).select(
        "o_orderkey",
        F.coalesce("c_name", F.lit("")).alias("cust_name"),
        F.coalesce("c_mktsegment", F.lit("")).alias("segment"),
    )


def q_semi_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET1 — intersection via left-semi join
    (taar_etl/taar_amowhitelist.py:100-113)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    open_orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    ).select(F.col("o_custkey").alias("c_custkey"))
    return semi_intersection(cust, open_orders, "c_custkey").select(
        "c_custkey", "c_name"
    )


def q_serving_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 + S9 — serving-row pack: sha256 key + compact-JSON payload
    (taar_etl/taar_profile_bigtable.py:295-329). All codegen'd JVM
    expressions — no Python in the row path."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    return pack_serving_rows(ev, "event_id", ["user_id", "event_type"])


def q_sorted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + O1 + P8 — distinct + validity filter + global ascending sort
    (taar_etl/taar_update_whitelist.py:58-68)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(
            F.col("source").isNotNull() & ~F.col("source").isin("null", "")
        )
        .select("source")
        .distinct()
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sibling-job contracts (SURVEY.md §2.10)
# ---------------------------------------------------------------------------


def q_grouped_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """taar_locale top-10-per-locale contract (README.md:102-105):
    window row_number ≤ k per group, deterministic tiebreak."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n")
    )
    return ranking.grouped_top_k(
        counts, "event_type", [F.desc("n"), F.asc("user_id")], 5
    )


# ---------------------------------------------------------------------------
# General analytics surface (SURVEY.md §2.11)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary aggregate (TPC-H Q1 shape): the canonical
    multi-aggregate hash aggregation; partial aggregation makes the shuffle
    carry 6 rows per map partition regardless of input size."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_price"),
            _r6(F.avg("l_quantity")).alias("avg_qty"),
            _r6(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — 3-way join (dimension filter broadcast onto two fact
    joins) + grouped revenue + top-k. Catalyst broadcasts the filtered
    customer side; the orders⋈lineitem join sort-merges on orderkey."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    revenue = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        )
    )
    return revenue.orderBy(
        F.desc("revenue"), F.asc("l_orderkey")
    ).limit(20)


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — 5-way snowflake join (region→nation→customer +
    supplier colocation predicate) + grouped revenue. Dimension chain
    broadcasts; only the orders⋈lineitem join shuffles."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        )
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar-subquery aggregate: lineitems
    below 20% of their part's average quantity. Catalyst decorrelates the
    subquery into a per-partkey aggregate joined back onto the filtered
    fact scan (no per-row re-scan; the brand/size part filter broadcasts).
    Exercises scalar-subquery planning per VERDICT r1 next-8. (p_container
    doesn't exist in the fixture schema → p_size stands in.)"""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("li_q17")
    _t(spark, sf_dir, "part").createOrReplaceTempView("part_q17")
    return spark.sql(
        """
        SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM li_q17 l JOIN part_q17 p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23' AND p.p_size <= 5
          AND l.l_quantity < (
              SELECT 0.2 * AVG(l2.l_quantity) FROM li_q17 l2
              WHERE l2.l_partkey = p.p_partkey)
        """
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — the shipping-nation volume matrix: a 5-way join
    (supplier→lineitem→orders→customer + nation twice) with a symmetric
    OR'd nation-pair predicate, grouped by (supp_nation, cust_nation,
    year). Exercises join reordering with a disjunctive cross-dimension
    filter: both nation joins broadcast, the OR predicate evaluates after
    both are attached, and the facts meet in sort-merge joins on their
    keys. (No l_shipmode in the fixture — the nation-pair OR carries the
    disjunction instead.)"""
    for name, view in [
        ("lineitem", "li_q7"),
        ("orders", "ord_q7"),
        ("customer", "cust_q7"),
        ("supplier", "supp_q7"),
        ("nation", "nat_q7"),
    ]:
        _t(spark, sf_dir, name).createOrReplaceTempView(view)
    return spark.sql(
        """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               YEAR(l.l_shipdate) AS l_year,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
                   AS revenue
        FROM supp_q7 s
        JOIN li_q7 l ON s.s_suppkey = l.l_suppkey
        JOIN ord_q7 o ON o.o_orderkey = l.l_orderkey
        JOIN cust_q7 c ON c.c_custkey = o.o_custkey
        JOIN nat_q7 n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nat_q7 n2 ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY n1.n_name, n2.n_name, YEAR(l.l_shipdate)
        """
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — nested semi-joins: suppliers (listed with their
    nation) that shipped more than 50 units of some part whose name starts
    with a given prefix. The inner IN nests a per-(part, supplier)
    aggregate over a filtered part semi-join; Catalyst plans both IN
    levels as (broadcast) semi-joins — no decorrelated re-scan per row.
    (The fixture has no partsupp/ps_availqty — the shipped-quantity
    aggregate stands in for the excess-stock predicate, preserving the
    nested-semi-join planning shape.)"""
    for name, view in [
        ("lineitem", "li_q20"),
        ("part", "part_q20"),
        ("supplier", "supp_q20"),
        ("nation", "nat_q20"),
    ]:
        _t(spark, sf_dir, name).createOrReplaceTempView(view)
    return spark.sql(
        """
        SELECT s.s_name, n.n_name
        FROM supp_q20 s JOIN nat_q20 n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM li_q20 l
            WHERE l.l_partkey IN (
                SELECT p_partkey FROM part_q20 WHERE p_name LIKE 'large%')
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING SUM(l.l_quantity) > 50)
        ORDER BY s.s_name
        """
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume orders: a group-by-HAVING subquery
    feeding a semi-join (orders whose lineitems sum past a threshold),
    then re-joined to lineitem/customer for the detail aggregate. The
    HAVING relation is small after aggregation, so Catalyst broadcasts
    the semi-join side; the lineitem scan is shared between the filter
    aggregate and the detail aggregate but pruned to two columns in the
    first pass."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    return (
        orders.join(
            big, orders["o_orderkey"] == big["l_orderkey"], "left_semi"
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(_r2(F.sum("l_quantity")).alias("sum_qty"))
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers-who-kept-orders-waiting: a correlated
    EXISTS (another supplier in the same order) AND a correlated NOT
    EXISTS (no OTHER supplier was late), both against the same fact
    table, decorrelated to one left-semi and one left-anti self-join on
    the order key. 'Late' maps to l_returnflag = 'R' — the fixture has no
    receipt/commit dates (taar fixture schema), which preserves the
    distinctive semi+anti self-join planning shape."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").alias("l3")
    waiting = (
        l1.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("l1.l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            l2,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(supp, F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count("*").alias("numwait"))
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — order-priority checking: orders in one quarter
    counted by priority, gated on a correlated EXISTS against lineitem,
    decorrelated to a left-semi join on the order key. 'Late' maps to
    l_returnflag = 'R' (fixture has no commit/receipt dates — same
    substitution as q_tpch_q21). The date filter prunes the orders scan
    before the semi-join probe."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    late = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(
            late, orders["o_orderkey"] == late["l_orderkey"], "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — shipping modes vs priority: one year of lineitem
    joined to orders, conditional counts per mode (high = URGENT/HIGH).
    l_linestatus stands in for l_shipmode (absent from the fixture). The
    shape is a fact-to-fact equi-join followed by a pivot-style
    conditional aggregate — the join keys both sides on l_orderkey, and
    the year filter reaches the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_linestatus").alias("ship_mode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promotion effect: one month of lineitem joined to
    part (broadcast dimension), promo revenue share as a conditional
    aggregate over the whole filtered fact. p_type = 'PROMO' (fixture
    types are single words, not 'PROMO BURNISHED ...'). Single-row
    output; the month filter reaches the scan and part broadcasts."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — forecasting revenue change: single-table scan with
    three range predicates and one global sum. All three filters reach the
    parquet scan as pushed predicates; the only exchange is the final
    partial-agg merge to one row."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        _r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias(
            "revenue"
        )
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: ECONOMY-part volume sold to
    EUROPE customers over two years, split by whether the supplying nation
    is NATION_3. Seven-table snowflake: part/supplier/nation×2/region all
    broadcast (each ≪ the fact side), so the only shuffled edges are
    lineitem→orders and orders→customer on their join keys; the date
    filter prunes the orders scan before either shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            _t(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey")
        )
        .join(
            F.broadcast(region),
            F.col("n1.n_regionkey") == F.col("r_regionkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey")
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "volume"
            ),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    return vol.groupBy("o_year").agg(
        _r6(
            F.sum(
                F.when(
                    F.col("supp_nation") == "NATION_3", F.col("volume")
                ).otherwise(0.0)
            )
            / F.sum("volume")
        ).alias("mkt_share")
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item reporting: revenue lost to returns
    per customer for one quarter, top 20. The quarter filter prunes orders
    before the fact-fact join; nation broadcasts; the top-20 is a
    TakeOrdered on the deterministic (revenue DESC, c_custkey) key, never
    a global sort."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            _t(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _r2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — customer order-count distribution: left outer join
    with a predicate on the RIGHT side (filter-before-join ≡ the spec's ON
    clause condition; o_orderpriority stands in for the o_comment NOT LIKE
    filter — fixture has no comment column), count including the zero
    bucket, then a second aggregate over the counts. Two shuffles total:
    custkey, then c_count — both with map-side partials."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left"
    ).groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — top supplier(s): per-supplier revenue for one
    quarter (the spec's revenue view, here a CTE-like subplan), then an
    uncorrelated scalar-subquery max joined back as a one-row broadcast.
    Revenue is rounded to cents BEFORE the max/equality so the float
    comparison is engine-portable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(
        _r2(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("total_revenue")
    )
    maxrev = rev.agg(F.max("total_revenue").alias("_m"))
    return (
        _t(spark, sf_dir, "supplier")
        .join(rev, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            F.broadcast(maxrev), F.col("total_revenue") == F.col("_m")
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — discounted revenue under disjunctive predicates:
    lineitem×part equi-join on partkey with a three-branch OR residual
    (brand × quantity-range × size-range). Catalyst keeps the equi key as
    the join condition and evaluates the OR as a post-join filter; part
    broadcasts. One output row."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    q, s, b = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    branch = (
        ((b == "Brand#1") & q.between(1, 11) & s.between(1, 5))
        | ((b == "Brand#2") & q.between(10, 20) & s.between(1, 10))
        | ((b == "Brand#3") & q.between(20, 30) & s.between(1, 15))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            _r2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp stand-in — the fixture set has no partsupp table, so Q2/Q9/
    Q11/Q16 derive one from lineitem: for each (partkey, suppkey) pair that
    actually traded, supply cost is the best observed unit price and
    availability is the trade count. The SAME derivation runs in the DuckDB
    oracle (CTE `ps`), so both sides see identical IEEE-754 inputs.
    One shuffled aggregate; reused (Catalyst dedups the subplan when it
    appears twice in a query via ReuseExchange at the physical level)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ps_supplycost"
            ),
            F.count(F.lit(1)).alias("ps_availqty"),
        )
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
            "ps_supplycost",
            "ps_availqty",
        )
    )


# Shared SQL twin of _derived_partsupp for the DuckDB oracles.
_PS_CTE = """
    ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                  MIN(l_extendedprice / l_quantity) AS ps_supplycost,
                  COUNT(*) AS ps_availqty
           FROM lineitem GROUP BY 1, 2)
"""


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — min-cost supplier: a correlated scalar subquery
    (MIN supply cost per part within one region) decorrelated to a per-part
    min aggregation joined back on (partkey, cost). Region/nation/part dims
    broadcast; the only shuffles are the derived-partsupp aggregate and the
    per-part min. reference analog: ranked-choice joins in
    taar_etl/taar_lite_guidguid semantics (best candidate per key)."""
    ps = _derived_partsupp(spark, sf_dir)
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 3) & (F.col("p_type") == "ECONOMY")
    )
    eu_sup = (
        sup.join(
            F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # r12: the decorrelated per-part MIN + equality join-back is exactly a
    # per-part window minimum with a filter — one exchange on ps_partkey
    # instead of a second aggregate exchange plus a join of eu_ps against
    # it (guide §2.4). The part dim filter drops whole ps_partkey groups
    # (it keys on the partition column), so applying it BEFORE the window
    # leaves every surviving group intact and shrinks the windowed
    # relation to the selective part subset (guide §2.3). min() is exact
    # (no FP summation), so rows are bit-identical; oracle-verified.
    from pyspark.sql import Window as W

    eu_ps = (
        ps.join(
            F.broadcast(eu_sup), F.col("ps_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
    )
    wmin = W.partitionBy("ps_partkey")
    return (
        eu_ps.withColumn(
            "min_cost", F.min("ps_supplycost").over(wmin)
        )
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            _r2(F.col("s_acctbal")).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            _r6(F.col("ps_supplycost")).alias("supplycost"),
        )
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-type profit by nation and year:
    ps_supplycost = MIN(price/qty) per (partkey, suppkey) computed as a
    WINDOW MINIMUM over lineitem itself (r12 — the derived-partsupp
    aggregate + composite-key join-back it replaced matched every row to
    its own group, i.e. exactly a window); supplier→nation for the
    grouping nation and the PROMO part broadcast semi-filter applied
    BEFORE the window (it keys on the partition column, so it drops
    whole window groups). One lineitem exchange total; dims broadcast.
    Profit = revenue minus supply cost at traded quantity (ADVICE r12:
    docstring updated to the window-based plan)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    # r12: ps_supplycost is _derived_partsupp's MIN(price/qty) per
    # (partkey, suppkey) — and lineitem⋈ps on that same composite key
    # matches every row to ITS OWN group's aggregate, i.e. a window.
    # Computing it as min().over(partitionBy(composite key)) removes the
    # separate partsupp aggregate exchange AND the 600k×200k sort-merge
    # join: ONE lineitem shuffle instead of two plus a join (guide §2.4);
    # row multiset is provably identical (inner self-join on the full
    # group key is total), oracle-verified at sf0.001/sf0.01.
    from pyspark.sql import Window as W

    # the PROMO part filter removes whole l_partkey groups, never part of
    # a (partkey, suppkey) window partition — applying the broadcast
    # semi-filter BEFORE the window shuffles only the surviving rows
    # (guide §2.3: project/filter before the exchange) with the group
    # minima unchanged.
    wps = W.partitionBy("l_partkey", "l_suppkey")
    li_ps = li.join(
        F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
    ).withColumn(
        "ps_supplycost",
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).over(wps),
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    )
    return (
        li_ps
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(_r2(F.sum(amount)).alias("sum_profit"))
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — important stock: per-part inventory value for one
    nation's suppliers, kept only when the part's value exceeds a threshold
    computed by an UNCORRELATED scalar subquery over the same relation
    (here 1.2× the mean per-part value, which stays scale-free as SF grows;
    the classic fixed fraction of the grand total selects ~0 rows at
    larger SF). HAVING over a grouped aggregate + a broadcast scalar.
    Values are summed in integer cents (floored identically both sides) so
    the aggregate is exact under any summation order — a double SUM differs
    from DuckDB in the last ulp and can flip ROUND at a .005 boundary."""
    _derived_partsupp(spark, sf_dir).createOrReplaceTempView("ps_q11")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("sup_q11")
    return spark.sql(
        """
        WITH nat_ps AS (
            SELECT ps_partkey,
                   CAST(FLOOR(ps_supplycost * ps_availqty * 100 + 0.5)
                        AS BIGINT) AS value_cents
            FROM ps_q11 JOIN sup_q11 ON ps_suppkey = s_suppkey
            WHERE s_nationkey = 7
        ),
        per_part AS (
            SELECT ps_partkey, SUM(value_cents) AS part_cents
            FROM nat_ps GROUP BY ps_partkey
        )
        SELECT ps_partkey,
               ROUND(CAST(part_cents AS DOUBLE) / 100, 2) AS part_value
        FROM per_part
        WHERE part_cents > (SELECT AVG(part_cents) * 1.2 FROM per_part)
        """
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — supplier-relationship count: distinct suppliers
    per (brand, type, size) bucket, excluding one brand and excluding
    "complaint" suppliers via NOT IN decorrelated to a broadcast anti-join
    (negative account balance stands in for the complaint comment scan).
    part broadcasts into the partsupp-side join; count(DISTINCT) shuffles
    on the grouping key."""
    ps = _derived_partsupp(spark, sf_dir)
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7, 10)
    )
    complaints = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(
            F.broadcast(complaints),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt"))
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM sequence packing — global prefix sum of token counts in doc_id
    order via the two-phase distributed scan (range partition → partitioned
    window → broadcast per-partition base offsets), then concat-then-chunk
    assignment into 2048-token sequences. See operators/packing.py for the
    scale design; the oracle is the equivalent single global window, which
    DuckDB can afford at oracle scale."""
    from taar_gcp_etl_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, 2048, num_partitions=8)


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — uncorrelated scalar subquery (global average
    balance, computed once and broadcast as a literal-like filter) plus
    NOT EXISTS decorrelated to a broadcast anti-join: well-funded customers
    who never ordered, grouped by nation. (c_phone doesn't exist in the
    fixture schema → c_nationkey stands in for the country code.)"""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("cust_q22")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_q22")
    return spark.sql(
        """
        SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM cust_q22 c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM cust_q22
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders_q22 o
                          WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_nationkey
        """
    )


def q_per_key_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — latest row per key (taar_etl/taar_amodump.py:228-243 semantics)."""
    ev = _t(spark, sf_dir, "events")
    return windows.per_key_latest(
        ev, "user_id", [F.desc("ts"), F.desc("event_id")]
    ).select("user_id", "event_id", "ts", "event_type", "value")


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — analytic windows: running sum / lag / lead / row_number in a
    single window pass. Doubles rounded both sides."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = windows.running_aggregates(
        ev, "user_id", [F.asc("ts"), F.asc("event_id")], ["event_id"], "value"
    )
    return out.select(
        "user_id",
        "event_id",
        "value",
        _r6(F.col("running_sum")).alias("running_sum"),
        "prev_value",
        "next_value",
        "rn",
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — non-equi join with an equi anchor: the range predicate rides
    on the orderkey hash join instead of a nested loop."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = range_join(
        li,
        o,
        F.col("l_orderkey") == F.col("o_orderkey"),
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60),
    )
    return joined.groupBy("l_returnflag").agg(F.count("*").alias("n_late"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — sessionization (30-min inactivity gap) via gaps-and-islands."""
    ev = _t(spark, sf_dir, "events")
    sessions = windows.sessionize_gaps_and_islands(ev, "user_id", "ts", 1800)
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("n_events"),
        _r2(F.sum("value")).alias("sum_value"),
    )


def q_agg_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — per-group aggregate profile (r3 registry fold of the
    standalone percentiles + count_distinct_agg queries — same table, same
    grouping, one pass): exact interpolated percentiles (the approx
    variant is a separate rows-only query), exact distinct counts, and
    ordered string aggregation (sort before concat — collect_set order is
    not defined across partitions)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _r6(F.percentile("value", 0.5)).alias("p50"),
        _r6(F.percentile("value", 0.95)).alias("p95"),
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        F.concat_ws(
            ",",
            F.array_sort(F.collect_set(F.col("user_id") % 10)),
        ).alias("user_digits"),
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — approx_count_distinct (HLL++). No oracle: DuckDB's HLL is a
    different sketch; the driver records the rows-only check, and tests/
    assert the estimate is within rsd of exact."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — INTERSECT / EXCEPT / UNION ALL composition over order-status
    key sets."""
    o = _t(spark, sf_dir, "orders")

    def keys(status: str) -> DataFrame:
        return o.filter(F.col("o_orderstatus") == status).select("o_custkey")

    both_of = keys("O").intersect(keys("F")).withColumn("tag", F.lit("o_and_f"))
    # subtract = SQL EXCEPT (set difference); exceptAll would keep rows whose
    # multiplicity in P merely exceeds that in O.
    only_p = keys("P").subtract(keys("O")).withColumn("tag", F.lit("p_not_o"))
    return both_of.unionByName(only_p)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — backward as-of join: for each purchase event, the event_id of
    the user's most recent error at-or-before it (union + last-value window,
    one shuffle; oracle = DuckDB's native ASOF JOIN)."""
    from taar_gcp_etl_spark.operators.joins import asof_join_backward

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("error_event_id"))
    )
    return asof_join_backward(
        left, right, "user_id", "ts", "ts", "error_event_id"
    ).select("event_id", "user_id", "ts", "error_event_id")


def q_coinstall_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — guid_coinstallation.json contract: P(item_b | item_a), with
    the raw pair_count alongside (this query also carries the unordered
    pair-counts contract — coinstall_pairs is its a<b projection)."""
    ev = _t(spark, sf_dir, "events")
    return ranking.coinstall_rates(ev, "user_id", "event_type")


def q_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — pivot AND unpivot in one plan (r3 registry fold: the two
    standalone queries shared a slot budget): events pivot per-user into
    one column per event_type (explicit value list keeps the plan
    single-pass, no distinct-scan), then unpivot/melt back to long form —
    nulls preserved, so absent (user, kind) combinations surface as null
    rows exactly like the wide form."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.round(F.sum("value"), 2))
    )
    return wide.unpivot("user_id", kinds, "metric", "val")


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — event-time windows, tumbling AND sliding, one query (r3
    registry fold): 1-day tumbling windows plus 1-day/12-h sliding windows
    (each event lands in 2), discriminated by a `kind` column."""
    ev = _t(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n"), _r2(F.sum("value")).alias("sum_value")]
    tumb = windows.tumbling_window_agg(ev, "ts", "1 day", ["event_type"], aggs)
    slide = windows.sliding_window_agg(
        ev, "ts", "1 day", "12 hours", ["event_type"], aggs
    )
    cols = ["window_start", "event_type", "n", "sum_value"]
    return tumb.select(F.lit("tumbling").alias("kind"), *cols).unionByName(
        slide.select(F.lit("sliding").alias("kind"), *cols)
    )


def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — ranking/analytic window suite: rank, dense_rank, ntile,
    percent_rank, cume_dist, first/last over a range frame, all in one
    window pass."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    w = Window.partitionBy("l_orderkey").orderBy(
        F.asc("l_quantity"), F.asc("l_linenumber")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(2).over(w).alias("half"),
        _r6(F.percent_rank().over(w)).alias("prnk"),
        _r6(F.cume_dist().over(w)).alias("cdist"),
        F.first("l_quantity").over(w).alias("min_qty"),
        _r2(
            F.sum("l_extendedprice").over(
                Window.partitionBy("l_orderkey").orderBy(F.asc("l_quantity"), F.asc("l_linenumber")).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            )
        ).alias("order_total"),
    )


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 — scalar-function parity sampler: date reformat (F10), C-style
    format (F13), regexp extraction (F12-adjacent), split + element_at
    (F17), concat, json get (F14), plus the F7-F10 calendar decomposition
    (year/month/day/hour/minute/date_trunc — the former date_parts query,
    folded in to keep the registry inside the driver's entry budget)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    path = F.concat("event_type", F.lit("/"), F.col("user_id").cast("string"))
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyyMMdd").alias("yyyymmdd"),
        F.format_string("%s-%05d", "event_type", "user_id").alias("tagged"),
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long").alias("k_re"),
        path.alias("path"),
        F.element_at(F.split(path, "/"), 2).cast("long").alias("path_user"),
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.date_trunc("month", F.col("ts")).alias("month_start"),
    )


# donor_clusters, donor_curves and ann_ivf share the (expensive, iterative)
# KMeans fit; memoize the cached (assignments, centroids) per (application,
# sf_dir) so later queries reuse them instead of re-fitting. Keyed by
# applicationId (not id(session) — a GC'd session's id can be reused by a
# live one) and evicted whenever the application changes, so stale
# DataFrames bound to a stopped session are never returned and the memo
# doesn't grow for the process lifetime. Deterministic (seeded), so
# correctness is unaffected by order.
_CLUSTER_MEMO: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _cluster_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from taar_gcp_etl_spark.operators.similarity import donor_index

    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key not in _CLUSTER_MEMO:
        for stale in [k for k in _CLUSTER_MEMO if k[0] != app_id]:
            del _CLUSTER_MEMO[stale]
        emb = _wide(spark, sf_dir, "embeddings")
        assignments, centroids = donor_index(emb, k=8)
        _CLUSTER_MEMO[key] = (assignments.cache(), centroids)
    return _CLUSTER_MEMO[key]


def _clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_index(spark, sf_dir)[0]


def q_donor_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — taar_similarity donors contract: seeded KMeans clusters over
    embeddings. Iterative ML — not SQL-expressible → rows-only check."""
    return _clusters(spark, sf_dir)


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — statistical aggregates: stddev/variance (sample), correlation
    and covariance between price and quantity per return flag."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _r6(F.stddev_samp("l_quantity")).alias("sd_qty"),
        _r6(F.var_samp("l_discount")).alias("var_disc"),
        _r6(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        _r6(F.covar_samp("l_quantity", "l_extendedprice")).alias(
            "cov_qty_price"
        ),
    )


def q_arg_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — max_by/arg-max: per event_type, the user with the highest
    summed value (deterministic: ties broken toward the smaller user_id via
    a packed struct ordering)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 2).alias("total")
    )
    # max_by with an explicit tiebreak: order by (total, -user_id)
    return per_user.groupBy("event_type").agg(
        F.max_by(
            "user_id", F.struct(F.col("total"), -F.col("user_id"))
        ).alias("top_user"),
        F.max("total").alias("top_total"),
    )


def q_donor_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — lr_curves.json contract: same-cluster vs cross-cluster
    similarity histograms over the donor clustering. Iterative-ML upstream
    → rows-only check (determinism asserted in tests)."""
    from taar_gcp_etl_spark.operators.similarity import likelihood_curves

    emb = _wide(spark, sf_dir, "embeddings")
    return likelihood_curves(_clusters(spark, sf_dir), emb)


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — fixed-width histogram per group (floor binning): the
    aggregation shape behind distribution dashboards; one partial-agg
    shuffle regardless of bin count."""
    ev = _t(spark, sf_dir, "events")
    bin_col = F.floor(F.col("value") / 50).cast("int")
    return (
        ev.groupBy("event_type", bin_col.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            _r2(F.min("value")).alias("lo"),
            _r2(F.max("value")).alias("hi"),
        )
    )


def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — MERGE/upsert semantics (last-write-wins, the S9 KV-upsert
    rewrite): a deterministic update batch (every 3rd customer gets a
    balance bump and a segment change) merged into the customer store."""
    from taar_gcp_etl_spark.operators.merge import upsert

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    updates = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2))
        .withColumn("c_mktsegment", F.lit("UPDATED"))
    )
    return upsert(cust, updates, "c_custkey").select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("acctbal"),
        "c_mktsegment",
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — grouping-set family in one query, through the SQL API (S5
    posture: the engine's SQL surface is the same Catalyst plan as the
    DataFrame API). The explicit set list ((a,b),(a),(b),()) is exactly
    CUBE(a,b), and contains ROLLUP(a,b) = ((a,b),(a),()) — one Expand plan
    covers all three §2.11 grouping operators (oracle: GROUP BY CUBE)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        """
    )


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — full outer join: per-customer open vs finished order counts;
    either side may be missing."""
    o = _t(spark, sf_dir, "orders")

    def per_status(status: str, alias: str) -> DataFrame:
        return (
            o.filter(F.col("o_orderstatus") == status)
            .groupBy("o_custkey")
            .agg(F.count("*").alias(alias))
        )

    return (
        per_status("P", "n_pending")
        .join(per_status("F", "n_finished"), "o_custkey", "full")
        .select(
            "o_custkey",
            F.coalesce("n_pending", F.lit(0)).alias("n_pending"),
            F.coalesce("n_finished", F.lit(0)).alias("n_finished"),
        )
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star dedup family — embedding-cosine near-duplicate pairs:
    sign-bucket LSH candidates (equi-join, no all-pairs) verified with exact
    cosine ≥ threshold. Same shape as MinHash-LSH but in vector space."""
    from taar_gcp_etl_spark.operators.similarity import (
        _as_double,
        cosine,
        sign_bucket,
    )

    emb = _wide(spark, sf_dir, "embeddings").select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        sign_bucket(F.col("embedding"), 4).alias("bucket"),
    )
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= 0.45)
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star text pipeline — C4-style quality gate: per-document keep
    decision from cheap heuristics (length, token stats, stopword density).
    The row-level filter a 100 TB pretraining corpus runs before anything
    expensive; all Column expressions, no shuffle.

    Thresholds are DATA, not literals: a one-row rulepack table broadcast-
    cross-joined onto the corpus — swap the rulepack (or version it per
    snapshot) without touching code. A 1-row broadcast is free at any
    scale."""
    from taar_gcp_etl_spark.functions import tokens
    from taar_gcp_etl_spark.operators.quality import default_rulepack

    docs = _wide(spark, sf_dir, "documents")
    rules = default_rulepack(spark)
    toks = tokens("text")
    n_tokens = F.size(toks)
    avg_len = F.length("text") / n_tokens
    stop_ratio = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to"))
    ) / n_tokens
    keep = (
        (n_tokens >= F.col("min_tokens"))
        & (avg_len >= F.col("min_avg_len"))
        & (avg_len <= F.col("max_avg_len"))
        & (stop_ratio >= F.col("min_stop_ratio"))
    )
    return docs.crossJoin(F.broadcast(rules)).select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# North-star operators: text analysis / dedup / similarity (BASELINE.json)
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring over documents."""
    from taar_gcp_etl_spark.operators.text import text_stats

    return text_stats(_wide(spark, sf_dir, "documents"))


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star text analysis — single-pass per-doc profile (r3 registry
    fold of text_stats + language_id: same table, same grain, one scan —
    the plan a 100 TB corpus pass should run). Token/unit/char counts,
    quality ratios, per-language stopword scores, predicted language."""
    from taar_gcp_etl_spark.operators.text import text_profile

    return text_profile(_wide(spark, sf_dir, "documents"))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: duplicate 3-gram ratio per document
    (boilerplate/template detector). Pure Column map, zero shuffle."""
    from taar_gcp_etl_spark.operators.text import repetition_stats

    return repetition_stats(_wide(spark, sf_dir, "documents"))


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic."""
    from taar_gcp_etl_spark.operators.text import language_id

    return language_id(_wide(spark, sf_dir, "documents"))


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star fingerprinting — winnowing sketch: (doc_id, hash) rows in
    inverted-index shape; cross-doc matches become an equi-join. Subsumes
    the rolling-hash document fingerprint (operators.text.fingerprint —
    still unit-tested): a doc's fingerprint is the min of its winnow
    hashes."""
    from taar_gcp_etl_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(_wide(spark, sf_dir, "documents"))


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (r3): per-stratum keep rates as a
    broadcast DATA table, membership decided by an md5 hash bucket of the
    row key — reproducible across runs/engines/partitionings (plain
    df.sample() can't be oracle-checked and can't resume a shard). Pure
    Column predicate: zero shuffle on the corpus. Strata absent from the
    rate table (here: 'error') drop entirely."""
    from taar_gcp_etl_spark.operators.sampling import stratified_sample

    # _wide: the md5 bucket is CPU-bound per row; a single local file
    # arrives as one split and serializes it onto one core (no-op at
    # cluster scale where splits >> cores)
    ev = _wide(spark, sf_dir, "events")
    rates = spark.createDataFrame(
        [("click", 0.25), ("view", 0.05), ("purchase", 1.0), ("signup", 0.5)],
        "event_type string, rate double",
    )
    return stratified_sample(ev, rates, "event_type", "event_id").select(
        "event_id", "event_type", "user_id"
    )


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (RefinedWeb-style per-domain cap): keep at
    most n documents per source, chosen by deterministic hash order — the
    head-heavy-domain rebalance every web-corpus build runs. rand()-based
    capping can't be reproduced across runs or engines; the md5 bucket
    order can. One window partitioned by source (parallel per-source, no
    global sort); at 100 TB a skewed mega-domain is exactly the partition
    AQE skew-handling splits."""
    from taar_gcp_etl_spark.operators.sampling import deterministic_take_n

    docs = _wide(spark, sf_dir, "documents")
    return deterministic_take_n(docs, "source", "doc_id", n=10).select(
        "doc_id", "source"
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subset selection: keep the best documents (here scored
    by raw length — any scorer plugs in) until a global token budget is
    filled. The cumulative count in score order is a two-phase distributed
    prefix sum (operators.packing.distributed_prefix_sum) — no
    unpartitioned ordered window anywhere."""
    from taar_gcp_etl_spark.operators.sampling import select_token_budget

    docs = _wide(spark, sf_dir, "documents").withColumn(
        "score", F.length("text")
    )
    return select_token_budget(docs, 10_000, "score")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis exponential keys, md5-derived uniforms): 25
    documents drawn proportional to n_chars. Key map is pure Column; the
    cut is a TakeOrdered, not a global sort."""
    from taar_gcp_etl_spark.operators.sampling import weighted_sample_n

    docs = _wide(spark, sf_dir, "documents")
    return weighted_sample_n(docs, 25, "n_chars", "doc_id").select(
        "doc_id", "source", "n_chars"
    )


def q_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column handling (the multimodal-columns storage
    contract): documents' text re-encoded as a binary blob column,
    then byte length + sha256 content digest computed Column-side —
    the metadata/integrity pass a blob lake runs without ever decoding
    payloads. Pure map, zero shuffle; the blob bytes stay JVM-side."""
    docs = _wide(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        F.sha2(blob, 256).alias("sha256_hex"),
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict sequential conversion funnel view → click → purchase
    (operators/analytics.funnel_steps): each step binds to the user's
    earliest event strictly after the previous step's conversion. Join
    chain re-keyed on user_id; per-step state is one row per surviving
    user — events never co-locate."""
    from taar_gcp_etl_spark.operators.analytics import funnel_steps

    ev = _t(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"])


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators/analytics
    .cohort_retention): users bucketed by first-active week, counted in
    each later active week. Two shuffled aggregates + one join on
    user_id; final rollup groups a cohorts×offsets key space."""
    from taar_gcp_etl_spark.operators.analytics import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev)


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate (operators/analytics.distribution_psi):
    PSI of the event-value distribution, first half of January vs the
    second — the statistical complement to validate_batch's hard bounds.
    Fixed [0, 500] bin domain (bounds are config, not a scan); two
    partial-aggregated bin counts, broadcast-joined on a 10-row grid."""
    from taar_gcp_etl_spark.operators.analytics import distribution_psi

    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")
    return distribution_psi(
        ev.filter(F.col("ts") < split),
        ev.filter(F.col("ts") >= split),
        "value",
        lo=0.0,
        hi=500.0,
        n_bins=10,
    )


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions keyed by CONTENT digest
    (operators/merge.snapshot_diff): v1 = docs with doc_id % 3 != 0,
    v2 = docs with doc_id % 3 != 1 — classify each distinct md5(text) as
    added / removed / retained. The planning input for incremental
    rebuilds; the join moves 32-byte digest rows only."""
    from taar_gcp_etl_spark.operators.merge import snapshot_diff

    docs = _t(spark, sf_dir, "documents").withColumn(
        "digest", F.md5(F.col("text"))
    )
    v1 = docs.filter(F.col("doc_id") % 3 != 0)
    v2 = docs.filter(F.col("doc_id") % 3 != 1)
    return snapshot_diff(v1, v2, ["digest"])


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (operators/analytics
    .attribute_conversions): each purchase credits the user's most
    recent view/click in the prior 24 h; unattributed purchases emit
    null touch columns. User-keyed join + partitioned pick."""
    from taar_gcp_etl_spark.operators.analytics import (
        attribute_conversions,
    )

    ev = _t(spark, sf_dir, "events")
    return attribute_conversions(
        ev, "purchase", ["view", "click"], lookback_hours=24
    )


def q_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert between funnel steps (operators/analytics
    .funnel_step_timing): per converting user, seconds since their
    previous-step conversion — median + mean per step. The speed half of
    the funnel; frontiers join on users, never events."""
    from taar_gcp_etl_spark.operators.analytics import funnel_step_timing

    ev = _t(spark, sf_dir, "events")
    return funnel_step_timing(ev, ["view", "click", "purchase"])


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (operators/analytics
    .event_transitions): per-user lag window + small-key aggregate."""
    from taar_gcp_etl_spark.operators.analytics import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"))


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FP-Growth association rules over customer×brand baskets
    (operators/recommend.basket_rules) — the confidence/lift-scored
    upgrade of the reference's raw co-install table
    (taar_etl/taar_lite_guid_guid.py contract). Restricted to 1→1 rules,
    whose support/confidence/lift are exact pair statistics — hence
    SQL-oracle-paired even though the miner is MLlib. Brand (25-value
    domain) keeps pair density scale-invariant; part is broadcast into
    the basket build, and customers are deterministically md5-bucket
    sampled (25%) on BOTH sides — dense-basket FP-trees are the miner's
    worst case, and a quarter of the customers bounds the demo fit
    without changing the statistics' expectation."""
    from taar_gcp_etl_spark.operators.recommend import basket_rules

    from taar_gcp_etl_spark.operators.sampling import hash_bucket

    o = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .filter(hash_bucket(F.col("o_custkey"), 100) < 25)
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    purchases = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return basket_rules(
        purchases,
        basket_col="o_custkey",
        item_col="p_brand",
        min_support=0.4,
        min_confidence=0.6,
    )


# q_als_recs and q_als_neighbors derive from the ONE seeded ALS fit —
# same memo discipline as the KMeans _cluster_index
_ALS_MEMO: dict = {}


def _als_model(spark: SparkSession, sf_dir: str):
    from taar_gcp_etl_spark.operators.recommend import als_fit
    from taar_gcp_etl_spark.operators.sampling import hash_bucket

    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key not in _ALS_MEMO:
        for stale in [k for k in _ALS_MEMO if k[0] != app_id]:
            del _ALS_MEMO[stale]
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        ratings = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .filter(hash_bucket(F.col("o_custkey"), 100) < 10)
            .groupBy("o_custkey", "l_partkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        _ALS_MEMO[key] = als_fit(
            ratings, "o_custkey", "l_partkey", "n", rank=8, seed=42
        )
    return _ALS_MEMO[key]


def q_als_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded implicit-feedback ALS over customer×part purchase counts
    (operators/recommend.als_fit + als_recommendations): top-3 parts per
    customer by factor score, emitted as ranks. The collaborative
    recommender the donor-clustering contract approximates. Customers
    are deterministically subsampled (md5 bucket) to keep the demo fit
    bounded — the operator itself is full-scale MLlib ALS. Iterative ML
    → rows-only check."""
    from taar_gcp_etl_spark.operators.recommend import als_recommendations

    return als_recommendations(
        _als_model(spark, sf_dir), "o_custkey", "l_partkey", k=3
    )


def q_als_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related items from the LEARNED item factors (operators/recommend
    .als_item_neighbors): behavioral cosine top-3 per item for a bounded
    item subset, reusing q_als_recs' memoized fit — one factorization
    serves both the user-rec and the item-item surface, and the factor
    matrix rides the same search operator as the embedding ANN family.
    Rows-only check (iterative ML upstream)."""
    from taar_gcp_etl_spark.operators.recommend import als_item_neighbors

    model = _als_model(spark, sf_dir)
    items = model.itemFactors.select(F.col("id")).filter(
        F.col("id") < 100
    )
    return als_item_neighbors(model, "l_partkey", k=3, items=items)


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized event values: clip to the [p01, p99] percentiles —
    outlier containment before stats/features. One percentile aggregate,
    broadcast bounds, pure-Column clip."""
    from taar_gcp_etl_spark.operators.quality import winsorize

    ev = _t(spark, sf_dir, "events")
    return winsorize(ev, "value", 0.01, 0.99).select(
        "event_id",
        _r6(F.col("value")).alias("value"),
        _r6(F.col("value_w")).alias("value_w"),
    )


def q_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample of the sparse 'signup' event series:
    every hour between the observed bounds gets a row, empty hours emit
    zeros — the dense grid a trend fit or anomaly baseline needs. Grid =
    one tiny agg exploded; raw events never reshuffle for the fill."""
    from taar_gcp_etl_spark.operators.windows import resample_fill

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    return resample_fill(ev, freq="hour", value_col="value")


def q_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source interleave: the materialization of
    source_mix's weights — a global mix key whose order honors the target
    ratios in every prefix. Per-source rank is a partitioned window; no
    global sort (consumers range-partition on mix_key)."""
    from taar_gcp_etl_spark.operators.sampling import interleave_sources

    docs = _t(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [("src0", 3.0), ("src1", 1.0), ("src2", 0.5)],
        "source string, weight double",
    )
    return interleave_sources(docs, weights).select(
        "doc_id",
        "source",
        "rank_in_source",
        F.round("mix_key", 6).alias("mix_key"),
    )


def q_validate_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite batch gate: lineitem's numeric profile checked
    against bounds held as a broadcast DATA table (one deliberately
    failing bound exercises the quarantine verdict). One aggregate pass +
    a |cols|-row join — the promote/quarantine input for a landing zone.
    _wide for the same count-distinct Expand reason as column_profile."""
    from taar_gcp_etl_spark.operators.quality import validate_batch

    li = _wide(spark, sf_dir, "lineitem")
    exp = spark.createDataFrame(
        _VALIDATE_EXPECTATIONS,
        "column string, min_allowed double, max_allowed double,"
        " max_null_rate double, min_distinct long",
    )
    return validate_batch(li, exp, exact_decimals=2)


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-string self-join (entity resolution): customer names
    within edit distance 2, candidates only from same (nation, segment).
    r4 switched the candidate generator from categorical blocking
    (fuzzy_self_join) to the PassJoin-style pigeonhole SEGMENT join:
    the (nation, segment) domain is fixed at 125 blocks, so block
    membership grows with the corpus and per-block DP work grows
    quadratically — the sf1.0 soak measured 34x wall-clock at 10x rows.
    Segment keys are content-derived, so their cardinality scales with
    the data and candidates stay O(n); the method is EXACT (pigeonhole
    over d+1 pieces + levenshtein verify), so the all-pairs DuckDB
    oracle is unchanged. The categorical columns remain in the join key
    as the semantic filter."""
    from taar_gcp_etl_spark.operators.joins import fuzzy_self_join_segments

    cust = _wide(spark, sf_dir, "customer")
    return fuzzy_self_join_segments(
        cust,
        "c_name",
        "c_custkey",
        ["c_nationkey", "c_mktsegment"],
        max_distance=2,
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (r3): per-document email/IP/phone hit
    counts and the redacted text. The fixture corpus contains no PII, so
    BOTH engines first augment the text with synthetic spans derived
    deterministically from doc_id — the detection, counting, and ordered
    redaction machinery is what the oracle checks. Pure Column map, zero
    shuffle (runs at scan speed at 100 TB)."""
    from taar_gcp_etl_spark.operators.pii import pii_stats

    docs = _wide(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or admin@test.org ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return pii_stats(aug)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (r3): 8-gram train-test overlap — every
    corpus document scored by how many of its 8-token shingles appear in
    the benchmark set (here: doc_id % 10 == 0 plays the eval suite). The
    benchmark gram set is distinct-ed and broadcast; the corpus side never
    shuffles (explode → map-side probe → partial agg)."""
    from taar_gcp_etl_spark.operators.dedup import benchmark_overlap

    docs = _wide(spark, sf_dir, "documents")
    return benchmark_overlap(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        n=8,
    ).select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        "overlap_ratio",
    )


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level dedup (r3): CCNet/RefinedWeb-style paragraph/line
    dedup — 20-token segments, keep the globally first occurrence of each
    distinct segment, reassemble documents. Two linear shuffles (segment
    hash, then doc id); candidate volume is corpus-linear."""
    from taar_gcp_etl_spark.operators.dedup import segment_dedup

    return segment_dedup(_wide(spark, sf_dir, "documents"), seg_tokens=20)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-digest hash aggregate."""
    from taar_gcp_etl_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


# The signed (id, shingles, sigs) relation feeds two registry queries and
# is persisted inside lsh_near_dup_pairs; memoize it per (application,
# corpus) so repeated registry invocations reuse ONE cached relation
# instead of leaking a new persisted copy per call — same lifecycle
# discipline as _SIMHASH_MEMO / _CLUSTER_MEMO.
_MINHASH_MEMO: dict[tuple[str, str], DataFrame] = {}


def _minhash_signed_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taar_gcp_etl_spark.operators.dedup import minhash_signatures

    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key not in _MINHASH_MEMO:
        for stale in [k for k in _MINHASH_MEMO if k[0] != app_id]:
            del _MINHASH_MEMO[stale]
        # 8 hashes: sig0..3 feed the minhash_signatures contract
        # unchanged (same first digest); sig4..7 complete the b=4 r=2
        # banding profile q_lsh_near_dup uses.
        _MINHASH_MEMO[key] = minhash_signatures(
            _wide(spark, sf_dir, "documents"), n_hashes=8
        )
    return _MINHASH_MEMO[key]


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (4 hashes over 3-token shingles).

    SESSION-SHARED COST: reads the memoized/persisted signature
    projection the minhash family shares (operators/dedup.py's
    documented MinHashLSH trade), so its wall time depends on whether
    lsh_near_dup already materialized the cache this session (measured
    0.05 s after vs ~1 s before)."""
    return _minhash_signed_cached(spark, sf_dir).select(
        "doc_id", "sig0", "sig1", "sig2", "sig3"
    )


def q_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, exact-Jaccard verified ≥ 0.5.

    Banding profile b=4, r=2 (8 hashes, two per band) — the textbook
    design point for threshold 0.5 (t ≈ (1/b)^(1/r)). r4's sf10 soak
    measured the old r=1 profile superlinear (26× at 10× rows): with
    single-hash bands any corpus-frequent low-hash shingle makes band
    membership scale with the corpus, so mid-size bands below the hot
    cap grow quadratically. r=2 collides pairs at 1-(1-J²)^4, pushing
    unrelated-doc collisions to coincidence level while keeping the
    standard s-curve recall at the 0.5 verify threshold. The oracle
    mirrors the same 8-hash banding."""
    from taar_gcp_etl_spark.operators.dedup import lsh_near_dup_pairs

    signed = _minhash_signed_cached(spark, sf_dir)
    return lsh_near_dup_pairs(
        signed, jaccard_threshold=0.5, rows_per_band=2
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end (r3; folds the standalone
    ngram_jaccard registry entry — the exact all-pairs Jaccard stage is
    this query's edge source, so the driver still value-checks it): pairs
    at Jaccard >= 0.5 over a bounded subset are closed into connected
    components (transitively linked near-dups get ONE canonical
    representative — the decision step a dedup pipeline actually needs);
    every document is labeled, canonical = component min id."""
    from taar_gcp_etl_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = _wide(spark, sf_dir, "documents").filter(F.col("doc_id") < 256)
    pairs = ngram_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.5)
    labels = connected_components(pairs)
    cluster = F.coalesce("cluster_id", F.col("doc_id"))
    return docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_canonical"),
    )


# The simhash digest feeds two registry queries (the digest itself and the
# Hamming pairing); memoize the cached digests per (application, sf_dir) —
# same lifecycle discipline as _CLUSTER_MEMO. ~64 md5+fold passes per
# document make this the most expensive shared subcomputation after KMeans.
_SIMHASH_MEMO: dict[tuple[str, str], DataFrame] = {}


def _simhash64_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taar_gcp_etl_spark.operators.dedup import simhash64

    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key not in _SIMHASH_MEMO:
        for stale in [k for k in _SIMHASH_MEMO if k[0] != app_id]:
            del _SIMHASH_MEMO[stale]
        _SIMHASH_MEMO[key] = simhash64(
            _wide(spark, sf_dir, "documents")
        ).cache()
    return _SIMHASH_MEMO[key]


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 64-bit SimHash digest per document, as two unsigned-32 words
    (engine-portable — no signed-overflow edge cases). Supersedes the r1
    16-bit variant (operators.dedup.simhash, kept for small-bucket use)."""
    return _simhash64_cached(spark, sf_dir)


def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-neighbor near-dup pairs over the 64-bit SimHash: banded
    (4×16-bit) candidate join — exact for distance ≤ 3 by pigeonhole —
    verified with popcount distance. Hot bands capped like MinHash-LSH
    (cap mirrored in the oracle SQL so both engines stay in lockstep).
    Reuses the memoized digest relation — the digest is computed once per
    (session, corpus) however many downstream queries consume it."""
    from taar_gcp_etl_spark.operators.dedup import simhash_hamming_pairs

    digests = _simhash64_cached(spark, sf_dir)
    return simhash_hamming_pairs(digests, max_hamming=3, max_band_size=1000)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for a small query set (vec_id < 5)."""
    from taar_gcp_etl_spark.operators.similarity import cosine_topk_bruteforce

    emb = _wide(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=3)


def q_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (sign-LSH) approximate nearest neighbors, top-2 per query
    (vec_id < 20) within the query's bucket."""
    from taar_gcp_etl_spark.operators.similarity import cosine_topk_bucketed

    emb = _wide(spark, sf_dir, "embeddings")
    return cosine_topk_bucketed(emb, emb.filter(F.col("vec_id") < 20), k=2)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scorecard (operators/metrics.ranking_metrics):
    recall@2 / MRR@2 / NDCG@2 of the sign-LSH bucketed ANN against the
    exact cosine top-2, per query (vec_id < 20) — the recall harness as
    a first-class oracle-paired query, not just a test. Both sides are
    deterministic (rounded score + id tiebreak), the metrics join moves
    O(queries × k) rows."""
    from taar_gcp_etl_spark.operators.metrics import ranking_metrics
    from taar_gcp_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_bucketed,
    )

    emb = _wide(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    truth = cosine_topk_bruteforce(emb, queries_df, k=2)
    pred = cosine_topk_bucketed(emb, queries_df, k=2)
    return ranking_metrics(pred, truth, k=2)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts appearing in the
    same order, both directions — the co-install graph shape of the
    reference's guid_coinstallation contract at part granularity).
    Iterative → rows-only check; determinism and rank-mass conservation
    are unit-tested (operators/graph.py). 5 iterations, lineage cut
    mid-run; orders deterministically md5-sampled (25%) to bound the
    demo's per-iteration shuffle. The symmetric edge set has no dangling
    nodes, so the operator's static-dangling-set detection skips every
    per-iteration driver aggregate."""
    from taar_gcp_etl_spark.operators.graph import pagerank
    from taar_gcp_etl_spark.operators.sampling import hash_bucket

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(hash_bucket(F.col("l_orderkey"), 100) < 25)
    )
    a = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("src")
    )
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("dst")
    )
    edges = a.join(b, "o").filter(F.col("src") != F.col("dst"))
    # checkpoint cadence > iters: a 5-deep lineage needs no mid-run cut,
    # so the only materialization is the operator's final checkpoint —
    # one full evaluation instead of two (the cadence matters for LONG
    # runs, where plan growth is the bottleneck; see operators/graph.py)
    ranks = pagerank(edges, iters=5, checkpoint_every=10)
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy per document — the cheap gibberish /
    boilerplate quality signal (explode → two-level aggregate, linear in
    input; see operators.text.char_entropy)."""
    from taar_gcp_etl_spark.operators.text import char_entropy

    return char_entropy(_wide(spark, sf_dir, "documents"))


def q_tfidf_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical similarity — TF-IDF cosine of 10 query docs against
    the corpus through an inverted-index join (pairs meet only on shared
    tokens; the query-side weights broadcast, the corpus index never
    shuffles for the probe). The lexical twin of the dense ANN family."""
    from taar_gcp_etl_spark.operators.text import tfidf_similarity

    docs = _t(spark, sf_dir, "documents")
    return tfidf_similarity(docs, list(range(10)), min_sim=0.85)


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-validation profile of lineitem's numeric columns — null /
    distinct / min / max / mean per column in ONE aggregate pass + unpivot
    (the expectation-suite gate a pipeline runs before promoting a
    batch). _wide: the count-distinct Expand multiplies rows ×|cols|
    before the first exchange — fanning the scan out keeps that CPU on
    all cores (2.2 s → 1.5 s warm at sf0.1)."""
    from taar_gcp_etl_spark.operators.quality import column_profile

    li = _wide(spark, sf_dir, "lineitem")
    # exact_decimals=2: lineitem numerics are fixed 2-decimal domains, so
    # the integer-scaled mean is order-independent and engine-exact — a
    # double AVG sat exactly on a round-6 boundary at sf0.01 (l_discount
    # mean 0.0499185) and flipped between engines' summation orders
    return column_profile(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_orderkey"],
        exact_decimals=2,
    )


def q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — grouped linear regression with the BUILT-IN regr_* aggregate
    family (regr_slope/intercept/r2 over value vs event-time seconds, per
    event_type): trend extraction entirely inside whole-stage codegen — the
    shape people reach for applyInPandas + scipy for, expressed as one
    shuffled aggregate instead of an Arrow round-trip. Time is re-based to
    hours-since-corpus-epoch so slope magnitudes survive 6-decimal
    rounding."""
    ev = _t(spark, sf_dir, "events")
    # microsecond-exact epoch (unix_timestamp truncates sub-second parts;
    # the fixture's timestamps all carry them — oracle uses epoch(ts));
    # ntz→tz cast is UTC under the pinned session, matching DuckDB's naive
    # epoch()
    secs = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    x = (secs - F.lit(1700000000)) / F.lit(3600.0)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _r6(F.regr_slope(F.col("value"), x)).alias("slope"),
        _r6(F.regr_intercept(F.col("value"), x)).alias("intercept"),
        _r6(F.regr_r2(F.col("value"), x)).alias("r2"),
    )


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character chunking (RAG / context-window prep): 300-char
    chunks at stride 250 (50-char overlap). See operators.text
    .chunk_documents — pure Generate, no shuffle."""
    from taar_gcp_etl_spark.operators.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), size=300, stride=250
    )


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-id tokenization — encode each document as its token-id
    sequence against the corpus's own top-100 vocabulary (OOV → −1), the
    text→ints step that ends a training-data pipeline. Broadcast dictionary
    join + one narrow reassembly shuffle; see operators/text.py."""
    from taar_gcp_etl_spark.operators.text import (
        tokenize_to_ids,
        vocab_with_ids,
    )

    docs = _wide(spark, sf_dir, "documents")
    return tokenize_to_ids(docs, vocab_with_ids(docs, vocab_size=100))


def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup (minute → hour → day) where each coarser
    grain aggregates the FINER grain's partials, not the raw table — the
    continuous-aggregate / hypertable pattern: one raw scan feeds every
    resolution. Exact integer-cents sums through the cascade."""
    ev = _t(spark, sf_dir, "events")
    return windows.rollup_cascade(ev)


def q_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized similarity search — per-dim affine int8 quantization of
    the corpus (stats learned in one cheap pass) + maximum-inner-product
    top-3 per query (vec_id < 10) on the INTEGER dot product. Integer
    scores are exact under any summation order, so the ranking is fully
    deterministic and oracle-paired; the quantized corpus is 4× smaller
    than float32 — the memory/scan-speed trade a production vector store
    makes at scale."""
    from taar_gcp_etl_spark.operators.similarity import int8_topk

    emb = _wide(spark, sf_dir, "embeddings")
    return int8_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star text analysis — corpus vocabulary builder: top-1000
    tokens by total occurrence with document frequency (the seed statistic
    for BPE/unigram tokenizer training and TF-IDF weighting). Two-level
    aggregate: groupBy(token, doc) partial then groupBy(token) — avoids the
    Expand row-doubling of count(DISTINCT) over exploded rows."""
    from taar_gcp_etl_spark.operators.text import vocab_top_tokens

    return vocab_top_tokens(_wide(spark, sf_dir, "documents"))


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star text analysis — CCNet-style unigram-LM quality score:
    per-document mean negative log-probability under a top-1000-token
    unigram model fit on the corpus itself (OOV floored at ln(1/total)).
    Two shuffle-light passes: token-grain partial agg for the fit, V-row
    broadcast + per-doc map-side collapse for the scoring."""
    from taar_gcp_etl_spark.operators.text import unigram_lm_score

    return unigram_lm_score(_wide(spark, sf_dir, "documents"))


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star corpus ops — per-source data-mixing weights: token share
    and temperature-scaled (alpha=0.5) sampling weight per source, the
    table a pretraining dataloader consumes. One corpus pass; global
    normalizers are broadcast single-row aggregates."""
    from taar_gcp_etl_spark.operators.text import source_mix

    return source_mix(_wide(spark, sf_dir, "documents"))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star dedup — SemDeDup-style semantic near-dup collapse:
    KMeans-cluster embeddings, within-cluster salted pair join at cosine
    ≥ 0.95, connected components → one canonical doc per duplicate
    group. Iterative-ML upstream → rows-only check; synthetic-fixture +
    determinism tests in tests/test_consolidations.py.

    k scales with the corpus (r4 soak finding): within-cluster pair work
    is Σ|cluster|²/salt, so a FIXED k curves quadratically — 19x
    wall-clock at 10x rows, right at the soak bound. Target ~250
    vectors/cluster (k = n/250, clamped) keeps cluster size constant →
    pair work O(n); the KMeans fit is O(n·k·iters) with k capped at
    4096, the SemDeDup regime (large-but-sublinear k; the paper runs
    ~100k clusters for billions of docs). Small corpora (≤ 4000, the
    driver SFs) reuse the shared memoized k=8 donor fit unchanged."""
    from taar_gcp_etl_spark.operators.similarity import semantic_dedup

    emb = _wide(spark, sf_dir, "embeddings")
    # size probe for choosing k: count the UN-fanned read — parquet
    # count(*) collapses to row-group metadata there, where counting the
    # _wide relation would execute its repartition exchange first
    # (guide §1.4's count-vs-work distinction, used in our favor)
    n = _t(spark, sf_dir, "embeddings").count()
    if n <= 4000:
        return semantic_dedup(
            emb, threshold=0.95, assignments=_clusters(spark, sf_dir)
        )
    return semantic_dedup(
        emb, threshold=0.95, k=min(4096, max(8, n // 250))
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with learned (KMeans) centroids as the coarse quantizer —
    reuses the memoized donor_index fit; nprobe=2 of 8 cells. Iterative-ML
    upstream → rows-only check; tests measure recall vs the brute-force
    baseline."""
    from taar_gcp_etl_spark.operators.similarity import ivf_topk

    emb = _wide(spark, sf_dir, "embeddings")
    assignments, centroids = _cluster_index(spark, sf_dir)
    return ivf_topk(
        emb, assignments, centroids, emb.filter(F.col("vec_id") < 20),
        k=3, nprobe=2,
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric part co-purchase edge list (src, dst), src ≠ dst, over a
    deterministic 3% md5 sample of orders — the shared graph fixture for
    the recursive-oracle queries (cc_clusters / bfs_hops / communities).
    Small on purpose: the DuckDB twin runs a transitive-closure recursive
    CTE over it, so the sample bounds the closure, not Spark."""
    from taar_gcp_etl_spark.operators.sampling import hash_bucket

    # Sample through ORDERS, not lineitem: the md5 bucket is CPU-bound
    # per row, and filtering the fact table directly runs it over every
    # lineitem row INSIDE the single-split scan stage (Catalyst pushes
    # deterministic filters below a repartition, so _wide can't rescue a
    # filter — measured 3.5 s serialized at bench sf). Hashing the 4×
    # smaller key side and broadcasting the sampled keys into the fact
    # scan is also the 100 TB shape: the corpus-side table never pays
    # per-row hashing for a dimension-keyed sample.
    o = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey")
        .filter(hash_bucket(F.col("o_orderkey"), 100) < 3)
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "o")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


# shared edge-list CTE for the recursive-graph oracles (DuckDB twin of
# _copurchase_edges — same md5 bucket on the orders key, same a≠b
# symmetric join; l_orderkey ⊆ o_orderkey, so sampling through orders is
# row-identical to filtering lineitem directly)
_EDGES_CTE = """
    o AS (SELECT o_orderkey FROM orders
          WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
                % 100 < 3),
    li AS (SELECT l_orderkey, l_partkey FROM lineitem
           JOIN o ON l_orderkey = o_orderkey),
    eu AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)
"""


def q_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the co-purchase graph — oracle-paired
    against a DuckDB RECURSIVE CTE computing min reachable node id. The
    iterative closure is the one query class Spark expresses as a driver
    loop of declarative steps; pairing it against recursive SQL pins the
    loop's semantics, not just its determinism. Uses the ALTERNATING
    large-star/small-star variant (operators/dedup
    .connected_components_alternating): the co-purchase giant component
    is large-diameter, where edge-rewiring beats min-label propagation
    2× measured (4.1 s vs 8.3 s at sf0.1, identical output — equivalence
    is property-tested; the LSH dedup pipelines keep propagation, whose
    2-3 rounds win on near-clique components)."""
    from taar_gcp_etl_spark.operators.dedup import (
        connected_components_alternating,
    )

    edges = _copurchase_edges(spark, sf_dir)
    return connected_components_alternating(
        edges, src_col="src", dst_col="dst", id_col="node"
    ).select(F.col("node").cast("long"), F.col("cluster_id").cast("long"))


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (operators/graph.bfs_distances): minimum hop count
    from a deterministic 10% seed set over the co-purchase graph, depth ≤ 4
    — oracle-paired against a depth-bounded recursive CTE. The frontier
    loop's min-hop dedup and visited-set subtraction are exactly what the
    UNION-dedup recursion does declaratively."""
    from taar_gcp_etl_spark.operators.graph import bfs_distances
    from taar_gcp_etl_spark.operators.sampling import hash_bucket

    # persist the co-purchase relation for the duration of the BFS: the
    # seed set AND the operator's internal edge relation both consume it,
    # and un-persisted it re-ran the orders-sampled lineitem self-join
    # twice (guide §5). bfs_distances returns a fully-materialized
    # (per-round checkpointed) relation, so unpersisting before return
    # is safe — nothing lazy still references the cache.
    edges = _copurchase_edges(spark, sf_dir).persist()
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter(hash_bucket(F.col("node"), 100) < 10)
    )
    out = bfs_distances(edges, seeds, max_hops=4)
    edges.unpersist()
    return out.select(
        F.col("node").cast("long"), F.col("hops").cast("int")
    )


def q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (operators/graph.label_propagation):
    4 synchronous rounds, most-frequent-neighbor-label with min-label tie
    break — deterministic but not SQL-expressible (the per-round argmax
    needs window/aggregate state inside the recursion, which recursive
    CTEs disallow) → rows-only check; determinism and community-structure
    properties are unit-tested."""
    from taar_gcp_etl_spark.operators.graph import label_propagation

    edges = _copurchase_edges(spark, sf_dir)
    return label_propagation(edges, iters=4)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent users: every user_id with > n/150 of all events, exact
    counts via the sketch-then-verify shape (operators/analytics
    .heavy_hitters: per-batch pigeonhole candidates, then a semi-join
    bounded exact recount) — equal to plain GROUP BY ... HAVING, which is
    what the oracle runs; the candidate pass is pure pruning."""
    from taar_gcp_etl_spark.operators.analytics import heavy_hitters

    return heavy_hitters(
        _t(spark, sf_dir, "events"), key_col="user_id", k=150
    ).select(F.col("user_id").cast("long"), F.col("freq").cast("long"))


def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling-window anomaly detection (operators/analytics
    .rolling_zscore): |value − mean(prev 5)| > 3 sample stddevs, trailing
    frame excludes the current row, cold-start rows never flagged. The
    window partitions on the high-cardinality user key — per-entity
    history state, no global sort."""
    from taar_gcp_etl_spark.operators.analytics import rolling_zscore

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return rolling_zscore(
        ev,
        key_col="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        lookback=5,
        min_periods=3,
        z=2.5,
    )


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote/inclusion detection (operators/dedup.containment_pairs):
    n-gram containment |A∩B|/min(|A|,|B|) ≥ 0.5 over a bounded doc
    subset — the asymmetric near-dup gate Jaccard misses (a short doc
    quoted inside a long one scores ≈1 here, ≈0 on Jaccard)."""
    from taar_gcp_etl_spark.operators.dedup import containment_pairs

    docs = _wide(spark, sf_dir, "documents").filter(F.col("doc_id") < 256)
    return containment_pairs(docs, min_containment=0.5)


def q_ann_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-compressed ANN (operators/similarity.pca_project → brute-force
    cosine in the 16-dim principal subspace, 4× fewer multiplies per
    probe than the 64-dim corpus). Iterative-ML upstream → rows-only
    check; recall vs the full-space exact top-k is asserted in tests
    (TestPcaAnn), not assumed."""
    from taar_gcp_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
        pca_project,
    )

    emb = _wide(spark, sf_dir, "embeddings")
    projected, _ = pca_project(emb, k=16)
    return cosine_topk_bruteforce(
        projected, projected.filter(F.col("vec_id") < 20), k=3
    )


def q_binary_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of event value as a purchase score (operators/metrics
    .binary_auc): grouped Mann-Whitney U over the quantized score domain
    — the heavy input collapses through one score-group aggregate before
    any ordered work. Quantization (round-3) is part of the metric's
    definition and applied identically in the oracle."""
    from taar_gcp_etl_spark.operators.metrics import binary_auc

    ev = _t(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "purchase").alias("is_purchase")
    )
    return binary_auc(ev, "value", "is_purchase", score_decimals=3)


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of a derived purchase-propensity score
    (operators/metrics.calibration_bins): value scaled into [0,1] via a
    fixed divisor, 10 equal-width bins, observed purchase rate per bin.
    One map-side-combined aggregate, 10 rows out."""
    from taar_gcp_etl_spark.operators.metrics import calibration_bins

    ev = _t(spark, sf_dir, "events").select(
        (F.col("value") / F.lit(1000.0)).alias("score"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    return calibration_bins(ev, "score", "is_purchase", n_bins=10)


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics over lineitem's part key (operators/skew
    .skew_report): top-20 hottest keys with share and cumulative share —
    the report behind every salting/AQE decision. Windows run after the
    TakeOrdered cut, on a 20-row relation."""
    from taar_gcp_etl_spark.operators.skew import skew_report

    return skew_report(
        _t(spark, sf_dir, "lineitem"), key_col="l_partkey", top_n=20
    ).select(
        F.col("rank").cast("int"),
        F.col("l_partkey").cast("long"),
        F.col("n_rows").cast("long"),
        "share",
        "cum_share",
    )


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree / triangle count / clustering coefficient over the
    co-purchase graph (operators/graph.graph_stats): degree-oriented
    triangle enumeration, O(E^1.5) wedge volume regardless of hub skew.
    Orientation-invariant result — the oracle verifies with plain
    id-ordered SQL joins."""
    from taar_gcp_etl_spark.operators.graph import graph_stats

    return graph_stats(_copurchase_edges(spark, sf_dir))


def q_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (operators/merge
    .refresh_aggregate): per-user sum/count/max kept current by merging a
    delta batch's partial aggregate into the stored table — cost scales
    with the delta, never the history. The fixture splits events 3:1 by
    event_id bucket into history/delta; the oracle is the full
    re-aggregate the incremental path must equal (the maintenance
    identity IS the correctness contract)."""
    from taar_gcp_etl_spark.operators.merge import refresh_aggregate

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    history = ev.filter(F.col("event_id") % 4 != 0)
    delta = ev.filter(F.col("event_id") % 4 == 0)
    measures = {
        "total": ("sum", "value"),
        "n": ("count", "value"),
        "mx": ("max", "value"),
    }
    store = history.groupBy("user_id").agg(
        F.sum("value").alias("total"),
        F.count("value").alias("n"),
        F.max("value").alias("mx"),
    )
    out = refresh_aggregate(store, delta, ["user_id"], measures)
    return out.select(
        "user_id",
        _r6(F.col("total")).alias("total"),
        F.col("n").cast("long").alias("n"),
        _r6(F.col("mx")).alias("mx"),
    )


def q_leak_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the 80/10/10 assignment is an
    md5 bucket of the near-dup CLUSTER id, not the document id — every
    transitively-linked near-duplicate lands in the SAME split, so no
    eval document has a training-set twin (the train-test-contamination
    gate run as a split invariant rather than a post-hoc scan; composes
    dedup_clusters' components with the deterministic sampling bucket).
    Singleton documents are their own cluster. The no-straddle invariant
    is unit-tested over the actual near-dup pairs."""
    from taar_gcp_etl_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from taar_gcp_etl_spark.operators.sampling import hash_bucket

    docs = _wide(spark, sf_dir, "documents").filter(F.col("doc_id") < 256)
    pairs = ngram_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.5)
    labels = connected_components(pairs)
    cluster = F.coalesce("cluster_id", F.col("doc_id"))
    b = hash_bucket(cluster, 100)
    return docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        cluster.alias("cluster_id"),
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def q_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE rolling aggregates (operators/windows.time_range_rolling):
    trailing 1-hour sum/count/avg per user on exact epoch-microsecond
    frame bounds — the density-adaptive frame ROWS windows get wrong.
    Restricted to user_id < 40 to keep the fixture result compact."""
    from taar_gcp_etl_spark.operators.windows import time_range_rolling

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("event_id", "user_id", "ts", "value")
    )
    return time_range_rolling(
        ev, key_col="user_id", ts_col="ts", value_col="value",
        lookback_sec=3600,
    )


def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops — INTERSECT ALL / EXCEPT ALL over customer
    keys of order-status slices. The multiplicity-preserving twins of
    q_set_ops' set-semantics composition: EXCEPT ALL keeps a row once per
    count difference, INTERSECT ALL once per min(count) — semantics a
    plain join-based rewrite silently gets wrong."""
    o = _t(spark, sf_dir, "orders")

    def keys(status: str) -> DataFrame:
        return o.filter(F.col("o_orderstatus") == status).select("o_custkey")

    both = (
        keys("O").intersectAll(keys("F")).withColumn("tag", F.lit("o_and_f"))
    )
    extra = (
        keys("O").exceptAll(keys("F")).withColumn("tag", F.lit("o_minus_f"))
    )
    return both.unionByName(extra)


def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping end-to-end (layout.py): orders is committed
    Z-clustered on (o_custkey, o_totalprice) with per-file min/max stats
    in the transaction manifest, then scanned through the stats-pruning
    planner with a two-column range predicate. The pruned scan must
    equal the plain filtered scan — the oracle is exactly that filter,
    so the hash compare proves the skipped files were provably disjoint.
    The clustered table is built once per (sf_dir, row-count) under the
    system temp dir and reused across runs (an engine-managed layout,
    like any table-format cache)."""
    import hashlib
    import os
    import tempfile

    from taar_gcp_etl_spark import layout, txn

    orders = _t(spark, sf_dir, "orders")
    n = orders.count()
    tag = hashlib.sha256(f"{sf_dir}|{n}".encode()).hexdigest()[:12]
    t = os.path.join(tempfile.gettempdir(), f"taar-zorder-{tag}")
    if txn.latest_manifest(spark, t) is None:
        layout.commit_clustered(
            orders, t, ["o_custkey", "o_totalprice"], n_files=8
        )
    return layout.scan_pruned(
        spark,
        t,
        [
            ("o_custkey", "between", (1, 200)),
            ("o_totalprice", ">=", 50000.0),
        ],
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate-removal proven by a round-trip oracle: each
    document's text is entity-escaped and wrapped in a realistic page
    template (title, script, nav link bar, footer — operators/html.py's
    harness), then extracted with the stdlib-parser block/link-density
    extractor. Correct extraction returns EXACTLY the original text
    (whitespace-collapsed, entities decoded) for every document whose
    trimmed text passes the 25-char block gate — so the DuckDB oracle
    is the documents table itself, and ANY leakage of nav/footer/
    script/title into the output breaks the value hash. (Parity scope:
    the fixture corpus is ASCII; exotic whitespace (\x0b, \xa0) is
    whitespace to Python/Java but not to the oracle's [ \t\n\r]
    class — a corpus carrying it would need the oracle regex widened.)"""
    from taar_gcp_etl_spark.operators.html import (
        extract_html_text,
        wrap_documents_as_html,
    )

    docs = _t(spark, sf_dir, "documents")
    esc = F.regexp_replace(
        F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"
    )
    pages = wrap_documents_as_html(
        docs.withColumn("text", esc), text_col="text", id_col="doc_id"
    )
    out = extract_html_text(pages, html_col="html", id_col="doc_id")
    return out.filter(F.length("text") > 0).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization proven by DUAL implementation: messy URLs
    are synthesized deterministically from the documents table (case
    soup, default ports, tracking params, unsorted query, duplicate
    slashes, fragments — variation keyed on doc_id so every rule is
    exercised), canonicalized with the Column-only parse_url pipeline
    (operators/urls.py), and hash-compared against an INDEPENDENT
    DuckDB canonicalizer built from regexp + list_filter/list_sort.
    The two engines share no parsing code, so agreement pins the
    canonical form itself, not one implementation's quirks."""
    from taar_gcp_etl_spark.operators.urls import canonical_url

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id") % 4
    url = F.concat(
        F.when(k == 0, F.lit("HTTP://")).otherwise(F.lit("http://")),
        F.when(k == 1, F.lit("Example.COM:80")).otherwise(
            F.lit("example.com")
        ),
        F.lit("/docs/"),
        F.col("source"),
        F.when(k == 2, F.lit("//page/")).otherwise(F.lit("/page")),
        F.lit("?utm_source=feed&b="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&a=1"),
        F.when(k == 3, F.lit("#section-2")).otherwise(F.lit("")),
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        canonical_url(url).alias("canonical"),
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. ExactSubstr) over the
    documents corpus: every token covered by an 8-gram occurring >= 2
    times corpus-wide is removed from every document (symmetric
    removal, whitespace-normalized output). The DuckDB oracle rebuilds
    the same semantics from string_split + list slicing + anti-join on
    covered positions — no shared code with the Spark rolling-hash
    path, so the hash compare pins the span semantics exactly
    (ASCII-whitespace parity scope, as html_extract)."""
    from taar_gcp_etl_spark.operators.dedup import remove_repeated_spans

    docs = _t(spark, sf_dir, "documents")
    out = remove_repeated_spans(
        docs, text_col="text", id_col="doc_id", n=8, min_count=2
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_removed").cast("int").alias("n_removed"),
    )


def q_span_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-copy exact-substring dedup (NEXT.md r6 #5): same
    repeated-8-gram detection as span_dedup, but the occurrence with
    the smallest (doc_id, position) survives — row_number over the
    gram, deterministic — so exactly one canonical copy of repeated
    boilerplate remains in the corpus. Oracle rebuilds the policy with
    an independent window over the gram text."""
    from taar_gcp_etl_spark.operators.dedup import remove_repeated_spans

    docs = _t(spark, sf_dir, "documents")
    out = remove_repeated_spans(
        docs, text_col="text", id_col="doc_id", n=8, min_count=2,
        keep="first",
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_removed").cast("int").alias("n_removed"),
    )


def q_fuzzy_join_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy join through the frequency-adaptive boundary path
    (r6): identical semantics and oracle as fuzzy_join — the pigeonhole
    proof holds for any per-length boundary scheme shared by index and
    probe, so the driver's hash compare proves the adaptive candidate
    generator loses nothing. Boundaries come from the per-position
    entropy quantiles; the adaptive key also carries the partner
    length."""
    from taar_gcp_etl_spark.operators.joins import fuzzy_self_join_segments

    cust = _wide(spark, sf_dir, "customer")
    return fuzzy_self_join_segments(
        cust,
        "c_name",
        "c_custkey",
        ["c_nationkey", "c_mktsegment"],
        max_distance=2,
        adaptive_boundaries=True,
    )


def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-aligned fact-fact join (txn.join_bucketed, VERDICT r8 #4):
    customer and a per-customer order-stats table are committed as
    bucketed CDC tables sharing a modulus, then joined WITHOUT
    exchanging either side — per-bucket pruned reads coalesced to one
    partition satisfy the join's clustered distribution, so the plan
    carries zero shuffle Exchange (pinned by
    tests/test_txn.py::TestJoinBucketed). The oracle is the plain SQL
    join, so the driver's hash compare proves the bucket-aligned
    decomposition loses and invents nothing. Tables build once per
    (sf_dir, row-count) under the system temp dir, like q_zorder_scan's
    clustered layout."""
    import hashlib
    import os
    import tempfile

    from taar_gcp_etl_spark import txn

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    n = cust.count()
    nb = 8  # small modulus at bench scale: the plan is O(n_buckets)
    tag = hashlib.sha256(
        f"{sf_dir}|{n}|bjoin|{nb}".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"taar-bjoin-{tag}")
    left, right = f"{base}-cust", f"{base}-ostats"
    if txn.latest_manifest(spark, left) is None:
        txn.apply_cdc_batch_bucketed(
            cust.select(
                "c_custkey", "c_name", "c_acctbal",
                F.col("c_custkey").alias("seq"), F.lit("I").alias("op"),
            ),
            left, key_col="c_custkey", n_buckets=nb,
        )
    if txn.latest_manifest(spark, right) is None:
        stats = orders.groupBy("o_custkey").agg(
            F.count("*").cast("int").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        txn.apply_cdc_batch_bucketed(
            stats.select(
                "*",
                F.col("o_custkey").alias("seq"), F.lit("I").alias("op"),
            ),
            right, key_col="o_custkey", n_buckets=nb,
        )
    out = txn.join_bucketed(spark, left, right)
    return out.select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("acctbal"),
        "o_custkey",
        "n_orders",
        "total_price",
    )


def q_sync_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized JOIN view (txn.sync_join_from_cdc): the
    store holds customer ⋈ per-customer order stats, cold-started at the
    base version and then maintained INCREMENTALLY through a
    deterministic churn batch (balance bump on custkey%10, delete
    custkey%13 on the left; delete o_custkey%7 on the right) — so the
    driver's hash compare proves the delta-maintained view equals the
    from-scratch SQL join of the post-churn state. Tables and both
    syncs build once per (sf_dir, row-count) under the system temp dir;
    replayed syncs no-op on the packed two-source cursor."""
    import hashlib
    import os
    import tempfile

    from taar_gcp_etl_spark import txn

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    n = cust.count()
    nb = 8
    tag = hashlib.sha256(
        f"{sf_dir}|{n}|sjoin|{nb}".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"taar-sjoin-{tag}")
    left, right = f"{base}-cust", f"{base}-ostats"
    store = f"{base}-mv"
    if txn.latest_manifest(spark, left) is None:
        txn.apply_cdc_batch_bucketed(
            cust.select(
                "c_custkey", "c_name",
                F.round("c_acctbal", 2).alias("acctbal"),
                F.lit(1).alias("seq"), F.lit("I").alias("op"),
            ),
            left, key_col="c_custkey", n_buckets=nb,
        )
    if txn.latest_manifest(spark, right) is None:
        stats = orders.groupBy("o_custkey").agg(
            F.count("*").cast("int").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        txn.apply_cdc_batch_bucketed(
            stats.select(
                "*", F.lit(1).alias("seq"), F.lit("I").alias("op"),
            ),
            right, key_col="o_custkey", n_buckets=nb,
        )
    # cold-start sync at the base versions (no-op when already synced)
    txn.sync_join_from_cdc(spark, left, right, store)
    if txn.latest_manifest(spark, left)["version"] == 1:
        # deterministic churn, applied exactly once per fixture build
        txn.apply_cdc_batch_bucketed(
            cust.filter(
                (F.col("c_custkey") % 10 == 0)
                | (F.col("c_custkey") % 13 == 0)
            ).select(
                "c_custkey", "c_name",
                (F.round("c_acctbal", 2) + 100.0).alias("acctbal"),
                F.lit(2).alias("seq"),
                F.when(F.col("c_custkey") % 13 == 0, "D")
                .otherwise("U").alias("op"),
            ),
            left, key_col="c_custkey", n_buckets=nb,
        )
        txn.apply_cdc_batch_bucketed(
            orders.select(F.col("o_custkey")).distinct()
            .filter(F.col("o_custkey") % 7 == 0)
            .select(
                "o_custkey",
                F.lit(None).cast("int").alias("n_orders"),
                F.lit(None).cast("double").alias("total_price"),
                F.lit(2).alias("seq"), F.lit("D").alias("op"),
            ),
            right, key_col="o_custkey", n_buckets=nb,
        )
    # the incremental sync (no-op on replays: packed cursor current)
    txn.sync_join_from_cdc(spark, left, right, store)
    out = txn.read_join_store(spark, store)
    return out.select(
        "c_custkey", "c_name", "acctbal",
        "o_custkey", "n_orders", "total_price",
    )




def q_merge_snapshot_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-snapshot MERGE sync (txn.merge_into with Delta's WHEN NOT
    MATCHED BY SOURCE — r10): the customer table is seeded as a
    bucketed CDC table, then ONE merge reconciles it against "today's
    extract" (customers with c_custkey % 4 != 0, balances bumped +5):
    carried rows UPDATE, new rows would INSERT, and ABSENT rows are
    claimed by two first-match-wins not-matched-by-source clauses —
    DELETE when the stored balance is under 1000, else a stale-marker
    UPDATE over t_ columns only. The oracle re-derives the post-merge
    state as one CASE expression over the seed table, so the hash
    compare proves the O(table) absent-row classification composes
    with the source-driven clauses in a single commit. Fixture builds
    once per content-fingerprinted tag."""
    import hashlib
    import os
    import tempfile

    from taar_gcp_etl_spark import txn

    cust = _t(spark, sf_dir, "customer")
    n = cust.count()
    fp = cust.select(
        F.sum(F.xxhash64("c_custkey", "c_name", "c_acctbal")).alias("h")
    ).collect()[0][0]
    tag = hashlib.sha256(
        f"{sf_dir}|{n}|{fp}|msync".encode()
    ).hexdigest()[:12]
    t = os.path.join(tempfile.gettempdir(), f"taar-msync-{tag}")
    if txn.latest_manifest(spark, t) is None:
        txn.apply_cdc_batch_bucketed(
            cust.select(
                "c_custkey", "c_name",
                F.round("c_acctbal", 2).alias("acctbal"),
                F.lit(1).cast("long").alias("seq"),
                F.lit("I").alias("op"),
            ),
            t, key_col="c_custkey", n_buckets=8,
        )
    if txn.latest_manifest(spark, t)["version"] == 1:
        src = cust.filter(F.col("c_custkey") % 4 != 0).select(
            "c_custkey", "c_name",
            (F.round("c_acctbal", 2) + 5.0).alias("acctbal"),
        )
        import warnings

        with warnings.catch_warnings():
            # a snapshot sync is inherently full-width — the plan-time
            # warning is correct and expected here
            warnings.simplefilter("ignore", RuntimeWarning)
            txn.merge_into(
                spark, t, src,
                when=[
                    {"matched": "update"},
                    {"not_matched": "insert"},
                    {"not_matched_by_source": "delete",
                     "condition": "t_acctbal < 1000"},
                    {"not_matched_by_source": "update",
                     "set": {"c_name":
                             "concat(t_c_name, ' (stale)')"}},
                ],
            )
    return txn.read_cdc_table(spark, t).select(
        "c_custkey", "c_name", "acctbal"
    )


def q_cdc_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-pruned USER read of a bucketed CDC table
    (txn.read_cdc_table(filters=) — VERDICT r9 #5): orders ingested as
    three date-correlated commits (the common time-correlated CDC
    shape, each commit's files covering a narrow o_orderdate band,
    stats_cols recording per-file envelopes), then read back through
    the filtered face — the plan scans ONLY the files whose envelope
    overlaps the date predicate and pushes the residual to the parquet
    reader. The oracle is the plain SQL filter over the source table,
    so the driver's hash compare proves file skipping loses no rows
    (soundness under the merge-on-read layout). Fixture builds once
    per content-fingerprinted tag."""
    import datetime
    import hashlib
    import os
    import tempfile

    from taar_gcp_etl_spark import txn

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.round("o_totalprice", 2).alias("price"),
    )
    n = orders.count()
    fp = orders.select(
        F.sum(F.xxhash64("o_orderkey", "o_orderdate")).alias("h")
    ).collect()[0][0]
    tag = hashlib.sha256(
        f"{sf_dir}|{n}|{fp}|cdcprune".encode()
    ).hexdigest()[:12]
    t = os.path.join(tempfile.gettempdir(), f"taar-cdcprune-{tag}")
    # o_orderdate is TIMESTAMP_NTZ in the fixture parquet — the zone
    # map comparisons are type-strict, so the cutoffs must match
    cuts = [
        datetime.datetime(1994, 1, 1), datetime.datetime(1996, 1, 1)
    ]
    if txn.latest_manifest(spark, t) is None:
        slices = [
            orders.filter(F.col("o_orderdate") < F.lit(cuts[0])),
            orders.filter(
                (F.col("o_orderdate") >= F.lit(cuts[0]))
                & (F.col("o_orderdate") < F.lit(cuts[1]))
            ),
            orders.filter(F.col("o_orderdate") >= F.lit(cuts[1])),
        ]
        for i, sl in enumerate(slices):
            txn.apply_cdc_batch_bucketed(
                sl.withColumn("seq", F.lit(i + 1).cast("long"))
                .withColumn("op", F.lit("I")),
                t, key_col="o_orderkey", n_buckets=8,
                stats_cols=["o_orderdate"],
            )
    return txn.read_cdc_table(
        spark, t, filters=[("o_orderdate", ">=", cuts[1])]
    ).select("o_orderkey", "o_custkey", "o_orderdate", "price")


def q_merge_nbs_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-bounded snapshot sync through the ZONE-MAP-PRUNED
    not-matched-by-source path (round 11, VERDICT r10 #4): orders
    seeded as a bucketed CDC table clustered on o_orderdate
    (stats_cols + rolled files -> date-narrow file envelopes), then
    ONE merge carries today's extract (o_orderkey % 3 != 0, price
    +1.0) and DELETES absentees older than 1993-01-01 via a
    STRUCTURED clause condition ``[("o_orderdate", "<", cutoff)]`` —
    the absent-row classification scans only files whose envelopes
    overlap the cutoff (~1/7 of the table at sf>=0.01) instead of
    O(table), and the matched side keeps its bucket probe. The oracle
    re-derives the post-merge state as plain SQL, so the driver's
    hash compare proves the pruned classification equals the
    unpruned semantics. Fixture builds once per content tag."""
    import datetime
    import hashlib
    import os
    import tempfile
    import warnings

    from taar_gcp_etl_spark import txn

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate",
        F.round("o_totalprice", 2).alias("price"),
    )
    n = orders.count()
    fp = orders.select(
        F.sum(F.xxhash64("o_orderkey", "o_orderdate")).alias("h")
    ).collect()[0][0]
    tag = hashlib.sha256(
        f"{sf_dir}|{n}|{fp}|nbsprune".encode()
    ).hexdigest()[:12]
    t = os.path.join(tempfile.gettempdir(), f"taar-nbsprune-{tag}")
    cutoff = datetime.datetime(1993, 1, 1)
    if txn.latest_manifest(spark, t) is None:
        txn.apply_cdc_batch_bucketed(
            orders.withColumn("seq", F.lit(1).cast("long"))
            .withColumn("op", F.lit("I")),
            t, key_col="o_orderkey", n_buckets=4,
            stats_cols=["o_orderdate"], target_file_rows=400,
        )
    if txn.latest_manifest(spark, t)["version"] == 1:
        src = orders.filter(F.col("o_orderkey") % 3 != 0).withColumn(
            "price", F.col("price") + 1.0
        )
        with warnings.catch_warnings():
            # the extract touches every bucket — the full-width
            # warning is correct and expected for a snapshot sync
            warnings.simplefilter("ignore", RuntimeWarning)
            txn.merge_into(
                spark, t, src,
                when=[
                    {"matched": "update"},
                    {"not_matched": "insert"},
                    {"not_matched_by_source": "delete",
                     "condition": [("o_orderdate", "<", cutoff)]},
                ],
            )
    return txn.read_cdc_table(spark, t).select(
        "o_orderkey", "o_orderdate", "price"
    )


def q_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative MERGE INTO (txn.merge_into): the customer table is
    seeded as a bucketed CDC table, then ONE merge applies a FOUR-
    clause ``when=[...]`` list in Delta's first-match-wins order
    (VERDICT r9 #2 — two of them matched-update clauses with different
    SET semantics): matched + ``is_del`` DELETE (c_custkey%13); matched
    even keys take a SET-list update (``acctbal = t_acctbal + delta``,
    c_name KEEPS the stored value); remaining matched keys take the
    catch-all UPDATE SET * (source name + acctbal+50); synthetic
    unmatched keys INSERT (c_custkey%5, shifted by 10M past the key
    range). The oracle re-derives the post-merge state as plain SQL
    (left join + the same clause CASEs in precedence order + insert
    union), so the driver's hash compare proves the single-commit
    classification-and-apply equals clause-by-clause relational
    algebra. Table + merge build once per fixture tag, which includes
    a CONTENT fingerprint of the customer table (ADVICE r9: a
    regenerated same-cardinality dataset must not reuse a stale
    fixture); replays skip on the table version."""
    import hashlib
    import os
    import tempfile

    from taar_gcp_etl_spark import txn

    cust = _t(spark, sf_dir, "customer")
    n = cust.count()
    fp = cust.select(
        F.sum(F.xxhash64("c_custkey", "c_name", "c_acctbal")).alias("h")
    ).collect()[0][0]
    tag = hashlib.sha256(
        f"{sf_dir}|{n}|{fp}|minto2".encode()
    ).hexdigest()[:12]
    t = os.path.join(tempfile.gettempdir(), f"taar-minto-{tag}")
    if txn.latest_manifest(spark, t) is None:
        txn.apply_cdc_batch_bucketed(
            cust.select(
                "c_custkey", "c_name",
                F.round("c_acctbal", 2).alias("acctbal"),
                F.lit(1).cast("long").alias("seq"),
                F.lit("I").alias("op"),
            ),
            t, key_col="c_custkey", n_buckets=8,
        )
    if txn.latest_manifest(spark, t)["version"] == 1:
        src = cust.filter(F.col("c_custkey") % 3 == 0).select(
            "c_custkey", "c_name",
            (F.round("c_acctbal", 2) + 50.0).alias("acctbal"),
            (F.col("c_custkey") % 13 == 0).alias("is_del"),
            F.lit(7.5).alias("delta"),
        ).unionByName(
            cust.filter(F.col("c_custkey") % 5 == 0).select(
                (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
                F.concat(
                    F.lit("new-"), F.col("c_custkey").cast("string")
                ).alias("c_name"),
                F.lit(1.0).alias("acctbal"),
                F.lit(False).alias("is_del"),
                F.lit(7.5).alias("delta"),
            )
        )
        import warnings

        with warnings.catch_warnings():
            # the fixture's churn is deliberately spread (c_custkey % 3)
            # to exercise every clause — silence the full-width
            # plan-time warning merge_into rightly emits for it
            warnings.simplefilter("ignore", RuntimeWarning)
            txn.merge_into(
                spark, t, src,
                when=[
                    {"matched": "delete", "condition": "is_del"},
                    {"matched": "update",
                     "condition": "c_custkey % 2 = 0",
                     "set": {"acctbal": "t_acctbal + delta"}},
                    {"matched": "update"},
                    {"not_matched": "insert", "condition": "NOT is_del"},
                ],
            )
    return txn.read_cdc_table(spark, t).select(
        "c_custkey", "c_name", "acctbal"
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Registry order is a CONTRACT with the driver: the correctness artifact
# records (at least historically) the first 50 entries, so every
# oracle-checkable query sits in the first 50 slots and the rows-only
# queries (no SQL-expressible oracle: iterative ML / sketch estimates) come
# last. r1→r2 consolidation to stay inside that budget: coinstall_pairs ⊂
# coinstall_rates (pair_count column), cube+rollup ⊂ grouping_sets (CUBE set
# list), date_parts ⊂ scalar_functions, fingerprint ⊂ winnow (min hash);
# the folded operators remain implemented and unit-tested. r2→r3
# consolidation (frees 3 slots for tpch_q7/tpch_q20/repetition):
# pivot+unpivot ⊂ pivot_unpivot (one plan, roundtrip),
# window_tumbling+window_sliding ⊂ event_windows (kind column),
# percentiles+count_distinct_agg ⊂ agg_profile (same table+grouping).
SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "install_ranking": q_install_ranking,
    "distinct_optout": q_distinct_optout,
    "filter_project": q_filter_project,
    "anti_join_delete": q_anti_join_delete,
    "enrich_left_join": q_enrich_left_join,
    "html_extract": q_html_extract,
    "serving_pack": q_serving_pack,
    "sorted_distinct": q_sorted_distinct,
    "grouped_top_k": q_grouped_top_k,
    "coinstall_rates": q_coinstall_rates,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "tpch_q17": q_tpch_q17,
    "per_key_latest": q_per_key_latest,
    "window_running": q_window_running,
    "grouping_sets": q_grouping_sets,
    "range_join": q_range_join,
    "event_windows": q_event_windows,
    "sessionize": q_sessionize,
    "agg_profile": q_agg_profile,
    # r5 curation: zorder_scan (zone-map data skipping end-to-end — the
    # pruned scan must hash-equal the plain filter) promoted into the
    # driver-recorded 50; set_ops demoted to the locally-oracled
    # overflow (its set-semantics shapes stay pinned in-budget through
    # semi_intersection/anti_join_delete, and set_ops_all covers the
    # ALL-variants locally).
    "zorder_scan": q_zorder_scan,
    "asof_join": q_asof_join,
    "pivot_unpivot": q_pivot_unpivot,
    # r12 rotation (VERDICT r11 #2): tpch_q20 -> oracle-paired overflow
    # to make room for the txn layer below; its anti-join-over-agg
    # planner shape stays in-budget via anti_join_delete + tpch_q17.
    "pii_redact": q_pii_redact,
    "decontaminate": q_decontaminate,
    "segment_dedup": q_segment_dedup,
    "upsert": q_upsert,
    "full_outer_join": q_full_outer_join,
    "quality_filter": q_quality_filter,
    "span_dedup": q_span_dedup,
    "text_profile": q_text_profile,
    "winnow": q_winnow,
    "dedup_exact": q_dedup_exact,
    "lsh_near_dup": q_lsh_near_dup,
    "dedup_clusters": q_dedup_clusters,
    "sample_stratified": q_sample_stratified,
    "simhash_hamming": q_simhash_hamming,
    "cosine_topk": q_cosine_topk,
    "ann_bucketed": q_ann_bucketed,
    # r4 curation: the driver artifact records only registry positions 1-50,
    # so the hardest oracle-paired proofs belong in-budget. Promoted here:
    # the partsupp-derived TPC-H heavies (q2 correlated-min, q9 5-way join,
    # q11 group-vs-global threshold, q16 anti-join + count-distinct, q21
    # exists/not-exists double-correlation), funnel (ordered event-sequence
    # match), cc_clusters (large-star/small-star connected components vs a
    # DuckDB recursive-CTE oracle), binary_auc (grouped Mann-Whitney
    # rank-sum), and fuzzy_join (blocked entity resolution). Demoted to the
    # locally-oracled overflow, each with its planner shape still pinned
    # in-budget by a promoted or remaining query: top_k (TakeOrdered ≡
    # tpch_q3's LIMIT), json_extract (F14 ≡ serving_pack), scalar_functions
    # (F8-F13 folded through many in-budget projections), window_ranks
    # (rank windows ≡ grouped_top_k), repetition / lm_score (text folds ≡
    # text_profile + quality_filter + char_entropy), source_mix (sampling ≡
    # sample_stratified), minhash_signatures (its exact signature values
    # gate the in-budget lsh_near_dup banding, same memoized relation).
    # r12 rotation (VERDICT r11 #2): the driver's 50-slot CORRECTNESS
    # artifact had covered the same 50 early-registry queries since
    # round 3, so the transactional layer (txn.py — MERGE INTO, CDC,
    # IVM, pruned reads: the newest and riskiest code) had zero
    # driver-verified rows. The six txn queries move into the first 50;
    # tpch_q2/q9/q11/q16/q21/q20 move to the oracle-paired overflow,
    # where tests/test_oracle.py keeps them green — their planner
    # shapes (multi-join dims, semi/anti joins, shuffled aggs) stay
    # in-budget via tpch_q1/q3/q5/q17, anti_join_delete, and
    # grouping_sets.
    "merge_into": q_merge_into,
    "merge_snapshot_sync": q_merge_snapshot_sync,
    "merge_nbs_pruned": q_merge_nbs_pruned,
    "cdc_pruned_read": q_cdc_pruned_read,
    "sync_join": q_sync_join,
    "agg_refresh": q_agg_refresh,
    "funnel": q_funnel,
    "cc_clusters": q_cc_clusters,
    "binary_auc": q_binary_auc,
    "fuzzy_join": q_fuzzy_join,
    # --- oracle-paired overflow (entries 51+): locally verified by
    # tests/test_oracle.py; outside the driver's 50-row artifact budget,
    # ordered before the rows-only tail so a larger budget covers them.
    # simhash (the bare 64-bit digest) moved here in r3 — its values still
    # gate the driver-checked simhash_hamming pairing, which bands and
    # popcounts the same memoized digest relation. arg_max / histogram /
    # stats_agg moved here in r3 to make room for the pii_redact /
    # decontaminate / segment_dedup LLM-pipeline queries: their aggregate
    # shapes stay exercised in-budget by agg_profile, grouping_sets, and
    # event_windows. text_stats / language_id moved here in r3b — both are
    # column-projections of the in-budget text_profile fold; tpch_q22 /
    # tpch_q7 moved here to make room for lm_score / source_mix /
    # pack_sequences (anti-join and shuffled-agg planner shapes stay
    # in-budget via anti_join_delete, tpch_q17/q20, grouping_sets) ---
    "top_k": q_top_k,
    "json_extract": q_json_extract,
    "scalar_functions": q_scalar_functions,
    "window_ranks": q_window_ranks,
    "repetition": q_repetition,
    "lm_score": q_lm_score,
    "source_mix": q_source_mix,
    "minhash_signatures": q_minhash_signatures,
    "text_stats": q_text_stats,
    "language_id": q_language_id,
    "tpch_q22": q_tpch_q22,
    "tpch_q7": q_tpch_q7,
    "simhash": q_simhash,
    "tpch_q18": q_tpch_q18,
    "tpch_q4": q_tpch_q4,
    "tpch_q12": q_tpch_q12,
    "tpch_q14": q_tpch_q14,
    "arg_max": q_arg_max,
    "histogram": q_histogram,
    "stats_agg": q_stats_agg,
    "vocab": q_vocab,
    "tpch_q6": q_tpch_q6,
    "tpch_q8": q_tpch_q8,
    "tpch_q10": q_tpch_q10,
    "tpch_q13": q_tpch_q13,
    "tpch_q15": q_tpch_q15,
    "tpch_q19": q_tpch_q19,
    "pack_sequences": q_pack_sequences,
    "ann_int8": q_ann_int8,
    "rollup_cascade": q_rollup_cascade,
    "tokenize_ids": q_tokenize_ids,
    "trend_fit": q_trend_fit,
    "chunk_docs": q_chunk_docs,
    "column_profile": q_column_profile,
    "tfidf_sim": q_tfidf_sim,
    "char_entropy": q_char_entropy,
    "source_cap": q_source_cap,
    "token_budget": q_token_budget,
    "weighted_sample": q_weighted_sample,
    "validate_batch": q_validate_batch,
    "interleave": q_interleave,
    "resample_fill": q_resample_fill,
    "winsorize": q_winsorize,
    "binary_stats": q_binary_stats,
    "cohort_retention": q_cohort_retention,
    "drift_psi": q_drift_psi,
    "corpus_diff": q_corpus_diff,
    "basket_rules": q_basket_rules,
    "ann_recall": q_ann_recall,
    "attribution": q_attribution,
    "transitions": q_transitions,
    "funnel_timing": q_funnel_timing,
    "bfs_hops": q_bfs_hops,
    "heavy_hitters": q_heavy_hitters,
    "rolling_anomaly": q_rolling_anomaly,
    "range_window": q_range_window,
    "set_ops_all": q_set_ops_all,
    "set_ops": q_set_ops,
    "leak_safe_split": q_leak_safe_split,
    "graph_stats": q_graph_stats,
    "skew_report": q_skew_report,
    "containment": q_containment,
    "calibration": q_calibration,
    "url_canonical": q_url_canonical,
    "span_dedup_keep": q_span_dedup_keep,
    "fuzzy_join_adaptive": q_fuzzy_join_adaptive,
    "join_bucketed": q_join_bucketed,
    # r12 rotation: the six TPC-H shapes displaced by the txn layer
    # land here, still oracle-paired and replica-verified.
    "tpch_q2": q_tpch_q2,
    "tpch_q9": q_tpch_q9,
    "tpch_q11": q_tpch_q11,
    "tpch_q16": q_tpch_q16,
    "tpch_q21": q_tpch_q21,
    "tpch_q20": q_tpch_q20,
    "semi_intersection": q_semi_intersection,
    "embedding_near_dup": q_embedding_near_dup,
    # --- rows-only tail: no SQL-expressible oracle ---
    "communities": q_communities,
    "als_recs": q_als_recs,
    "als_neighbors": q_als_neighbors,
    "pagerank": q_pagerank,
    "approx_distinct": q_approx_distinct,
    "donor_clusters": q_donor_clusters,
    "donor_curves": q_donor_curves,
    "ann_ivf": q_ann_ivf,
    "ann_pca": q_ann_pca,
    "semantic_dedup": q_semantic_dedup,
}

# DuckDB building blocks shared by the text/dedup oracle SQL.
# validate_batch: one shared expectation list feeds BOTH the Spark query
# (as a broadcast config table) and the generated DuckDB oracle — the
# bounds are data, so the two engines can't drift.
_VALIDATE_EXPECTATIONS = [
    # (column, min_allowed, max_allowed, max_null_rate, min_distinct)
    ("l_quantity", 1.0, 50.0, 0.0, 10),
    ("l_discount", 0.0, 0.05, 0.0, 5),  # deliberately failing bound
    ("l_extendedprice", 0.0, 1e9, 0.0, 100),
    ("l_orderkey", 0.0, 1e18, 0.0, 100),
]


def _validate_batch_sql() -> str:
    parts = []
    for c, mn, mx, nr, nd in _VALIDATE_EXPECTATIONS:
        cd = f"CAST({c} AS DOUBLE)"
        nn = f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
        parts.append(
            f"""
        SELECT '{c}' AS "column",
               CAST({nn} AS BIGINT) AS n_nulls,
               COUNT(DISTINCT {cd}) AS n_distinct,
               MIN({cd}) AS min_val, MAX({cd}) AS max_val,
               ROUND(SUM(CAST(round({cd} * 100) AS BIGINT))
                     / (100.0 * COUNT({cd})), 6) AS mean_val,
               CAST(COALESCE(
                   {nn} / COUNT(*) <= {nr}
                   AND COUNT(DISTINCT {cd}) >= {nd}
                   AND MIN({cd}) >= {mn} AND MAX({cd}) <= {mx},
                   FALSE) AS INTEGER) AS ok
        FROM lineitem"""
        )
    return " UNION ALL ".join(parts)


_TOKS = r"string_split_regex(trim(lower(text)), '\s+')"
_SHINGLES3 = (
    "list_distinct(CASE WHEN len(t) >= 3 THEN "
    "list_transform(generate_series(1, len(t)-2), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) "
    "ELSE [] END)"
)
_EN = "('the','a','of','and','to','in','is','it','for','on')"
_DE = "('der','die','das','und','ist','ein','zu','mit')"

# 64-bit SimHash oracle: per 32-bit word (md5 hex substring at `start`),
# bit b of the digest is 1 iff the ±1 vote sum over distinct tokens is
# positive — the exact twin of operators.dedup.simhash64.
def _simhash_word_terms(start: int) -> str:
    return " + ".join(
        "(CASE WHEN list_sum(list_transform(toks, t -> "
        "CASE WHEN ((('0x' || substr(md5(t), {s}, 8))::BIGINT >> {b}) & 1) = 1 "
        "THEN 1 ELSE -1 END)) > 0 THEN {v} ELSE 0 END)".format(
            s=start, b=b, v=1 << b
        )
        for b in range(32)
    )


_SIMHASH64 = f"""
    WITH toked AS (SELECT doc_id,
                          list_distinct({_TOKS}) AS toks
                   FROM documents)
    SELECT doc_id,
           CAST({_simhash_word_terms(1)} AS BIGINT) AS simhash_hi,
           CAST({_simhash_word_terms(9)} AS BIGINT) AS simhash_lo
    FROM toked
"""

_COS = (
    "ROUND(list_sum(list_transform(generate_series(1, len(q.embedding)), "
    "i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) / "
    "(sqrt(list_sum(list_transform(generate_series(1, len(q.embedding)), "
    "i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))) * "
    "sqrt(list_sum(list_transform(generate_series(1, len(c.embedding)), "
    "i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))), 4)"
)

_BUCKET = (
    "((CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) + "
    "(CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END) + "
    "(CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) + "
    "(CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END))"
)

# PII oracle: the regex constants come from operators.pii (single source of
# truth with the Spark side); patterns contain `{2,}` so this is plain
# concatenation, not an f-string. RE2 (DuckDB) and Java regex (Spark) agree
# on this restricted dialect — see operators/pii.py.
from taar_gcp_etl_spark.operators.pii import EMAIL_RE, IPV4_RE, PHONE_RE

_PII_ORACLE = (
    """
    WITH aug AS (SELECT doc_id,
        text || ' contact user' || doc_id
             || '@example.com or admin@test.org ip 10.0.'
             || (doc_id % 256) || '.7 tel +1-555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents)
    SELECT doc_id,
        CAST(len(regexp_extract_all(t, '"""
    + EMAIL_RE
    + """')) AS INTEGER) AS n_emails,
        CAST(len(regexp_extract_all(t, '"""
    + IPV4_RE
    + """')) AS INTEGER) AS n_ips,
        CAST(len(regexp_extract_all(t, '"""
    + PHONE_RE
    + """')) AS INTEGER) AS n_phones,
        regexp_replace(regexp_replace(regexp_replace(t,
            '""" + EMAIL_RE + """', '<EMAIL>', 'g'),
            '""" + IPV4_RE + """', '<IP>', 'g'),
            '""" + PHONE_RE + """', '<PHONE>', 'g') AS redacted
    FROM aug
"""
)

ORACLE_SQL: dict[str, str] = {
    "install_ranking": """
        SELECT event_type, count(user_id) AS install_count
        FROM events
        WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        GROUP BY event_type
    """,
    "top_k": """
        SELECT user_id, count(event_id) AS n_events
        FROM events GROUP BY user_id
        ORDER BY n_events DESC, user_id ASC LIMIT 100
    """,
    "distinct_optout": """
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'error'
          AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-28'
    """,
    "filter_project": """
        SELECT o_orderkey, o_custkey AS cust_id,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
               o_orderpriority AS priority
        FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice >= 50000.0
          AND o_orderdate <= TIMESTAMP '1998-01-01 00:00:00'
    """,
    "json_extract": """
        SELECT event_id, event_type, CAST(props->>'$.k' AS BIGINT) AS k
        FROM events
        WHERE CAST(props->>'$.k' AS BIGINT) IS NOT NULL
          AND CAST(props->>'$.k' AS BIGINT) > 50
    """,
    "anti_join_delete": """
        SELECT sha256(CAST(c_custkey AS VARCHAR)) AS key, c_name, c_acctbal
        FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        )
    """,
    "enrich_left_join": """
        SELECT o_orderkey,
               COALESCE(c_name, '') AS cust_name,
               COALESCE(c_mktsegment, '') AS segment
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
    "semi_intersection": """
        SELECT c_custkey, c_name FROM customer
        WHERE c_acctbal > 0 AND c_custkey IN (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        )
    """,
    "serving_pack": """
        SELECT sha256(CAST(event_id AS VARCHAR)) AS key,
               to_json(struct_pack(user_id := user_id,
                                   event_type := event_type)) AS payload
        FROM events WHERE event_type = 'signup'
    """,
    "sorted_distinct": """
        SELECT DISTINCT source FROM documents
        WHERE source IS NOT NULL AND source NOT IN ('null', '')
        ORDER BY source
    """,
    "grouped_top_k": """
        SELECT event_type, user_id, n, rnk FROM (
            SELECT event_type, user_id, n,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY n DESC, user_id ASC
                   ) AS INTEGER) AS rnk
            FROM (
                SELECT event_type, user_id, count(*) AS n
                FROM events GROUP BY event_type, user_id
            )
        ) WHERE rnk <= 5
    """,
    "tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                   AS sum_disc_price,
               ROUND(AVG(l_quantity), 6) AS avg_qty,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_q3": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC LIMIT 20
    """,
    "tpch_q5": """
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """,
    "per_key_latest": """
        SELECT user_id, event_id, ts, event_type, value FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn FROM events
        ) WHERE rn = 1
    """,
    "window_running": """
        SELECT user_id, event_id, value,
               ROUND(SUM(value) OVER w_run, 6) AS running_sum,
               LAG(value, 1) OVER w AS prev_value,
               LEAD(value, 1) OVER w AS next_value,
               CAST(row_number() OVER w AS INTEGER) AS rn
        FROM events WHERE user_id < 50
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
               w_run AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "range_join": """
        SELECT l_returnflag, count(*) AS n_late
        FROM lineitem JOIN orders
          ON l_orderkey = o_orderkey
         AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY l_returnflag
    """,
    "event_windows": """
        SELECT 'tumbling' AS kind,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               event_type,
               count(*) AS n, ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'sliding' AS kind, window_start, event_type,
               count(*) AS n, ROUND(SUM(value), 2) AS sum_value
        FROM (
            SELECT event_type, value,
                   unnest([
                       TIMESTAMP '1970-01-01 00:00:00'
                           + to_seconds(CAST(FLOOR(epoch(ts)/43200)*43200
                                             AS BIGINT)),
                       TIMESTAMP '1970-01-01 00:00:00'
                           + to_seconds(CAST(FLOOR(epoch(ts)/43200)*43200
                                             - 43200 AS BIGINT))
                   ]) AS window_start
            FROM events
        ) GROUP BY window_start, event_type
    """,
    "sessionize": """
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (
                       PARTITION BY user_id ORDER BY ts
                   )) > 1800 THEN 1 ELSE 0 END AS new_session
            FROM events
        ), ids AS (
            SELECT user_id, ts, value,
                   CAST(SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, MIN(ts) AS session_start,
               count(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
        FROM ids GROUP BY user_id, session_id
    """,
    "agg_profile": """
        SELECT event_type,
               ROUND(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS p50,
               ROUND(CAST(quantile_cont(value, 0.95) AS DOUBLE), 6) AS p95,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events,
               string_agg(DISTINCT CAST(user_id % 10 AS VARCHAR), ','
                          ORDER BY CAST(user_id % 10 AS VARCHAR)) AS user_digits
        FROM events GROUP BY event_type
    """,
    "set_ops": """
        SELECT o_custkey, 'o_and_f' AS tag FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        )
        UNION ALL
        SELECT o_custkey, 'p_not_o' AS tag FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        )
    """,
    "tpch_q6": """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "tpch_q8": """
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               ROUND(SUM(CASE WHEN n2.n_name = 'NATION_3'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 6)
                   AS mkt_share
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
                     AND r.r_name = 'EUROPE'
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY year(o_orderdate)
    """,
    "tpch_q10": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "tpch_q13": """
        SELECT c_count, count(*) AS custdist FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c.c_custkey
        ) GROUP BY c_count
    """,
    "tpch_q15": """
        WITH revenue AS (
            SELECT l_suppkey,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    "tpch_q2": f"""
        WITH {_PS_CTE},
        eu_sup AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        eu_ps AS (
            SELECT * FROM ps JOIN eu_sup ON ps_suppkey = s_suppkey
        )
        SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
               ROUND(ps_supplycost, 6) AS supplycost
        FROM eu_ps e
        JOIN part ON p_partkey = e.ps_partkey
        WHERE p_size = 3 AND p_type = 'ECONOMY'
          AND ps_supplycost = (SELECT MIN(ps_supplycost) FROM eu_ps
                               WHERE ps_partkey = e.ps_partkey)
    """,
    "tpch_q9": f"""
        WITH {_PS_CTE}
        SELECT n_name AS nation,
               CAST(year(l_shipdate) AS BIGINT) AS o_year,
               ROUND(SUM(l_extendedprice * (1 - l_discount)
                         - ps_supplycost * l_quantity), 2) AS sum_profit
        FROM lineitem
        JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE p_type = 'PROMO'
        GROUP BY 1, 2
    """,
    "tpch_q11": f"""
        WITH {_PS_CTE},
        nat_ps AS (
            SELECT ps_partkey,
                   CAST(FLOOR(ps_supplycost * ps_availqty * 100 + 0.5)
                        AS BIGINT) AS value_cents
            FROM ps JOIN supplier ON ps_suppkey = s_suppkey
            WHERE s_nationkey = 7
        ),
        per_part AS (
            SELECT ps_partkey, SUM(value_cents) AS part_cents
            FROM nat_ps GROUP BY ps_partkey
        )
        SELECT ps_partkey, ROUND(part_cents / 100.0, 2) AS part_value
        FROM per_part
        WHERE part_cents > (SELECT AVG(part_cents) * 1.2 FROM per_part)
    """,
    "char_entropy": """
        WITH chars AS (
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents
        ),
        per AS (
            SELECT doc_id, ch, count(*) AS c
            FROM chars WHERE ch <> '' GROUP BY doc_id, ch
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_chars,
               COUNT(*) AS n_distinct_chars,
               ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy
        FROM per GROUP BY doc_id
    """,
    "tfidf_sim": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS token FROM documents
        ),
        tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM toks WHERE token <> '' GROUP BY doc_id, token
        ),
        dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        w AS (
            SELECT doc_id, tf.token,
                   tf * ln((SELECT count(*) FROM documents)::DOUBLE / df)
                       AS w
            FROM tf JOIN dfq ON tf.token = dfq.token
        ),
        nrm AS (
            SELECT doc_id, sqrt(SUM(w * w)) AS nm FROM w GROUP BY doc_id
        ),
        unit AS (
            SELECT w.doc_id, token, w / nm AS u
            FROM w JOIN nrm USING (doc_id)
        )
        SELECT q.doc_id AS query_id, u.doc_id AS neighbor_id,
               ROUND(SUM(u.u * q.u), 4) AS sim
        FROM unit u
        JOIN unit q ON u.token = q.token
        WHERE q.doc_id IN (0,1,2,3,4,5,6,7,8,9) AND u.doc_id <> q.doc_id
        GROUP BY 1, 2
        HAVING ROUND(SUM(u.u * q.u), 4) >= 0.85
    """,
    "column_profile": """
        SELECT 'l_quantity' AS "column",
               CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               COUNT(DISTINCT l_quantity) AS n_distinct,
               MIN(l_quantity) AS min_val, MAX(l_quantity) AS max_val,
               ROUND(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                     / (100.0 * COUNT(l_quantity)), 6) AS mean_val
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice',
               CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               COUNT(DISTINCT l_extendedprice),
               MIN(l_extendedprice), MAX(l_extendedprice),
               ROUND(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                     / (100.0 * COUNT(l_extendedprice)), 6)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount',
               CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               COUNT(DISTINCT l_discount),
               MIN(l_discount), MAX(l_discount),
               ROUND(SUM(CAST(round(l_discount * 100) AS BIGINT))
                     / (100.0 * COUNT(l_discount)), 6)
        FROM lineitem
        UNION ALL
        SELECT 'l_orderkey',
               CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               COUNT(DISTINCT CAST(l_orderkey AS DOUBLE)),
               MIN(CAST(l_orderkey AS DOUBLE)),
               MAX(CAST(l_orderkey AS DOUBLE)),
               ROUND(SUM(CAST(round(CAST(l_orderkey AS DOUBLE) * 100)
                              AS BIGINT))
                     / (100.0 * COUNT(l_orderkey)), 6)
        FROM lineitem
    """,
    "trend_fit": """
        SELECT event_type, COUNT(*) AS n,
               ROUND(regr_slope(value,
                     (epoch(ts) - 1700000000) / 3600.0), 6) AS slope,
               ROUND(regr_intercept(value,
                     (epoch(ts) - 1700000000) / 3600.0), 6) AS intercept,
               ROUND(regr_r2(value,
                     (epoch(ts) - 1700000000) / 3600.0), 6) AS r2
        FROM events GROUP BY event_type
    """,
    "chunk_docs": """
        WITH base AS (
            SELECT doc_id, text,
                   GREATEST(CAST(CEIL((len(text) - 50) / 250.0) AS BIGINT),
                            1) AS nc
            FROM documents
        ),
        expanded AS (
            SELECT doc_id, text,
                   unnest(generate_series(0, nc - 1)) AS chunk_id
            FROM base
        )
        SELECT doc_id, chunk_id,
               substr(text, CAST(chunk_id * 250 + 1 AS INTEGER), 300)
                   AS chunk_text,
               CAST(len(substr(text, CAST(chunk_id * 250 + 1 AS INTEGER),
                               300)) AS INTEGER) AS n_chars
        FROM expanded
    """,
    "tokenize_ids": f"""
        WITH per_doc AS (
            SELECT token, doc_id, count(*) AS tf FROM (
                SELECT doc_id, unnest({_TOKS}) AS token FROM documents
            ) WHERE token <> '' GROUP BY token, doc_id
        ),
        vocab AS (
            SELECT token,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC,
                                           token) AS INTEGER) - 1 AS id
            FROM (
                SELECT token, CAST(SUM(tf) AS BIGINT) AS n_occurrences
                FROM per_doc GROUP BY token
                ORDER BY n_occurrences DESC, token LIMIT 100
            )
        ),
        tok AS (
            SELECT doc_id, unnest(t) AS token,
                   generate_subscripts(t, 1) AS pos
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        ),
        ids AS (
            SELECT doc_id, pos, COALESCE(v.id, -1) AS tid
            FROM tok LEFT JOIN vocab v USING (token)
        )
        SELECT doc_id,
               list(tid ORDER BY pos) AS token_ids,
               CAST(COUNT(*) AS INTEGER) AS n_tokens,
               CAST(COALESCE(SUM(CASE WHEN tid = -1 THEN 1 ELSE 0 END), 0)
                    AS INTEGER) AS n_oov
        FROM ids GROUP BY doc_id
    """,
    "rollup_cascade": """
        WITH minute AS (
            SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP)
                       AS window_start,
                   event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ),
        hr AS (
            SELECT CAST(date_trunc('hour', window_start) AS TIMESTAMP)
                       AS window_start,
                   event_type, CAST(SUM(n) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS cents
            FROM minute GROUP BY 1, 2
        ),
        dy AS (
            SELECT CAST(date_trunc('day', window_start) AS TIMESTAMP)
                       AS window_start,
                   event_type, CAST(SUM(n) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS cents
            FROM hr GROUP BY 1, 2
        )
        SELECT 'minute' AS resolution, window_start, event_type, n,
               ROUND(cents / 100.0, 2) AS sum_value FROM minute
        UNION ALL
        SELECT 'hour', window_start, event_type, n,
               ROUND(cents / 100.0, 2) FROM hr
        UNION ALL
        SELECT 'day', window_start, event_type, n,
               ROUND(cents / 100.0, 2) FROM dy
    """,
    "ann_int8": """
        WITH stats AS (
            SELECT list(mn ORDER BY i) AS mn_arr,
                   list(CASE WHEN mx > mn THEN mx - mn ELSE 0 END
                        ORDER BY i) AS span_arr
            FROM (
                SELECT i, MIN(x) AS mn, MAX(x) AS mx
                FROM (SELECT unnest(embedding)::DOUBLE AS x,
                             generate_subscripts(embedding, 1) AS i
                      FROM embeddings)
                GROUP BY i
            )
        ),
        quant AS (
            SELECT vec_id,
                   list_transform(generate_series(1, len(embedding)),
                       i -> CASE WHEN s.span_arr[i] > 0
                            THEN CAST(FLOOR((embedding[i]::DOUBLE
                                             - s.mn_arr[i]) / s.span_arr[i]
                                            * 254 + 0.5) AS INTEGER) - 127
                            ELSE 0 END) AS qv
            FROM embeddings, stats s
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(list_sum(list_transform(
                       generate_series(1, len(q.qv)),
                       i -> q.qv[i] * c.qv[i])) AS BIGINT) AS ip
            FROM quant q JOIN quant c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 10
        )
        SELECT query_id, neighbor_id, ip,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY ip DESC, neighbor_id)
                    AS INTEGER) AS rnk
        FROM scored
        QUALIFY rnk <= 3
    """,
    "pack_sequences": f"""
        WITH counts AS (
            SELECT doc_id,
                   CAST(len({_TOKS}) AS INTEGER) AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS tokens_before
            FROM counts
        )
        SELECT doc_id, n_tokens, tokens_before,
               CAST(FLOOR(tokens_before / 2048) AS BIGINT) AS seq_id,
               tokens_before % 2048 AS offset_in_seq,
               CAST(FLOOR((tokens_before + GREATEST(n_tokens - 1, 0))
                          / 2048) AS BIGINT)
                   - CAST(FLOOR(tokens_before / 2048) AS BIGINT)
                   + 1 AS n_seqs_spanned
        FROM cum
    """,
    "tpch_q16": f"""
        WITH {_PS_CTE}
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        FROM ps
        JOIN part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 7, 10)
          AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
    """,
    "tpch_q19": """
        SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
               AND p_size BETWEEN 1 AND 5)
           OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20
               AND p_size BETWEEN 1 AND 10)
           OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30
               AND p_size BETWEEN 1 AND 15)
    """,
    "vocab": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS token FROM documents
        ),
        per_doc AS (
            SELECT token, doc_id, count(*) AS tf
            FROM toks WHERE token <> '' GROUP BY token, doc_id
        )
        SELECT token,
               CAST(sum(tf) AS BIGINT) AS n_occurrences,
               count(*) AS n_docs
        FROM per_doc
        GROUP BY token
        ORDER BY n_occurrences DESC, token
        LIMIT 1000
    """,
    "lm_score": f"""
        WITH tok AS (
            SELECT doc_id, token FROM (
                SELECT doc_id, unnest({_TOKS}) AS token FROM documents
            ) WHERE token <> ''
        ),
        counts AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        total AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM counts),
        vocab AS (
            SELECT token, ln(c / total) AS logprob
            FROM (
                SELECT token, c FROM counts ORDER BY c DESC, token LIMIT 1000
            ), total
        )
        SELECT t.doc_id,
               count(*) AS n_tokens,
               ROUND(-avg(coalesce(v.logprob, -ln(total.total))), 6) AS nll
        FROM tok t LEFT JOIN vocab v USING (token), total
        GROUP BY t.doc_id
    """,
    "source_mix": f"""
        WITH per_doc AS (
            SELECT source,
                   len(list_filter({_TOKS}, x -> x <> '')) AS nt
            FROM documents
        ),
        per_source AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS n_tokens
            FROM per_doc GROUP BY source
        ),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per_source),
        shared AS (
            SELECT source, n_docs, n_tokens, n_tokens / tot AS share
            FROM per_source, tot
        ),
        wsum AS (SELECT sum(pow(share, 0.5)) AS wsum FROM shared)
        SELECT source, n_docs, n_tokens,
               ROUND(share, 6) AS token_share,
               ROUND(pow(share, 0.5) / wsum, 6) AS mix_weight
        FROM shared, wsum
    """,
    "stats_agg": """
        SELECT l_returnflag,
               ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
               ROUND(var_samp(l_discount), 6) AS var_disc,
               ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               ROUND(covar_samp(l_quantity, l_extendedprice), 6)
                   AS cov_qty_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "arg_max": """
        WITH per_user AS (
            SELECT event_type, user_id, ROUND(SUM(value), 2) AS total
            FROM events GROUP BY event_type, user_id
        )
        SELECT event_type, user_id AS top_user, total AS top_total FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY total DESC, user_id ASC
            ) AS rn FROM per_user
        ) WHERE rn = 1
    """,
    "histogram": """
        SELECT event_type,
               CAST(FLOOR(value / 50) AS INTEGER) AS bin,
               count(*) AS n,
               ROUND(MIN(value), 2) AS lo,
               ROUND(MAX(value), 2) AS hi
        FROM events
        GROUP BY event_type, CAST(FLOOR(value / 50) AS INTEGER)
    """,
    "upsert": """
        WITH updates AS (
            SELECT c_custkey, c_name,
                   ROUND(c_acctbal + 100.0, 2) AS c_acctbal,
                   'UPDATED' AS c_mktsegment
            FROM customer WHERE c_custkey % 3 = 0
        )
        SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal,
               c_mktsegment
        FROM (
            SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
            WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
            UNION ALL
            SELECT * FROM updates
        )
    """,
    "grouping_sets": """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "tpch_q17": """
        SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23' AND p.p_size <= 5
          AND l.l_quantity < (
              SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = p.p_partkey)
    """,
    "tpch_q7": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
                   AS revenue
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
    "tpch_q20": """
        SELECT s.s_name, n.n_name
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM lineitem l
            WHERE l.l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE 'large%')
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING SUM(l.l_quantity) > 50)
        ORDER BY s.s_name
    """,
    "repetition": f"""
        WITH toked AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        g AS (SELECT doc_id,
                 CASE WHEN len(t) >= 3 THEN
                     list_transform(generate_series(1, len(t)-2),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                 ELSE [] END AS gs
              FROM toked)
        SELECT doc_id,
               CAST(len(gs) AS INTEGER) AS n_grams,
               CAST(len(list_distinct(gs)) AS INTEGER) AS n_distinct_grams,
               ROUND(CASE WHEN len(gs) > 0 THEN
                   1 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)
                   ELSE 0.0 END, 6) AS repeat_ratio
        FROM g
    """,
    "tpch_q18": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
    "tpch_q21": """
        SELECT s.s_name, n.n_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s.s_name, n.n_name
    """,
    "tpch_q4": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    "tpch_q12": """
        SELECT l_linestatus AS ship_mode,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_linestatus
    """,
    "tpch_q14": """
        SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
               / SUM(l_extendedprice * (1 - l_discount)), 4)
               AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-03-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
    "sample_stratified": """
        WITH rates(event_type, rate) AS (VALUES
            ('click', 0.25), ('view', 0.05),
            ('purchase', 1.0), ('signup', 0.5))
        SELECT e.event_id, e.event_type, e.user_id
        FROM events e JOIN rates r ON e.event_type = r.event_type
        WHERE ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 8))::BIGINT
              % 10000 < r.rate * 10000
    """,
    "binary_stats": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
               sha256(text) AS sha256_hex
        FROM documents
    """,
    "winsorize": """
        WITH b AS (SELECT CAST(quantile_cont(value, 0.01) AS DOUBLE) AS lo,
                          CAST(quantile_cont(value, 0.99) AS DOUBLE) AS hi
                   FROM events)
        SELECT event_id, ROUND(value, 6) AS value,
               ROUND(LEAST(GREATEST(value, b.lo), b.hi), 6) AS value_w
        FROM events, b
    """,
    "resample_fill": """
        WITH ev AS (SELECT * FROM events WHERE event_type = 'signup'),
        b AS (SELECT date_trunc('hour', MIN(ts)) AS mn,
                     date_trunc('hour', MAX(ts)) AS mx FROM ev),
        grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
                        AS bucket FROM b),
        agg AS (SELECT date_trunc('hour', ts) AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS n_events,
                       ROUND(SUM(value), 6) AS sum_value
                FROM ev GROUP BY 1)
        SELECT CAST(g.bucket AS TIMESTAMP) AS bucket,
               COALESCE(a.n_events, 0) AS n_events,
               COALESCE(a.sum_value, 0.0) AS sum_value
        FROM grid g LEFT JOIN agg a ON g.bucket = a.bucket
    """,
    "interleave": """
        WITH w(source, weight) AS (VALUES
            ('src0', 3.0), ('src1', 1.0), ('src2', 0.5))
        SELECT d.doc_id, d.source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY d.source ORDER BY d.doc_id
               ) AS INTEGER) AS rank_in_source,
               ROUND((ROW_NUMBER() OVER (
                   PARTITION BY d.source ORDER BY d.doc_id
               ) - 0.5) / w.weight, 6) AS mix_key
        FROM documents d JOIN w ON d.source = w.source
    """,
    "validate_batch": _validate_batch_sql(),
    "fuzzy_join": """
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
          AND a.c_mktsegment = b.c_mktsegment
          AND a.c_custkey < b.c_custkey
        WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
          AND levenshtein(a.c_name, b.c_name) <= 2
    """,
    "join_bucketed": """
        SELECT c.c_custkey, c.c_name, ROUND(c.c_acctbal, 2) AS acctbal,
               o.o_custkey, o.n_orders, o.total_price
        FROM customer c
        JOIN (
            SELECT o_custkey,
                   CAST(COUNT(*) AS INTEGER) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS total_price
            FROM orders GROUP BY o_custkey
        ) o ON c.c_custkey = o.o_custkey
    """,
    "sync_join": """
        WITH cust2 AS (
            SELECT c_custkey, c_name,
                   ROUND(c_acctbal, 2)
                     + CASE WHEN c_custkey % 10 = 0
                            THEN 100.0 ELSE 0.0 END AS acctbal
            FROM customer WHERE c_custkey % 13 <> 0
        ), ostats AS (
            SELECT o_custkey,
                   CAST(COUNT(*) AS INTEGER) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS total_price
            FROM orders GROUP BY o_custkey
        )
        SELECT c.c_custkey, c.c_name, c.acctbal,
               o.o_custkey, o.n_orders, o.total_price
        FROM cust2 c JOIN ostats o ON c.c_custkey = o.o_custkey
        WHERE o.o_custkey % 7 <> 0
    """,
    "merge_snapshot_sync": """
        -- extract = custkey % 4 != 0 (update, +5); absentees: delete
        -- when stored balance < 1000, else stale-stamp the name
        SELECT c_custkey,
               CASE WHEN c_custkey % 4 = 0
                    THEN c_name || ' (stale)' ELSE c_name END AS c_name,
               CASE WHEN c_custkey % 4 = 0
                    THEN ROUND(c_acctbal, 2)
                    ELSE ROUND(c_acctbal, 2) + 5.0 END AS acctbal
        FROM customer
        WHERE c_custkey % 4 != 0 OR ROUND(c_acctbal, 2) >= 1000
    """,
    "cdc_pruned_read": """
        SELECT o_orderkey, o_custkey, o_orderdate,
               ROUND(o_totalprice, 2) AS price
        FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    """,
    "merge_nbs_pruned": """
        -- extract = orderkey % 3 != 0 (price +1); absentees delete
        -- when older than the cutoff, else untouched
        SELECT o_orderkey, o_orderdate,
               CASE WHEN o_orderkey % 3 != 0
                    THEN ROUND(o_totalprice, 2) + 1.0
                    ELSE ROUND(o_totalprice, 2) END AS price
        FROM orders
        WHERE o_orderkey % 3 != 0
           OR o_orderdate >= TIMESTAMP '1993-01-01'
    """,
    "merge_into": """
        -- four-clause MERGE, Delta precedence: (1) matched+is_del
        -- DELETE; (2) matched even keys SET acctbal = t.acctbal+delta,
        -- c_name KEEPS target; (3) matched catch-all UPDATE SET *;
        -- (4) unmatched + NOT is_del INSERT
        WITH src AS (
            SELECT c_custkey AS k, c_name AS name,
                   ROUND(c_acctbal, 2) + 50.0 AS acctbal,
                   (c_custkey % 13 = 0) AS is_del, 7.5 AS delta
            FROM customer WHERE c_custkey % 3 = 0
            UNION ALL
            SELECT c_custkey + 10000000, 'new-' || CAST(c_custkey AS VARCHAR),
                   1.0, FALSE, 7.5
            FROM customer WHERE c_custkey % 5 = 0
        )
        SELECT t.c_custkey,
               CASE WHEN s.k IS NULL THEN t.c_name
                    WHEN s.k % 2 = 0 THEN t.c_name
                    ELSE s.name END AS c_name,
               CASE WHEN s.k IS NULL THEN ROUND(t.c_acctbal, 2)
                    WHEN s.k % 2 = 0 THEN ROUND(t.c_acctbal, 2) + s.delta
                    ELSE s.acctbal END AS acctbal
        FROM customer t LEFT JOIN src s ON t.c_custkey = s.k
        WHERE s.is_del IS DISTINCT FROM TRUE
        UNION ALL
        SELECT s.k, s.name, s.acctbal
        FROM src s LEFT JOIN customer t ON s.k = t.c_custkey
        WHERE t.c_custkey IS NULL AND NOT s.is_del
    """,
    "fuzzy_join_adaptive": """
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
          AND a.c_mktsegment = b.c_mktsegment
          AND a.c_custkey < b.c_custkey
        WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
          AND levenshtein(a.c_name, b.c_name) <= 2
    """,
    "weighted_sample": """
        SELECT doc_id, source, n_chars FROM (
            SELECT doc_id, source, n_chars,
                   ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 10000 + 0.5) / 10000.0)
                   / CAST(n_chars AS DOUBLE) AS k
            FROM documents
            WHERE n_chars > 0
            ORDER BY k DESC, doc_id
            LIMIT 25
        )
    """,
    "token_budget": f"""
        WITH counts AS (
            SELECT doc_id, length(text) AS score,
                   CAST(len({_TOKS}) AS INTEGER) AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY score DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM counts
        )
        SELECT doc_id, n_tokens, cum_before
        FROM cum
        WHERE cum_before + n_tokens <= 10000
    """,
    "source_cap": """
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                 1, 8))::BIGINT % 10000, doc_id
                   ) AS rn
            FROM documents)
        WHERE rn <= 10
    """,
    "tpch_q22": """
        SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_nationkey
    """,
    "full_outer_join": """
        WITH p AS (SELECT o_custkey, count(*) AS n_pending FROM orders
                   WHERE o_orderstatus = 'P' GROUP BY o_custkey),
        f AS (SELECT o_custkey, count(*) AS n_finished FROM orders
              WHERE o_orderstatus = 'F' GROUP BY o_custkey)
        SELECT o_custkey,
               COALESCE(n_pending, 0) AS n_pending,
               COALESCE(n_finished, 0) AS n_finished
        FROM p FULL OUTER JOIN f USING (o_custkey)
    """,
    "embedding_near_dup": f"""
        WITH e AS (SELECT vec_id, embedding, {_BUCKET} AS bucket
                   FROM embeddings)
        SELECT q.vec_id AS vec_a, c.vec_id AS vec_b, {_COS} AS cos
        FROM e q JOIN e c
          ON q.bucket = c.bucket AND q.vec_id < c.vec_id
        WHERE {_COS} >= 0.45
    """,
    "quality_filter": f"""
        WITH rules AS (SELECT 20 AS min_tokens, 3.0 AS min_avg_len,
                              12.0 AS max_avg_len, 0.01 AS min_stop_ratio),
        toked AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
        m AS (SELECT doc_id,
                     CAST(len(t) AS INTEGER) AS n_tokens,
                     length(text) / CAST(len(t) AS DOUBLE) AS avg_len,
                     len(list_filter(t,
                         x -> x IN ('the','a','of','and','to')))
                         / CAST(len(t) AS DOUBLE) AS stop_ratio
              FROM toked)
        SELECT doc_id, n_tokens,
               ROUND(avg_len, 6) AS avg_token_len,
               ROUND(stop_ratio, 6) AS stop_ratio,
               (n_tokens >= min_tokens AND avg_len >= min_avg_len
                AND avg_len <= max_avg_len
                AND stop_ratio >= min_stop_ratio) AS keep
        FROM m CROSS JOIN rules
    """,
    "asof_join": """
        WITH l AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
        r AS (SELECT user_id, ts, max(event_id) AS error_event_id
              FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
        SELECT l.event_id, l.user_id, l.ts, r.error_event_id
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "coinstall_rates": """
        WITH memb AS (SELECT DISTINCT user_id AS g, event_type AS item
                      FROM events),
        pairs AS (SELECT a.item AS item_a, b.item AS item_b,
                         count(*) AS pair_count
                  FROM memb a JOIN memb b
                    ON a.g = b.g AND a.item != b.item
                  GROUP BY a.item, b.item),
        ic AS (SELECT item AS item_a, count(*) AS a_count
               FROM memb GROUP BY item)
        SELECT item_a, item_b, pair_count,
               ROUND(pair_count / CAST(a_count AS DOUBLE), 6) AS rate
        FROM pairs JOIN ic USING (item_a)
    """,
    "pivot_unpivot": """
        WITH wide AS (
            SELECT user_id,
                   ROUND(SUM(value) FILTER (WHERE event_type = 'click'), 2)
                       AS click,
                   ROUND(SUM(value) FILTER (WHERE event_type = 'view'), 2)
                       AS view,
                   ROUND(SUM(value) FILTER (WHERE event_type = 'purchase'), 2)
                       AS purchase,
                   ROUND(SUM(value) FILTER (WHERE event_type = 'signup'), 2)
                       AS signup,
                   ROUND(SUM(value) FILTER (WHERE event_type = 'error'), 2)
                       AS error
            FROM events GROUP BY user_id
        )
        SELECT user_id, 'click' AS metric, click AS val FROM wide
        UNION ALL
        SELECT user_id, 'view', view FROM wide
        UNION ALL
        SELECT user_id, 'purchase', purchase FROM wide
        UNION ALL
        SELECT user_id, 'signup', signup FROM wide
        UNION ALL
        SELECT user_id, 'error', error FROM wide
    """,
    "window_ranks": """
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(rank() OVER w AS INTEGER) AS rnk,
               CAST(dense_rank() OVER w AS INTEGER) AS drnk,
               CAST(ntile(2) OVER w AS INTEGER) AS half,
               ROUND(percent_rank() OVER w, 6) AS prnk,
               ROUND(cume_dist() OVER w, 6) AS cdist,
               first_value(l_quantity) OVER w AS min_qty,
               ROUND(SUM(l_extendedprice) OVER (PARTITION BY l_orderkey), 2)
                   AS order_total
        FROM lineitem WHERE l_orderkey < 200
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_quantity ASC, l_linenumber ASC)
    """,
    "scalar_functions": """
        SELECT event_id,
               strftime(ts, '%Y%m%d') AS yyyymmdd,
               printf('%s-%05d', event_type, user_id) AS tagged,
               CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k_re,
               event_type || '/' || CAST(user_id AS VARCHAR) AS path,
               CAST(string_split(
                   event_type || '/' || CAST(user_id AS VARCHAR), '/'
               )[2] AS BIGINT) AS path_user,
               CAST(year(ts) AS INTEGER) AS y,
               CAST(month(ts) AS INTEGER) AS mo,
               CAST(day(ts) AS INTEGER) AS d,
               CAST(hour(ts) AS INTEGER) AS h,
               CAST(minute(ts) AS INTEGER) AS mi,
               CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_start
        FROM events WHERE event_id < 500
    """,
    "text_profile": f"""
        WITH toked AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
        scored AS (
            SELECT doc_id, text, t,
                   len(list_filter(t, x -> x IN {_EN}))
                       / CAST(len(t) AS DOUBLE) AS en,
                   len(list_filter(t, x -> x IN {_DE}))
                       / CAST(len(t) AS DOUBLE) AS de
            FROM toked
        )
        SELECT doc_id,
               CAST(len(t) AS INTEGER) AS n_tokens,
               CAST(len(list_filter(
                   string_split_regex(
                       trim(regexp_replace(lower(text),
                            '([^a-z0-9\\s]+|[0-9]+)', ' \\1 ', 'g')),
                       '\\s+'),
                   x -> x != '')) AS INTEGER) AS n_units,
               CAST(length(text) AS INTEGER) AS n_chars,
               ROUND(length(text) / CAST(len(t) AS DOUBLE), 6)
                   AS avg_token_len,
               ROUND(en, 6) AS stopword_ratio,
               ROUND(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                     / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
               ROUND(en, 6) AS score_en,
               ROUND(de, 6) AS score_de,
               CASE WHEN en = 0 AND de = 0 THEN 'und'
                    WHEN en >= de THEN 'en' ELSE 'de' END AS predicted_lang
        FROM scored
    """,
    "text_stats": f"""
        WITH toked AS (SELECT doc_id, text, {_TOKS} AS t FROM documents)
        SELECT doc_id,
               CAST(len(t) AS INTEGER) AS n_tokens,
               CAST(len(list_filter(
                   string_split_regex(
                       trim(regexp_replace(lower(text),
                            '([^a-z0-9\\s]+|[0-9]+)', ' \\1 ', 'g')),
                       '\\s+'),
                   x -> x != '')) AS INTEGER) AS n_units,
               CAST(length(text) AS INTEGER) AS n_chars,
               ROUND(length(text) / CAST(len(t) AS DOUBLE), 6)
                   AS avg_token_len,
               ROUND(len(list_filter(t, x -> x IN {_EN}))
                     / CAST(len(t) AS DOUBLE), 6) AS stopword_ratio,
               ROUND(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                     / CAST(length(text) AS DOUBLE), 6) AS punct_ratio
        FROM toked
    """,
    "language_id": f"""
        WITH toked AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        scored AS (
            SELECT doc_id,
                   len(list_filter(t, x -> x IN {_EN}))
                       / CAST(len(t) AS DOUBLE) AS en,
                   len(list_filter(t, x -> x IN {_DE}))
                       / CAST(len(t) AS DOUBLE) AS de
            FROM toked
        )
        SELECT doc_id, ROUND(en, 6) AS score_en, ROUND(de, 6) AS score_de,
               CASE WHEN en = 0 AND de = 0 THEN 'und'
                    WHEN en >= de THEN 'en' ELSE 'de' END AS predicted_lang
        FROM scored
    """,
    "winnow": f"""
        WITH toked AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        h AS (SELECT doc_id,
                 CASE WHEN len(t) >= 4 THEN
                     list_transform(generate_series(1, len(t)-3),
                         i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  || ' ' || t[i+3]))
                 ELSE [] END AS hs
              FROM toked),
        m AS (SELECT doc_id,
                 CASE WHEN len(hs) >= 5 THEN
                     list_transform(generate_series(1, len(hs)-4),
                         i -> list_min(hs[i:i+4]))
                 WHEN len(hs) > 0 THEN [list_min(hs)]
                 ELSE [] END AS mins
              FROM h)
        SELECT doc_id, unnest(list_distinct(mins)) AS winnow_hash FROM m
    """,
    "dedup_exact": """
        SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "pii_redact": _PII_ORACLE,
    "decontaminate": f"""
        WITH toked AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        grams AS (SELECT doc_id, list_transform(
            list_distinct(CASE WHEN len(t) >= 8 THEN
                list_transform(generate_series(1, len(t)-7),
                    i -> array_to_string(t[i:i+7], ' '))
                ELSE [] END),
            g -> substr(md5(g), 1, 16)) AS g FROM toked),
        bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams
                  WHERE doc_id % 10 = 0),
        corpus AS (SELECT doc_id, unnest(g) AS gram FROM grams
                   WHERE doc_id % 10 != 0)
        SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_overlap,
               ROUND(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                     / count(*), 6) AS overlap_ratio
        FROM corpus c LEFT JOIN bench b USING (gram) GROUP BY c.doc_id
    """,
    "segment_dedup": f"""
        WITH toked AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        segs AS (SELECT doc_id,
            list_transform(
                generate_series(0, CAST(ceil(len(t)/20.0) AS INT)-1),
                i -> array_to_string(t[i*20+1:i*20+20], ' ')) AS ss
            FROM toked),
        rows_ AS (SELECT doc_id, i AS pos, ss[i] AS seg
                  FROM segs, UNNEST(generate_series(1, len(ss))) AS u(i)),
        ranked AS (SELECT *, row_number() OVER (
                       PARTITION BY seg ORDER BY doc_id, pos) AS rn
                   FROM rows_)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
                                   ORDER BY pos), '') AS cleaned_text
        FROM ranked GROUP BY doc_id
    """,
    "minhash_signatures": f"""
        WITH toked AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM toked WHERE len(t) >= 3)
        SELECT doc_id,
               list_min(list_transform(s, x -> substr(md5(x), 1, 8))) AS sig0,
               list_min(list_transform(s, x -> substr(md5(x), 9, 8))) AS sig1,
               list_min(list_transform(s, x -> substr(md5(x), 17, 8))) AS sig2,
               list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS sig3
        FROM sh
    """,
    "lsh_near_dup": f"""
        WITH toked AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM toked WHERE len(t) >= 3),
        -- b=4 r=2 banding: 8 signatures from two salted digests, band b
        -- concatenates sig[2b] || sig[2b+1] (twin of lsh_near_dup_pairs
        -- rows_per_band=2 over minhash_signatures n_hashes=8)
        sig AS (SELECT doc_id, s,
                   list_min(list_transform(s, x -> substr(md5(x), 1, 8))) AS s0,
                   list_min(list_transform(s, x -> substr(md5(x), 9, 8))) AS s1,
                   list_min(list_transform(s, x -> substr(md5(x), 17, 8))) AS s2,
                   list_min(list_transform(s, x -> substr(md5(x), 25, 8))) AS s3,
                   list_min(list_transform(s,
                       x -> substr(md5('1:' || x), 1, 8))) AS s4,
                   list_min(list_transform(s,
                       x -> substr(md5('1:' || x), 9, 8))) AS s5,
                   list_min(list_transform(s,
                       x -> substr(md5('1:' || x), 17, 8))) AS s6,
                   list_min(list_transform(s,
                       x -> substr(md5('1:' || x), 25, 8))) AS s7
                FROM sh),
        bands AS (SELECT doc_id, s,
                     unnest(['0:' || s0 || s1, '1:' || s2 || s3,
                             '2:' || s4 || s5, '3:' || s6 || s7]) AS band
                  FROM sig),
        -- hot-band cap mirrored from drop_hot_bands(max_band_size=1000)
        -- so both engines drop the same boilerplate buckets
        kept AS (SELECT * FROM bands WHERE band NOT IN (
                     SELECT band FROM bands
                     GROUP BY band HAVING count(*) > 1000)),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM kept a JOIN kept b
                   ON a.band = b.band AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                     / (len(sa.s) + len(sb.s)
                        - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
        FROM cand
        JOIN sig sa ON doc_a = sa.doc_id
        JOIN sig sb ON doc_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
              / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
              >= 0.5
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE toked AS (SELECT doc_id, {_TOKS} AS t FROM documents
                                 WHERE doc_id < 256),
        sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM toked),
        nz AS (SELECT * FROM sh WHERE len(s) > 0),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM nz a JOIN nz b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                  >= 0.5
        ),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
        ),
        labels AS (SELECT node, MIN(lbl) AS cluster_id
                   FROM reach GROUP BY node)
        SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
               (COALESCE(l.cluster_id, d.doc_id) = d.doc_id) AS is_canonical
        FROM (SELECT doc_id FROM documents WHERE doc_id < 256) d
        LEFT JOIN labels l ON l.node = d.doc_id
    """,
    "simhash": _SIMHASH64,
    "simhash_hamming": f"""
        WITH sh AS ({_SIMHASH64}),
        bands AS (SELECT doc_id, unnest([
                      '0:' || ((simhash_hi >> 16) & 65535),
                      '1:' || (simhash_hi & 65535),
                      '2:' || ((simhash_lo >> 16) & 65535),
                      '3:' || (simhash_lo & 65535)]) AS band
                  FROM sh),
        kept AS (SELECT * FROM bands WHERE band NOT IN (
                     SELECT band FROM bands
                     GROUP BY band HAVING count(*) > 1000)),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM kept a JOIN kept b
                   ON a.band = b.band AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sa.simhash_hi, sb.simhash_hi))
                    + bit_count(xor(sa.simhash_lo, sb.simhash_lo))
                    AS INTEGER) AS hamming
        FROM cand
        JOIN sh sa ON doc_a = sa.doc_id
        JOIN sh sb ON doc_b = sb.doc_id
        WHERE bit_count(xor(sa.simhash_hi, sb.simhash_hi))
              + bit_count(xor(sa.simhash_lo, sb.simhash_lo)) <= 3
    """,
    "cosine_topk": f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS} AS cos
            FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
            JOIN embeddings c ON c.vec_id != q.vec_id
        )
        SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
            ) AS INTEGER) AS rnk FROM scored
        ) WHERE rnk <= 3
    """,
    "ann_bucketed": f"""
        WITH withb AS (SELECT vec_id, embedding, {_BUCKET} AS bucket
                       FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS} AS cos
            FROM (SELECT * FROM withb WHERE vec_id < 20) q
            JOIN withb c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
        )
        SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
            ) AS INTEGER) AS rnk FROM scored
        ) WHERE rnk <= 2
    """,
    "funnel": """
        WITH s0 AS (SELECT user_id, MIN(ts) AS fts FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
        s1 AS (SELECT e.user_id, MIN(e.ts) AS fts FROM events e
               JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.fts
               WHERE e.event_type = 'click' GROUP BY e.user_id),
        s2 AS (SELECT e.user_id, MIN(e.ts) AS fts FROM events e
               JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.fts
               WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        SELECT CAST(0 AS INTEGER) AS step_idx, 'view' AS step,
               CAST(COUNT(*) AS BIGINT) AS users FROM s0
        UNION ALL
        SELECT 1, 'click', CAST(COUNT(*) AS BIGINT) FROM s1
        UNION ALL
        SELECT 2, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s2
    """,
    "cohort_retention": """
        WITH first AS (
            SELECT user_id,
                   MIN(date_trunc('week', ts)) AS cohort
            FROM events GROUP BY user_id),
        active AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS p
            FROM events)
        SELECT CAST(f.cohort AS TIMESTAMP) AS cohort,
               CAST(floor((epoch(CAST(a.p AS TIMESTAMP))
                           - epoch(CAST(f.cohort AS TIMESTAMP)))
                          / 604800) AS BIGINT) AS periods_since,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM active a JOIN first f ON a.user_id = f.user_id
        GROUP BY 1, 2
    """,
    "drift_psi": """
        WITH binned AS (
            SELECT LEAST(GREATEST(
                       CAST(floor(value / 500.0 * 10) AS INTEGER), 0), 9)
                       AS bin,
                   (ts < TIMESTAMP '2024-01-16') AS is_a
            FROM events WHERE value IS NOT NULL),
        ca AS (SELECT bin, COUNT(*) AS n FROM binned WHERE is_a GROUP BY bin),
        cb AS (SELECT bin, COUNT(*) AS n FROM binned WHERE NOT is_a
               GROUP BY bin),
        grid AS (SELECT unnest(range(10)) AS bin),
        shares AS (
            SELECT CAST(g.bin AS INTEGER) AS bin,
                   COALESCE(ca.n / (SELECT SUM(n) FROM ca), 0.0) + 1e-6
                       AS sa,
                   COALESCE(cb.n / (SELECT SUM(n) FROM cb), 0.0) + 1e-6
                       AS sb
            FROM grid g
            LEFT JOIN ca ON ca.bin = g.bin
            LEFT JOIN cb ON cb.bin = g.bin)
        SELECT bin, ROUND(sa, 6) AS share_a, ROUND(sb, 6) AS share_b,
               ROUND((sa - sb) * ln(sa / sb), 6) AS psi_term
        FROM shares
    """,
    "corpus_diff": """
        WITH v1 AS (SELECT DISTINCT md5(text) AS digest FROM documents
                    WHERE doc_id % 3 != 0),
        v2 AS (SELECT DISTINCT md5(text) AS digest FROM documents
               WHERE doc_id % 3 != 1)
        SELECT COALESCE(v1.digest, v2.digest) AS digest,
               CASE WHEN v1.digest IS NULL THEN 'added'
                    WHEN v2.digest IS NULL THEN 'removed'
                    ELSE 'retained' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.digest = v2.digest
    """,
    "funnel_timing": """
        WITH s0 AS (SELECT user_id, MIN(ts) AS fts FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
        s1 AS (SELECT e.user_id, MIN(e.ts) AS fts FROM events e
               JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.fts
               WHERE e.event_type = 'click' GROUP BY e.user_id),
        s2 AS (SELECT e.user_id, MIN(e.ts) AS fts FROM events e
               JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.fts
               WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        d1 AS (SELECT (epoch_us(CAST(s1.fts AS TIMESTAMP))
                       - epoch_us(CAST(s0.fts AS TIMESTAMP))) / 1000000.0
                       AS secs
               FROM s1 JOIN s0 ON s1.user_id = s0.user_id),
        d2 AS (SELECT (epoch_us(CAST(s2.fts AS TIMESTAMP))
                       - epoch_us(CAST(s1.fts AS TIMESTAMP))) / 1000000.0
                       AS secs
               FROM s2 JOIN s1 ON s2.user_id = s1.user_id)
        SELECT CAST(1 AS INTEGER) AS step_idx, 'click' AS step,
               CAST(COUNT(*) AS BIGINT) AS users,
               ROUND(CAST(quantile_cont(secs, 0.5) AS DOUBLE), 6)
                   AS median_secs,
               ROUND(AVG(secs), 6) AS avg_secs
        FROM d1
        UNION ALL
        SELECT 2, 'purchase', CAST(COUNT(*) AS BIGINT),
               ROUND(CAST(quantile_cont(secs, 0.5) AS DOUBLE), 6),
               ROUND(AVG(secs), 6)
        FROM d2
    """,
    "transitions": """
        WITH seq AS (
            SELECT user_id,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ) AS from_type,
                   event_type AS to_type
            FROM events)
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE from_type IS NOT NULL
        GROUP BY from_type, to_type
    """,
    "attribution": """
        WITH conv AS (SELECT event_id, user_id, ts AS conv_ts
                      FROM events WHERE event_type = 'purchase'),
        touch AS (SELECT user_id, event_type AS touch_type,
                         ts AS touch_ts
                  FROM events WHERE event_type IN ('view', 'click')),
        credited AS (
            SELECT event_id, user_id, conv_ts, touch_type, touch_ts FROM (
                SELECT c.*, t.touch_type, t.touch_ts,
                       row_number() OVER (
                           PARTITION BY c.event_id
                           ORDER BY t.touch_ts DESC, t.touch_type ASC
                       ) AS rn
                FROM conv c JOIN touch t
                  ON t.user_id = c.user_id
                 AND t.touch_ts <= c.conv_ts
                 AND t.touch_ts >= c.conv_ts - INTERVAL 24 HOURS
            ) WHERE rn = 1)
        SELECT CAST(event_id AS BIGINT) AS event_id, user_id,
               CAST(conv_ts AS TIMESTAMP) AS conv_ts,
               touch_type, CAST(touch_ts AS TIMESTAMP) AS touch_ts
        FROM credited
        UNION ALL
        SELECT CAST(c.event_id AS BIGINT), c.user_id,
               CAST(c.conv_ts AS TIMESTAMP),
               NULL, NULL
        FROM conv c
        WHERE c.event_id NOT IN (SELECT event_id FROM credited)
    """,
    "ann_recall": f"""
        WITH truth AS (
            SELECT query_id, neighbor_id, rnk FROM (
                SELECT s.*, CAST(row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
                ) AS INTEGER) AS rnk
                FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                           {_COS} AS cos
                    FROM (SELECT * FROM embeddings WHERE vec_id < 20) q
                    JOIN embeddings c ON c.vec_id != q.vec_id
                ) s
            ) WHERE rnk <= 2),
        withb AS (SELECT vec_id, embedding, {_BUCKET} AS bucket
                  FROM embeddings),
        pred AS (
            SELECT query_id, neighbor_id, rnk FROM (
                SELECT s.*, CAST(row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
                ) AS INTEGER) AS rnk
                FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                           {_COS} AS cos
                    FROM (SELECT * FROM withb WHERE vec_id < 20) q
                    JOIN withb c
                      ON c.bucket = q.bucket AND c.vec_id != q.vec_id
                ) s
            ) WHERE rnk <= 2),
        rel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
                FROM truth GROUP BY query_id),
        hits AS (SELECT p.query_id, p.rnk
                 FROM pred p JOIN truth t
                   ON t.query_id = p.query_id
                  AND t.neighbor_id = p.neighbor_id),
        agg AS (SELECT query_id, COUNT(*) AS n_hits, MIN(rnk) AS first_rnk,
                       SUM(1.0 / log2(rnk + 1)) AS dcg
                FROM hits GROUP BY query_id)
        SELECT rel.query_id, rel.n_rel,
               ROUND(COALESCE(agg.n_hits, 0) / rel.n_rel, 6) AS recall,
               ROUND(COALESCE(1.0 / agg.first_rnk, 0.0), 6) AS mrr,
               ROUND(COALESCE(agg.dcg, 0.0) /
                     list_sum(list_transform(
                         generate_series(1, LEAST(2, rel.n_rel)),
                         i -> 1.0 / log2(i + 1))), 6) AS ndcg
        FROM rel LEFT JOIN agg ON agg.query_id = rel.query_id
    """,
    "basket_rules": """
        WITH b AS (SELECT DISTINCT o.o_custkey AS c, p.p_brand AS i
                   FROM orders o
                   JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                   JOIN part p ON p.p_partkey = l.l_partkey
                   WHERE ('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR)),
                          1, 8))::BIGINT % 100 < 25),
        n AS (SELECT CAST(COUNT(DISTINCT c) AS DOUBLE) AS nb FROM b),
        item AS (SELECT i, CAST(COUNT(*) AS DOUBLE) AS ci FROM b GROUP BY i),
        pair AS (SELECT x.i AS ia, y.i AS ib,
                        CAST(COUNT(*) AS DOUBLE) AS cp
                 FROM b x JOIN b y ON x.c = y.c AND x.i != y.i
                 GROUP BY 1, 2)
        SELECT pair.ia AS antecedent, pair.ib AS consequent,
               ROUND(cp / n.nb, 6) AS support_pair,
               ROUND(cp / a.ci, 6) AS confidence,
               ROUND((cp / a.ci) / (cons.ci / n.nb), 6) AS lift
        FROM pair
        JOIN item a ON a.i = pair.ia
        JOIN item cons ON cons.i = pair.ib, n
        WHERE cp / n.nb >= 0.4 AND cp / a.ci >= 0.6
    """,

    "cc_clusters": f"""
        WITH RECURSIVE {_EDGES_CTE},
        reach(node, lbl) AS (
            SELECT DISTINCT src, src FROM eu
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN eu e ON e.src = r.node
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(min(lbl) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node
    """,
    "bfs_hops": f"""
        WITH RECURSIVE {_EDGES_CTE},
        seeds AS (SELECT DISTINCT src AS node FROM eu
                  WHERE ('0x' || substr(md5(CAST(src AS VARCHAR)), 1, 8))::BIGINT
                        % 100 < 10),
        walk(node, d) AS (
            SELECT node, 0 FROM seeds
            UNION
            SELECT e.dst, w.d + 1 FROM walk w JOIN eu e ON e.src = w.node
            WHERE w.d < 4
        )
        SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS INTEGER) AS hops
        FROM walk GROUP BY node
    """,
    "heavy_hitters": """
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(count(*) AS BIGINT) AS freq
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
        HAVING count(*) > (SELECT count(*) FROM events
                           WHERE user_id IS NOT NULL) / 150.0
    """,
    "calibration": """
        WITH s AS (SELECT value / 1000.0 AS score,
                          (event_type = 'purchase') AS y
                   FROM events WHERE value IS NOT NULL),
        b AS (SELECT LEAST(GREATEST(CAST(FLOOR(score * 10) AS INTEGER), 0), 9)
                     AS bin, score, y
              FROM s)
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               ROUND(AVG(score), 6) AS mean_score,
               ROUND(AVG(CASE WHEN y THEN 1.0 ELSE 0.0 END), 6) AS pos_rate
        FROM b GROUP BY bin
    """,
    "binary_auc": """
        WITH g AS (
            SELECT ROUND(value, 3) AS s,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS pos,
                   SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
                       AS neg
            FROM events WHERE value IS NOT NULL
            GROUP BY ROUND(value, 3)),
        c AS (
            SELECT pos, neg,
                   COALESCE(SUM(neg) OVER (
                       ORDER BY s ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS below
            FROM g)
        SELECT ROUND(SUM(pos * (below + 0.5 * neg))
                     / (SUM(pos) * SUM(neg)), 6) AS auc,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(neg) AS BIGINT) AS n_neg
        FROM c
    """,
    "containment": f"""
        WITH toked AS (SELECT doc_id, {_TOKS} AS t FROM documents
                       WHERE doc_id < 256),
        sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM toked),
        nz AS (SELECT * FROM sh WHERE len(s) > 0)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / LEAST(len(a.s), len(b.s)), 6) AS containment
        FROM nz a JOIN nz b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / LEAST(len(a.s), len(b.s)) >= 0.5
    """,
    "skew_report": """
        WITH counts AS (
            SELECT l_partkey, count(*) AS n_rows
            FROM lineitem GROUP BY l_partkey),
        tot AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS total FROM counts),
        top AS (
            SELECT l_partkey, n_rows,
                   CAST(row_number() OVER (
                       ORDER BY n_rows DESC, l_partkey ASC
                   ) AS INTEGER) AS rank
            FROM counts
            ORDER BY n_rows DESC, l_partkey ASC LIMIT 20)
        SELECT rank, CAST(l_partkey AS BIGINT) AS l_partkey,
               CAST(n_rows AS BIGINT) AS n_rows,
               ROUND(n_rows / tot.total, 6) AS share,
               ROUND(sum(n_rows) OVER (
                   ORDER BY n_rows DESC, l_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) / tot.total, 6) AS cum_share
        FROM top, tot
    """,
    "graph_stats": f"""
        WITH {_EDGES_CTE},
        el AS (SELECT src AS a, dst AS b FROM eu WHERE src < dst),
        tri AS (
            SELECT x.a AS ta, x.b AS tb, y.b AS tc
            FROM el x
            JOIN el y ON y.a = x.b
            JOIN el z ON z.a = x.a AND z.b = y.b),
        tn AS (SELECT unnest([ta, tb, tc]) AS node FROM tri),
        tcount AS (SELECT node, count(*) AS triangles FROM tn GROUP BY node),
        deg AS (SELECT src AS node, count(*) AS degree FROM eu GROUP BY src)
        SELECT CAST(d.node AS BIGINT) AS node,
               CAST(d.degree AS BIGINT) AS degree,
               CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
               CASE WHEN d.degree >= 2
                    THEN ROUND(2.0 * COALESCE(t.triangles, 0)
                               / (d.degree * (d.degree - 1)), 6)
                    ELSE 0.0 END AS clustering
        FROM deg d LEFT JOIN tcount t ON t.node = d.node
    """,
    "agg_refresh": """
        SELECT CAST(user_id AS BIGINT) AS user_id,
               ROUND(sum(value), 6) AS total,
               CAST(count(value) AS BIGINT) AS n,
               ROUND(max(value), 6) AS mx
        FROM events GROUP BY user_id
    """,
    "leak_safe_split": f"""
        WITH RECURSIVE toked AS (SELECT doc_id, {_TOKS} AS t FROM documents
                                 WHERE doc_id < 256),
        sh AS (SELECT doc_id, {_SHINGLES3} AS s FROM toked),
        nz AS (SELECT * FROM sh WHERE len(s) > 0),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM nz a JOIN nz b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                  >= 0.5
        ),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
        ),
        labels AS (SELECT node, MIN(lbl) AS cluster_id
                   FROM reach GROUP BY node),
        assigned AS (
            SELECT d.doc_id,
                   COALESCE(l.cluster_id, d.doc_id) AS cluster_id
            FROM (SELECT doc_id FROM documents WHERE doc_id < 256) d
            LEFT JOIN labels l ON l.node = d.doc_id)
        SELECT doc_id, cluster_id,
               CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
                          1, 8))::BIGINT % 100 < 80 THEN 'train'
                    WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
                          1, 8))::BIGINT % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM assigned
    """,
    "range_window": """
        SELECT CAST(event_id AS BIGINT) AS event_id,
               CAST(user_id AS BIGINT) AS user_id,
               CAST(ts AS TIMESTAMP) AS ts, value,
               ROUND(sum(value) OVER w, 6) AS win_sum,
               CAST(count(value) OVER w AS BIGINT) AS win_n,
               ROUND(avg(value) OVER w, 6) AS win_avg
        FROM events
        WHERE user_id < 40
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    "set_ops_all": """
        SELECT CAST(o_custkey AS BIGINT) AS o_custkey, 'o_and_f' AS tag
        FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
              INTERSECT ALL
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        UNION ALL
        SELECT CAST(o_custkey AS BIGINT) AS o_custkey, 'o_minus_f' AS tag
        FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
              EXCEPT ALL
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
    "zorder_scan": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_custkey BETWEEN 1 AND 200 AND o_totalprice >= 50000.0
    """,
    "html_extract": """
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')) AS text
        FROM documents
        WHERE length(trim(text)) >= 25
    """,
    "span_dedup": """
        WITH toks AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   string_split(regexp_replace(trim(text),
                                '[ \t\n\r]+', ' ', 'g'), ' ') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, u.i AS i,
                   array_to_string(t[u.i : u.i + 7], chr(31)) AS g
            FROM toks, LATERAL unnest(range(1, len(t) - 8 + 2)) AS u(i)
            WHERE len(t) >= 8
        ), rep AS (
            SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
        ), cov AS (
            SELECT DISTINCT doc_id, v.p AS p
            FROM grams JOIN rep USING (g),
                 LATERAL unnest(range(i, i + 8)) AS v(p)
        ), tok_rows AS (
            SELECT doc_id, t[r.p] AS tok, r.p AS pos
            FROM toks, LATERAL unnest(range(1, len(t) + 1)) AS r(p)
        ), kept AS (
            SELECT tr.doc_id, tr.tok, tr.pos
            FROM tok_rows tr
            LEFT JOIN cov ON cov.doc_id = tr.doc_id AND cov.p = tr.pos
            WHERE cov.p IS NULL
        ), agg AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY pos) AS text,
                   count(*) AS nk
            FROM kept GROUP BY doc_id
        )
        SELECT tk.doc_id,
               coalesce(a.text, '') AS text,
               CAST(len(tk.t) AS INT) AS n_tokens,
               CAST(len(tk.t) - coalesce(a.nk, 0) AS INT) AS n_removed
        FROM toks tk LEFT JOIN agg a USING (doc_id)
    """,
    "span_dedup_keep": """
        WITH toks AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   string_split(regexp_replace(trim(text),
                                '[ \t\n\r]+', ' ', 'g'), ' ') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, u.i AS i,
                   array_to_string(t[u.i : u.i + 7], chr(31)) AS g
            FROM toks, LATERAL unnest(range(1, len(t) - 8 + 2)) AS u(i)
            WHERE len(t) >= 8
        ), counted AS (
            SELECT doc_id, i,
                   count(*) OVER (PARTITION BY g) AS c,
                   row_number() OVER (
                       PARTITION BY g ORDER BY doc_id, i) AS rn
            FROM grams
        ), cov AS (
            SELECT DISTINCT doc_id, v.p AS p
            FROM counted, LATERAL unnest(range(i, i + 8)) AS v(p)
            WHERE c >= 2 AND rn >= 2
        ), tok_rows AS (
            SELECT doc_id, t[r.p] AS tok, r.p AS pos
            FROM toks, LATERAL unnest(range(1, len(t) + 1)) AS r(p)
        ), kept AS (
            SELECT tr.doc_id, tr.tok, tr.pos
            FROM tok_rows tr
            LEFT JOIN cov ON cov.doc_id = tr.doc_id AND cov.p = tr.pos
            WHERE cov.p IS NULL
        ), agg AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY pos) AS text,
                   count(*) AS nk
            FROM kept GROUP BY doc_id
        )
        SELECT tk.doc_id,
               coalesce(a.text, '') AS text,
               CAST(len(tk.t) AS INT) AS n_tokens,
               CAST(len(tk.t) - coalesce(a.nk, 0) AS INT) AS n_removed
        FROM toks tk LEFT JOIN agg a USING (doc_id)
    """,
    "url_canonical": """
        WITH raw AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   (CASE WHEN doc_id % 4 = 0 THEN 'HTTP://' ELSE 'http://' END)
                   || (CASE WHEN doc_id % 4 = 1 THEN 'Example.COM:80'
                            ELSE 'example.com' END)
                   || '/docs/' || source
                   || (CASE WHEN doc_id % 4 = 2 THEN '//page/' ELSE '/page' END)
                   || '?utm_source=feed&b=' || CAST(doc_id % 7 AS VARCHAR)
                   || '&a=1'
                   || (CASE WHEN doc_id % 4 = 3 THEN '#section-2' ELSE '' END)
                   AS url
            FROM documents
        ), parts AS (
            SELECT doc_id,
                   lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
                   regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS hostport,
                   regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
                   regexp_extract(url, '\\?([^#]*)', 1) AS query
            FROM raw
        ), norm AS (
            SELECT doc_id, scheme,
                   lower(regexp_extract(hostport, '^([^:]+)', 1)) AS host,
                   regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                   regexp_replace(regexp_replace(path, '/{2,}', '/', 'g'),
                                  '/+$', '') AS p2,
                   array_to_string(list_sort(list_filter(
                       string_split(query, '&'),
                       x -> x <> '' AND NOT regexp_matches(
                           x, '^(utm_[^=]*|gclid|fbclid|ref|mc_eid)='))),
                       '&') AS q2
            FROM parts
        )
        SELECT doc_id,
               scheme || '://' || host
               || (CASE WHEN port = '' THEN ''
                        WHEN scheme = 'http'  AND port = '80'  THEN ''
                        WHEN scheme = 'https' AND port = '443' THEN ''
                        ELSE ':' || port END)
               || (CASE WHEN p2 = '' THEN '/' ELSE p2 END)
               || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END)
               AS canonical
        FROM norm
    """,
    "rolling_anomaly": """
        WITH r AS (
            SELECT event_id, user_id, ts, value,
                   avg(value) OVER w AS m,
                   stddev_samp(value) OVER w AS s,
                   count(value) OVER w AS c
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        SELECT CAST(event_id AS BIGINT) AS event_id,
               CAST(user_id AS BIGINT) AS user_id,
               CAST(ts AS TIMESTAMP) AS ts, value,
               ROUND(m, 6) AS roll_mean,
               ROUND(s, 6) AS roll_std,
               ROUND((value - m) / s, 6) AS zscore
        FROM r
        WHERE c >= 3 AND s IS NOT NULL AND s > 0
          AND abs((value - m) / s) > 2.5
    """,
}
