"""Decision-support query shapes (TPC-H Q6/Q7/Q8/Q9/Q10/Q14/Q16/Q19/Q20
adapted to the fixture's simplified star schema).

These close out the classic ad-hoc analytics surface the reference's
SQL-over-views entry point serves (SURVEY.md EP2; qa/run_quality_checks.py
runs exactly this kind of multi-join aggregate over the gold views).
Each shape stresses a distinct optimizer path:

- Q6  : single-table scan with a tight conjunctive band predicate —
        everything pushes to the parquet reader.
- Q7  : bilateral fact-to-fact join (lineitem x orders) with two
        independent dim legs — the one genuinely big-big shuffle here.
- Q8  : share-of-total with a CASE numerator — one aggregate pass,
        no self-join.
- Q9  : multi-dim margin rollup — arithmetic over joined columns.
- Q10 : group-by-customer + top-k — TakeOrderedAndProject, not a
        global sort.
- Q14 : conditional-share over a LIKE-free dim predicate.
- Q16 : distinct-pair counting with an anti-joined exclusion list.
- Q19 : disjunction-of-conjunctions predicate (tests that Catalyst
        keeps the OR pushable / CNF-converts what it can).
- Q20 : per-group share threshold feeding a semi-join chain.

Determinism: money in DECIMAL(18,2) end-to-end (functions/money.py),
ratios rounded to 6dp on both sides, every LIMIT carries a total
tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from logicash_etl_spark.functions.money import money
from logicash_etl_spark.operators.joins import broadcast_bounded
from logicash_etl_spark.queries.registry import query
from logicash_etl_spark.sources.readers import read_table

_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _dim(d: DataFrame) -> DataFrame:
    """Scale-proportional dim leg (customer/supplier/part): no forced
    broadcast hint — Catalyst auto-broadcasts below the session
    threshold (identical plans at bench SF), AQE decides above it
    (see operators/joins.broadcast_bounded). Fixed-cardinality dims
    (nation=25, region=5 rows at EVERY scale factor) keep the
    unconditional hint inline."""
    return broadcast_bounded(d, bounded=False)


# (abspath(sf_dir), lot name) -> (parquet path, schema json) for the
# shared trade-graph fixture — same build-once-per-process pattern as
# queries/dedup.py's pair lots: seven graph queries consume the same
# 6-way Q7 join, so it is materialized once and re-read, and bench.py
# pre-builds it as a named lot_build line item.
_LOTS: dict = {}
LOT_BUILD_SECONDS: dict[str, float] = {}


def clear_lots() -> None:
    """Forget the materialized trade-pair lot (benchmark re-run hook);
    dirs are removed at process exit (logicash_etl_spark/tmp.py)."""
    _LOTS.clear()
    LOT_BUILD_SECONDS.clear()


def prebuild_lots(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Force the trade-pair lot; report per-lot build seconds."""
    _trade_pairs(spark, sf_dir)
    return dict(LOT_BUILD_SECONDS)


def _rev() -> F.Column:
    return money("l_extendedprice") * (1 - money("l_discount"))


@query(
    "discount_band_revenue",
    oracle=f"""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS promo_revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the what-if revenue of dropping a discount band.
    All four predicates are scan-pushable (shipdate range partition-
    prunes on a date-partitioned 100 TB layout; the rest are row-group
    min/max prunable) — the plan is scan -> partial agg -> single-row
    exchange, no shuffle of data rows at all."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(money("l_extendedprice") * money("l_discount"))
            .cast("double")
            .alias("promo_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "bilateral_trade_volume",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           year(l_shipdate) AS ship_year,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ns ON s_nationkey = ns.n_nationkey
      JOIN nation nc ON c_nationkey = nc.n_nationkey
    WHERE ns.n_nationkey <> nc.n_nationkey
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, ship_year
    """,
)
def bilateral_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade flows by year. The only
    big-big join is lineitem x orders on orderkey (both sides bucket
    on orderkey at 100 TB so it co-locates); customer/supplier/nation
    legs broadcast — nation by unconditional hint (25 rows at every
    SF), customer/supplier by Catalyst's own size check (no forced
    hint; AQE degrades them to shuffle joins when they outgrow the
    threshold at scale). The inequality ns<>nc is applied post-join on two
    broadcast-resolved ints — free."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(_dim(cu), od.o_custkey == cu.c_custkey)
        .join(_dim(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(ns), su.s_nationkey == ns.s_nk)
        .join(F.broadcast(nc), cu.c_nationkey == nc.c_nk)
        .filter(F.col("s_nk") != F.col("c_nk"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "nation_market_share",
    oracle=f"""
    WITH sales AS (
      SELECT year(o_orderdate) AS order_year,
             {_REV} AS rev,
             ns.n_name AS supp_nation
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region    ON nc.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
      WHERE r_name = 'ASIA'
    )
    SELECT order_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev END) AS DOUBLE)
             AS nation_revenue,
           CAST(SUM(rev) AS DOUBLE) AS total_revenue,
           round(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev END) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 6) AS market_share
    FROM sales GROUP BY order_year
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's import revenue
    per year. Share-of-total via a CASE numerator inside ONE aggregate
    pass (never a self-join against the denominator). Decimal sums ->
    one double division -> round 6dp keeps both engines bit-identical."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nc = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _rev()
    nation_rev = F.sum(F.when(F.col("supp_nation") == "NATION_7", rev)).cast("double")
    total_rev = F.sum(rev).cast("double")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(_dim(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(nc), cu.c_nationkey == nc.c_nk)
        .join(F.broadcast(reg), nc.c_rk == reg.r_regionkey)
        .join(_dim(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(ns), su.s_nationkey == ns.s_nk)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            nation_rev.alias("nation_revenue"),
            total_rev.alias("total_revenue"),
            F.round(nation_rev / total_rev, 6).alias("market_share"),
        )
    )


@query(
    "product_margin_by_nation_year",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, year(o_orderdate) AS order_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    - CAST(0.5 AS DECIMAL(3,2))
                      * CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS margin,
           count(*) AS n_lines
    FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ns ON s_nationkey = ns.n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY supp_nation, order_year
    """,
)
def product_margin_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: margin (revenue minus a list-price cost proxy —
    the fixture has no partsupp table) for one product family, rolled
    up by supplier nation and order year. The part filter semi-reduces
    the fact FIRST (broadcast join on the filtered ~1/12th of part),
    so the expensive orders join only sees matching lines. Decimal
    arithmetic keeps the mixed +/- sum order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    margin = _rev() - (
        F.lit(0.5).cast("decimal(3,2)")
        * money("p_retailprice")
        * money("l_quantity")
    )
    return (
        li.join(_dim(pt), li.l_partkey == pt.p_partkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(_dim(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(ns), su.s_nationkey == ns.s_nk)
        .groupBy("supp_nation", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(margin).cast("double").alias("margin"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "returned_item_report",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue from returns
    in a half-year window. orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-20, heap-merged on the
    driver — never a global sort); ties broken by custkey so the
    LIMIT edge is deterministic on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    od = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    ).select("o_orderkey", "o_custkey")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    na = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(_dim(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "promo_revenue_share",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV} END)
                AS DOUBLE) AS promo_revenue,
           CAST(SUM({_REV}) AS DOUBLE) AS total_revenue,
           round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                       THEN {_REV} END) AS DOUBLE)
                 / CAST(SUM({_REV}) AS DOUBLE), 6)
             AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-06-01 00:00:00'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percent of a quarter's revenue attributable to
    promo-class parts. One broadcast join + one aggregate pass with a
    CASE numerator; the date band prunes the fact scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-06-01")
    )
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = money("l_extendedprice") * (1 - money("l_discount"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double")
    total = F.sum(rev).cast("double")
    return (
        li.join(_dim(pt), li.l_partkey == pt.p_partkey)
        .agg(
            promo.alias("promo_revenue"),
            total.alias("total_revenue"),
            F.round(F.lit(100.0) * promo / total, 6).alias("promo_pct"),
        )
    )


@query(
    "supplier_count_by_part",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
      JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 9, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can serve each
    (brand, type, size) bucket, excluding a complaint list (proxied by
    negative account balance — the fixture has no comment column).
    The NOT IN is an anti join against a broadcast-small exclusion
    list; supplier pairs are DISTINCTed from lineitem (the fixture's
    partsupp proxy) BEFORE the dim join so the distinct-agg input is
    minimal."""
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    pt = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 9, 19, 23, 36, 45, 49))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(_dim(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(_dim(pt), ps.l_partkey == pt.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "disjunctive_predicate_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue, count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#9' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#14' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of three (brand, size, quantity)
    conjuncts spanning both join sides. Catalyst CNF-extracts the
    cross-side common factors: the quantity bound l_quantity<=30 is
    derivable and pushable to the fact scan, and the brand/size
    disjunction prunes part before the broadcast — worth pinning
    because a naive engine evaluates the whole OR post-join."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(_dim(pt), li.l_partkey == pt.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#9")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#14")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(cond).agg(
        F.sum(_rev()).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "excess_share_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      GROUP BY l_partkey, l_suppkey
    ), with_total AS (
      SELECT l_suppkey, qty,
             SUM(qty) OVER (PARTITION BY l_partkey) AS part_total
      FROM shipped
    )
    SELECT DISTINCT s_suppkey, s_name, n_name
    FROM with_total
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE qty > 0.3 * part_total
    """,
)
def excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding an outsized share (>30%) of
    any red part's 1997 volume — the availability-threshold
    semi-join chain. Per-(part,supp) sums and the per-part window
    total share one shuffle on partkey; the qualifying suppkey set is
    DISTINCTed small before the broadcast joins out to names. Decimal
    qty sums make the share compare exact on both engines."""
    pt = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    shipped = (
        li.join(_dim(pt), li.l_partkey == pt.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(money("l_quantity")).cast("double").alias("qty"))
    )
    w = W.partitionBy("l_partkey")
    qualifying = (
        shipped.withColumn("part_total", F.sum("qty").over(w))
        .filter(F.col("qty") > 0.3 * F.col("part_total"))
        .select("l_suppkey")
        .distinct()
    )
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    na = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        qualifying.join(_dim(su), qualifying.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )


_TRADE_PAIR_SQL = """
    WITH pair AS (
      SELECT nc.n_name AS src, ns.n_name AS dst,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
      WHERE ns.n_nationkey <> nc.n_nationkey
      GROUP BY src, dst
    )"""

_TRADE_EDGE_SQL = _TRADE_PAIR_SQL + """
    , tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total_n,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pair
    ), edges AS (
      SELECT src, dst FROM pair, tot WHERE n * n_pairs > total_n
    )"""


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed trade-volume pairs cust_nation -> supp_nation with
    line counts — THE shared graph-fixture derivation (the Q7 join;
    dims broadcast), materialized ONCE per (process, sf_dir) as a
    tiny parquet lot (<= |nations|^2 rows) and re-read by the seven
    graph queries that build on it: LPA weights it, the others
    threshold it (``_trade_edges``). Results are identical to
    recomputing (the join is deterministic; parquet round-trips
    strings/longs bitwise). The SQL twin is ``_TRADE_PAIR_SQL``."""
    import json as _json
    import os as _os

    from pyspark.sql.types import StructType as _StructType

    from logicash_etl_spark.queries._lots import timed_lot
    from logicash_etl_spark.tmp import session_tmpdir

    def materialize() -> tuple[str, str]:
        path = _os.path.join(session_tmpdir("lq_trade_lot_"), "trade_pairs")
        df = _trade_pairs_build(spark, sf_dir)
        df.write.mode("overwrite").parquet(path)
        return path, df.schema.json()

    key = (_os.path.abspath(sf_dir), "trade_pairs")
    path, schema_json = timed_lot(
        _LOTS, LOT_BUILD_SECONDS, key, "trade_pairs", materialize
    )
    schema = _StructType.fromJson(_json.loads(schema_json))
    return spark.read.schema(schema).parquet(path)


def _trade_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    nc = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(_dim(cu), od.o_custkey == cu.c_custkey)
        .join(_dim(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(ns), su.s_nationkey == ns.s_nk)
        .join(F.broadcast(nc), cu.c_nationkey == nc.c_nk)
        .filter(F.col("s_nk") != F.col("c_nk"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average trade edges: ``_trade_pairs`` thresholded by
    n * n_pairs > total (multiply-don't-divide keeps it
    integer-exact). The SQL twin is ``_TRADE_EDGE_SQL``."""
    pair = _trade_pairs(spark, sf_dir)
    tot = pair.agg(F.sum("n").alias("total_n"), F.count("*").alias("n_pairs"))
    return (
        pair.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * F.col("n_pairs") > F.col("total_n"))
        .select("src", "dst")
    )


def _pagerank_oracle(iterations: int = 3, scale: int = 10**9, d: int = 85) -> str:
    """Unrolled integer-PageRank CTE chain — one (s_i, r_i) pair per
    power iteration, floor division throughout, so DuckDB reproduces
    the Spark loop bit-for-bit (every SUM is cast back to BIGINT: the
    r4 lesson — DuckDB SUM(BIGINT) widens to HUGEINT which pandas
    materializes as float64)."""
    base = (100 - d) * scale // 100
    sql = _TRADE_EDGE_SQL + f"""
    , nodes AS (
      SELECT n_name AS node FROM nation
    ), outdeg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
    ), r0 AS (
      SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes
    )"""
    for i in range(1, iterations + 1):
        sql += f""", s{i} AS (
      SELECT e.dst AS node, CAST(SUM(r.rank // o.outdeg) AS BIGINT) AS s
      FROM edges e
        JOIN r{i - 1} r ON r.node = e.src
        JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ), r{i} AS (
      SELECT n.node,
             CAST({base} + ({d} * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN s{i} s USING (node)
    )"""
    sql += f"""
    SELECT node AS nation, rank AS rank_scaled,
           CAST(row_number() OVER (ORDER BY rank DESC, node ASC) AS INT) AS rk
    FROM r{iterations}
    """
    return sql


@query("nation_trade_pagerank", oracle=_pagerank_oracle())
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph: a directed edge
    cust_nation -> supp_nation wherever that pair's trade-line count
    is above the all-pairs average (n * n_pairs > total — the
    multiply-don't-divide trick keeps the threshold integer-exact on
    both engines). Three power iterations in fixed-point integer
    arithmetic (operators/graph.py:pagerank_int), so the iterative
    result hash-matches the DuckDB unrolled-CTE oracle exactly —
    float PageRank never could (summation order changes low bits).
    Scale: edge derivation is the Q7 join (big-big on orderkey,
    dims broadcast); each iteration shuffles only the EDGE list
    (nations^2 rows here; bounded by the graph, not the fact table).
    The final ranking window is over #nodes rows — driver-scale."""
    from logicash_etl_spark.operators.graph import pagerank_int

    edges = _trade_edges(spark, sf_dir)
    nodes = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("node"))
    ranks = pagerank_int(nodes, edges, iterations=3)
    # global ranking window over #nations rows — driver-scale frame
    w = W.orderBy(F.desc("rank"), F.asc("node"))
    return ranks.select(
        F.col("node").alias("nation"),
        F.col("rank").alias("rank_scaled"),
        F.row_number().over(w).cast("int").alias("rk"),
    )


def _lpa_oracle(iterations: int = 3, final_select: str | None = None) -> str:
    """Unrolled synchronous-LPA CTE chain over the symmetrized nation
    trade graph — one (c_i, b_i, l_i) triple per round, integer
    weights and a deterministic (weight desc, label asc) argmax, so
    DuckDB reproduces the Spark loop label-for-label."""
    sql = _TRADE_PAIR_SQL + """
    , sym AS (
      SELECT src, dst, CAST(SUM(n) AS BIGINT) AS w FROM (
        SELECT src, dst, n FROM pair
        UNION ALL
        SELECT dst AS src, src AS dst, n FROM pair
      ) GROUP BY src, dst
    ), nodes AS (
      SELECT n_name AS node FROM nation
    ), l0 AS (
      SELECT node, node AS label FROM nodes
    )"""
    for i in range(1, iterations + 1):
        sql += f""", c{i} AS (
      SELECT e.dst AS node, l.label, CAST(SUM(e.w) AS BIGINT) AS ws
      FROM sym e JOIN l{i - 1} l ON l.node = e.src
      GROUP BY e.dst, l.label
    ), b{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY ws DESC, label ASC) AS r
        FROM c{i})
      WHERE r = 1
    ), l{i} AS (
      SELECT n.node, COALESCE(b.label, l.label) AS label
      FROM nodes n
        JOIN l{i - 1} l USING (node)
        LEFT JOIN b{i} b USING (node)
    )"""
    if final_select is None:
        final_select = f"""
    SELECT node AS nation, label AS community,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS n_members
    FROM l{iterations}
    """
    return sql + final_select


def _trade_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized integer-weighted trade graph (src, dst, w) — the
    frame LPA runs on and modularity is scored against; keeping ONE
    derivation guarantees the two queries talk about the same graph.
    SQL twin: the ``sym`` CTE inside ``_lpa_oracle``."""
    pair = _trade_pairs(spark, sf_dir)
    return (
        pair.select("src", "dst", "n")
        .unionByName(
            pair.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "n"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("n").cast("bigint").alias("w"))
    )


@query("nation_trade_communities", oracle=_lpa_oracle())
def nation_trade_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the nation trade graph: weighted
    synchronous label propagation (operators/graph.py:
    label_propagation), three rounds on the SYMMETRIZED trade-volume
    edges — trading blocs fall out as the fixed labels. Async LPA is
    order-dependent and useless for a hash-checked engine; this
    variant's sync updates + integer weights + deterministic argmax
    make the iterative result hash-match an unrolled-CTE oracle, the
    same playbook as nation_trade_pagerank. Scale: edge derivation is
    the Q7 join; each round shuffles only the edge list, and the
    per-node argmax window is bounded by degree."""
    from logicash_etl_spark.operators.graph import label_propagation

    sym = _trade_sym(spark, sf_dir)
    nodes = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("node"))
    labels = label_propagation(nodes, sym, iterations=3)
    # community sizes: a window over #nations rows — driver-scale
    w = W.partitionBy("label")
    return labels.select(
        F.col("node").alias("nation"),
        F.col("label").alias("community"),
        F.count("*").over(w).cast("bigint").alias("n_members"),
    )


@query(
    "trade_triangle_stats",
    oracle=_TRADE_EDGE_SQL
    + """
    , und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM edges WHERE src <> dst
    ), sym AS (
      SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
    ), deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u
    ), tri3 AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und e1
        JOIN und e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v
    ), pv AS (
      SELECT x AS u, CAST(count(*) AS BIGINT) AS tri FROM (
        SELECT a AS x FROM tri3
        UNION ALL SELECT b FROM tri3
        UNION ALL SELECT c FROM tri3
      ) GROUP BY x
    )
    SELECT n_name AS nation,
           COALESCE(d.deg, 0) AS deg,
           COALESCE(p.tri, 0) AS tri,
           CAST(CASE WHEN COALESCE(d.deg, 0) >= 2
                THEN (200 * COALESCE(p.tri, 0)) // (d.deg * (d.deg - 1))
                ELSE 0 END AS BIGINT) AS lcc_pct
    FROM nation
      LEFT JOIN deg d ON d.u = n_name
      LEFT JOIN pv p ON p.u = n_name
    """,
)
def trade_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the
    undirected nation trade graph — the cohesion metric community
    detection doesn't give (a nation embedded in a trading BLOC has
    high LCC; a pure hub has low). Spark side runs the degree-ordered
    compact-forward algorithm (operators/graph.py:triangle_counts):
    every edge oriented from its (degree, id)-smaller endpoint, so
    wedge fan-out is capped at O(sqrt(E)) per vertex and total
    candidates at E^1.5 even under celebrity-vertex skew — at 100 TB
    the naive shared-endpoint self-join dies on the first hub. The
    per-vertex result is orientation-invariant, so the oracle counts
    the same triangles with the simple id-canonical a<b<c join. LCC
    reported as an integer percentage (200*tri // deg*(deg-1)) —
    exact on both engines, no float division anywhere."""
    from logicash_etl_spark.operators.graph import triangle_counts

    edges = _trade_edges(spark, sf_dir)
    stats = triangle_counts(edges, src="src", dst="dst")
    nations = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("nation"))
    return (
        nations.join(stats, nations.nation == stats.id, "left")
        .select(
            "nation",
            F.coalesce("deg", F.lit(0)).cast("bigint").alias("deg"),
            F.coalesce("tri", F.lit(0)).cast("bigint").alias("tri"),
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                F.expr("(200 * coalesce(tri, 0)) div (deg * (deg - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("lcc_pct"),
        )
    )


def _bfs_oracle(max_hops: int = 3) -> str:
    """Unrolled BFS CTE chain: frontier_i = unvisited out-neighbors of
    frontier_{i-1}; hop counts are integers, so the iterative Spark
    loop hash-matches exactly."""
    sql = _TRADE_EDGE_SQL + """
    , v0 AS (
      SELECT (SELECT min(n_name) FROM nation) AS node, 0 AS hops
    )"""
    prev_new, prev_vis = "v0", "v0"
    for i in range(1, max_hops + 1):
        sql += f""", f{i} AS (
      SELECT DISTINCT e.dst AS node
      FROM edges e JOIN {prev_new} p ON p.node = e.src
    ), n{i} AS (
      SELECT node, {i} AS hops FROM f{i}
      WHERE node NOT IN (SELECT node FROM {prev_vis})
    ), v{i} AS (
      SELECT node, hops FROM {prev_vis} UNION ALL SELECT node, hops FROM n{i}
    )"""
        prev_new, prev_vis = f"n{i}", f"v{i}"
    sql += f"""
    SELECT n_name AS nation,
           CAST(COALESCE(v.hops, -1) AS INT) AS hops
    FROM nation LEFT JOIN {prev_vis} v ON v.node = n_name
    """
    return sql


@query("trade_reach_hops", oracle=_bfs_oracle())
def trade_reach_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances over the directed trade graph from the
    alphabetically-first nation — "how many trade legs until goods
    from X can reach Y", the reachability question PageRank's scores
    blur. Frontier-style Pregel supersteps
    (operators/graph.py:bfs_hops): each round shuffles only
    frontier x out-degree rows, never the visited set against the
    graph; -1 marks nodes unreached within 3 hops. The source is the
    min nation name — one driver-side lookup of a single value
    (bounded, same class as the broadcast-threshold decisions).
    Integer hop counts make the iterative loop hash-match the
    unrolled-CTE oracle exactly."""
    from logicash_etl_spark.operators.graph import bfs_hops

    edges = _trade_edges(spark, sf_dir)
    nodes = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("node"))
    source = nodes.agg(F.min("node")).collect()[0][0]
    out = bfs_hops(nodes, edges, source, max_hops=3)
    return out.select(F.col("node").alias("nation"), "hops")


def _kcore_oracle(k: int = 4, rounds: int = 3) -> str:
    """Unrolled k-core peeling CTE chain: round i keeps the edges
    whose BOTH endpoints had degree >= k in round i-1's subgraph.
    Integer degrees, so the iterative Spark loop hash-matches. The
    round CTEs are MATERIALIZED: each is referenced several times by
    the next round, and DuckDB inlining them grows the query
    exponentially in the number of rounds."""
    sql = _TRADE_EDGE_SQL + """
    , a0 AS MATERIALIZED (
      SELECT DISTINCT greatest(src, dst) AS u, least(src, dst) AS v
      FROM edges WHERE src <> dst
    )"""
    prev = "a0"
    for i in range(1, rounds + 1):
        sql += f""", s{i} AS MATERIALIZED (
      SELECT u, v FROM {prev} UNION ALL SELECT v AS u, u AS v FROM {prev}
    ), k{i} AS MATERIALIZED (
      SELECT u FROM s{i} GROUP BY u HAVING count(*) >= {k}
    ), a{i} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e
        JOIN k{i} x ON x.u = e.u
        JOIN k{i} y ON y.u = e.v
    )"""
        prev = f"a{i}"
    sql += f"""
    , sf AS (SELECT u, v FROM {prev} UNION ALL SELECT v AS u, u AS v FROM {prev})
    , df AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sf GROUP BY u)
    SELECT n_name AS nation,
           COALESCE(d.deg, 0) AS deg,
           COALESCE(d.deg, 0) >= {k} AS in_core
    FROM nation LEFT JOIN df d ON d.u = n_name
    """
    return sql


@query("trade_k_core", oracle=_kcore_oracle())
def trade_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the undirected nation trade graph — the dense-
    subgraph membership question ("which nations sit in a tightly
    interlinked trading bloc, each with >= 4 intra-bloc partners"),
    the peeling primitive that isolates spam farms / bot rings in
    link graphs during corpus curation. Iterative degree peeling
    (operators/graph.py:k_core): each round one map-side-combinable
    degree count + two semi-joins on the SHRINKING edge set; peeling
    is monotone, so the fixed 3-round result is a sound under-
    approximation of convergence and hash-matches the unrolled-CTE
    oracle exactly (integer degrees, no floats anywhere)."""
    from logicash_etl_spark.operators.graph import k_core

    edges = _trade_edges(spark, sf_dir).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    nodes = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("node"))
    return k_core(nodes, edges, k=4, rounds=3).select(
        F.col("node").alias("nation"), "deg", "in_core"
    )


_PARETO_SQL = """
    SELECT p_partkey, p_name, p_size, p_retailprice
    FROM part p
    WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_size IS NOT NULL AND q.p_retailprice IS NOT NULL
          AND q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
          AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))
"""


@query("pareto_part_frontier", oracle=_PARETO_SQL)
def pareto_part_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of the part catalog: parts where no other part
    is both bigger (p_size) and cheaper-or-equal (p_retailprice) —
    the classic skyline query (Borzsony/Kossmann/Stocker, ICDE'01).

    The oracle is the O(n^2) NOT-EXISTS dominance anti-join; the
    engine path (operators/skyline.py:pareto_frontier_2d) is the
    distributed sort-based scan — one hash aggregation to collapse x
    groups, a two-phase exclusive prefix-max (per-bucket windows +
    broadcast bucket offsets, the global_prefix_sum pattern) instead
    of a single-partition global window, then a per-row filter. At
    100 TB the only full-data movements are the group-by shuffle and
    the join back on x."""
    from logicash_etl_spark.operators.skyline import pareto_frontier_2d

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_size", "p_retailprice"
    )
    return pareto_frontier_2d(
        part, "p_size", "p_retailprice", maximize_x=True, maximize_y=False
    )


_LINK_PRED_SQL = _TRADE_EDGE_SQL + """
    , und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM edges
    ), adj AS (
      SELECT u AS node, v AS nb FROM und UNION ALL SELECT v AS node, u AS nb FROM und
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node
    ), cand AS (
      SELECT a.node AS nation_a, b.node AS nation_b, a.nb AS z
      FROM adj a JOIN adj b ON a.nb = b.nb AND a.node < b.node
    ), scored AS (
      SELECT nation_a, nation_b,
             CAST(count(*) AS BIGINT) AS common_n,
             CAST(SUM(1000000000000 // d.deg) AS BIGINT) AS ra_score_fp
      FROM cand JOIN deg d ON d.node = cand.z
      GROUP BY nation_a, nation_b
    )
    SELECT s.nation_a, s.nation_b, s.common_n, s.ra_score_fp
    FROM scored s
    WHERE NOT EXISTS (
      SELECT 1 FROM und WHERE und.u = s.nation_a AND und.v = s.nation_b)
"""


@query("trade_link_prediction", oracle=_LINK_PRED_SQL)
def trade_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the undirected nation trade graph: for every
    NON-adjacent pair, the common-neighbor count and the Resource
    Allocation index (Zhou/Lu/Zhang 2009) — sum over common neighbors
    z of 1/deg(z), here in integer fixed-point (1e12 // deg, exact
    BIGINT sums) so the score is associative, engine-portable, and
    hash-stable; no float accumulation anywhere.

    Scale shape: candidates come from the 2-hop join adj(a,z) x
    adj(b,z) — fan-out is sum of deg(z)^2, the inherent cost of
    common-neighbor scores. At 100 TB the standard mitigations (cap
    or sample hot-z neighborhoods, exactly like jaccard_pairs'
    max_doc_freq purge) bound the quadratic term; the fixture graph
    (<= 25 nations) needs none."""
    e = _trade_edges(spark, sf_dir)
    und = e.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    adj = und.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
        und.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count("*").cast("bigint").alias("deg"))
    a = adj.select(F.col("node").alias("nation_a"), F.col("nb").alias("z"))
    b = adj.select(F.col("node").alias("nation_b"), F.col("nb").alias("z"))
    scored = (
        a.join(b, on="z")
        .filter(F.col("nation_a") < F.col("nation_b"))
        .join(F.broadcast(deg.select(F.col("node").alias("z"), "deg")), on="z")
        .groupBy("nation_a", "nation_b")
        .agg(
            F.count("*").cast("bigint").alias("common_n"),
            F.sum(F.expr("1000000000000 DIV deg")).cast("bigint").alias("ra_score_fp"),
        )
    )
    existing = und.select(F.col("u").alias("nation_a"), F.col("v").alias("nation_b"))
    return scored.join(
        F.broadcast(existing), on=["nation_a", "nation_b"], how="left_anti"
    )


def _sssp_oracle(iterations: int = 4) -> str:
    """Unrolled Bellman-Ford CTE chain over the weighted trade-pair
    graph — min/+ on BIGINT throughout, so DuckDB reproduces the
    Spark supersteps bit-for-bit."""
    sql = _TRADE_PAIR_SQL + """
    , d0 AS (
      SELECT min(n_name) AS node, CAST(0 AS BIGINT) AS dist FROM nation
    )"""
    for i in range(1, iterations + 1):
        sql += f""", d{i} AS (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT p.dst AS node, d.dist + p.n AS dist
        FROM d{i - 1} d JOIN pair p ON p.src = d.node
        UNION ALL
        SELECT node, dist FROM d{i - 1}
      ) GROUP BY node
    )"""
    sql += f"""
    SELECT n_name AS nation, d.dist AS min_cost
    FROM nation LEFT JOIN d{iterations} d ON d.node = n_name
    """
    return sql


@query("trade_min_cost_paths", oracle=_sssp_oracle())
def trade_min_cost_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest <=4-hop trade route from the alphabetically-first
    nation to every other, edge cost = bilateral line count — bounded
    Bellman-Ford (operators/graph.py:sssp_bounded) over the FULL
    weighted pair graph (no edge thresholding: SSSP wants the real
    costs). NULL = unreachable within 4 hops. Completes the graph
    suite's weighted leg next to bfs_hops (unweighted reach),
    pagerank_int, label propagation, triangles, and k-core."""
    from logicash_etl_spark.operators.graph import sssp_bounded

    pair = _trade_pairs(spark, sf_dir)
    edges = pair.select("src", "dst", F.col("n").alias("w"))
    nodes = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("node"))
    source = nodes.agg(F.min("node").alias("node"))
    return sssp_bounded(nodes, edges, source, iterations=4).select(
        F.col("node").alias("nation"), F.col("dist").alias("min_cost")
    )


def _hits_oracle(iterations: int = 2, scale: int = 10**6) -> str:
    """Unrolled integer-HITS CTE chain — four CTEs per round
    (authority raw/normalized, hub raw/normalized), L-infinity
    normalization as ``raw * scale // max(raw)``, every SUM cast back
    to BIGINT (DuckDB widens SUM(BIGINT) to HUGEINT)."""
    sql = _TRADE_EDGE_SQL + f"""
    , nodes AS (
      SELECT n_name AS node FROM nation
    ), h0 AS (
      SELECT node, CAST({scale} AS BIGINT) AS h FROM nodes
    )"""
    for i in range(1, iterations + 1):
        sql += f""", ar{i} AS (
      SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS raw
      FROM edges e JOIN h{i - 1} h ON h.node = e.src
      GROUP BY e.dst
    ), a{i} AS (
      SELECT n.node,
             CAST(COALESCE(ar.raw, CAST(0 AS BIGINT))
                  * CAST({scale} AS BIGINT)
                  // (SELECT MAX(raw) FROM ar{i}) AS BIGINT) AS a
      FROM nodes n LEFT JOIN ar{i} ar USING (node)
    ), hr{i} AS (
      SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS raw
      FROM edges e JOIN a{i} a ON a.node = e.dst
      GROUP BY e.src
    ), h{i} AS (
      SELECT n.node,
             CAST(COALESCE(hr.raw, CAST(0 AS BIGINT))
                  * CAST({scale} AS BIGINT)
                  // (SELECT MAX(raw) FROM hr{i}) AS BIGINT) AS h
      FROM nodes n LEFT JOIN hr{i} hr USING (node)
    )"""
    sql += f"""
    SELECT a.node AS nation,
           a.a AS authority_scaled,
           h.h AS hub_scaled,
           CAST(row_number() OVER (ORDER BY a.a DESC, a.node ASC) AS INT)
             AS rk
    FROM a{iterations} a JOIN h{iterations} h USING (node)
    """
    return sql


@query("nation_trade_hits", oracle=_hits_oracle())
def nation_trade_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubs and authorities over the trade graph (integer HITS,
    operators/graph.py:hits_int) — the link-analysis complement to
    ``nation_trade_pagerank``: which nations CONCENTRATE demand
    (hubs: their customers buy from the good exporters) vs which
    CONCENTRATE supply (authorities: the exporters good importers buy
    from). Two mutual-recursion rounds in fixed-point integers with
    L-infinity normalization, so the iterative result hash-matches
    the DuckDB unrolled-CTE oracle bit-for-bit — L2-normalized float
    HITS never could.

    Scale: edge derivation is the Q7 join (read once from the shared
    trade-pair lot); each half-round shuffles only the EDGE list
    (bounded by nations^2 here — by the graph, not the fact table),
    and the round max is a one-row broadcast, never a collect. The
    final ranking window is over #nations rows — driver-scale."""
    from logicash_etl_spark.operators.graph import hits_int

    edges = _trade_edges(spark, sf_dir)
    nodes = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("node"))
    res = hits_int(nodes, edges, iterations=2)
    w = W.orderBy(F.desc("authority"), F.asc("node"))
    return res.select(
        F.col("node").alias("nation"),
        F.col("authority").alias("authority_scaled"),
        F.col("hub").alias("hub_scaled"),
        F.row_number().over(w).cast("int").alias("rk"),
    )


def _modularity_select(iterations: int = 3) -> str:
    """Final SELECT for _lpa_oracle: modularity over round-N labels.
    Interpolates l{iterations} so the label round always matches the
    oracle chain it extends."""
    return f"""
    , lab AS (
      SELECT node, label FROM l{iterations}
    ), cstat AS (
      SELECT la.label AS community,
             CAST(SUM(CASE WHEN la.label = lb.label THEN e.w ELSE 0 END)
                  AS BIGINT) AS in_weight,
             CAST(SUM(e.w) AS BIGINT) AS deg_weight
      FROM sym e
        JOIN lab la ON la.node = e.src
        JOIN lab lb ON lb.node = e.dst
      GROUP BY la.label
    ), m2 AS (
      SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM sym
    ), members AS (
      SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
      FROM lab GROUP BY label
    )
    SELECT c.community, m.n_members, c.in_weight, c.deg_weight,
           CAST(c.in_weight * (SELECT m2 FROM m2)
                - c.deg_weight * c.deg_weight AS BIGINT) AS contrib_scaled
    FROM cstat c JOIN members m USING (community)
    """


@query(
    "trade_community_modularity",
    oracle=_lpa_oracle(final_select=_modularity_select()),
)
def trade_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the LPA trading blocs — the number that
    says whether detected communities are real structure or noise:
    Q = sum_c [ in_c/(2m) - (deg_c/(2m))^2 ]. Reported EXACTLY by
    clearing the denominator: per community,
    contrib_scaled = in_c * 2m - deg_c^2, so Q = sum(contrib) / (2m)^2
    with every emitted term BIGINT — no floor division at all (a
    signed integer division would be the one place Spark's
    truncate-toward-zero and DuckDB's floor disagree). Self-loops
    (domestic trade) follow the same symmetrized-union convention the
    LPA itself runs on; in_c counts both directions, matching the
    standard 2m normalization.

    Scale: labels come from the shared LPA run (edge-list-bounded
    supersteps); the modularity pass is ONE join of the edge list
    against the label frame (broadcast — labels are |nations| rows)
    and a |communities|-group rollup. The oracle extends the unrolled
    LPA CTE chain, so a regression in EITHER the clustering or the
    modularity arithmetic flips the hash."""
    from logicash_etl_spark.operators.graph import label_propagation

    sym = _trade_sym(spark, sf_dir)
    nodes = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("node"))
    lab = label_propagation(nodes, sym, iterations=3).select("node", "label")
    la = lab.select(F.col("node").alias("src"), F.col("label").alias("ca"))
    lb = lab.select(F.col("node").alias("dst"), F.col("label").alias("cb"))
    cstat = (
        sym.join(F.broadcast(la), "src")
        .join(F.broadcast(lb), "dst")
        .groupBy(F.col("ca").alias("community"))
        .agg(
            F.sum(F.when(F.col("ca") == F.col("cb"), F.col("w")).otherwise(0))
            .cast("bigint").alias("in_weight"),
            F.sum("w").cast("bigint").alias("deg_weight"),
        )
    )
    m2 = sym.agg(F.sum("w").cast("bigint").alias("m2"))
    members = lab.groupBy(F.col("label").alias("community")).agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    return (
        cstat.join(F.broadcast(members), "community")
        .crossJoin(F.broadcast(m2))
        .select(
            "community", "n_members", "in_weight", "deg_weight",
            (
                F.col("in_weight") * F.col("m2")
                - F.col("deg_weight") * F.col("deg_weight")
            ).cast("bigint").alias("contrib_scaled"),
        )
    )


_RECURSIVE_REACH_SQL = """
    , reach AS (
      SELECT (SELECT min(n_name) FROM nation) AS node, 0 AS hops
      UNION ALL
      SELECT e.dst, r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hops < 3
    )
    SELECT n.n_name AS nation,
           CAST(COALESCE(MIN(r.hops), -1) AS INT) AS hops
    FROM nation n LEFT JOIN reach r ON r.node = n.n_name
    GROUP BY n.n_name
    """


@query(
    "recursive_cte_reachability",
    oracle=_TRADE_EDGE_SQL.replace("WITH pair AS", "WITH RECURSIVE pair AS", 1)
    + _RECURSIVE_REACH_SQL,
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 RECURSIVE CTE, end-to-end — the SQL surface that
    finally expresses iterative graph traversal declaratively (until
    4.x the engine's answer was the hand-rolled Pregel loops in
    operators/graph.py; bfs_hops computes these exact numbers
    imperatively): 3-hop reachability from the alphabetically-first
    nation over the trade graph, min hop count per node, -1 for
    unreached. Both engines run the IDENTICAL ``WITH RECURSIVE``
    text against the same edge derivation, so the driver hash pins
    Spark's recursive-CTE evaluation itself (row production, the
    hop-bound termination, the UNION ALL frontier semantics) against
    DuckDB's.

    Scale: each recursive step is a join of the current frontier
    against the edge list — the same shuffle shape as the manual BFS,
    now planned by the engine. The hop bound caps path enumeration
    (UNION ALL enumerates WALKS, so an unbounded recursion on a
    cyclic graph never terminates — the WHERE hops < k guard is
    load-bearing on BOTH engines); the final MIN collapses walks to
    distances. Prefer bfs_hops' frontier-dedup loop when path
    multiplicity explodes — walks grow with edge^hops, frontiers
    don't."""
    edges = _trade_edges(spark, sf_dir)
    edges.createOrReplaceTempView("__rec_reach_edges")
    nations = _t(spark, sf_dir, "nation")
    nations.createOrReplaceTempView("__rec_reach_nation")
    sql = (
        "WITH RECURSIVE reach AS ("
        "  SELECT (SELECT min(n_name) FROM __rec_reach_nation) AS node,"
        "         0 AS hops"
        "  UNION ALL"
        "  SELECT e.dst, r.hops + 1"
        "  FROM reach r JOIN __rec_reach_edges e ON e.src = r.node"
        "  WHERE r.hops < 3"
        ") "
        "SELECT n.n_name AS nation,"
        "       CAST(COALESCE(MIN(r.hops), -1) AS INT) AS hops "
        "FROM __rec_reach_nation n LEFT JOIN reach r ON r.node = n.n_name "
        "GROUP BY n.n_name"
    )
    return spark.sql(sql)
