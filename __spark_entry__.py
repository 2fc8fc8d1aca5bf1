"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one (or a few) operator(s) from
SURVEY.md §2, implemented Spark-first in ``pacasam_spark``; the matching
``oracle_sql()`` entry is ANSI SQL DuckDB runs on the same tables.

Float policy: any aggregated money/price value goes through exact
DECIMAL sums (order-independent, identical in both engines) and is cast
to double only at the end; row-wise double arithmetic is IEEE-identical
across engines and needs no rounding.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pacasam_spark.operators.asof import asof_nearest_join, distinct_on
from pacasam_spark.operators.hashing import det_hash, det_hash_sql
from pacasam_spark.operators.sampling import (
    sample_randomly,
    sample_with_stratification,
    stratified_sample_sql,
)
from pacasam_spark.operators.union import union_dedup_priority
from pacasam_spark.sources.synthetic import synthetic_catalogue, synthetic_catalogue_sql
from pacasam_spark.spatial.cells import cell_id_sql

DEC = "decimal(27,4)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _li_id() -> F.Column:
    """Composite lineitem row key (linenumber is 1..7)."""
    return (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("li_id")


LI_ID_SQL = "(l_orderkey * 10 + l_linenumber)"


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: catalogue-ized lineitem -> deterministic
    stratified sampling (M7) -> broadcast extraction join (J1) -> summary
    aggregation. The pacasam pipeline shape over the driver's tables."""
    sf_dir = "/root/testdata/sf0.001"
    li = _t(spark, sf_dir, "lineitem").withColumn("li_id", _li_id())
    selection = sample_with_stratification(
        li.select("li_id", "l_suppkey"), 500, keys="l_suppkey", seed=42, id_key="li_id"
    )
    extracted = li.join(F.broadcast(selection.select("li_id")), "li_id")
    return (
        extracted.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# queries / oracles
# --------------------------------------------------------------------------

def _hi_lo(v: F.Column) -> tuple[F.Column, F.Column]:
    """Exact (hi, lo) split of a long column at 2^31: lo = pmod in
    [0, 2^31), and (v - lo) is a multiple of 2^31 whose quotient has
    <= 32 significant bits, so the double division is exact."""
    lo = F.pmod(v, F.lit(1 << 31))
    hi = ((v - lo) / F.lit(1 << 31)).cast("long")
    return hi, lo


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-class aggregation battery (SURVEY §2.5 A4-A7) — TPC-H Q1 shape.

    Long-scaled exact arithmetic (optimization guide §1.2 "per-task
    work"): the straightforward decimal(27,4) formulation spends the
    whole stage in per-row JavaBigDecimal multiply/sum (precision > 18
    never takes Spark's compact-long path). TPC-H money columns are 2dp
    grids with l_extendedprice < 1.1e5 and everything non-negative, so
    each operand converts EXACTLY to a scale-4 long (the double is
    within 1e-6 of the grid point, so +0.5-truncate recovers it), the
    products are exact longs (<= 1.3e17 < 2^63), and sums ride hi/lo
    long splits (exact to ~4e9 rows per group — sf ~700 — before ANSI
    mode would raise loudly). The final per-GROUP reconstruction
    rebuilds the identical exact decimal and casts to double, so every
    output bit matches the decimal formulation and the frozen oracle."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    # exact scale-4 long operands (values are non-negative 2dp grids)
    qi = (F.col("l_quantity") * 10000 + 0.5).cast("long")
    pi = (F.col("l_extendedprice") * 10000 + 0.5).cast("long")
    di = ((1 - F.col("l_discount")) * 10000 + 0.5).cast("long")
    ti = ((1 + F.col("l_tax")) * 10000 + 0.5).cast("long")
    d2 = (F.col("l_discount") * 10000 + 0.5).cast("long")
    p8 = pi * di  # disc price, scale 8, exact long
    p12 = pi * di * ti  # charge, scale 12, exact long
    p8_hi, p8_lo = _hi_lo(p8)
    p12_hi, p12_lo = _hi_lo(p12)

    import decimal as _d

    TWO64 = F.lit(_d.Decimal(1 << 64))

    def duck_double(u: F.Column, scale_pow: int) -> F.Column:
        """The frozen DuckDB oracle's decimal->double cast, replayed on
        the exact unscaled integer ``u`` (a decimal(38,0)): DuckDB stores
        every DECIMAL(38,s) as an int128 and casts via
        ``double(upper_limb) * 2^64 + double(lower_limb)`` then divides
        by ``double(10^s)`` — NOT always the correctly-rounded
        conversion. Replaying the same IEEE op sequence makes q01's
        doubles bit-equal to the oracle at EVERY scale factor (verified
        sf0.001..1.0 over all groups/columns); Spark's own
        correctly-rounded decimal cast disagreed by 1 ulp on cells where
        the unscaled sum exceeds 2^63 (DuckDB's sum scales are 4/8/12,
        so that happens from ~3e19 upward — sf0.001's N/F charge cell
        already does). The limb split is exact decimal arithmetic
        (dividend is a multiple of 2^64; division result scale >= 6)."""
        lower = F.pmod(u, TWO64)
        upper = (u - lower) / TWO64
        return (
            upper.cast("double") * F.lit(float(1 << 64)) + lower.cast("double")
        ) / F.lit(float(10 ** scale_pow))

    def rejoin(hi: F.Column, lo: F.Column) -> F.Column:
        return hi.cast("decimal(38,0)") * F.lit(1 << 31) + lo

    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qi).alias("__q4"),
        F.sum(pi).alias("__p4"),
        F.sum(p8_hi).alias("__dp_hi"),
        F.sum(p8_lo).alias("__dp_lo"),
        F.sum(p12_hi).alias("__ch_hi"),
        F.sum(p12_lo).alias("__ch_lo"),
        F.sum(d2).alias("__d4"),
        F.count("*").alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        duck_double(F.col("__q4").cast("decimal(38,0)"), 4).alias("sum_qty"),
        duck_double(F.col("__p4").cast("decimal(38,0)"), 4).alias(
            "sum_base_price"
        ),
        duck_double(rejoin(F.col("__dp_hi"), F.col("__dp_lo")), 8).alias(
            "sum_disc_price"
        ),
        duck_double(rejoin(F.col("__ch_hi"), F.col("__ch_lo")), 12).alias(
            "sum_charge"
        ),
        (
            duck_double(F.col("__q4").cast("decimal(38,0)"), 4)
            / F.col("count_order")
        ).alias("avg_qty"),
        (
            duck_double(F.col("__p4").cast("decimal(38,0)"), 4)
            / F.col("count_order")
        ).alias("avg_price"),
        (
            duck_double(F.col("__d4").cast("decimal(38,0)"), 4)
            / F.col("count_order")
        ).alias("avg_disc"),
        "count_order",
    )


Q01_SQL = """
select l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity as decimal(27,4))) as double) as sum_qty,
  cast(sum(cast(l_extendedprice as decimal(27,4))) as double) as sum_base_price,
  cast(sum(cast(l_extendedprice as decimal(27,4)) * (cast(1 as decimal(27,4)) - cast(l_discount as decimal(27,4)))) as double) as sum_disc_price,
  cast(sum(cast(l_extendedprice as decimal(27,4)) * (cast(1 as decimal(27,4)) - cast(l_discount as decimal(27,4))) * (cast(1 as decimal(27,4)) + cast(l_tax as decimal(27,4)))) as double) as sum_charge,
  cast(sum(cast(l_quantity as decimal(27,4))) as double) / count(*) as avg_qty,
  cast(sum(cast(l_extendedprice as decimal(27,4))) as double) / count(*) as avg_price,
  cast(sum(cast(l_discount as decimal(27,4))) as double) / count(*) as avg_disc,
  count(*) as count_order
from lineitem
where l_shipdate <= timestamp '1998-09-02 00:00:00'
group by l_returnflag, l_linestatus
"""


def q02_derived_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7: derived boolean predicates, safe-epsilon ratio, value bands
    (reference: configs/Lipac_query.sql:62-72)."""
    li = _t(spark, sf_dir, "lineitem")
    ratio = F.col("l_extendedprice") / (F.col("l_quantity") + F.lit(1e-6))
    return (
        li.filter((F.col("l_quantity") > 0) & (F.col("l_discount") >= 0.05))
        .select(
            _li_id(),
            (F.col("l_extendedprice") >= 30000).alias("is_expensive"),
            ratio.alias("unit_price"),
            F.when(F.col("l_quantity") >= 45, "high")
            .when(F.col("l_quantity") >= 20, "mid")
            .otherwise("low")
            .alias("qty_band"),
        )
    )


Q02_SQL = f"""
select {LI_ID_SQL} as li_id,
       l_extendedprice >= 30000 as is_expensive,
       l_extendedprice / (l_quantity + 1e-6) as unit_price,
       case when l_quantity >= 45 then 'high'
            when l_quantity >= 20 then 'mid'
            else 'low' end as qty_band
from lineitem
where l_quantity > 0 and l_discount >= 0.05
"""


def q03_extraction_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: small deterministic selection broadcast-joined back to the big
    table (reference: connectors/connector.py:48-51)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    selection = sample_randomly(orders.select("o_orderkey"), 200, seed=7, key="o_orderkey")
    return li.join(F.broadcast(selection), li.l_orderkey == selection.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


Q03_SQL = f"""
with selection as (
  select o_orderkey from orders
  order by {det_hash_sql('o_orderkey', 7)}, o_orderkey limit 200
)
select l_orderkey, l_linenumber, l_quantity, l_extendedprice
from lineitem join selection on l_orderkey = o_orderkey
"""


def q04_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/J2: anti-join exclusion (reference: connectors/connector.py:40-42)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


Q04_SQL = """
select c_custkey, c_name, c_mktsegment from customer
where c_custkey not in (select o_custkey from orders)
"""


def q05_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: semi-join flag (reference: samplers/sampler.py:61-64)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    return orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_semi"
    ).select("o_orderkey", "o_totalprice")


Q05_SQL = """
select o_orderkey, o_totalprice from orders
where exists (select 1 from customer
              where c_custkey = o_custkey and c_mktsegment = 'BUILDING')
"""


def q06_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/W1: as-of nearest join via window rank-1
    (reference: configs/Lipac_query.sql:121-132)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    # Deliberate join strategy (guide §3.1): both sides are fact tables
    # that scale with the data, so broadcasting is wrong at scale — and
    # measured 2.1-2.5x slower here too (hash-relation-building a
    # 1.5M-row side per run costs more than the shuffle it avoids:
    # broadcast 2.46s vs shuffled-hash 1.14s interleaved A/B), yet the
    # planner picks it because the 2-column orders projection estimates
    # under the broadcast threshold. SHUFFLE_HASH on the orders side
    # builds the smaller per-partition hash table with no sort.
    joined = orders.hint("shuffle_hash").join(
        li, orders.o_orderkey == li.l_orderkey
    ).withColumn(
        "day_dist", F.abs(F.datediff("l_shipdate", "o_orderdate") - F.lit(45))
    )
    # rank-1 == lexicographic min of (day_dist, l_linenumber), packed into
    # ONE long: day_dist (>= 0) times 2^32 plus l_linenumber offset by
    # 2^31 into [0, 2^32), so numeric order == lexicographic order for any
    # int line number (ANSI mode raises on an overflowing day_dist rather
    # than wrapping). min(long) runs as a HashAggregate with MAP-SIDE
    # partial min — min(struct) would plan a SortAggregate (sort +
    # exchange + sort over every joined row), and the post-join shuffle
    # carries one packed long per order, not every lineitem.
    best = joined.groupBy("o_orderkey").agg(
        F.min(
            F.col("day_dist").cast("long") * 2**32
            + F.col("l_linenumber").cast("long")
            + 2**31
        ).alias("__p")
    )
    return best.select(
        "o_orderkey",
        (F.pmod("__p", F.lit(2**32)) - 2**31).cast("int").alias("l_linenumber"),
        F.shiftright("__p", 32).cast("int").alias("day_dist"),
    )


Q06_SQL = """
with joined as (
  select o_orderkey, l_linenumber,
         abs(datediff('day', o_orderdate, l_shipdate) - 45) as day_dist
  from orders join lineitem on o_orderkey = l_orderkey
), ranked as (
  select *, row_number() over (partition by o_orderkey
                               order by day_dist, l_linenumber) as rn
  from joined
)
select o_orderkey, l_linenumber, day_dist from ranked where rn = 1
"""


def q07_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: DISTINCT ON keep-first-per-group
    (reference: configs/Lipac_query.sql:80-94)."""
    li = _t(spark, sf_dir, "lineitem")
    return distinct_on(
        li.select("l_orderkey", "l_linenumber", "l_shipdate"),
        keys=["l_orderkey"],
        order_by=["l_shipdate", "l_linenumber"],
    )


Q07_SQL = """
select l_orderkey, l_linenumber, l_shipdate
from (select l_orderkey, l_linenumber, l_shipdate,
             row_number() over (partition by l_orderkey
                                order by l_shipdate, l_linenumber) as rn
      from lineitem) t
where rn = 1
"""


def q08_bool_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: BOOL_OR rollup (reference: configs/Lipac_query.sql:103-109)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.bool_or(F.col("o_totalprice") > 200000).alias("has_big_order"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("has_urgent"),
        F.count("*").alias("n_orders"),
    )


Q08_SQL = """
select o_custkey,
       bool_or(o_totalprice > 200000) as has_big_order,
       bool_or(o_orderpriority = '1-URGENT') as has_urgent,
       count(*) as n_orders
from orders group by o_custkey
"""


def q09_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O4: deterministic global top-k -> TakeOrdered physical op
    (reference: samplers/outliers.py:46)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


Q09_SQL = """
select o_orderkey, o_totalprice from orders
order by o_totalprice desc, o_orderkey limit 100
"""


def q10_random_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: deterministic exact-n random sample
    (reference: samplers/algos.py:17-20)."""
    li = _t(spark, sf_dir, "lineitem").select(_li_id(), "l_orderkey", "l_linenumber")
    return sample_randomly(li, 1000, seed=123, key="li_id").select(
        "l_orderkey", "l_linenumber"
    )


Q10_SQL = f"""
select l_orderkey, l_linenumber from lineitem
order by {det_hash_sql(LI_ID_SQL, 123)}, {LI_ID_SQL} limit 1000
"""


def q11_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: exact-n stratified sampling, round-robin fairness
    (reference: samplers/algos.py:23-56)."""
    li = _t(spark, sf_dir, "lineitem").select(_li_id(), "l_suppkey")
    return sample_with_stratification(li, 500, keys="l_suppkey", seed=11, id_key="li_id")


Q11_SQL = stratified_sample_sql(
    f"select {LI_ID_SQL} as li_id, l_suppkey from lineitem",
    500,
    keys=["l_suppkey"],
    seed=11,
    id_key="li_id",
    columns="li_id, l_suppkey",
)


def q12_union_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2: union with first-wins precedence (SURVEY §4.3-3;
    reference: samplers/triple.py:16-38)."""
    orders = _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_orderkey").alias("patch_id"), F.lit("big").alias("tag")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("patch_id"), F.lit("urgent").alias("tag")
    )
    return union_dedup_priority([big, urgent], key="patch_id")


Q12_SQL = """
with u as (
  select o_orderkey as patch_id, 'big' as tag, 0 as prio
  from orders where o_totalprice > 150000
  union all
  select o_orderkey as patch_id, 'urgent' as tag, 1 as prio
  from orders where o_orderpriority = '1-URGENT'
), r as (
  select patch_id, tag,
         row_number() over (partition by patch_id order by prio) as rn
  from u
)
select patch_id, tag from r where rn = 1
"""


def q13_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1-X5: zero-padded id concat, year extract, abs, safe ratio
    (reference: configs/Lipac_query.sql:29,63,113-122)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        F.concat(
            F.lit("ORD-"), F.lpad(F.col("o_orderkey").cast("string"), 9, "0")
        ).alias("order_code"),
        F.year("o_orderdate").alias("order_year"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("abs_from_100k"),
        (F.col("o_totalprice") / (F.col("o_custkey") + F.lit(1e-6))).alias("safe_ratio"),
    )


Q13_SQL = """
select concat('ORD-', lpad(cast(o_orderkey as varchar), 9, '0')) as order_code,
       year(o_orderdate) as order_year,
       abs(o_totalprice - 100000.0) as abs_from_100k,
       o_totalprice / (o_custkey + 1e-6) as safe_ratio
from orders
"""


def q14_cell_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 generalized: hierarchical cell ids as pure column exprs
    (reference: connectors/synthetic.py:112; SURVEY §4.3-8)."""
    from pacasam_spark.spatial.cells import cell_edge

    li = _t(spark, sf_dir, "lineitem")
    x = (F.pmod(F.col("l_orderkey"), F.lit(1000)) * 50).cast("double")
    y = (F.pmod(F.col("l_partkey"), F.lit(1000)) * 50).cast("double")
    # aggregate on the INTEGER cell components and render the "cx_cy"
    # strings on the 49 result rows only: the string build is injective
    # in the component pair (ints never contain '_'), so counts and
    # distinct-child counts are unchanged while the 6M-row aggregation
    # hashes two longs instead of allocating two strings per row.
    e0, e3 = cell_edge(0), cell_edge(3)
    pts = li.select(
        F.floor(x / e0).cast("long").alias("cx0"),
        F.floor(y / e0).cast("long").alias("cy0"),
        F.floor(x / e3).cast("long").alias("cx3"),
        F.floor(y / e3).cast("long").alias("cy3"),
    )
    agg = pts.groupBy("cx3", "cy3").agg(
        F.count("*").alias("n_points"),
        F.countDistinct("cx0", "cy0").alias("n_children"),
    )
    return agg.select(
        F.concat(
            F.col("cx3").cast("string"), F.lit("_"), F.col("cy3").cast("string")
        ).alias("cell_l3"),
        "n_points",
        "n_children",
    )


_x_sql = "((l_orderkey % 1000) * 50)"
_y_sql = "((l_partkey % 1000) * 50)"
Q14_SQL = f"""
with pts as (
  select {cell_id_sql(_x_sql, _y_sql, 0)} as cell_l0,
         {cell_id_sql(_x_sql, _y_sql, 3)} as cell_l3
  from lineitem
)
select cell_l3, count(*) as n_points, count(distinct cell_l0) as n_children
from pts group by cell_l3
"""


def q15_prevalence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A8: prevalence of boolean descriptors, grouped comparison
    (reference: analysis/stats.py:52-107)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        (
            F.sum((F.col("o_totalprice") > 100000).cast("long")).cast("double")
            / F.count("*")
        ).alias("prevalence_big"),
        F.count("*").alias("n"),
    )


Q15_SQL = """
select o_orderpriority,
       cast(sum(cast(o_totalprice > 100000 as bigint)) as double) / count(*)
         as prevalence_big,
       count(*) as n
from orders group by o_orderpriority
"""


def q16_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: zero-ignoring standardization with exact decimal statistics
    (reference: samplers/algos.py:65-91)."""
    from pacasam_spark.operators.normalize import standardize

    li = _t(spark, sf_dir, "lineitem").select(_li_id(), "l_quantity", "l_discount")
    out = standardize(li, ["l_quantity", "l_discount"], check_nan=False)
    return out.select(
        "li_id",
        F.col("l_quantity").alias("qty_norm"),
        F.col("l_discount").alias("disc_norm"),
    )


def _std_sql(col: str) -> str:
    """Oracle replica of pacasam_spark standardize: decimal sums -> float
    mean/var in the same expression order as the Python driver code."""
    return f"""
      select cast(sum(cast(nullif({col}, 0) as decimal(38,6))) as double) as s,
             cast(sum(cast(nullif({col}, 0) * nullif({col}, 0) as decimal(38,6))) as double) as ssq,
             count(nullif({col}, 0)) as n
      from lineitem
    """


Q16_SQL = f"""
with qs as ({_std_sql('l_quantity')}),
     ds as ({_std_sql('l_discount')}),
     qstats as (select s/n as mean, sqrt((ssq - n*(s/n)*(s/n))/(n-1)) + 1e-5 as stdev from qs),
     dstats as (select s/n as mean, sqrt((ssq - n*(s/n)*(s/n))/(n-1)) + 1e-5 as stdev from ds),
     normed as (
       select {LI_ID_SQL} as li_id,
              (nullif(l_quantity, 0) - qstats.mean) / qstats.stdev as qty_norm,
              (nullif(l_discount, 0) - dstats.mean) / dstats.stdev as disc_norm
       from lineitem, qstats, dstats
     ),
     mins as (select min(qty_norm) as qmin, min(disc_norm) as dmin from normed)
select li_id,
       coalesce(qty_norm, mins.qmin) as qty_norm,
       coalesce(disc_norm, mins.dmin) as disc_norm
from normed, mins
"""


def q17_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 analogue + W: empirical-CDF via percent_rank + ntile buckets."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.percent_rank().over(w).alias("price_cdf"),
        F.ntile(20).over(w).alias("price_bucket"),
    )


Q17_SQL = """
select o_orderkey,
       percent_rank() over (partition by o_orderpriority
                            order by o_totalprice, o_orderkey) as price_cdf,
       ntile(20) over (partition by o_orderpriority
                       order by o_totalprice, o_orderkey) as price_bucket
from orders
"""


def q18_synthetic_catalogue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: the deterministic synthetic patch catalogue itself
    (reference: connectors/synthetic.py:45-113)."""
    return synthetic_catalogue(spark, db_size=2000)


Q18_SQL = synthetic_catalogue_sql(db_size=2000)


def q19_stratified_catalogue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 over the synthetic catalogue — the core sampler decision path,
    oracle-checked end-to-end."""
    db = synthetic_catalogue(spark, db_size=2000).select("patch_id", "file_id")
    return sample_with_stratification(db, 200, keys="file_id", seed=42)


Q19_SQL = stratified_sample_sql(
    f"select patch_id, file_id from ({synthetic_catalogue_sql(db_size=2000)})",
    200,
    keys=["file_id"],
    seed=42,
    id_key="patch_id",
    columns="patch_id, file_id",
)


# --------------------------------------------------------------------------
# training-data ops: dedup / similarity / text (documents, embeddings)
# --------------------------------------------------------------------------

_DUP_SHIFT = 100000

_DDB_WORDS = "list_filter(string_split(text, ' '), x -> x != '')"


def _dup_corpus(spark: SparkSession, sf_dir: str, limit: int | None = None) -> DataFrame:
    """documents UNION ALL a shifted copy — guarantees duplicate content
    so dedup operators have real work."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    if limit is not None:
        docs = docs.filter(F.col("doc_id") < limit)
    copy = docs.select((F.col("doc_id") + _DUP_SHIFT).alias("doc_id"), "text")
    return docs.unionByName(copy)


_DUP_SQL = """
  select doc_id, text from documents {where}
  union all
  select doc_id + 100000 as doc_id, text from documents {where}
"""


def q20_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep min doc_id per distinct text."""
    from pacasam_spark.operators.dedup import exact_dedup

    return exact_dedup(_dup_corpus(spark, sf_dir)).select("doc_id")


Q20_SQL = f"""
with corpus as ({_DUP_SQL.format(where='')}),
r as (select doc_id, row_number() over (partition by md5(text) order by doc_id) as rn
      from corpus)
select doc_id from r where rn = 1
"""


def q22_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (>=2 of 4 shared bands) over
    the duplicated corpus — every (d, d+shift) pair must collide. The
    degenerate-bucket cap is passed explicitly and mirrored in the
    oracle's ``kept`` CTE (same fix as q52's, round-5 verdict #2)."""
    from pacasam_spark.operators.dedup import lsh_near_dup_pairs

    return lsh_near_dup_pairs(
        _dup_corpus(spark, sf_dir, limit=100), max_bucket_size=Q22_BUCKET_CAP
    )


# Mirrored on both sides so a corpus that pushes one (band, sig) bucket
# past the cap fails the gate loudly instead of silently diverging.
Q22_BUCKET_CAP = 10000

Q22_SQL = f"""
with corpus as ({_DUP_SQL.format(where='where doc_id < 100')}),
words as (select doc_id, {_DDB_WORDS} as w from corpus),
sh as (
  select distinct doc_id, array_to_string(list_slice(w, i, i + 2), ' ') as shingle
  from words, unnest(range(1, greatest(len(w) - 1, 1))) as t(i)
),
banded as (
  select doc_id, b.band, shingle from sh, unnest([0, 1, 2, 3]) as b(band)
),
sigs as (
  select doc_id, band, min(md5(concat(shingle, '#', band))) as sig
  from banded group by doc_id, band
),
kept as (
  select band, sig from sigs
  group by band, sig having count(*) <= {Q22_BUCKET_CAP}
),
bounded as (
  select sigs.* from sigs
  join kept on sigs.band = kept.band and sigs.sig = kept.sig
)
select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_shared_bands
from bounded a
join bounded b on a.band = b.band and a.sig = b.sig and a.doc_id < b.doc_id
group by 1, 2 having count(*) >= 2
"""


_DDB_HEX_HIGH = "('8','9','a','b','c','d','e','f')"
_DDB_HEX_BIT2 = "('4','5','6','7','c','d','e','f')"


def _ddb_simhash_bits(n: int = 64) -> str:
    """DuckDB twin of dedup._simhash64_sums: b_j aggregations over md5
    hex — bit 2j from digit j's value-8 bit, bit 2j+1 from its value-4
    bit."""
    return ", ".join(
        f"sum(case when substr(h, {j // 2 + 1}, 1) in "
        f"{_DDB_HEX_HIGH if j % 2 == 0 else _DDB_HEX_BIT2} "
        f"then 1 else -1 end) as b{j}"
        for j in range(n)
    )


def _ddb_simhash_val() -> str:
    """DuckDB twin of dedup._simhash64_expr (bit 63 as -(2^63))."""
    val = " + ".join(
        f"(case when b{j} > 0 then {1 << j} else 0 end)" for j in range(63)
    )
    return f"{val} + (case when b63 > 0 then (-9223372036854775807 - 1) else 0 end)"


def q25_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality metrics (pure exprs, no UDF)."""
    from pacasam_spark.operators.text import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


_STOP_SQL = "['the','a','of','and','to','in','is','it','that','for']"
Q25_SQL = f"""
with words as (select doc_id, text, {_DDB_WORDS} as w from documents)
select doc_id,
       len(w) as n_tokens,
       len(list_distinct(w)) as n_distinct,
       cast(len(list_distinct(w)) as double) / len(w) as type_token_ratio,
       cast(list_reduce(list_transform(w, x -> cast(strlen(x) as int)), (a, b) -> a + b) as double)
         / len(w) as mean_token_len,
       cast(len(list_filter(w, x -> list_contains({_STOP_SQL}, x))) as double)
         / len(w) as stopword_ratio,
       cast(ceil(strlen(text) / 4) as bigint) as est_bpe_tokens
from words
"""


def q26_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: function-word hit ratios + argmax."""
    from pacasam_spark.operators.text import lang_scores

    return lang_scores(_t(spark, sf_dir, "documents"))


def _q26_sql() -> str:
    from pacasam_spark.operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_cols = ", ".join(
        "cast(len(list_filter(w, x -> list_contains(["
        + ", ".join(f"'{m}'" for m in LANG_MARKERS[lg])
        + f"], x))) as double) / len(w) as score_{lg}"
        for lg in langs
    )
    best = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    pred = "case " + " ".join(
        f"when score_{lg} = {best} then '{lg}'" for lg in langs
    ) + " end"
    return f"""
with words as (select doc_id, {_DDB_WORDS} as w from documents),
scored as (select doc_id, {score_cols} from words)
select *, {pred} as pred_lang from scored
"""


Q26_SQL = _q26_sql()


def q27_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-min-sketch document fingerprint (winnowing analogue)."""
    from pacasam_spark.operators.text import doc_fingerprint

    return doc_fingerprint(_t(spark, sf_dir, "documents"))


Q27_SQL = f"""
with words as (select doc_id, {_DDB_WORDS} as w from documents),
sh as (
  select doc_id, list_transform(
    range(1, greatest(len(w) - 1, 1)),
    i -> md5(array_to_string(list_slice(w, i, i + 2), ' '))) as hashes
  from words
)
select doc_id,
       array_to_string(list_slice(list_sort(hashes), 1, 4), '|') as fingerprint
from sh
"""


def q28_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbours for 20 query vectors.
    Dot products are left folds — bitwise identical to DuckDB."""
    from pacasam_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return cosine_topk(emb, q, k=5)


_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> cast(p[1] as double) * cast(p[2] as double)), (x, y) -> x + y)"
)
_NORM = (
    "sqrt(list_reduce(list_transform({a}, x -> cast(x as double) * cast(x as double)),"
    " (x, y) -> x + y))"
)
Q28_SQL = f"""
with q as (select vec_id as q_id, embedding as q_vec from embeddings where vec_id < 20),
e as (select vec_id, embedding from embeddings),
j as (
  select q_id, vec_id,
         {_DOT.format(a='embedding', b='q_vec')}
           / ({_NORM.format(a='embedding')} * {_NORM.format(a='q_vec')}) as cos
  from e, q where vec_id != q_id
),
r as (select *, row_number() over (partition by q_id order by cos desc, vec_id) as rank from j)
select q_id, vec_id as neighbor_id, cos, rank from r where rank <= 5
"""


def q29_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.25 among the first 200."""
    from pacasam_spark.operators.similarity import cosine_pairs_above

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return cosine_pairs_above(emb, 0.25)


Q29_SQL = f"""
with e as (select vec_id, embedding from embeddings where vec_id < 200)
select a.vec_id as id_a, b.vec_id as id_b,
       {_DOT.format(a='a.embedding', b='b.embedding')}
         / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}) as cos
from e a join e b on a.vec_id < b.vec_id
where {_DOT.format(a='a.embedding', b='b.embedding')}
        / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}) >= 0.25
"""


def q41_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multi-probe hyperplane-LSH ANN top-3 — the production
    ANN path (candidates meet in (table, bucket) equi-joins, never a cross
    product). The oracle replays the identical LSH in DuckDB from the same
    md5-derived sign literals; recall >= 0.9 vs brute force is pytest-gated
    (tests/test_operators.py)."""
    from pacasam_spark.operators.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return lsh_cosine_topk(
        emb, q, k=3, n_planes=Q41_PLANES, n_tables=Q41_TABLES, dim=64
    )


Q41_PLANES, Q41_TABLES = 6, 10


def _lsh_bucket_sql(vec: str, table: int, n_planes: int, dim: int = 64) -> str:
    """DuckDB bucket id for one LSH table — same md5-derived sign
    literals Catalyst folds to on the Spark side."""
    from pacasam_spark.operators.similarity import hyperplane_signs

    bits = []
    for p in range(n_planes):
        signs = hyperplane_signs(table * n_planes + p, dim)
        s_lit = "[" + ", ".join(str(s) for s in signs) + "]"
        dot = (
            f"list_reduce(list_transform(list_zip({vec}, {s_lit}),"
            " p -> cast(p[1] as double) * p[2]), (x, y) -> x + y)"
        )
        bits.append(f"(case when {dot} >= 0 then {1 << p} else 0 end)")
    return "(" + " + ".join(bits) + ")"


def _q41_sql() -> str:
    def bucket_sql(vec: str, table: int) -> str:
        return _lsh_bucket_sql(vec, table, Q41_PLANES)

    data_tables = "\n  union all\n".join(
        f"  select vec_id, embedding, {t} as tbl,"
        f" {bucket_sql('embedding', t)} as bucket from e"
        for t in range(Q41_TABLES)
    )
    q_tables = "\n  union all\n".join(
        f"  select q_id, q_vec, {t} as tbl,"
        f" {bucket_sql('q_vec', t)} as bucket from q"
        for t in range(Q41_TABLES)
    )
    probe_list = "[bucket, " + ", ".join(
        f"xor(bucket, {1 << i})" for i in range(Q41_PLANES)
    ) + "]"
    cos = (
        f"{_DOT.format(a='embedding', b='q_vec')}"
        f" / ({_NORM.format(a='embedding')} * {_NORM.format(a='q_vec')})"
    )
    return f"""
with q as (select vec_id as q_id, embedding as q_vec from embeddings where vec_id < 20),
e as (select vec_id, embedding from embeddings),
dt as (
{data_tables}
),
qb as (
{q_tables}
),
qt as (
  select q_id, q_vec, tbl, pr.probe as bucket
  from qb, unnest({probe_list}) as pr(probe)
),
cand as (
  select distinct q_id, q_vec, vec_id, embedding
  from dt join qt using (tbl, bucket)
  where q_id != vec_id
),
scored as (
  select q_id, vec_id, {cos} as cos from cand
),
r as (
  select *, row_number() over (partition by q_id order by cos desc, vec_id) as rank
  from scored
)
select q_id, vec_id as neighbor_id, cos, rank from r where rank <= 3
"""


Q42_DB_SIZE, Q42_NQ = 2000, 20
Q42_COLS = ("nb_sol", "nb_eau")


def _q42_grids() -> dict[str, list[float]]:
    """Quantile grids for q42, regenerated driver-side in pure Python from
    the same det_int values the synthetic catalogue holds — embedded as
    identical literals in BOTH engines so the interp is bitwise-gated."""
    import numpy as np

    from pacasam_spark import schemas as S
    from pacasam_spark.operators.hashing import det_int_py
    from pacasam_spark.sources.synthetic import NB_MAX

    probs = list(np.linspace(0.0, 1.0, Q42_NQ))
    grids = {}
    for c in Q42_COLS:
        j = S.NB_POINT_COLS.index(c)
        vals = sorted(
            v
            for i in range(Q42_DB_SIZE)
            if (v := det_int_py(i, 0, NB_MAX, 42 * 2000 + j)) != 0
        )
        grids[c] = [float(x) for x in np.quantile(vals, probs)]
    return grids


def q42_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 quantile transform itself (not just the percent_rank twin):
    zero-ignoring grid+interp to uniform [0,1] as pure column expressions
    (reference: samplers/algos.py:84-85). Grid literals are shared with
    the oracle; the interp expression trees are text-identical."""
    from pacasam_spark.operators.normalize import quantile_transform

    db = synthetic_catalogue(spark, db_size=Q42_DB_SIZE).select(
        "patch_id", *Q42_COLS
    )
    out = quantile_transform(db, list(Q42_COLS), grids=_q42_grids(), check_nan=False)
    return out.select(
        "patch_id",
        F.col("nb_sol").alias("qt_sol"),
        F.col("nb_eau").alias("qt_eau"),
    )


def _q42_sql() -> str:
    import numpy as np

    from pacasam_spark.operators.normalize import interp_sql

    grids = _q42_grids()
    exprs = []
    for c, alias in zip(Q42_COLS, ("qt_sol", "qt_eau")):
        grid = grids[c]
        refs = list(np.linspace(0.0, 1.0, len(grid)))
        exprs.append(
            interp_sql(f"nullif(cast({c} as double), 0.0)", grid, refs)
            + f" as {alias}"
        )
    cat = synthetic_catalogue_sql(db_size=Q42_DB_SIZE)
    return f"""
with cat as ({cat}),
t as (select patch_id, {', '.join(exprs)} from cat),
mins as (select min(qt_sol) as m_sol, min(qt_eau) as m_eau from t)
select patch_id,
       coalesce(qt_sol, coalesce(mins.m_sol, 0.0)) as qt_sol,
       coalesce(qt_eau, coalesce(mins.m_eau, 0.0)) as qt_eau
from t, mins
"""


Q44_CENTROIDS, Q44_NPROBE, Q44_SEED = 16, 4, 7


def q44_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-3: deterministic hash-drawn coarse centroids, argmax-cos
    cell assignment, nprobe cell equi-join, exact re-rank. The second
    scale-path ANN next to q41's LSH; nprobe=n_centroids == brute force is
    pytest-gated."""
    from pacasam_spark.operators.similarity import ivf_cosine_topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_cosine_topk(
        emb, q, k=3, n_centroids=Q44_CENTROIDS, nprobe=Q44_NPROBE, seed=Q44_SEED
    )


def _q44_sql() -> str:
    cos_ec = (
        f"{_DOT.format(a='embedding', b='c_vec')}"
        f" / ({_NORM.format(a='embedding')} * {_NORM.format(a='c_vec')})"
    )
    cos_qc = (
        f"{_DOT.format(a='q_vec', b='c_vec')}"
        f" / ({_NORM.format(a='q_vec')} * {_NORM.format(a='c_vec')})"
    )
    cos_eq = (
        f"{_DOT.format(a='embedding', b='q_vec')}"
        f" / ({_NORM.format(a='embedding')} * {_NORM.format(a='q_vec')})"
    )
    return f"""
with q as (select vec_id as q_id, embedding as q_vec from embeddings where vec_id < 20),
e as (select vec_id, embedding from embeddings),
cent as (
  select vec_id as c_id, embedding as c_vec from embeddings
  order by {det_hash_sql('vec_id', Q44_SEED)}, vec_id limit {Q44_CENTROIDS}
),
assigned as (
  select vec_id, embedding, c_id as cell,
         row_number() over (partition by vec_id order by {cos_ec} desc, c_id) as rn
  from e cross join cent
),
cells as (select vec_id, embedding, cell from assigned where rn = 1),
probed as (
  select q_id, q_vec, c_id as cell,
         row_number() over (partition by q_id order by {cos_qc} desc, c_id) as pr
  from q cross join cent
),
probes as (select q_id, q_vec, cell from probed where pr <= {Q44_NPROBE}),
cand as (
  select q_id, vec_id, {cos_eq} as cos
  from cells join probes using (cell)
  where q_id != vec_id
),
r as (select *, row_number() over (partition by q_id order by cos desc, vec_id) as rank from cand)
select q_id, vec_id as neighbor_id, cos, rank from r where rank <= 3
"""


Q46_PLANES, Q46_TABLES, Q46_THRESHOLD = 5, 24, 0.25


def q46_lsh_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for q29's embedding near-dup pairs: candidates meet
    only in (table, bucket) equi-joins, exact cosine filter on candidates
    — precision 1 by construction. At the gated (r=5, L=24) the candidate
    set is measured at 0.53x the exact O(N^2) join's (pytest-gated), and
    the bucket-size cap bounds candidates to L*N*cap/2 — linear in N — on
    any corpus. Oracle replays identical buckets (the cap never triggers
    at this N, so the SQL twin needs no guard branch)."""
    from pacasam_spark.operators.similarity import lsh_cosine_pairs_above

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return lsh_cosine_pairs_above(
        emb, Q46_THRESHOLD, n_planes=Q46_PLANES, n_tables=Q46_TABLES
    )


def _q46_sql() -> str:
    tables = "\n  union all\n".join(
        f"  select vec_id, embedding, {t} as tbl,"
        f" {_lsh_bucket_sql('embedding', t, Q46_PLANES)} as bucket from e"
        for t in range(Q46_TABLES)
    )
    cos = (
        f"{_DOT.format(a='va', b='vb')}"
        f" / ({_NORM.format(a='va')} * {_NORM.format(a='vb')})"
    )
    return f"""
with e as (select vec_id, embedding from embeddings where vec_id < 200),
tb as (
{tables}
),
cand as (
  select distinct a.vec_id as id_a, a.embedding as va,
                  b.vec_id as id_b, b.embedding as vb
  from tb a join tb b on a.tbl = b.tbl and a.bucket = b.bucket
                     and a.vec_id < b.vec_id
)
select id_a, id_b, {cos} as cos from cand where {cos} >= {Q46_THRESHOLD}
"""


def q30_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min cumulative session ids (the batch
    analogue of session_window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Exact timestamp-interval comparison: an epoch-seconds cast truncates
    # sub-second precision and flips session boundaries that straddle
    # 1800 s by a fraction (round-1 q30 hash mismatch). Interval arithmetic
    # keeps microseconds on both engines.
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        ev.withColumn("sess_seq", F.sum(new_sess).over(wc))
        .groupBy("user_id", "sess_seq")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
    )


Q30_SQL = """
with g as (
  select user_id, ts, event_id,
         case when lag(ts) over w is null
                or ts > lag(ts) over w + interval 30 minute
              then 1 else 0 end as new_sess
  from events
  window w as (partition by user_id order by ts, event_id)
),
s as (
  select user_id, ts,
         sum(new_sess) over (partition by user_id order by ts, event_id
                             rows unbounded preceding) as sess_seq
  from g
)
select user_id, cast(sess_seq as bigint) as sess_seq,
       count(*) as n_events, min(ts) as session_start
from s group by user_id, sess_seq
"""
# ^ the BIGINT cast matters: DuckDB's window SUM over integers returns
# HUGEINT, which fetches into pandas as float64 (1.0 != Spark's BIGINT 1
# under the driver's typed value hash).


def q31_hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (the batch twin of the streaming query in
    pacasam_spark.streaming): hourly counts + exact decimal sums."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("hour_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )


Q31_SQL = """
select date_trunc('hour', ts) as hour_start, event_type,
       count(*) as n,
       cast(sum(cast(value as decimal(27,4))) as double) as sum_value
from events group by 1, 2
"""


# --------------------------------------------------------------------------
# image catalogue / spatial join / non-SQL ops / streaming
# --------------------------------------------------------------------------

def q32_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image+caption catalogue metadata (bytes validated in pytest — the
    PSNR/caption invariants; here the deterministic id/fmt/phash layer)."""
    from pacasam_spark.sources.images import synthetic_images

    return synthetic_images(spark, n=200, size=16).select(
        "image_id", "w", "h", "fmt", "phash"
    )


def _q32_sql() -> str:
    import math

    from pacasam_spark.operators.hashing import det_hash_sql

    g = math.ceil(math.sqrt(200))
    fid = (
        f"concat(cast(cast(floor((idx // {g}) * 50 / 1000) as bigint) as varchar),"
        f" '_', cast(cast(floor((idx % {g}) * 50 / 1000) as bigint) as varchar))"
    )
    return f"""
with ids as (select range as idx from range(200))
select concat({fid}, '-', lpad(cast(idx as varchar), 9, '0')) as image_id,
       cast(16 as int) as w, cast(16 as int) as h,
       case when idx % 4 = 0 then 'q6' else 'png' end as fmt,
       {det_hash_sql('idx', 777)} as phash
from ids
"""


Q32_SQL = _q32_sql()


def q33_zone_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 spatial containment: cell-coarse broadcast join + exact box test
    (SURVEY §2.4 J9, §4.3-8)."""
    from pacasam_spark.spatial.cells import join_points_to_zones, zone_cells

    db = synthetic_catalogue(spark, db_size=2000).select(
        "patch_id",
        ((F.col("geom_xmin") + F.col("geom_xmax")) / 2).alias("cx"),
        ((F.col("geom_ymin") + F.col("geom_ymax")) / 2).alias("cy"),
    )
    zones = [
        ("zone_a", 0.0, 0.0, 600.0, 600.0),
        ("zone_b", 500.0, 500.0, 1500.0, 1500.0),
        ("zone_c", 2000.0, 0.0, 2300.0, 2300.0),
    ]
    zdf = zone_cells(spark, zones, level=0)
    return join_points_to_zones(db, zdf, "cx", "cy", level=0).select(
        "patch_id", "zone_id"
    )


Q33_SQL = f"""
with cat as ({synthetic_catalogue_sql(db_size=2000)}),
pts as (select patch_id, (geom_xmin + geom_xmax) / 2 as cx,
               (geom_ymin + geom_ymax) / 2 as cy from cat),
zones as (
  select * from (values ('zone_a', 0.0, 0.0, 600.0, 600.0),
                        ('zone_b', 500.0, 500.0, 1500.0, 1500.0),
                        ('zone_c', 2000.0, 0.0, 2300.0, 2300.0))
    as t(zone_id, xmin, ymin, xmax, ymax)
)
select patch_id, zone_id
from pts join zones
  on cx >= xmin and cx < xmax and cy >= ymin and cy < ymax
"""


Q43_ZONES = [
    ("tri", [(0.0, 0.0), (1200.0, 0.0), (0.0, 1200.0)]),
    ("penta", [(1500.0, 1000.0), (1900.0, 1200.0), (1800.0, 1700.0),
               (1400.0, 1800.0), (1200.0, 1300.0)]),
    ("lshape", [(1800.0, 100.0), (2250.0, 100.0), (2250.0, 500.0),
                (2000.0, 500.0), (2000.0, 900.0), (1800.0, 900.0)]),
]


def q43_polygon_zone_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-POLYGON zone join (north rule: H3/S2 + point-in-polygon):
    cell-coarse broadcast equi-join + exact even-odd ray cast as a pure
    fold expression. Oracle replays the identical fold in DuckDB."""
    from pacasam_spark.spatial.polygons import join_points_to_polygons

    db = synthetic_catalogue(spark, db_size=2000).select(
        "patch_id",
        ((F.col("geom_xmin") + F.col("geom_xmax")) / 2).alias("cx"),
        ((F.col("geom_ymin") + F.col("geom_ymax")) / 2).alias("cy"),
    )
    return join_points_to_polygons(db, Q43_ZONES, "cx", "cy", level=0).select(
        "patch_id", "zone_id"
    )


def _q43_sql() -> str:
    from pacasam_spark.spatial.polygons import edges_sql_literal, point_in_polygon_sql

    cat = synthetic_catalogue_sql(db_size=2000)
    branches = "\nunion all\n".join(
        f"select patch_id, '{zid}' as zone_id from pts"
        f" where {point_in_polygon_sql('cx', 'cy', edges_sql_literal(verts))}"
        for zid, verts in Q43_ZONES
    )
    return f"""
with cat as ({cat}),
pts as (select patch_id, (geom_xmin + geom_xmax) / 2 as cx,
               (geom_ymin + geom_ymax) / 2 as cy from cat)
{branches}
"""


def q38_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ingest-SQL showcase: J5-J8 joins, W1/W2 windows, A3
    rollup, F6/F7 predicates, X1/X2 scalars in ONE composed pipeline
    (reference: configs/Lipac_query.sql)."""
    from pacasam_spark.sources.ingest_demo import ingest_parity

    return ingest_parity(spark)


def _q38_sql() -> str:
    from pacasam_spark.sources.ingest_demo import ingest_parity_sql

    return ingest_parity_sql()


def q34_fps_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every SQL-expressible stage of chunked FPS (M3/M4), oracle-checked
    end-to-end under the production code paths: the windowless global
    rank (fps.add_deterministic_chunk_ids — per-file row_number +
    broadcast offsets), deterministic chunk ids, and the per-chunk
    quota / trim keep-count arithmetic (fps.chunk_keep_counts — the
    broadcast-joined distributed trim). n=120 over 2000 rows in chunks
    of 512 makes the budget BIND (quotas 31+31+31+28 > 120), so the
    running-budget clamp is exercised, not just the happy path. The one
    FPS stage this cannot cover — the within-chunk greedy argmax — is
    golden-pinned at two core counts in tests/test_golden.py (round-6
    verdict #3: shrink the unverified surface to the argmax core)."""
    from pacasam_spark.operators.fps import (
        CHUNK_ID,
        GLOBAL_RANK,
        add_deterministic_chunk_ids,
        chunk_keep_counts,
    )

    db = synthetic_catalogue(spark, db_size=2000).select("patch_id", "file_id")
    chunked = add_deterministic_chunk_ids(db, 512, keep_rank=True)
    limits = spark.createDataFrame(
        chunk_keep_counts(2000, 120, 512),
        f"{CHUNK_ID} long, quota long, keep_n long",
    )
    return chunked.join(F.broadcast(limits), CHUNK_ID).select(
        "patch_id",
        "file_id",
        F.col(GLOBAL_RANK).alias("global_rank"),
        F.col(CHUNK_ID).alias("chunk_id"),
        "quota",
        "keep_n",
    )


def _q34_sql() -> str:
    return f"""
with cat as ({synthetic_catalogue_sql(db_size=2000)}),
ranked as (
  select patch_id, file_id,
         row_number() over (order by file_id, patch_id) - 1 as global_rank
  from cat
),
chunked as (
  select *, cast(floor(global_rank / 512.0) as bigint) as chunk_id from ranked
),
cs as (select chunk_id, count(*) as clen from chunked group by chunk_id),
q as (
  select chunk_id, clen,
         least(cast(ceil(clen * (120.0 / 2000)) as bigint), clen) as quota
  from cs
),
k as (
  select chunk_id, quota,
         cast(greatest(0, least(quota,
           120 - coalesce(sum(quota) over (order by chunk_id
             rows between unbounded preceding and 1 preceding), 0)))
           as bigint) as keep_n
  from q
)
select c.patch_id, c.file_id, c.global_rank, c.chunk_id, k.quota, k.keep_n
from chunked c join k using (chunk_id)
"""


Q35_CFG = {
    "target_total_num_patches": 300,
    "frac_validation_set": 0.1,
    "TargettedSampler": {
        "targets": {
            "C0": {"target_min_samples_proportion": 0.20},
            "C1": {"target_min_samples_proportion": 0.05},
            "C3": {"target_min_samples_proportion": 0.2},
        }
    },
    "DiversitySampler": {
        "max_chunk_size_for_fps": 500,
        "normalization": "standardization",
        "columns": ["nb_sol", "nb_bati", "nb_eau", "nb_vegetation_haute"],
    },
}


def q35_triple_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every SQL-expressible stage of the P6 TripleSampler, run through
    the PRODUCTION code path (round-7 follow-up to the r6-verdict #3
    pattern that staged q34/q40): the full TargettedSampler leg — quota
    arithmetic incl. the take-what-there-is cap (C0's 60-quota vs ~10
    matching rows), ascending-quota target order, per-target stratified
    window-rank sample, split assignment with the rebased val fraction
    seed, first-wins union precedence — plus the TripleSampler's
    diversity-budget arithmetic as a column. Only the FPS argmax and the
    spatial completion draw remain non-SQL; the complete TripleSampler
    output stays golden-pinned at two core counts in
    tests/test_golden.py."""
    from pacasam_spark.samplers.targetted import TargettedSampler
    from pacasam_spark.samplers.triple import diversity_budget

    db = synthetic_catalogue(spark, db_size=2000)
    ts = TargettedSampler(db, Q35_CFG, complete_with_spatial_sampling=False)
    sel = ts.get_patches().persist()
    n = sel.count()
    budget = diversity_budget(Q35_CFG["target_total_num_patches"], n)
    return sel.withColumn("num_diverse", F.lit(budget).cast("long"))


def _q35_sql() -> str:
    from pacasam_spark.samplers.targetted import targetted_sampler_sql

    return targetted_sampler_sql(
        synthetic_catalogue_sql(db_size=2000),
        Q35_CFG,
        seed=42,
        with_diversity_budget=True,
    )


def q36_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming rollup over bounded input == the batch result
    => oracle-checkable with the same SQL as q31."""
    from pacasam_spark.streaming.events import hourly_rollup_stream

    return hourly_rollup_stream(spark, sf_dir)


Q36_SQL = Q31_SQL


def q37_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running counts; final state == batch
    group-by count, so the oracle is plain SQL."""
    from pacasam_spark.streaming.events import user_event_counts_stateful

    return user_event_counts_stateful(spark, sf_dir)


Q37_SQL = "select user_id, count(*) as n_events from events group by user_id"


def q45_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState) — on
    bounded in-order input the final state equals the batch lag+cumsum
    sessionizer, so the oracle is q30's SQL."""
    from pacasam_spark.streaming.events import sessionize_stateful

    return sessionize_stateful(spark, sf_dir)


def q47_merge_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-merge as-of join (J8's time-series variant): each purchase
    event gets the same user's latest at-or-before click. One cogroup
    shuffle on user_id + a vectorized pandas merge per group — no window,
    no group cross-join. Oracle: DuckDB ASOF LEFT JOIN."""
    from pacasam_spark.operators.asof import merge_asof_groups

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return merge_asof_groups(purchases, clicks, by="user_id", on="ts")


Q47_SQL = """
with p as (
  select event_id as purchase_id, user_id, ts
  from events where event_type = 'purchase'
),
c0 as (
  select user_id, ts, event_id as click_id, ts as click_ts,
         row_number() over (partition by user_id, ts order by event_id) as rn
  from events where event_type = 'click'
),
c as (select user_id, ts, click_id, click_ts from c0 where rn = 1)
select p.purchase_id, p.user_id, p.ts, c.click_id, c.click_ts
from p asof left join c
  on p.user_id = c.user_id and p.ts >= c.ts
"""


def q48_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-payload dedup on the input-hint's ``phash:int64`` column:
    Hamming-banded LSH pairs (8 bands of 8 bits => pigeonhole-guaranteed
    recall at distance <= 7), exact bit_count(xor) filter on candidates.
    The fingerprint is derived from documents (md5 -> 60-bit int) so the
    oracle reproduces it bit-for-bit; a shifted copy with two bits
    flipped plants true near-dups at Hamming distance 2."""
    from pacasam_spark.operators.dedup import hamming_near_dup_pairs

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
            .cast("long")
            .alias("phash"),
        )
    )
    corpus = base.unionByName(
        base.select(
            (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"),
            F.col("phash").bitwiseXOR(F.lit(5)).alias("phash"),
        )
    )
    pairs = hamming_near_dup_pairs(
        corpus,
        hash_col="phash",
        id_col="doc_id",
        max_distance=7,
        max_bucket_size=Q48_BUCKET_CAP,
    )
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


# Mirrored on both sides (same fix as q52's/q22's): a corpus pushing one
# (band, band_val) bucket past the cap fails the gate loudly.
Q48_BUCKET_CAP = 10000

Q48_SQL = f"""
with base as (
  select doc_id, cast(concat('0x', substr(md5(text), 1, 15)) as bigint) as phash
  from documents where doc_id < 250
),
corpus as (
  select doc_id, phash from base
  union all
  select doc_id + 100000 as doc_id, xor(phash, 5) as phash from base
),
banded as (
  select doc_id, phash, b.band, (phash >> (b.band * 8)) & 255 as band_val
  from corpus, unnest([0, 1, 2, 3, 4, 5, 6, 7]) as b(band)
),
kept as (
  select band, band_val from banded
  group by band, band_val having count(*) <= {Q48_BUCKET_CAP}
),
bounded as (
  select banded.* from banded
  join kept on banded.band = kept.band and banded.band_val = kept.band_val
),
cand as (
  select distinct a.doc_id as id_a, a.phash as ha, b.doc_id as id_b, b.phash as hb
  from bounded a join bounded b
    on a.band = b.band and a.band_val = b.band_val and a.doc_id < b.doc_id
)
select id_a, id_b, cast(bit_count(xor(ha, hb)) as bigint) as hamming
from cand where bit_count(xor(ha, hb)) <= 7
"""


def q49_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> dedup GROUPS: alternating large-star/small-star
    connected components (Kiveris et al.) over a deterministic edge set
    (chains of 10 consecutive doc_ids plus every-40th cross-link —
    multi-hop components that exercise real convergence, not just
    pairs). component = min reachable doc_id; oracle = recursive CTE."""
    from pacasam_spark.operators.components import connected_components

    ids = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300).select(
        "doc_id"
    )
    chains = ids.filter(
        (F.pmod(F.col("doc_id") + 1, F.lit(10)) != 0) & (F.col("doc_id") + 1 < 300)
    ).select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
    links = ids.filter(
        (F.pmod("doc_id", F.lit(40)) == 7) & (F.col("doc_id") + 40 < 300)
    ).select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 40).alias("id_b"))
    return connected_components(chains.unionByName(links))


Q49_SQL = """
with recursive ids as (select doc_id from documents where doc_id < 300),
chains as (
  select doc_id as a, doc_id + 1 as b from ids
  where (doc_id + 1) % 10 != 0 and doc_id + 1 < 300
),
links as (
  select doc_id as a, doc_id + 40 as b from ids
  where doc_id % 40 = 7 and doc_id + 40 < 300
),
edges as (select a, b from chains union all select a, b from links),
sym as (select a, b from edges where a != b
        union select b, a from edges where a != b),
nodes as (select distinct a as id from sym),
reach(id, r) as (
  select id, id from nodes
  union
  select s.b, r.r from reach r join sym s on s.a = r.id
)
select id, min(r) as component from reach group by id
"""


def q50_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst-native session_window sessionization — the scale path
    for q30 (partial-merging hash agg, no per-user sort window; same
    expression streams under a watermark). Oracle: the lag-flag
    sessionizer aggregated to (start, end, count) with the strict-gap
    predicate ``ts > prev + gap`` — empirically the EXACT twin of
    session_window, including for events landing precisely on the
    boundary (Spark merges two sessions whose ranges touch: an event at
    exactly last + gap extends the session). The boundary behavior is
    pinned by tests/test_streaming.py::test_session_window_gap_boundary,
    so the gate holds for any testdata regeneration."""
    from pacasam_spark.streaming.events import session_rollup

    return session_rollup(_t(spark, sf_dir, "events"))


Q50_SQL = """
with g as (
  select user_id, ts,
         case when lag(ts) over w is null
                or ts > lag(ts) over w + interval 30 minute
              then 1 else 0 end as new_sess
  from events
  window w as (partition by user_id order by ts, event_id)
),
s as (
  select user_id, ts,
         sum(new_sess) over (partition by user_id order by ts
                             rows unbounded preceding) as sess_seq
  from g
)
select user_id, min(ts) as session_start,
       max(ts) + interval 30 minute as session_end,
       count(*) as n_events
from s group by user_id, sess_seq
"""


def q51_near_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL near-dedup pipeline as one gated query: MinHash-LSH
    candidates -> exact Jaccard verification on candidates only ->
    large-star/small-star connected components -> keep the minimum id
    per cluster. Over the duplicated corpus the survivors are exactly
    the original documents; the oracle replays every stage in SQL
    (components via recursive CTE)."""
    from pacasam_spark.operators.components import near_dedup_documents

    return near_dedup_documents(
        _dup_corpus(spark, sf_dir, limit=100), jaccard_threshold=0.5
    ).select("doc_id")


Q51_SQL = f"""
with recursive corpus as ({_DUP_SQL.format(where='where doc_id < 100')}),
words as (select doc_id, {_DDB_WORDS} as w from corpus),
sh as (
  select distinct doc_id, array_to_string(list_slice(w, i, i + 2), ' ') as shingle
  from words, unnest(range(1, greatest(len(w) - 1, 1))) as t(i)
),
banded as (
  select doc_id, b.band, shingle from sh, unnest([0, 1, 2, 3]) as b(band)
),
sigs as (
  select doc_id, band, min(md5(concat(shingle, '#', band))) as sig
  from banded group by doc_id, band
),
cand as (
  select a.doc_id as id_a, b.doc_id as id_b
  from sigs a join sigs b on a.band = b.band and a.sig = b.sig
                         and a.doc_id < b.doc_id
  group by 1, 2 having count(*) >= 2
),
sizes as (select doc_id, count(*) as sz from sh group by doc_id),
inter as (
  select c.id_a, c.id_b, count(*) as inter
  from cand c
  join sh a on a.doc_id = c.id_a
  join sh b on b.doc_id = c.id_b and b.shingle = a.shingle
  group by c.id_a, c.id_b
),
pairs as (
  select i.id_a, i.id_b
  from inter i
  join sizes sa on sa.doc_id = i.id_a
  join sizes sb on sb.doc_id = i.id_b
  where i.inter / (sa.sz + sb.sz - i.inter) >= 0.5
),
sym as (select id_a as a, id_b as b from pairs where id_a != id_b
        union select id_b as a, id_a as b from pairs where id_a != id_b),
nodes as (select distinct a as id from sym),
reach(id, r) as (
  select id, id from nodes
  union
  select s.b, r.r from reach r join sym s on s.a = r.id
),
comp as (select id, min(r) as component from reach group by id),
losers as (select id from comp where id != component)
select doc_id from corpus where doc_id not in (select id from losers)
"""


def q52_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature, four 16-bit LSH bands
    (pigeonhole recall at Hamming <= 3), degenerate-bucket cap, exact
    bit_count(xor) filter — the scale-safe SimHash candidate path (the
    32-bit/8-bit-band variant had a 256-value band vocabulary =>
    quadratic candidates)."""
    from pacasam_spark.operators.dedup import simhash_band_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = simhash_band_pairs(
        docs, max_distance=3, max_bucket_size=Q52_BUCKET_CAP
    )
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


# Shared by the Spark path and the oracle so the degenerate-bucket cap is
# replayed on both sides — without the mirror the gate only held because
# doc_id < 200 kept every band bucket under the default cap.
Q52_BUCKET_CAP = 10000


def _q52_sql() -> str:
    bands = ", ".join(
        "("
        + " + ".join(
            f"(case when b{16 * k + i} > 0 then {1 << i} else 0 end)"
            for i in range(16)
        )
        + f") as band{k}"
        for k in range(4)
    )
    banded_union = " union all ".join(
        f"select doc_id, simhash, {k} as band, band{k} as band_val from sims"
        for k in range(4)
    )
    return f"""
with tokens as (
  select distinct doc_id, t.w from
    (select doc_id, {_DDB_WORDS} as ws from documents where doc_id < 200),
    unnest(ws) as t(w)
),
hashed as (select doc_id, md5(w) as h from tokens),
bits as (select doc_id, {_ddb_simhash_bits()} from hashed group by doc_id),
sims as (
  select doc_id, cast({_ddb_simhash_val()} as bigint) as simhash, {bands}
  from bits
),
banded as ({banded_union}),
kept as (
  select band, band_val from banded
  group by band, band_val having count(*) <= {Q52_BUCKET_CAP}
),
bounded as (
  select banded.* from banded
  join kept on banded.band = kept.band and banded.band_val = kept.band_val
),
cand as (
  select distinct a.doc_id as id_a, b.doc_id as id_b,
         a.simhash as sim_a, b.simhash as sim_b
  from bounded a
  join bounded b on a.band = b.band and a.band_val = b.band_val
              and a.doc_id < b.doc_id
)
select id_a, id_b, cast(bit_count(xor(sim_a, sim_b)) as bigint) as hamming
from cand where bit_count(xor(sim_a, sim_b)) <= 3
"""


Q52_SQL = _q52_sql()


Q53_K, Q53_ITERS, Q53_SEED = 8, 2, 7


def q53_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment under a k-means-refined codebook: kmeans++-
    style seeding (greedy farthest-point over a hash-sampled candidate
    pool — derandomized, so the oracle replays the same greedy steps),
    then 2 Lloyd rounds with exact decimal means (centroids — and every
    assignment — bit-identical at any parallelism and in the oracle)."""
    from pacasam_spark.operators.kmeans import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(
        emb, k=Q53_K, n_iters=Q53_ITERS, seed=Q53_SEED, init="pp"
    ).select("vec_id", "cell")


def _q53_sql() -> str:
    from pacasam_spark.operators.hashing import det_hash_sql

    def cos(vec, cent):
        return (
            f"{_DOT.format(a=vec, b=cent)}"
            f" / ({_NORM.format(a=vec)} * {_NORM.format(a=cent)})"
        )

    def assign(cent_cte, out):
        return f"""
{out}_r as (
  select vec_id, embedding, c_id as cell,
         row_number() over (partition by vec_id
                            order by {cos('embedding', 'c_vec')} desc, c_id) as rn
  from e cross join {cent_cte}
),
{out} as (select vec_id, embedding, cell from {out}_r where rn = 1)"""

    def update(assign_cte, prev_cent, out):
        return f"""
{out}_m as (
  select cell, x.d,
         cast(sum(cast(cast(embedding[x.d] as double) as decimal(38,6))) as double)
           / count(*) as m
  from {assign_cte}, unnest(range(1, len(embedding) + 1)) as x(d)
  group by cell, x.d
),
{out}_v as (select cell as c_id, list(m order by d) as c_vec from {out}_m group by cell),
{out} as (
  select p.c_id, coalesce(v.c_vec, cast(p.c_vec as double[])) as c_vec
  from {prev_cent} p left join {out}_v v using (c_id)
)"""

    # kmeans++ seeding replay: hash-sampled candidate pool (4k rows),
    # first pick = smallest det_hash, then k-1 unrolled greedy
    # farthest-point steps (argmax min cosine distance, ties -> smaller
    # vec_id) — the exact steps ivf_centroids_pp runs driver-side, in
    # the same left-fold double arithmetic.
    cosd = (
        f"1 - ({_DOT.format(a='c.vec', b='p.vec')}"
        f" / ({_NORM.format(a='c.vec')} * {_NORM.format(a='p.vec')}))"
    )
    # MATERIALIZED: each ch{{i}} is referenced three times by level i+1;
    # DuckDB inlines plain CTEs per reference, which makes the chain
    # exponential (3^(k-1) re-evaluations hung the gate) — materializing
    # pins each step to one evaluation.
    fps_steps = []
    for i in range(2, Q53_K + 1):
        fps_steps.append(f"""
d{i} as materialized (
  select c.vec_id, c.vec, min({cosd}) as dmin
  from cand c, ch{i - 1} p
  where c.vec_id not in (select vec_id from ch{i - 1})
  group by c.vec_id, c.vec
),
p{i} as materialized (select vec_id, vec from d{i} order by dmin desc, vec_id limit 1),
ch{i} as materialized (select vec_id, vec from ch{i - 1}
          union all select vec_id, vec from p{i})""")
    fps = ",".join(fps_steps)

    return f"""
with e as (select vec_id, embedding from embeddings),
cand as materialized (
  select vec_id, cast(embedding as double[]) as vec from embeddings
  order by {det_hash_sql('vec_id', Q53_SEED)}, vec_id limit {4 * Q53_K}
),
ch1 as materialized (
  select vec_id, vec from cand
  order by {det_hash_sql('vec_id', Q53_SEED)}, vec_id limit 1
),{fps},
c0 as (select vec_id as c_id, vec as c_vec from ch{Q53_K}),{assign('c0', 'a0')},{update('a0', 'c0', 'c1')},{assign('c1', 'a1')},{update('a1', 'c1', 'c2')},{assign('c2', 'a2')}
select vec_id, cell from a2
"""


Q53_SQL = _q53_sql()


def q54_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style corpus quality rules (word-count / mean-word-length /
    bullet / ellipsis / alpha / stopword / duplicate-line filters) as
    pure column expressions — the standard pre-training filter battery,
    one scan, no UDF."""
    from pacasam_spark.operators.text import gopher_quality_flags

    return gopher_quality_flags(
        _t(spark, sf_dir, "documents"), min_words=30, max_words=5000
    )


_Q54_STOP = "['" + "', '".join(
    ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
) + "']"

Q54_SQL = f"""
with base as (
  select doc_id, text, {_DDB_WORDS} as w,
         list_filter(string_split(text, chr(10)), x -> x != '') as lines
  from documents
),
m as (
  select doc_id,
    len(w) as n,
    len(lines) as n_lines,
    case when len(w) > 0 then
      cast(list_reduce(list_transform(w, x -> cast(strlen(x) as int)), (a, b) -> a + b) as double) / len(w)
      else 0.0 end as mean_len,
    case when len(lines) > 0 then
      cast(len(list_filter(lines, x -> starts_with(x, '-') or starts_with(x, '*'))) as double) / len(lines)
      else 0.0 end as bullet_frac,
    case when len(lines) > 0 then
      cast(len(list_filter(lines, x -> ends_with(x, '...'))) as double) / len(lines)
      else 0.0 end as ellipsis_frac,
    case when len(lines) > 0 then
      1.0 - cast(len(list_distinct(lines)) as double) / len(lines)
      else 0.0 end as dup_line_frac,
    case when len(w) > 0 then
      cast(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) as double) / len(w)
      else 0.0 end as alpha_frac,
    len(list_intersect(list_distinct(w), {_Q54_STOP})) as stop_hits
  from base
),
f as (
  select doc_id, cast(n as bigint) as n_words,
    (n >= 30 and n <= 5000) as ok_n_words,
    (mean_len >= 3.0 and mean_len <= 10.0) as ok_mean_len,
    (bullet_frac < 0.9) as ok_bullets,
    (ellipsis_frac < 0.3) as ok_ellipsis,
    (alpha_frac > 0.8) as ok_alpha,
    (stop_hits >= 2) as ok_stopwords,
    (dup_line_frac <= 0.3) as ok_repetition
  from m
)
select *, (ok_n_words and ok_mean_len and ok_bullets and ok_ellipsis
           and ok_alpha and ok_stopwords and ok_repetition) as keep
from f
"""


def q39_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-bucketed kNN join over patch centroids (north rule: H3/S2 +
    kNN). Same bucketing replayed by the oracle; brute-force equivalence
    proven in pytest."""
    from pacasam_spark.spatial.knn import knn_join

    db = synthetic_catalogue(spark, db_size=4000).select(
        "patch_id",
        ((F.col("geom_xmin") + F.col("geom_xmax")) / 2).alias("cx"),
        ((F.col("geom_ymin") + F.col("geom_ymax")) / 2).alias("cy"),
    )
    queries_df = db.filter(F.pmod("patch_id", F.lit(100)) == 0).select(
        F.col("patch_id").alias("q_id"),
        F.col("cx").alias("qx"),
        F.col("cy").alias("qy"),
    )
    return knn_join(db, queries_df, k=5, level=0)


def _q39_sql() -> str:
    from pacasam_spark.spatial.knn import knn_join_sql

    cat = synthetic_catalogue_sql(db_size=4000)
    pts = (
        f"select patch_id, (geom_xmin + geom_xmax) / 2 as cx,"
        f" (geom_ymin + geom_ymax) / 2 as cy from ({cat})"
    )
    qs = (
        f"select patch_id as q_id, cx as qx, cy as qy from ({pts})"
        f" where patch_id % 100 = 0"
    )
    return knn_join_sql(pts, qs, k=5, level=0)


def q40_outlier_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible stages feeding M5's chunk-local outlier
    kernel, exercised through the SKEW-GUARDED rank path
    (skew_threshold=0 forces fps._bucketed_rank_in_file): the oracle
    certifies that the monotone-bucket decomposition — rank = rows of
    the file in lower id-buckets + rank within the bucket — equals the
    plain window rank, the exactness claim the hot-file guard rests on
    at scale. chunk_len/k_eff mirror the kernel's per-chunk effective-k
    arithmetic. The numpy kNN-density scores themselves (the knowingly
    non-SQL core, SURVEY §4.3-6) stay golden-pinned at two core counts
    in tests/test_golden.py."""
    from pacasam_spark.operators.fps import (
        CHUNK_ID,
        GLOBAL_RANK,
        add_deterministic_chunk_ids,
    )

    db = synthetic_catalogue(spark, db_size=2000).select("patch_id", "file_id")
    chunked = add_deterministic_chunk_ids(
        db, 500, keep_rank=True, skew_threshold=0
    )
    clen = F.least(F.lit(500), F.lit(2000) - F.col(CHUNK_ID) * 500)
    return chunked.select(
        "patch_id",
        "file_id",
        F.col(GLOBAL_RANK).alias("global_rank"),
        F.col(CHUNK_ID).alias("chunk_id"),
        clen.cast("long").alias("chunk_len"),
        F.least(F.lit(20), clen - 1).cast("long").alias("k_eff"),
    )


def _q40_sql() -> str:
    return f"""
with cat as ({synthetic_catalogue_sql(db_size=2000)}),
ranked as (
  select patch_id, file_id,
         row_number() over (order by file_id, patch_id) - 1 as global_rank
  from cat
),
chunked as (
  select *, cast(floor(global_rank / 500.0) as bigint) as chunk_id from ranked
)
select patch_id, file_id, global_rank, chunk_id,
       cast(least(500, 2000 - chunk_id * 500) as bigint) as chunk_len,
       cast(least(20, least(500, 2000 - chunk_id * 500) - 1) as bigint) as k_eff
from chunked
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_derived_predicates": q02_derived_predicates,
        "q03_extraction_join": q03_extraction_join,
        "q04_anti_join": q04_anti_join,
        "q05_semi_join": q05_semi_join,
        "q06_asof_nearest": q06_asof_nearest,
        "q07_distinct_on": q07_distinct_on,
        "q08_bool_rollup": q08_bool_rollup,
        "q09_topk": q09_topk,
        "q10_random_sample": q10_random_sample,
        "q11_stratified_sample": q11_stratified_sample,
        "q12_union_dedup_priority": q12_union_dedup_priority,
        "q13_scalar_funcs": q13_scalar_funcs,
        "q14_cell_index": q14_cell_index,
        "q15_prevalence_stats": q15_prevalence_stats,
        "q16_standardize": q16_standardize,
        "q17_percent_rank": q17_percent_rank,
        "q18_synthetic_catalogue": q18_synthetic_catalogue,
        "q19_stratified_catalogue": q19_stratified_catalogue,
        "q20_exact_dedup": q20_exact_dedup,
        # q21/q23/q24/q30 retired from the registry (driver gate checks at
        # most 50 entries): their SQL is embedded verbatim in q22 / q52 /
        # q51 / q45+q50's oracles and their operators stay pytest-covered
        # (test_operators, test_streaming). Functions remain callable above.
        "q22_lsh_near_dup_pairs": q22_lsh_near_dup_pairs,
        "q25_token_stats": q25_token_stats,
        "q26_lang_scores": q26_lang_scores,
        "q27_doc_fingerprint": q27_doc_fingerprint,
        "q28_cosine_topk": q28_cosine_topk,
        "q29_cosine_pairs": q29_cosine_pairs,
        "q31_hourly_event_rollup": q31_hourly_event_rollup,
        "q32_image_metadata": q32_image_metadata,
        "q33_zone_join": q33_zone_join,
        "q34_fps_stages": q34_fps_stages,
        "q35_triple_stages": q35_triple_stages,
        "q36_streaming_hourly": q36_streaming_hourly,
        "q37_stateful_user_counts": q37_stateful_user_counts,
        "q38_ingest_parity": q38_ingest_parity,
        "q39_spatial_knn": q39_spatial_knn,
        "q40_outlier_stages": q40_outlier_stages,
        "q41_lsh_ann_topk": q41_lsh_ann_topk,
        "q42_quantile_transform": q42_quantile_transform,
        "q43_polygon_zone_join": q43_polygon_zone_join,
        "q44_ivf_ann_topk": q44_ivf_ann_topk,
        "q45_streaming_sessionize": q45_streaming_sessionize,
        "q46_lsh_cosine_pairs": q46_lsh_cosine_pairs,
        "q47_merge_asof_join": q47_merge_asof_join,
        "q48_phash_near_dup": q48_phash_near_dup,
        "q49_dedup_components": q49_dedup_components,
        "q50_session_window": q50_session_window,
        "q51_near_dedup_pipeline": q51_near_dedup_pipeline,
        "q52_simhash_pairs": q52_simhash_pairs,
        "q53_kmeans_cells": q53_kmeans_cells,
        "q54_gopher_quality": q54_gopher_quality,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": Q01_SQL,
        "q02_derived_predicates": Q02_SQL,
        "q03_extraction_join": Q03_SQL,
        "q04_anti_join": Q04_SQL,
        "q05_semi_join": Q05_SQL,
        "q06_asof_nearest": Q06_SQL,
        "q07_distinct_on": Q07_SQL,
        "q08_bool_rollup": Q08_SQL,
        "q09_topk": Q09_SQL,
        "q10_random_sample": Q10_SQL,
        "q11_stratified_sample": Q11_SQL,
        "q12_union_dedup_priority": Q12_SQL,
        "q13_scalar_funcs": Q13_SQL,
        "q14_cell_index": Q14_SQL,
        "q15_prevalence_stats": Q15_SQL,
        "q16_standardize": Q16_SQL,
        "q17_percent_rank": Q17_SQL,
        "q18_synthetic_catalogue": Q18_SQL,
        "q19_stratified_catalogue": Q19_SQL,
        "q20_exact_dedup": Q20_SQL,
        "q22_lsh_near_dup_pairs": Q22_SQL,
        "q25_token_stats": Q25_SQL,
        "q26_lang_scores": Q26_SQL,
        "q27_doc_fingerprint": Q27_SQL,
        "q28_cosine_topk": Q28_SQL,
        "q29_cosine_pairs": Q29_SQL,
        "q31_hourly_event_rollup": Q31_SQL,
        "q32_image_metadata": Q32_SQL,
        "q33_zone_join": Q33_SQL,
        # q34: the staged FPS decomposition (rank/chunk/quota/trim) has a
        # full window+arithmetic oracle; ONLY the within-chunk greedy
        # argmax (and q35's composite of it) stays golden-pinned
        # (tests/test_golden.py, two core counts).
        "q34_fps_stages": _q34_sql(),
        "q35_triple_stages": _q35_sql(),
        "q36_streaming_hourly": Q36_SQL,
        "q37_stateful_user_counts": Q37_SQL,
        "q38_ingest_parity": _q38_sql(),
        "q39_spatial_knn": _q39_sql(),
        "q40_outlier_stages": _q40_sql(),
        "q41_lsh_ann_topk": _q41_sql(),
        "q42_quantile_transform": _q42_sql(),
        "q43_polygon_zone_join": _q43_sql(),
        "q44_ivf_ann_topk": _q44_sql(),
        "q45_streaming_sessionize": Q30_SQL,
        "q46_lsh_cosine_pairs": _q46_sql(),
        "q47_merge_asof_join": Q47_SQL,
        "q48_phash_near_dup": Q48_SQL,
        "q49_dedup_components": Q49_SQL,
        "q50_session_window": Q50_SQL,
        "q51_near_dedup_pipeline": Q51_SQL,
        "q52_simhash_pairs": Q52_SQL,
        "q53_kmeans_cells": Q53_SQL,
        "q54_gopher_quality": Q54_SQL,
    }
