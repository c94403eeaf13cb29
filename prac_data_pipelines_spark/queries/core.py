"""Core relational queries (SURVEY §2.2-§2.8 inventory) over the test tables.

Every query demonstrates one (or a tight cluster) of the reference's operator
semantics re-expressed Spark-first, with a DuckDB oracle twin. The business
anchor for each is cited; the data is the TPC-H-ish harness star schema.

Scale design notes appear per query: broadcast vs shuffle joins, pushdown,
partial aggregation, and window partitioning are chosen for a 1000-executor /
100 TB deployment even though tests run on local[32].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..config import DEFAULT_AS_OF, RANGOS_ANTIGUEDAD
from ..operators.buckets import bucketize, bucketize_sql, bucket_order_expr, bucket_order_sql
from ..operators.profile import column_profile
from ..operators.sorting import dual_sort_keys, global_positions
from ..operators.stats import zscore_columns
from ..operators.totals import with_total_row
from ..operators.windows import band_groups, pareto_abc, running_balance
from ..sources import load_table
from . import register

AS_OF = DEFAULT_AS_OF.isoformat()  # deterministic "today" (SURVEY §7.0)
SQL_AS_OF = f"DATE '{AS_OF}'"
# Orders/lineitem carry classic TPC-H dates (1995-2001); anchor mid-range so
# every aging bucket is populated. Events carry 2024 dates and use AS_OF.
AS_OF_ORDERS = "1998-08-01"
SQL_AS_OF_ORDERS = f"DATE '{AS_OF_ORDERS}'"


from ..operators.rounding import r2, r4, sql_r2, sql_r4  # noqa: E402  (shared rounding)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# pricing_summary — flagship. Conditional multi-aggregate with filter + sort
# (A1/A2/A9 shapes; TPC-H Q1 form). Single scan, map-side partial agg, tiny
# result; the filter and 7-column projection push into the parquet scan.
# --------------------------------------------------------------------------

def _avg4(col: str):
    """Round-4 average through an exact cent-quantized long sum
    (``operators.rounding.cents_sum``): order-insensitive like the
    decimal idiom but without its +81%% codegen tax on this 4-aggregate
    fact scan (measured at sf0.1)."""
    from ..operators.rounding import cents_sum

    return (F.floor(cents_sum(F.col(col)) * 100 / F.count(F.col(col))
                    + F.lit(0.5)) / 10000)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # Money terms are rounded per line BEFORE summing (both here and in the
    # oracle): sums of 2-decimal terms are exact multiples of 0.01, so the
    # final round(2) can never straddle a float rounding boundary regardless
    # of distributed summation order.
    disc_price = r2(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    charge = r2(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r2(F.sum("l_quantity")).alias("sum_qty"),
            r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            r2(F.sum(disc_price)).alias("sum_disc_price"),
            r2(F.sum(charge)).alias("sum_charge"),
            # averages via exact cent-long sums (order-insensitive — see
            # operators/rounding.py caveat: float avgs of cent-structured
            # columns can flip floor(x*1e4+0.5) on a boundary)
            _avg4("l_quantity").alias("avg_qty"),
            _avg4("l_extendedprice").alias("avg_price"),
            _avg4("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
       floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price,
       floor((sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100)) * 100 + 0.5) / 100 AS sum_disc_price,
       floor((sum(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100)) * 100 + 0.5) / 100 AS sum_charge,
       floor(sum(floor(l_quantity * 100 + 0.5)::BIGINT)::DOUBLE * 100
             / count(l_quantity) + 0.5) / 10000 AS avg_qty,
       floor(sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::DOUBLE * 100
             / count(l_extendedprice) + 0.5) / 10000 AS avg_price,
       floor(sum(floor(l_discount * 100 + 0.5)::BIGINT)::DOUBLE * 100
             / count(l_discount) + 0.5) / 10000 AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

register("pricing_summary", q_pricing_summary, SQL_PRICING_SUMMARY)


# --------------------------------------------------------------------------
# master_denorm — J1: the wide left-join assembly (fact → dims). All dims are
# broadcast (hash join, no shuffle of the fact); only the orders join is a
# real shuffle join at scale and AQE handles skew. Result is aggregated per
# (region, nation) to keep the checked output small while the join itself
# runs over the full fact table.
# --------------------------------------------------------------------------

def q_master_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    supplier = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    revenue = r2(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    master = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .join(broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
        .join(broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .join(broadcast(supplier), li.l_suppkey == supplier.s_suppkey, "left")
        .join(broadcast(part), li.l_partkey == part.p_partkey, "left")
    )
    return (
        master.groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            r2(F.sum(revenue)).alias("revenue"),
            F.countDistinct("p_brand").cast("long").alias("n_brands"),
            F.countDistinct("s_name").cast("long").alias("n_suppliers"),
        )
        .orderBy("r_name", "n_name")
    )


SQL_MASTER_DENORM = """
SELECT r_name, n_name,
       count(*)::BIGINT AS n_rows,
       floor((sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100)) * 100 + 0.5) / 100 AS revenue,
       count(DISTINCT p_brand)::BIGINT AS n_brands,
       count(DISTINCT s_name)::BIGINT AS n_suppliers
FROM lineitem
LEFT JOIN orders   ON l_orderkey = o_orderkey
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation   ON c_nationkey = n_nationkey
LEFT JOIN region   ON n_regionkey = r_regionkey
LEFT JOIN supplier ON l_suppkey = s_suppkey
LEFT JOIN part     ON l_partkey = p_partkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""

register("master_denorm", q_master_denorm, SQL_MASTER_DENORM)


# --------------------------------------------------------------------------
# order_balance — J2: the SALDO_FACTURA pattern. Charges (orders) left-join an
# aggregation of their applied lines; missing → 0. At scale: both sides
# shuffle on the same key once; the aggregate is map-side combined first.
# --------------------------------------------------------------------------

def q_order_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    applied = (
        li.groupBy("l_orderkey")
        .agg(F.sum(r2(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
             .alias("_applied"))
    )
    return (
        orders.join(applied, orders.o_orderkey == applied.l_orderkey, "left")
        .select(
            "o_orderkey",
            "o_custkey",
            r2(F.col("o_totalprice")).alias("cargo"),
            r2(F.coalesce("_applied", F.lit(0.0))).alias("abonos"),
            r2(F.col("o_totalprice") - F.coalesce("_applied", F.lit(0.0)))
            .alias("saldo"),
        )
    )


SQL_ORDER_BALANCE = """
SELECT o_orderkey, o_custkey,
       floor((o_totalprice) * 100 + 0.5) / 100 AS cargo,
       floor((coalesce(a.applied, 0)) * 100 + 0.5) / 100 AS abonos,
       floor((o_totalprice - coalesce(a.applied, 0)) * 100 + 0.5) / 100 AS saldo
FROM orders
LEFT JOIN (
  SELECT l_orderkey, sum(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100) AS applied
  FROM lineitem GROUP BY l_orderkey
) a ON o_orderkey = a.l_orderkey
"""

register("order_balance", q_order_balance, SQL_ORDER_BALANCE)


# --------------------------------------------------------------------------
# order_last_ship — J3: max-date-per-group joined back (last-payment-date).
# --------------------------------------------------------------------------

def q_order_last_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    last = li.groupBy("l_orderkey").agg(
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship")
    )
    return (
        orders.join(last, orders.o_orderkey == last.l_orderkey, "left")
        .select("o_orderkey", "o_orderstatus", "last_ship")
    )


SQL_ORDER_LAST_SHIP = """
SELECT o_orderkey, o_orderstatus, strftime(s.last_ship, '%Y-%m-%d') AS last_ship
FROM orders
LEFT JOIN (
  SELECT l_orderkey, max(l_shipdate) AS last_ship FROM lineitem GROUP BY l_orderkey
) s ON o_orderkey = s.l_orderkey
"""

register("order_last_ship", q_order_last_ship, SQL_ORDER_LAST_SHIP)


# --------------------------------------------------------------------------
# open_order_lines — J4: left-semi join (membership without fan-out). No
# columns from the build side are needed → semi join avoids the wide shuffle.
# --------------------------------------------------------------------------

def q_open_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    open_orders = (
        _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey")
    )
    return (
        li.join(open_orders, li.l_orderkey == open_orders.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            r2(F.sum("l_quantity")).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


SQL_OPEN_ORDER_LINES = """
SELECT l_returnflag, count(*)::BIGINT AS n_lines, floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O')
GROUP BY l_returnflag ORDER BY l_returnflag
"""

register("open_order_lines", q_open_order_lines, SQL_OPEN_ORDER_LINES)


# --------------------------------------------------------------------------
# flag_full_outer — J5: full-outer join of two aggregates + coalesce(0) —
# the reference's cargos⋈abonos-by-concepto shape.
# --------------------------------------------------------------------------

def q_flag_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    f_side = (
        li.filter(F.col("l_linestatus") == "F")
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("_f"))
        .withColumnRenamed("l_returnflag", "flag_f")
    )
    o_side = (
        li.filter(F.col("l_linestatus") == "O")
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("_o"))
        .withColumnRenamed("l_returnflag", "flag_o")
    )
    return (
        f_side.join(o_side, f_side.flag_f == o_side.flag_o, "full_outer")
        .select(
            F.coalesce("flag_f", "flag_o").alias("l_returnflag"),
            r2(F.coalesce("_f", F.lit(0.0))).alias("total_f"),
            r2(F.coalesce("_o", F.lit(0.0))).alias("total_o"),
        )
        .orderBy("l_returnflag")
    )


SQL_FLAG_FULL_OUTER = """
SELECT coalesce(f.flag, o.flag) AS l_returnflag,
       floor((coalesce(f.t, 0)) * 100 + 0.5) / 100 AS total_f,
       floor((coalesce(o.t, 0)) * 100 + 0.5) / 100 AS total_o
FROM (SELECT l_returnflag AS flag, sum(l_extendedprice) AS t FROM lineitem
      WHERE l_linestatus = 'F' GROUP BY 1) f
FULL OUTER JOIN (SELECT l_returnflag AS flag, sum(l_extendedprice) AS t FROM lineitem
      WHERE l_linestatus = 'O' GROUP BY 1) o
ON f.flag = o.flag
ORDER BY l_returnflag
"""

register("flag_full_outer", q_flag_full_outer, SQL_FLAG_FULL_OUTER)


# --------------------------------------------------------------------------
# customer_first_order — J7/A12: deterministic first-row-per-key via
# row_number over an explicit total order (never groupBy+first, which is
# order-dependent in a distributed engine).
# --------------------------------------------------------------------------

def q_customer_first_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(),
                                                F.col("o_orderkey").asc())
    return (
        orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_orderdate"),
        )
    )


SQL_CUSTOMER_FIRST_ORDER = """
SELECT o_custkey, o_orderkey AS first_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS first_orderdate
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""

register("customer_first_order", q_customer_first_order, SQL_CUSTOMER_FIRST_ORDER)


# --------------------------------------------------------------------------
# aging_buckets — A1 + O3 + A8 + the bucket compiler: overdue-days bucketing
# of open orders with categorical ordering and a grand-TOTAL row.
# --------------------------------------------------------------------------

def q_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    delta = F.datediff(F.lit(AS_OF_ORDERS).cast("date"), F.col("o_orderdate").cast("date"))
    bucketed = orders.withColumn("rango", bucketize(delta, RANGOS_ANTIGUEDAD))
    agg = bucketed.groupBy("rango").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        r2(F.sum("o_totalprice")).alias("saldo"),
    )
    with_order = agg.withColumn("orden", bucket_order_expr(F.col("rango"), RANGOS_ANTIGUEDAD).cast("long"))
    total = with_total_row(with_order, "rango", ["saldo"], int_sum_cols=["n_docs"],
                           const={"orden": F.lit(len(RANGOS_ANTIGUEDAD) + 1).cast("long")})
    return total.orderBy("orden", "rango")


_DELTA_SQL = f"datediff('day', CAST(o_orderdate AS DATE), {SQL_AS_OF_ORDERS})"
SQL_AGING_BUCKETS = f"""
WITH bucketed AS (
  SELECT {bucketize_sql(_DELTA_SQL, RANGOS_ANTIGUEDAD)} AS rango, o_totalprice
  FROM orders
), agg AS (
  SELECT rango, count(*)::BIGINT AS n_docs, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS saldo,
         {bucket_order_sql('rango', RANGOS_ANTIGUEDAD)}::BIGINT AS orden
  FROM bucketed GROUP BY rango
)
SELECT * FROM agg
UNION ALL
SELECT 'TOTAL', sum(n_docs)::BIGINT, floor((sum(saldo)) * 100 + 0.5) / 100,
       {len(RANGOS_ANTIGUEDAD) + 1}::BIGINT FROM agg
ORDER BY orden, rango
"""

register("aging_buckets", q_aging_buckets, SQL_AGING_BUCKETS)


# --------------------------------------------------------------------------
# aging_pivot — A4: native pivot (customer nation × aging bucket), replacing
# the reference's row-by-row Python pivot loop with one shuffled aggregation.
# Pivot values are declared statically so the plan needs no extra pass.
# --------------------------------------------------------------------------

_PIVOT_LABELS = [label for _, _, label in RANGOS_ANTIGUEDAD]


def q_aging_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    delta = F.datediff(F.lit(AS_OF_ORDERS).cast("date"), F.col("o_orderdate").cast("date"))
    base = (
        orders.filter(F.col("o_orderstatus") != "F")
        .withColumn("rango", bucketize(delta, RANGOS_ANTIGUEDAD))
        .join(broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
        .join(broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
    )
    pivoted = (
        base.groupBy("n_name").pivot("rango", _PIVOT_LABELS).sum("o_totalprice")
    )
    out = pivoted.select(
        "n_name",
        *[r2(F.coalesce(F.col(f"`{l}`"), F.lit(0.0))).alias(l) for l in _PIVOT_LABELS],
    )
    return out


def _pivot_sql_arms() -> str:
    return ",\n       ".join(
        f"floor((coalesce(sum(o_totalprice) FILTER (WHERE rango = '{l}'), 0)) * 100 + 0.5) / 100 AS \"{l}\""
        for l in _PIVOT_LABELS
    )


SQL_AGING_PIVOT = f"""
WITH base AS (
  SELECT n_name, {bucketize_sql(_DELTA_SQL, RANGOS_ANTIGUEDAD)} AS rango, o_totalprice
  FROM orders
  LEFT JOIN customer ON o_custkey = c_custkey
  LEFT JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderstatus <> 'F'
)
SELECT n_name, {_pivot_sql_arms()}
FROM base GROUP BY n_name
"""

register("aging_pivot", q_aging_pivot, SQL_AGING_PIVOT)


# --------------------------------------------------------------------------
# customer_metrics — A3/A10: one groupBy with conditional aggregates
# (sum(when), count(when), bool→int sums, max) — never N filtered passes.
# --------------------------------------------------------------------------

def q_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    is_open = F.col("o_orderstatus") == "O"
    overdue_days = F.datediff(F.lit(AS_OF_ORDERS).cast("date"), F.col("o_orderdate").cast("date"))
    is_overdue = is_open & (overdue_days > 90)
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(is_open.cast("int")).cast("long").alias("n_open"),
            F.sum(is_overdue.cast("int")).cast("long").alias("n_overdue"),
            r2(F.sum(F.when(is_open, F.col("o_totalprice")).otherwise(0.0)))
            .alias("saldo_abierto"),
            r2(F.sum("o_totalprice")).alias("total_cargos"),
            F.max(F.when(is_open, overdue_days).otherwise(F.lit(None))).cast("long")
            .alias("max_dias_abierto"),
        )
    )


SQL_CUSTOMER_METRICS = f"""
SELECT o_custkey,
       count(*)::BIGINT AS n_orders,
       sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_open,
       sum(CASE WHEN o_orderstatus = 'O' AND {_DELTA_SQL} > 90 THEN 1 ELSE 0 END)::BIGINT AS n_overdue,
       floor((sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END)) * 100 + 0.5) / 100 AS saldo_abierto,
       floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total_cargos,
       max(CASE WHEN o_orderstatus = 'O' THEN {_DELTA_SQL} END)::BIGINT AS max_dias_abierto
FROM orders GROUP BY o_custkey
"""

register("customer_metrics", q_customer_metrics, SQL_CUSTOMER_METRICS)


# --------------------------------------------------------------------------
# running_balance — W1: per-customer ordered cumulative sum with a unique
# tiebreaker (o_orderkey) — deterministic under any partitioning; fully
# parallel (partitioned window, no global sort).
# --------------------------------------------------------------------------

def q_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    signed = F.when(F.col("o_orderstatus") == "F", -F.col("o_totalprice")) \
              .otherwise(F.col("o_totalprice"))
    out = running_balance(
        orders.withColumn("_signed", signed),
        partition_by=["o_custkey"],
        order_by=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        signed_amount=F.col("_signed"),
        out_col="saldo_acumulado",
    )
    return out.select("o_custkey", "o_orderkey", "saldo_acumulado")


SQL_RUNNING_BALANCE = """
SELECT o_custkey, o_orderkey,
       floor(sum(CASE WHEN o_orderstatus = 'F' THEN -o_totalprice ELSE o_totalprice END)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS saldo_acumulado
FROM orders
"""

register("running_balance", q_running_balance, SQL_RUNNING_BALANCE)


# --------------------------------------------------------------------------
# pareto_abc — W2/W4: concentration analysis. The scalable part is the
# per-key aggregation; the global-ordered cumsum runs over one row per key.
# --------------------------------------------------------------------------

def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(r2(F.sum("o_totalprice")).alias("saldo"))
    )
    out = pareto_abc(per_cust, "saldo", key_order=[F.col("o_custkey").asc()],
                     pct_col="pct", cum_col="pct_acumulado", abc_col="clase_abc",
                     materialize=True)
    return out.select("o_custkey", "saldo", "pct", "pct_acumulado", "clase_abc")


SQL_PARETO_ABC = """
WITH per_cust AS (
  SELECT o_custkey, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS saldo
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
), with_pct AS (
  SELECT o_custkey, saldo, saldo / sum(saldo) OVER () AS pct_raw
  FROM per_cust
), ranked AS (
  SELECT o_custkey, saldo,
         floor(pct_raw * 1000000 + 0.5) / 1000000 AS pct,
         floor(sum(pct_raw) OVER (
               ORDER BY saldo DESC, o_custkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 + 0.5) / 1000000
           AS cum_r,
         row_number() OVER (ORDER BY saldo DESC, o_custkey ASC) AS rn,
         count(*) OVER () AS nall
  FROM with_pct
), pinned AS (
  -- last row pinned to exactly 1.0 (true value by construction; immune to
  -- float association order — mirrors operators.windows.pareto_abc)
  SELECT o_custkey, saldo, pct,
         CASE WHEN rn = nall THEN CAST(1.0 AS DOUBLE) ELSE cum_r END
           AS pct_acumulado,
         rn
  FROM ranked
)
SELECT o_custkey, saldo, pct, pct_acumulado,
       CASE WHEN rn = 1 THEN 'A'
            WHEN pct_acumulado * 100 <= 80.0 THEN 'A'
            WHEN pct_acumulado * 100 <= 95.0 THEN 'B'
            ELSE 'C' END AS clase_abc
FROM pinned
"""

register("pareto_abc", q_pareto_abc, SQL_PARETO_ABC)


# --------------------------------------------------------------------------
# zscore_outliers — W5/A15: standardize a metric against a filtered subset's
# sample std; emit flagged outliers. One pass; stats broadcast via window.
# --------------------------------------------------------------------------

def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    subset = F.col("event_type") == "purchase"
    out = zscore_columns(ev, "value", subset=subset,
                         z_col="z_importe", flag_col="es_atipico", threshold=2.5)
    return (
        out.filter(F.col("es_atipico"))
        .select("event_id", r2(F.col("value")).alias("importe"), "z_importe")
    )


SQL_ZSCORE_OUTLIERS = """
WITH stats AS (
  SELECT avg(value) AS mu, stddev_samp(value) AS sigma, count(value) AS n
  FROM events WHERE event_type = 'purchase'
)
SELECT event_id, floor((value) * 100 + 0.5) / 100 AS importe,
       floor((abs((value - mu) / sigma)) * 10000 + 0.5) / 10000 AS z_importe
FROM events, stats
WHERE event_type = 'purchase' AND n >= 3 AND sigma > 0
  AND floor((abs((value - mu) / sigma)) * 10000 + 0.5) / 10000 >= 2.5
"""

register("zscore_outliers", q_zscore_outliers, SQL_ZSCORE_OUTLIERS)


# --------------------------------------------------------------------------
# dual_sort — O2: stratified sort materialized via an explicit position
# column (positive balances by amount desc, then the rest alphabetically).
# Positions come from operators.sorting.global_positions — range-partitioned
# local ranks + broadcast prefix-sum offsets — so no unpartitioned window
# ever touches the raw table (the input grows with the data; a global
# row_number() would funnel it through one task).
# --------------------------------------------------------------------------

def q_dual_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    keys = dual_sort_keys(F.col("c_acctbal"), F.col("c_name")) + [F.col("c_custkey").asc()]
    return (
        global_positions(customer, keys, pos_col="pos")
        .select("pos", "c_custkey", "c_name", r2(F.col("c_acctbal")).alias("acctbal"))
        .orderBy("pos")
    )


SQL_DUAL_SORT = """
SELECT row_number() OVER (
         ORDER BY (CASE WHEN c_acctbal <= 0 OR c_acctbal IS NULL THEN 1 ELSE 0 END) ASC,
                  (CASE WHEN NOT (c_acctbal <= 0 OR c_acctbal IS NULL) THEN -c_acctbal END) ASC,
                  (CASE WHEN c_acctbal <= 0 OR c_acctbal IS NULL THEN c_name END) ASC NULLS LAST,
                  c_custkey ASC
       )::BIGINT AS pos,
       c_custkey, c_name, floor((c_acctbal) * 100 + 0.5) / 100 AS acctbal
FROM customer
"""

register("dual_sort", q_dual_sort, SQL_DUAL_SORT)


# --------------------------------------------------------------------------
# top_customers — O5: deterministic top-k (orderBy + limit with tiebreaker).
# Spark plans this as a TakeOrderedAndProject — no full sort at scale.
# --------------------------------------------------------------------------

def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(r2(F.sum("o_totalprice")).alias("total"),
             F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.col("total").desc(), F.col("o_custkey").asc())
        .limit(15)
    )


SQL_TOP_CUSTOMERS = """
SELECT o_custkey, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total, count(*)::BIGINT AS n_orders
FROM orders GROUP BY o_custkey
ORDER BY total DESC, o_custkey ASC LIMIT 15
"""

register("top_customers", q_top_customers, SQL_TOP_CUSTOMERS)


# --------------------------------------------------------------------------
# band_groups — W3: presentation banding (alternating 0/1 per run of equal
# group key), partitioned by order key prefix so it parallelizes.
# --------------------------------------------------------------------------

def q_band_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    out = band_groups(
        li,
        group_key=F.col("l_orderkey"),
        order_by=[F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        out_col="banda",
    )
    return out.select("l_orderkey", "l_linenumber", F.col("banda").cast("long").alias("banda"))


SQL_BAND_GROUPS = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN lag(l_orderkey) OVER w IS NULL
                OR l_orderkey <> lag(l_orderkey) OVER w THEN 1 ELSE 0 END AS chg
  FROM lineitem WHERE l_orderkey <= 100
  WINDOW w AS (ORDER BY l_orderkey ASC, l_linenumber ASC)
)
SELECT l_orderkey, l_linenumber,
       (sum(chg) OVER (ORDER BY l_orderkey ASC, l_linenumber ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) % 2)::BIGINT AS banda
FROM base
"""

register("band_groups", q_band_groups, SQL_BAND_GROUPS)


# --------------------------------------------------------------------------
# scalar_suite — §2.8: the scalar-function surface (normalize, substring,
# sentinel fills, date math, formatting, rounding, membership, arithmetic)
# in one projection — all JVM-side, whole-stage-codegen friendly.
# --------------------------------------------------------------------------

def q_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    joined = o.join(broadcast(c), o.o_custkey == c.c_custkey, "left")
    return joined.select(
        "o_orderkey",
        F.upper(F.trim(F.col("c_name"))).alias("nombre_norm"),
        F.concat(F.substring(F.col("c_name"), 1, 8), F.lit("..")).alias("nombre_corto"),
        F.coalesce(F.col("c_mktsegment"), F.lit("SIN SEGMENTO")).alias("segmento"),
        F.col("c_name").contains("Customer").cast("int").cast("long").alias("es_customer"),
        F.datediff(F.lit(AS_OF_ORDERS).cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long").alias("dias_desde_orden"),
        F.date_format("o_orderdate", "yyyy-MM").alias("mes_orden"),
        r2(F.col("o_totalprice") * 0.16).alias("impuesto"),
        r2(F.abs(F.col("c_acctbal"))).alias("abs_balance"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").cast("long")
        .alias("es_urgente"),
    )


SQL_SCALAR_SUITE = f"""
SELECT o_orderkey,
       upper(trim(c_name)) AS nombre_norm,
       concat(substring(c_name, 1, 8), '..') AS nombre_corto,
       coalesce(c_mktsegment, 'SIN SEGMENTO') AS segmento,
       (CASE WHEN contains(c_name, 'Customer') THEN 1 ELSE 0 END)::BIGINT AS es_customer,
       {_DELTA_SQL}::BIGINT AS dias_desde_orden,
       strftime(o_orderdate, '%Y-%m') AS mes_orden,
       floor((o_totalprice * 0.16) * 100 + 0.5) / 100 AS impuesto,
       floor((abs(c_acctbal)) * 100 + 0.5) / 100 AS abs_balance,
       (CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS es_urgente
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""

register("scalar_suite", q_scalar_suite, SQL_SCALAR_SUITE)


# --------------------------------------------------------------------------
# cancelled_filter — P4: negated membership over a messy flag domain,
# normalized once (upper/trim/cast) — the reference's cancelled-docs filter.
# The messy flag is synthesized deterministically from the key.
# --------------------------------------------------------------------------

_MESSY = ["S", "si", "1", "N", "NO", "0", "TRUE"]


def q_cancelled_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    flag = F.element_at(F.lit(_MESSY), (F.col("o_orderkey") % 7 + 1).cast("int"))
    norm = F.upper(F.trim(flag.cast("string")))
    return (
        o.withColumn("cancelado", flag)
        .filter(~norm.isin("S", "SI", "1", "TRUE"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("n_activos"),
             r2(F.sum("o_totalprice")).alias("total_activo"))
        .orderBy("o_orderstatus")
    )


SQL_CANCELLED_FILTER = """
WITH flagged AS (
  SELECT *, (['S','si','1','N','NO','0','TRUE'])[(o_orderkey % 7 + 1)::INT] AS cancelado
  FROM orders
)
SELECT o_orderstatus, count(*)::BIGINT AS n_activos, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total_activo
FROM flagged
WHERE upper(trim(cancelado)) NOT IN ('S','SI','1','TRUE')
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

register("cancelled_filter", q_cancelled_filter, SQL_CANCELLED_FILTER)


# --------------------------------------------------------------------------
# union_views — U1/U2: unionByName of two tagged filtered projections.
# --------------------------------------------------------------------------

def q_union_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    open_v = (o.filter(F.col("o_orderstatus") == "O")
              .select("o_orderkey", F.lit("ABIERTO").alias("vista"),
                      r2(F.col("o_totalprice")).alias("monto")))
    done_v = (o.filter(F.col("o_orderstatus") == "F")
              .select("o_orderkey", F.lit("CERRADO").alias("vista"),
                      r2(F.col("o_totalprice")).alias("monto")))
    return open_v.unionByName(done_v)


SQL_UNION_VIEWS = """
SELECT o_orderkey, 'ABIERTO' AS vista, floor((o_totalprice) * 100 + 0.5) / 100 AS monto
FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT o_orderkey, 'CERRADO' AS vista, floor((o_totalprice) * 100 + 0.5) / 100 AS monto
FROM orders WHERE o_orderstatus = 'F'
"""

register("union_views", q_union_views, SQL_UNION_VIEWS)


# --------------------------------------------------------------------------
# column_profile — A14: data-quality profile (one row per column) via a
# single wide aggregation + stack unpivot. Spark dtype strings are engine-
# specific, so the oracle checks the numeric profile columns only.
# --------------------------------------------------------------------------

_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"]


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        column_profile(o, _PROFILE_COLS)
        .select("columna", F.col("nulos").cast("long").alias("nulos"), "pct_nulos",
                F.col("valores_unicos").cast("long").alias("valores_unicos"),
                F.col("total_filas").cast("long").alias("total_filas"))
        .orderBy("columna")
    )


def _profile_sql() -> str:
    parts = [
        f"""SELECT '{c}' AS columna,
        sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulos,
        floor((sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) * 100.0 / count(*)) * 100 + 0.5) / 100 AS pct_nulos,
        count(DISTINCT {c})::BIGINT AS valores_unicos,
        count(*)::BIGINT AS total_filas
        FROM orders"""
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts) + " ORDER BY columna"


register("column_profile", q_column_profile, _profile_sql())


# --------------------------------------------------------------------------
# distinct_counts — A13: exact and approximate distinct. The approximate
# variant (HLL) is the 100 TB scale path; the exact one is the oracle-checked
# output.
# --------------------------------------------------------------------------

def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    a = o.agg(
        F.countDistinct("o_custkey").cast("long").alias("clientes_activos"),
        F.countDistinct("o_orderpriority").cast("long").alias("prioridades"),
    )
    b = li.agg(
        F.countDistinct("l_partkey").cast("long").alias("partes_vendidas"),
        F.countDistinct("l_suppkey").cast("long").alias("proveedores_activos"),
    )
    return a.crossJoin(b)


SQL_DISTINCT_COUNTS = """
SELECT (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT AS clientes_activos,
       (SELECT count(DISTINCT o_orderpriority) FROM orders)::BIGINT AS prioridades,
       (SELECT count(DISTINCT l_partkey) FROM lineitem)::BIGINT AS partes_vendidas,
       (SELECT count(DISTINCT l_suppkey) FROM lineitem)::BIGINT AS proveedores_activos
"""

register("distinct_counts", q_distinct_counts, SQL_DISTINCT_COUNTS)
