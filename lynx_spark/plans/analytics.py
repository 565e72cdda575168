"""The analytic query library: SURVEY §2B's delegated SQL surface plus
the training-data-pipeline extensions, each as

    (spark, sf_dir) -> DataFrame        (Spark-first implementation)
    + an ANSI-SQL oracle string         (DuckDB twin, driver-verified)

Column-name and type discipline (the driver hash-compares values after
sorting columns by name):
- every computed column is aliased identically on both sides;
- every floating-point output is round()ed on both sides (same digits),
  so partial-aggregation order differences can't flip a ULP;
- every computed integer is cast to BIGINT/long on both sides (DuckDB
  SUM(int) returns HUGEINT, Spark length() returns int, ...);
- timestamp outputs are CAST AS STRING on both sides (identical
  rendering verified); DuckDB sees events.ts as TIMESTAMP_NS, so every
  oracle touching events casts it to TIMESTAMP (microseconds) first —
  the same floor truncation the Spark loader applies.

The reference delegates this whole layer to DataFusion
(src/lynx.rs:141); here Catalyst plays that role. Operators the
reference lacks (dedup/similarity/text/multimodal) live in
lynx_spark.operators / lynx_spark.functions and are wired to the
testdata tables here.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lynx_spark.functions import text as tx
from lynx_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    with_fingerprint,
    with_language,
    with_text_stats,
    with_winnow_summary,
)
from lynx_spark.operators import corpus as cp
from lynx_spark.operators import dedup as dd
from lynx_spark.operators import graph as gr
from lynx_spark.operators import layout
from lynx_spark.operators import lm
from lynx_spark.operators import quality as ql
from lynx_spark.operators import ranking as rnk
from lynx_spark.operators import similarity as sim
from lynx_spark.operators.multimodal import binary_length_meta
from lynx_spark.sources.tables import load_table, register_all

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    fn: QueryFn
    oracle: str | None
    description: str


REGISTRY: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None = None, description: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        # Registry invariant (r13, VERDICT r12 task 7): every entry
        # ships with a DuckDB oracle — the rows-only escape hatch is
        # retired (q09b, its last user, was reshaped to a
        # hash-checkable form in r12). Enforced at import so a future
        # oracle-less registration fails the whole suite, not just a
        # skipped parametrize.
        if oracle is None:
            raise ValueError(
                f"{name}: registry entries must carry an ANSI-SQL "
                "oracle (270/270-oracled invariant; reshape the output "
                "to a hash-checkable form instead of omitting it)"
            )
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, description=description)
        return fn

    return deco


# Queries listed here are emitted FIRST by queries()/oracle_sql().  The
# driver samples a prefix-biased subset (~50) of the registry per round;
# front-loading entries with no driver-green row for their CURRENT
# implementation guarantees they get verified. Round-5 list: the new
# media-content checks (q31b/q31c), everything downstream of the
# minhash decorrelation (q23/q57/q58/q59), the reworked PII counts
# (q63), q64 (oracle guard added r04, not re-sampled since), and q31
# (dims path rewritten). Short-lived by design — drop entries once
# their CORRECTNESS row lands.
_VERIFY_FIRST: list[str] = [
    # Round 14: empty — q09b's re-sampled row landed green in
    # CORRECTNESS_r13.json, so it was dropped per the list's contract.
]


def _never_driver_green() -> list[str]:
    """Registry names with no green row in any CORRECTNESS_r*.json at
    the repo root — auto-promoted ahead of everything else so the
    driver's prefix-biased ~50-query sample always verifies new
    queries without anyone hand-maintaining the list (the manual
    _VERIFY_FIRST remains for re-verifying REWRITTEN queries, which
    history can't detect). Best-effort: missing/unreadable history
    files mean nothing auto-promotes."""
    import json
    from pathlib import Path

    green: set[str] = set()
    root = Path(__file__).resolve().parents[2]
    try:
        for f in sorted(root.glob("CORRECTNESS_r*.json")):
            try:
                data = json.loads(f.read_text())
            except (OSError, ValueError):
                continue
            for name, row in data.items():
                if not isinstance(row, dict):
                    continue
                # oracled pass, or a rows-only query that the driver
                # already sampled (no_oracle is the strongest check it
                # can ever get — re-promoting it would burn a slot of
                # the ~50-query sample every round forever)
                if row.get("rows_match") or (
                    row.get("err") == "no_oracle"
                    and row.get("spark_rows") is not None
                ):
                    green.add(name)
    except OSError:
        return []
    return [n for n in REGISTRY if n not in green]


def _ordered() -> dict[str, QuerySpec]:
    unknown = set(_VERIFY_FIRST) - REGISTRY.keys()
    assert not unknown, f"_VERIFY_FIRST names not in REGISTRY: {sorted(unknown)}"
    auto = [n for n in _never_driver_green() if n not in _VERIFY_FIRST]
    # manual REWRITES outrank never-sampled queries: the front list can
    # exceed the driver's ~50-query sample, and a rewrite of a
    # previously-green query losing verification is worse than a brand-
    # new query waiting one round
    front = [n for n in _VERIFY_FIRST if n in REGISTRY] + auto
    rest = [n for n in REGISTRY if n not in front]
    return {n: REGISTRY[n] for n in front + rest}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle}


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# DuckDB sees events.ts as TIMESTAMP_NS; normalize to microseconds
_EV = (
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
    "value, props FROM events"
)

# =====================================================================
# §2B relational surface
# =====================================================================


@q(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(round(sum(l_quantity), 2) / count(*), 4) AS avg_qty,
  round(round(sum(l_extendedprice), 2) / count(*), 4) AS avg_price,
  round(round(sum(l_discount), 2) / count(*), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    description="filter + hash-agg with 8 aggregates (TPC-H Q1 shape)",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            # stable-sum averages: round the (exact-decimal-data) sum
            # first so neither engine's accumulation order can flip a
            # rounding boundary (see q42's note)
            F.round(F.round(F.sum("l_quantity"), 2) / F.count("*"), 4).alias("avg_qty"),
            F.round(F.round(F.sum("l_extendedprice"), 2) / F.count("*"), 4).alias("avg_price"),
            F.round(F.round(F.sum("l_discount"), 2) / F.count("*"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "q02_topk_orders",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
    description="ORDER BY + LIMIT fused to top-k (TakeOrderedAndProject)",
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price")
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@q(
    "q03_shipping_priority",
    oracle="""
SELECT l_orderkey,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  CAST(o_orderdate AS VARCHAR) AS orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
    description="3-way join + agg + top-k (TPC-H Q3 shape)",
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1996-03-15").cast("timestamp")
    cust = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("string").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@q(
    "q04_order_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
    description="EXISTS -> left-semi join + agg (TPC-H Q4 shape)",
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders").alias("o")
    li = T(spark, sf_dir, "lineitem").alias("l")
    cond = (F.col("l.l_orderkey") == F.col("o.o_orderkey")) & (
        F.col("l.l_shipdate") > F.col("o.o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@q(
    "q05_region_revenue",
    oracle="""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    description="6-way join with broadcast dims (TPC-H Q5 shape)",
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = T(spark, sf_dir, "customer")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@q(
    "q06_forecast_revenue",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
""",
    description="pure filter + global agg; predicate pushdown showcase",
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.05)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


@q(
    "q07_window_rank",
    oracle="""
SELECT o_orderpriority, o_orderkey, total_price, rnk FROM (
  SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS total_price,
    CAST(row_number() OVER (
      PARTITION BY o_orderpriority
      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
  FROM orders) t
WHERE rnk <= 3
""",
    description="row_number window, top-3 per partition",
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        T(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@q(
    "q08_window_running",
    oracle=f"""
WITH ev AS ({_EV})
SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts_s,
  round(sum(value) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
  CAST(date_diff('second',
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS BIGINT) AS gap_s
FROM ev WHERE user_id < 50
""",
    description="running aggregate + lag over event-time window",
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts_s"),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_value"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
        .cast("long")
        .alias("gap_s"),
    )


@q(
    "q09_distinct_agg",
    oracle=f"""
WITH ev AS ({_EV})
SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n_events,
  round(sum(value), 2) AS total_value,
  round(round(sum(value), 2) / count(*), 4) AS avg_value
FROM ev GROUP BY event_type
""",
    description="COUNT DISTINCT + plain aggregates per group",
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.round(F.sum("value"), 2) / F.count("*"), 4).alias("avg_value"),
        )
    )


@q(
    "q09b_approx_distinct",
    # The HLL sketch estimate itself is implementation-specific, so the
    # hash-comparable output is (exact, bound-flag): the Spark side
    # computes BOTH the exact distinct and the HLL++ estimate and folds
    # the documented 3*rsd accuracy bound (rsd=0.05 default -> 0.15)
    # into a boolean; DuckDB emits the same exact count with a literal
    # TRUE. A sketch drifting outside the bound flips the flag and the
    # driver hash-mismatches — the bound IS the correctness claim.
    oracle=f"""
WITH ev AS ({_EV})
SELECT event_type,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
  TRUE AS within_bound
FROM ev GROUP BY event_type
""",
    description=(
        "approx_count_distinct (HyperLogLog++) per event_type, emitted "
        "as (exact, within-3*rsd flag) so the sketch is hash-checkable"
    ),
)
def q09b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            "event_type",
            "n_exact",
            # ADVICE r12: an all-NULL-user_id group has n_exact = 0 and
            # 0/0 would emit NULL against the oracle's literal TRUE —
            # both engines agree trivially when the exact count is 0,
            # so the flag is TRUE by definition there.
            F.when(F.col("n_exact") == 0, F.lit(True))
            .otherwise(
                F.abs(F.col("approx_users") - F.col("n_exact"))
                / F.col("n_exact")
                <= F.lit(0.15)
            )
            .alias("within_bound"),
        )
    )


@q(
    "q10_set_ops",
    oracle="""
(SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 8000
 UNION
 SELECT o_custkey AS custkey FROM orders
 WHERE o_orderstatus = 'F' AND o_totalprice > 450000)
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
    description="UNION / EXCEPT set operations",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    high_bal = cust.filter(F.col("c_acctbal") > 8000).select(
        F.col("c_custkey").alias("custkey")
    )
    big_f = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 450000)
    ).select(F.col("o_custkey").alias("custkey"))
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return high_bal.union(big_f).distinct().subtract(urgent)


@q(
    "q11_scalar_functions",
    oracle="""
SELECT o_orderkey,
  upper(substr(o_orderstatus, 1, 1)) AS status_u,
  CAST(year(o_orderdate) AS BIGINT) AS order_year,
  CAST(month(o_orderdate) AS BIGINT) AS order_month,
  CASE WHEN o_totalprice < 100000 THEN 'small'
       WHEN o_totalprice < 300000 THEN 'medium'
       ELSE 'large' END AS size_bucket,
  round(o_totalprice * 0.07, 2) AS fee,
  CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
  concat(o_orderstatus, '-', o_orderpriority) AS status_prio,
  coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm
FROM orders WHERE o_orderkey % 7 = 0
""",
    description="string/date/conditional scalar function surface",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.upper(F.substring("o_orderstatus", 1, 1)).alias("status_u"),
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
            F.when(F.col("o_totalprice") < 100000, "small")
            .when(F.col("o_totalprice") < 300000, "medium")
            .otherwise("large")
            .alias("size_bucket"),
            F.round(F.col("o_totalprice") * 0.07, 2).alias("fee"),
            F.length("o_orderpriority").cast("long").alias("prio_len"),
            F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
            F.coalesce(
                F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")
            ).alias("status_norm"),
        )
    )


@q(
    "q12_events_daily",
    oracle="""
SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
  count(*) AS n, round(sum(value), 2) AS total_value,
  round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
FROM events GROUP BY 1, 2
""",
    description="daily rollup — the query-side twin of the engine's "
    "daily partition key (buffer.rs:8-28)",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
    )


@q(
    "q13_self_join_funnel",
    oracle=f"""
WITH ev AS ({_EV})
SELECT a.user_id AS user_id, count(*) AS n_pairs
FROM ev a JOIN ev b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
GROUP BY a.user_id
""",
    description="self-join funnel: click -> purchase within 10 minutes "
    "(the reference's one reachable join shape, SURVEY §2B)",
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").alias("a")
    b = ev.filter(F.col("event_type") == "purchase").alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
    )


@q(
    "q14_rollup",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
  coalesce(l_linestatus, 'ALL') AS linestatus,
  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    description="ROLLUP grouping sets with subtotals",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@q(
    "q15_correlated_subquery",
    oracle="""
SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
FROM part p
WHERE p_retailprice > 1.15 * (
  SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand)
""",
    description="correlated scalar subquery (Catalyst decorrelation)",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
        FROM part p
        WHERE p_retailprice > 1.15 * (
          SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand)
        """
    )


@q(
    "q16_having_in",
    oracle="""
SELECT l_suppkey, count(*) AS n_items, round(sum(l_quantity), 2) AS total_qty
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_suppkey HAVING count(*) > 5
""",
    description="IN subquery (semi join) + HAVING",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_suppkey, count(*) AS n_items,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_suppkey HAVING count(*) > 5
        """
    )


@q(
    "q17_anti_join",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    description="NOT EXISTS -> left-anti join",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@q(
    "q18_events_json",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
  count(*) AS n, round(round(sum(value), 2) / count(*), 4) AS avg_value
FROM events GROUP BY 1
""",
    description="JSON extraction from a string column + agg",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "events")
        .groupBy(
            (F.get_json_object("props", "$.k").cast("long") % 10).alias("k_mod")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.round(F.sum("value"), 2) / F.count("*"), 4).alias("avg_value"),
        )
    )


@q(
    "q19_asof_join",
    oracle=f"""
WITH ev AS ({_EV}), w AS (
  SELECT event_id, user_id, ts, event_type,
    max(CASE WHEN event_type = 'click' THEN ts END) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
  FROM ev)
SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts_s,
  CAST(last_click_ts AS VARCHAR) AS last_click_s,
  CAST(date_diff('second', last_click_ts, ts) AS BIGINT) AS since_click_s
FROM w WHERE event_type = 'error'
""",
    description="as-of join: most recent prior click per error event, "
    "expressed as a conditional running max (no cross join)",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("string").alias("ts_s"),
            F.col("last_click_ts").cast("string").alias("last_click_s"),
            (F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts"))
            .cast("long")
            .alias("since_click_s"),
        )
    )


@q(
    "q20_percentiles",
    oracle=f"""
WITH ev AS ({_EV})
SELECT event_type,
  round(quantile_cont(value, 0.5), 4) AS p50,
  round(quantile_cont(value, 0.9), 4) AS p90,
  round(quantile_cont(value, 0.99), 4) AS p99
FROM ev GROUP BY event_type
""",
    description="exact interpolated percentiles per group",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
    )


@q(
    "q28_sessionize",
    oracle=f"""
WITH ev AS ({_EV}), l AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         OR date_diff('second',
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 300
         THEN 1 ELSE 0 END AS is_new
  FROM ev),
s AS (
  SELECT user_id,
    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM l)
SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions, count(*) AS n_events,
  round(CAST(count(*) AS DOUBLE) / max(sid), 4) AS events_per_session
FROM s GROUP BY user_id
""",
    description="sessionization: 5-minute-gap session windows via "
    "lag + running sum (batch twin of streaming session windows)",
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 300), 1).otherwise(0)
    sid = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("sid", sid)
        .groupBy("user_id")
        .agg(
            F.max("sid").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
            F.round(
                F.count("*").cast("double") / F.max("sid"), 4
            ).alias("events_per_session"),
        )
    )


@q(
    "q32_window_frames",
    oracle=f"""
WITH ev AS ({_EV})
SELECT event_id, user_id, event_type,
  round(avg(value) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3,
  round(sum(value) OVER (
    PARTITION BY user_id ORDER BY epoch_s
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS sum_1h,
  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
    AS next_type,
  round(first_value(value) OVER (
    PARTITION BY user_id ORDER BY ts, event_id), 4) AS first_val,
  round(last_value(value) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 4)
    AS last_val,
  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id)
       AS BIGINT) AS quartile,
  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY event_type)
       AS BIGINT) AS type_rank
FROM (SELECT *, CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
                     AS BIGINT) AS epoch_s FROM ev)
WHERE user_id < 20
""",
    description="window-frame surface: moving avg (ROWS), event-time "
    "RANGE frame, lead, first/last_value, ntile, dense_rank",
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .withColumn("epoch_s", F.unix_timestamp("ts"))
    )
    w_rows = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_range = (
        Window.partitionBy("user_id").orderBy("epoch_s").rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.avg("value").over(w_rows.rowsBetween(-2, 0)), 4).alias("mov_avg3"),
        F.round(F.sum("value").over(w_range), 4).alias("sum_1h"),
        F.lead("event_type").over(w_rows).alias("next_type"),
        F.round(F.first("value").over(w_rows), 4).alias("first_val"),
        F.round(
            F.last("value").over(
                w_rows.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
            4,
        ).alias("last_val"),
        F.ntile(4)
        .over(Window.partitionBy("user_id").orderBy("value", "event_id"))
        .cast("long")
        .alias("quartile"),
        F.dense_rank()
        .over(Window.partitionBy("user_id").orderBy("event_type"))
        .cast("long")
        .alias("type_rank"),
    )


@q(
    "q33_cube",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
  coalesce(o_orderpriority, 'ALL') AS priority,
  count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    description="CUBE grouping sets (all 4 grouping combinations)",
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@q(
    "q34_predicates",
    oracle="""
SELECT p_partkey, p_name, p_brand, p_size
FROM part
WHERE p_name LIKE '%al%'
  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
  AND p_size BETWEEN 10 AND 40
  AND p_type IS NOT NULL
  AND NOT (p_retailprice < 905.0)
""",
    description="predicate surface: LIKE, IN, BETWEEN, IS NOT NULL, NOT",
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%al%")
        & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_size").between(10, 40)
        & F.col("p_type").isNotNull()
        & ~(F.col("p_retailprice") < 905.0)
    ).select("p_partkey", "p_name", "p_brand", "p_size")


@q(
    "q35_intersect",
    oracle="""
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
""",
    description="INTERSECT set operation",
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@q(
    "q36_date_functions",
    oracle="""
SELECT o_orderkey,
  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
  CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS qtr,
  CAST(extract(dow FROM o_orderdate) AS BIGINT) AS dow,
  CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS BIGINT)
    AS days_to_2002,
  CAST(o_orderdate + INTERVAL 90 DAY AS VARCHAR) AS due_ts
FROM orders WHERE o_orderkey % 13 = 0
""",
    description="date/time function surface: date_trunc, extract, "
    "date arithmetic (mirrors the engine's partition-key math)",
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dow: 0=Sunday..6
    return o.select(
        "o_orderkey",
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("order_month"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("days_to_2002"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .cast("string")
        .alias("due_ts"),
    )


@q(
    "q38_multiset_ops",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
""",
    description="INTERSECT ALL (multiset semantics, bag intersection)",
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b)


@q(
    "q39_string_functions",
    oracle="""
SELECT c_custkey,
  replace(c_name, 'Customer', 'Cust') AS short_name,
  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
  trim(concat('  ', c_mktsegment, '  ')) AS seg_trim,
  substr(reverse(c_name), 1, 5) AS rev5,
  CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
  lower(c_mktsegment) AS seg_lower,
  repeat(left(c_mktsegment, 1), 3) AS tripled
FROM customer WHERE c_custkey % 11 = 0
""",
    description="string function surface: replace/lpad/trim/reverse/"
    "position/case/repeat",
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") % 11 == 0)
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "Customer", "Cust").alias("short_name"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit("  "))).alias(
            "seg_trim"
        ),
        F.substring(F.reverse("c_name"), 1, 5).alias("rev5"),
        F.instr("c_name", "#").cast("long").alias("hash_pos"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.repeat(F.substring("c_mktsegment", 1, 1), 3).alias("tripled"),
    )


@q(
    "q40_array_functions",
    oracle="""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_id, label,
  CAST(len(e) AS BIGINT) AS dim,
  round(list_max(e), 5) AS max_elem,
  round(list_min(e), 5) AS min_elem,
  round(list_sum(e[1:8]), 5) AS head8_sum,
  CAST(len(list_filter(e, x -> x > 0)) AS BIGINT) AS n_positive
FROM v WHERE vec_id % 17 = 0
""",
    description="array/list function surface over embeddings "
    "(superset — no nested types exist in the reference, SURVEY §1.3)",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 17 == 0)
        .select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    return v.select(
        "vec_id",
        "label",
        F.size("e").cast("long").alias("dim"),
        F.round(F.array_max("e"), 5).alias("max_elem"),
        F.round(F.array_min("e"), 5).alias("min_elem"),
        F.round(
            F.aggregate(
                F.slice("e", 1, 8), F.lit(0.0), lambda acc, x: acc + x
            ),
            5,
        ).alias("head8_sum"),
        F.size(F.filter("e", lambda x: x > 0)).cast("long").alias("n_positive"),
    )


@q(
    "q41_gap_fill_locf",
    oracle=f"""
WITH ev AS ({_EV}),
grid AS (
  SELECT u.user_id, t.slot
  FROM (SELECT DISTINCT user_id FROM ev WHERE user_id < 10) u
  CROSS JOIN (
    SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                  TIMESTAMP '2024-01-07 23:00:00',
                                  INTERVAL 1 HOUR)) AS slot) t),
obs AS (
  SELECT user_id, date_trunc('hour', ts) AS slot, round(sum(value), 2) AS v
  FROM ev WHERE user_id < 10 GROUP BY 1, 2)
SELECT g.user_id, CAST(g.slot AS VARCHAR) AS slot_s,
  round(last_value(o.v IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.slot
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS v_locf
FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.slot = g.slot
""",
    description="time-series gap fill: dense hourly grid + "
    "last-observation-carried-forward (the resampling surface a TSDB "
    "needs; grid via sequence/generate_series, LOCF via IGNORE NULLS "
    "window)",
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    users = ev.select("user_id").distinct()
    slots = F.explode(
        F.sequence(
            F.lit("2024-01-01 00:00:00").cast("timestamp"),
            F.lit("2024-01-07 23:00:00").cast("timestamp"),
            F.expr("INTERVAL 1 HOUR"),
        )
    ).alias("slot")
    grid = users.select("user_id", slots)
    obs = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("slot")
    ).agg(
        # hourly SUM (see q42's note on boundary-proof rounded sums)
        F.round(F.sum("value"), 2).alias("v")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, ["user_id", "slot"], "left")
        .select(
            "user_id",
            F.col("slot").cast("string").alias("slot_s"),
            F.round(F.last("v", ignorenulls=True).over(w), 2).alias("v_locf"),
        )
    )


@q(
    "q42_downsample",
    oracle=f"""
WITH ev AS ({_EV})
SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) AS VARCHAR) AS bucket_s,
  event_type, count(*) AS n,
  round(sum(value), 2) AS total_value
FROM ev WHERE ts < TIMESTAMP '2024-01-02'
GROUP BY 1, 2
""",
    description="15-minute downsampling (window() tumbling buckets)",
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.sources.tables import load_events_between

    # range bound applied to the raw column so it reaches the scan
    ev = load_events_between(spark, sf_dir, hi="2024-01-02")
    return (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            # bucket SUM, not mean: events.value is 2-decimal data, so a
            # rounded sum is always 0.005 from any round(,2) boundary —
            # immune to accumulation-order ULP noise. Small-denominator
            # means of decimal data land exactly ON rounding boundaries
            # and flip between engines (observed at sf0.1).
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("bucket_s"),
            "event_type",
            "n",
            "total_value",
        )
    )


@q(
    "q47_asof_cogroup",
    oracle=f"""
WITH ev AS ({_EV}), w AS (
  SELECT event_id, user_id, ts, event_type,
    max(CASE WHEN event_type = 'click' THEN ts END) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
  FROM ev)
SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts_s,
  CAST(last_click_ts AS VARCHAR) AS last_click_s
FROM w WHERE event_type = 'error'
""",
    description="as-of join via cogrouped applyInPandas (pandas "
    "merge_asof per user) — hash-verified against the declarative "
    "running-max formulation (q19); the cogroup tier of the pandas API",
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators.grouped import asof_join_cogroup

    ev = T(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join_cogroup(errors, clicks).select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts_s"),
        F.col("last_click_ts").cast("string").alias("last_click_s"),
    )


def _curation_oracle(min_words: int = 20, max_stop: float = 0.35) -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    norm = ("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
            " ' +', ' ', 'g'))")
    return f"""
WITH normed AS (SELECT doc_id, {norm} AS norm FROM documents),
survivors AS (
  SELECT md5(norm) AS fp, CAST(min(doc_id) AS BIGINT) AS doc_id,
    count(*) AS n_copies, min(norm) AS norm
  FROM normed GROUP BY md5(norm)),
stats AS (
  SELECT fp, doc_id, n_copies,
    CAST(len(string_split_regex(trim(norm), '\\s+')) AS BIGINT) AS n_words,
    round(CAST(len(list_filter(string_split_regex(trim(norm), '\\s+'),
                               x -> x IN ({stop_list}))) AS DOUBLE)
          / len(string_split_regex(trim(norm), '\\s+')), 4) AS stopword_ratio
  FROM survivors)
SELECT doc_id, n_copies, n_words, stopword_ratio,
  CASE WHEN substr(fp, 1, 1) < 'c' THEN 'train' ELSE 'test' END AS split
FROM stats
WHERE n_words >= {min_words} AND stopword_ratio <= {max_stop}
"""


@q(
    "q48_curation_pipeline",
    oracle=_curation_oracle(),
    description="the end-to-end curation pipeline: normalize -> exact "
    "dedup -> quality gate -> deterministic split, composed as ONE "
    "declarative plan (one shuffle end to end)",
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.plans.pipeline import curate_documents

    return curate_documents(T(spark, sf_dir, "documents"))


# =====================================================================
# training-data pipeline extensions (dedup / similarity / text / media)
# =====================================================================


@q(
    "q43_event_streaks",
    oracle=f"""
WITH ev AS ({_EV}), marked AS (
  SELECT user_id, ts, event_id, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
    - row_number() OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id) AS island
  FROM ev),
runs AS (
  SELECT user_id, count(*) AS run_len
  FROM marked GROUP BY user_id, event_type, island)
SELECT user_id, CAST(max(run_len) AS BIGINT) AS max_streak,
  CAST(sum(run_len) AS BIGINT) AS n_events
FROM runs GROUP BY user_id
""",
    description="longest same-event streak per user: applyInPandas "
    "imperative pass on the Spark side, hash-verified against the "
    "gaps-and-islands SQL formulation (the UDF/UDAF extension surface "
    "the reference lacks, SURVEY §2B last row)",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators.grouped import longest_event_streaks

    return longest_event_streaks(T(spark, sf_dir, "events"))


@q(
    "q44_train_test_split",
    oracle="""
SELECT doc_id,
  CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train' ELSE 'test' END
    AS split
FROM documents
""",
    description="deterministic hash-based train/test split (~75/25 via "
    "first md5 hex digit) — reproducible across engines and runs",
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.substring(F.md5("text"), 1, 1) < "c", "train")
        .otherwise("test")
        .alias("split"),
    )


def _contamination_oracle(n: int = 8, bench_max_id: int = 20) -> str:
    gram = " || ' ' || ".join(f"w[i+{k}]" if k else "w[i]" for k in range(n))
    return f"""
WITH words AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
               FROM documents),
sh AS (
  SELECT DISTINCT doc_id AS doc, {gram} AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {n - 1})) AS i
        FROM words WHERE len(w) >= {n}))
SELECT c.doc AS doc_id, b.doc AS bench_id, count(*) AS n_common
FROM sh c JOIN sh b ON c.shingle = b.shingle
WHERE b.doc < {bench_max_id} AND c.doc >= {bench_max_id}
GROUP BY 1, 2
"""


@q(
    "q45_contamination",
    oracle=_contamination_oracle(),
    description="benchmark-contamination check: corpus documents "
    "sharing 8-gram shingles with a held-out benchmark set (docs with "
    "id < 20), via the inverted-index join — the standard eval-leakage "
    "sweep for training corpora",
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dd.shingle_table(T(spark, sf_dir, "documents"), "doc_id", "text", n=8)
    bench = sh.filter(F.col("doc") < 20).select(
        F.col("doc").alias("bench_id"), "shingle"
    )
    corpus = sh.filter(F.col("doc") >= 20).select(
        F.col("doc").alias("doc_id"), "shingle"
    )
    return (
        corpus.join(bench, "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_common"))
    )


@q(
    "q46_normalize",
    oracle="""
SELECT doc_id,
  substr(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')), 1, 60) AS norm_prefix,
  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                  ' +', ' ', 'g'))) AS BIGINT) AS norm_len
FROM documents
""",
    description="text normalization: lowercase, strip non-alnum, "
    "collapse whitespace — the canonicalization step before dedup",
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return T(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(norm, 1, 60).alias("norm_prefix"),
        F.length(norm).cast("long").alias("norm_len"),
    )


@q(
    "q49_repetition_signals",
    oracle=r"""
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
g AS (SELECT doc_id, w,
        list_transform(generate_series(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i + 1]) AS gr
      FROM d WHERE len(w) >= 2)
SELECT doc_id,
  CAST(len(w) AS BIGINT) AS n_words,
  round(1 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4)
    AS dup_word_frac,
  round(list_max(list_transform(list_distinct(w),
          x -> len(list_filter(w, y -> y = x))))
        / CAST(len(w) AS DOUBLE), 4) AS top_word_frac,
  round(list_max(list_transform(list_distinct(gr),
          x -> len(list_filter(gr, y -> y = x))))
        / CAST(len(gr) AS DOUBLE), 4) AS top_2gram_frac
FROM g
""",
    description="Gopher-style repetition/quality signals (duplicate-"
    "word fraction, top-word and top-2gram mass) as pure per-row array "
    "expressions — zero shuffles at any corpus size",
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.repetition_signals(T(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "q50_sequence_packing",
    oracle=rf"""
WITH t AS (SELECT doc_id, source AS shard,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents),
p AS (SELECT doc_id, shard, n_tokens,
        COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM t)
SELECT doc_id, shard, n_tokens,
  CAST(floor(prefix / {cp.PACK_BUDGET}) AS BIGINT) AS bin_id,
  CAST(prefix % {cp.PACK_BUDGET} AS BIGINT) AS bin_offset
FROM p
""",
    description="deterministic greedy sequence packing into fixed "
    "token-budget bins, per shard (per-shard windows — no global "
    "order, shards pack in parallel)",
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.pack_sequences(
        T(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


@q(
    "q51_stratified_split",
    oracle="""
SELECT doc_id, source, lang,
  CASE WHEN frac < 0.8 THEN 'train'
       WHEN frac < 0.9 THEN 'val'
       ELSE 'test' END AS split
FROM (SELECT doc_id, source, lang,
        (row_number() OVER (PARTITION BY source, lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1)
          / CAST(count(*) OVER (PARTITION BY source, lang) AS DOUBLE)
          AS frac
      FROM documents)
""",
    description="per-stratum deterministic train/val/test split "
    "(md5-ordered within each (source, lang) stratum) — exact "
    "fractions per stratum, strata processed in parallel",
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.stratified_split(
        T(spark, sf_dir, "documents"), "doc_id", ["source", "lang"]
    )


#: target language mixture for q52 (the DoReMi-style reweighting demo)
_MIX_TARGETS = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}


@q(
    "q52_mixture_weights",
    oracle=f"""
WITH counts AS (SELECT lang AS domain, count(*) AS n_docs
                FROM documents GROUP BY lang),
tot AS (SELECT sum(n_docs) AS _total FROM counts)
SELECT domain, n_docs,
  round(n_docs / CAST(_total AS DOUBLE), 6) AS actual_frac,
  round(CASE domain {' '.join(f"WHEN '{k}' THEN CAST({v} AS DOUBLE)" for k, v in _MIX_TARGETS.items())} ELSE 0.0 END, 6) AS target_frac,
  round(CASE domain {' '.join(f"WHEN '{k}' THEN CAST({v} AS DOUBLE)" for k, v in _MIX_TARGETS.items())} ELSE 0.0 END
        / (n_docs / CAST(_total AS DOUBLE)), 4) AS weight
FROM counts, tot
""",
    description="domain-mixture reweighting: per-language sampling "
    "weight = target_frac / actual_frac (one aggregate to domain "
    "granularity + a single-row broadcast total)",
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.mixture_weights(
        T(spark, sf_dir, "documents"), "lang", _MIX_TARGETS
    )


# the q53 oracle, shared verbatim by the q62 percentile gate built on it
_ENTROPY_ORACLE = r"""
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents WHERE len(string_split_regex(trim(text), '\s+')) >= 1)
SELECT doc_id,
  CAST(len(w) AS BIGINT) AS n_words,
  round(list_sum(list_transform(list_sort(list_distinct(w)),
    x -> (len(list_filter(w, y -> y = x)) / CAST(len(w) AS DOUBLE))
         * -log2(len(list_filter(w, y -> y = x)) / CAST(len(w) AS DOUBLE))
  )), 4) AS word_entropy
FROM d
"""


@q(
    "q53_word_entropy",
    oracle=_ENTROPY_ORACLE,
    description="Shannon entropy of the per-document word distribution "
    "(language-model-free quality proxy) — zero-shuffle array exprs; "
    "terms fold in sorted word order so both engines sum identically",
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql.word_entropy(T(spark, sf_dir, "documents"), "doc_id", "text")


_PROFILE_COLS = ["o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"]


@q(
    "q54_profile",
    oracle=" UNION ALL ".join(
        f"""
SELECT '{c}' AS col_name, count(*) AS n_rows,
  CAST(count(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT) AS n_nulls,
  CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
  CAST(min({c}) AS VARCHAR) AS min_value,
  CAST(max({c}) AS VARCHAR) AS max_value
FROM orders"""
        for c in _PROFILE_COLS
    ),
    description="Deequ-style dataset profiling: null/distinct/min/max "
    "per column in ONE aggregation pass over one scan (stack-unpivoted "
    "to rows) — profiling cost stays a single pass at any width",
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql.profile_columns(T(spark, sf_dir, "orders"), _PROFILE_COLS)


@q(
    "q55_constraints",
    oracle="""
SELECT 'l_orderkey_not_null' AS rule,
  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violations FROM lineitem
UNION ALL
SELECT 'l_quantity_between_1_50',
  CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                  OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
UNION ALL
SELECT 'l_quantity_le_l_extendedprice',
  CAST(sum(CASE WHEN l_quantity IS NULL OR l_extendedprice IS NULL
                  OR l_quantity > l_extendedprice THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
UNION ALL
SELECT 'unique_l_orderkey_l_linenumber',
  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
  FROM lineitem
""",
    description="declarative constraint validation (Deequ-style "
    "checks): every rule a conditional sum in ONE aggregation pass, "
    "uniqueness as count minus distinct-count riding the same scan",
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return ql.validate(
        li,
        [
            ql.not_null("l_orderkey"),
            ql.in_range("l_quantity", 1, 50),
            ql.ordered("l_quantity", "l_extendedprice"),
        ],
        unique=["l_orderkey", "l_linenumber"],
    )


@q(
    "q60_unigram_lm",
    oracle=r"""
WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM documents),
c AS (SELECT doc_id, word, count(*) AS n FROM w WHERE word <> ''
      GROUP BY doc_id, word),
v AS (SELECT word, sum(n) AS c FROM c GROUP BY word),
s AS (SELECT sum(c) AS total FROM v),
d AS (SELECT c.doc_id, sum(c.n) AS n_tokens,
        list_sum(list(c.n * ln(v.c / CAST(s.total AS DOUBLE))
                      ORDER BY c.word)) AS lp
      FROM c JOIN v USING (word), s
      GROUP BY c.doc_id)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  round(lp, 4) + 0 AS logprob, round(lp / n_tokens, 4) + 0 AS avg_logprob
FROM d
""",
    description="per-document log probability under the corpus's own "
    "unigram model (the CCNet/RefinedWeb perplexity-filter shape): two "
    "aggregation trees + one unique-build-key join, log terms folded "
    "in sorted word order for cross-engine determinism",
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.unigram_scores(T(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "q61_dsir_weights",
    oracle=r"""
WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM documents),
c AS (SELECT doc_id, word, count(*) AS n FROM w WHERE word <> ''
      GROUP BY doc_id, word),
c2 AS (SELECT c.*, (d.lang = 'en') AS is_t
       FROM c JOIN documents d USING (doc_id)),
v AS (SELECT word, sum(n) AS cc,
        sum(CASE WHEN is_t THEN n ELSE 0 END) AS ct
      FROM c2 GROUP BY word),
s AS (SELECT sum(cc) AS nc, sum(ct) AS nt, count(*) AS vsz FROM v),
d2 AS (SELECT c.doc_id, sum(c.n) AS n_tokens,
         list_sum(list(c.n * (ln((v.ct + 0.5) / (s.nt + 0.5 * s.vsz))
                            - ln((v.cc + 0.5) / (s.nc + 0.5 * s.vsz)))
                       ORDER BY c.word)) AS lr
       FROM c JOIN v USING (word), s
       GROUP BY c.doc_id)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  round(lr, 4) + 0 AS log_ratio, round(lr / n_tokens, 4) + 0 AS avg_log_ratio
FROM d2
""",
    description="DSIR importance weights (arXiv:2302.03169, unigram "
    "features): log p_target(doc) - log p_corpus(doc) under "
    "add-0.5-smoothed models, target = lang='en' — documents that look "
    "like the target domain get positive weights; the target model is "
    "a filtered second aggregate over the SAME (doc,word) counts",
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.dsir_weights(
        T(spark, sf_dir, "documents"), "doc_id", "text", F.col("lang") == "en"
    )


@q(
    "q62_entropy_gate",
    oracle=f"""
WITH e AS ({_ENTROPY_ORACLE}),
j AS (SELECT e.*, d.source FROM e JOIN documents d USING (doc_id)),
r AS (SELECT *,
        round((row_number() OVER (PARTITION BY source
                 ORDER BY word_entropy DESC, doc_id) - 1)
              / CAST(count(*) OVER (PARTITION BY source) AS DOUBLE), 6)
          AS score_frac
      FROM j)
SELECT doc_id, source, n_words, word_entropy, score_frac
FROM r WHERE score_frac < 0.5
""",
    description="per-domain quality percentile gate: keep the top half "
    "of each source by word entropy — fractions, not absolute cutoffs, "
    "so no domain is gutted; one window per domain, domains rank in "
    "parallel",
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    ent = ql.word_entropy(docs, "doc_id", "text")
    src = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "source")
    return ql.top_fraction(
        ent.join(src, "doc_id"), "word_entropy", ["source"], 0.5, "doc_id"
    ).select("doc_id", "source", "n_words", "word_entropy", "score_frac")


@q(
    "q63_pii_scrub",
    oracle=f"""
WITH s1 AS (SELECT doc_id, text,
        regexp_replace(text, '{tx.PII_EMAIL}', '[EMAIL]', 'g') AS r1
      FROM documents),
s2 AS (SELECT *, regexp_replace(r1, '{tx.PII_IPV4}', '[IP]', 'g') AS r2 FROM s1)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{tx.PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(r1, '{tx.PII_IPV4}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(r2, '{tx.PII_PHONE}')) AS BIGINT) AS n_phones,
  substr(regexp_replace(r2, '{tx.PII_PHONE}', '[PHONE]', 'g'), 1, 60) AS red_prefix,
  CAST(length(regexp_replace(r2, '{tx.PII_PHONE}', '[PHONE]', 'g')) AS BIGINT) AS red_len
FROM s2
""",
    description="PII detection + redaction (C4/Dolma-style scrub): "
    "email/IPv4/phone counts and placeholder-redacted text, all JVM "
    "regex over one row pass — zero shuffle; counts are PROGRESSIVE "
    "(each class counted after the earlier classes are redacted) so "
    "they sum to the placeholders emitted; RE2-compatible patterns "
    "so the DuckDB oracle matches match-for-match (this corpus "
    "contains no PII — the synthetic-PII unit tests exercise the "
    "redaction itself)",
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = tx.with_pii_redacted(T(spark, sf_dir, "documents"))
    return red.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_emails",
        "n_ips",
        "n_phones",
        F.substring("redacted", 1, 60).alias("red_prefix"),
        F.length("redacted").cast("long").alias("red_len"),
    )


@q(
    "q64_embedding_stats",
    oracle="""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_id, CAST(label AS BIGINT) AS label,
  CAST(len(e) AS BIGINT) AS dim,
  round(sqrt(list_sum(list_transform(e, x -> x * x))), 4) AS l2_norm,
  round(list_sum(e) / len(e), 4) + 0 AS mean_val,
  CASE WHEN list_sum(list_transform(e, x -> x * x)) > 0
       THEN round(e[1] / sqrt(list_sum(list_transform(e, x -> x * x))), 4) + 0
       ELSE NULL END AS unit0
FROM v
""",
    description="per-vector embedding audit (dim, L2 norm, component "
    "mean, first normalized component) — the ingest-time check for "
    "zero/unnormalized/truncated vectors; zero-shuffle per-row array "
    "folds in index order, exercising normalize_vectors",
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.embedding_stats(T(spark, sf_dir, "embeddings"))


@q(
    "q21_dedup_exact",
    oracle="""
SELECT md5(text) AS fingerprint, CAST(min(doc_id) AS BIGINT) AS survivor_id,
  count(*) AS copies
FROM documents GROUP BY md5(text)
""",
    description="exact dedup: hash-groupBy survivors",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup_groups(T(spark, sf_dir, "documents"), "doc_id", "text")


def _shingle_cte(
    n: int = dd.SHINGLE_N, max_doc_freq: int = dd.MAX_SHINGLE_DF
) -> str:
    """Shingle CTE with the same document-frequency cap the Spark
    operators apply (dedup.cap_doc_freq) — a no-op at driver scales
    (max observed df is 25 at sf0.1) but keeps oracle and engine
    semantically identical wherever the cap binds."""
    gram = " || ' ' || ".join(f"w[i+{k}]" if k else "w[i]" for k in range(n))
    return f"""
words AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
sh_raw AS MATERIALIZED (
  SELECT DISTINCT doc_id AS doc, {gram} AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {n - 1})) AS i
        FROM words WHERE len(w) >= {n})),
hot AS (SELECT shingle FROM sh_raw GROUP BY shingle
        HAVING count(*) > {max_doc_freq}),
sh AS MATERIALIZED (SELECT doc, shingle,
              ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS base
       FROM sh_raw
       WHERE shingle NOT IN (SELECT shingle FROM hot))
"""


@q(
    "q22_ngram_jaccard",
    oracle=f"""
WITH {_shingle_cte()},
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS a_id, b.doc AS b_id, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2)
SELECT a_id, b_id,
  round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = a_id
JOIN sizes sb ON sb.doc = b_id
WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.6
""",
    description="n-gram Jaccard near-dup pairs via inverted-index join",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.jaccard_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.6
    )


#: id boundary for the incremental-dedup queries: docs below are the
#: "already ingested" corpus, docs at/above are the incoming batch
_SEEN_MAX_ID = 250


@q(
    "q56_incremental_exact",
    oracle=f"""
WITH seen AS (SELECT DISTINCT md5(text) AS fingerprint FROM documents
              WHERE doc_id < {_SEEN_MAX_ID}),
batch AS (SELECT md5(text) AS fingerprint,
                 CAST(min(doc_id) AS BIGINT) AS survivor_id
          FROM documents WHERE doc_id >= {_SEEN_MAX_ID}
          GROUP BY md5(text))
SELECT fingerprint, survivor_id FROM batch
WHERE fingerprint NOT IN (SELECT fingerprint FROM seen)
""",
    description="incremental exact dedup: incoming batch dedups "
    "in-batch then anti-joins the ingested fingerprint store — the "
    "continuous-ingestion shape (one shuffle on the fingerprint)",
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    seen_fps = (
        docs.filter(F.col("doc_id") < _SEEN_MAX_ID)
        .select(F.md5("text").alias("fingerprint"))
        .distinct()
    )
    return dd.incremental_exact_survivors(
        docs.filter(F.col("doc_id") >= _SEEN_MAX_ID),
        seen_fps,
        "doc_id",
        "text",
    )


def _incremental_minhash_oracle() -> str:
    rows = dd.MINHASH_NUM // dd.MINHASH_BANDS
    mh_exprs = ",\n    ".join(dd.minhash_sql_exprs())
    band_exprs = ",\n    ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * rows + r}" for r in range(rows))
        + f")) AS band{b}"
        for b in range(dd.MINHASH_BANDS)
    )
    cand_union = "\n  UNION\n".join(
        f"  SELECT a.doc AS new_id, b.doc AS seen_id FROM bands a "
        f"JOIN bands b ON a.band{b} = b.band{b} "
        f"AND a.doc >= {_SEEN_MAX_ID} AND b.doc < {_SEEN_MAX_ID}"
        for b in range(dd.MINHASH_BANDS)
    )
    return f"""
WITH {_shingle_cte()},
sig AS (SELECT doc,
    {mh_exprs}
  FROM sh GROUP BY doc),
bands AS (SELECT doc,
    {band_exprs}
  FROM sig),
cand AS (
{cand_union}),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT c.new_id, c.seen_id, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc = c.new_id
  JOIN sh b ON b.doc = c.seen_id AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT new_id, seen_id,
  round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = new_id
JOIN sizes sb ON sb.doc = seen_id
WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.5
"""


@q(
    "q57_incremental_minhash",
    oracle=_incremental_minhash_oracle(),
    description="incremental near-dup dedup: incoming batch vs the "
    "ingested corpus via a BIPARTITE MinHash band join (never new x "
    "new or seen x seen), Jaccard-verified — the cross-run twin of "
    "q23 whose seen side reads a signature store at scale",
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return dd.incremental_minhash_matches(
        docs.filter(F.col("doc_id") >= _SEEN_MAX_ID),
        docs.filter(F.col("doc_id") < _SEEN_MAX_ID),
        "doc_id",
        "text",
    )


def _minhash_cand_ctes() -> str:
    """The MinHash-LSH candidate chain (shingles → signatures → band
    hashes → deduped candidate pairs) — shared by the pair oracle
    below and the sketch-audit oracle (q77), which consumes the raw
    candidates rather than the thresholded pairs."""
    rows = dd.MINHASH_NUM // dd.MINHASH_BANDS
    mh_exprs = ",\n    ".join(dd.minhash_sql_exprs())
    band_exprs = ",\n    ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * rows + r}" for r in range(rows))
        + f")) AS band{b}"
        for b in range(dd.MINHASH_BANDS)
    )
    # UNION ALL + explicit outer DISTINCT, NOT a bare UNION chain:
    # DuckDB 1.0.0 drops UNION's dedup when these CTEs sit inside a
    # WITH RECURSIVE query (q58/q59/q74 embed them under the cluster
    # closure) — a pair matching in two bands then reaches `common`
    # twice, the double-counted intersection drives the Jaccard
    # denominator to zero, the NULL comparison drops the edge, and
    # the cluster closure silently loses a component merge (first
    # manifests at sf0.1, where one pair matches in two bands).
    cand_union = "\n  UNION ALL\n".join(
        f"  SELECT a.doc AS a_id, b.doc AS b_id FROM bands a "
        f"JOIN bands b ON a.band{b} = b.band{b} AND a.doc < b.doc"
        for b in range(dd.MINHASH_BANDS)
    )
    return f"""{_shingle_cte()},
sig AS MATERIALIZED (SELECT doc,
    {mh_exprs}
  FROM sh GROUP BY doc),
bands AS MATERIALIZED (SELECT doc,
    {band_exprs}
  FROM sig),
cand AS MATERIALIZED (
  SELECT DISTINCT a_id, b_id FROM (
{cand_union}))"""


def _minhash_pair_ctes() -> str:
    """The full MinHash-LSH pipeline as a CTE chain ending in
    ``pairs(a_id, b_id, jaccard)`` — shared by the q23 oracle and the
    cluster-resolution oracles (q58/q59) that consume the pairs as a
    graph edge list."""
    return f"""{_minhash_cand_ctes()},
sizes AS MATERIALIZED (
  SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS MATERIALIZED (
  SELECT c.a_id, c.b_id, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc = c.a_id
  JOIN sh b ON b.doc = c.b_id AND b.shingle = a.shingle
  GROUP BY 1, 2),
pairs AS MATERIALIZED (
  SELECT a_id, b_id,
    round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc = a_id
  JOIN sizes sb ON sb.doc = b_id
  WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.5)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_pair_ctes()}
SELECT a_id, b_id, jaccard FROM pairs
"""


@q(
    "q23_minhash_lsh",
    oracle=_minhash_oracle(),
    description="MinHash+LSH near-dup pairs (band bucket join, "
    "Jaccard-verified candidates)",
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.5
    )


def _dedup_cluster_ctes() -> str:
    """Recursive reachability over the MinHash pair graph: cluster_id =
    the minimum doc id reachable through near-dup pairs (symmetrized).
    The UNION (not UNION ALL) dedups rows, so the recursion terminates
    at the transitive closure."""
    return f"""{_minhash_pair_ctes()},
edges AS MATERIALIZED (SELECT a_id AS s, b_id AS d FROM pairs
          UNION ALL SELECT b_id, a_id FROM pairs),
reach AS (
  SELECT CAST(doc_id AS BIGINT) AS node, CAST(doc_id AS BIGINT) AS r
  FROM documents
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node),
clusters AS MATERIALIZED (
  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)"""


@q(
    "q58_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_dedup_cluster_ctes()}
SELECT doc_id, cluster_id FROM clusters
""",
    description="dedup-cluster resolution: connected components of the "
    "near-dup pair graph via min-label propagation (one shuffle per "
    "round, rounds = graph diameter — near-cliques from LSH buckets "
    "keep it tiny); cluster_id = min doc id, the keep-first survivor",
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    return gr.dedup_clusters(docs, pairs, "doc_id")


@q(
    "q59_dedup_corpus",
    oracle=f"""
WITH RECURSIVE {_dedup_cluster_ctes()}
SELECT cluster_id AS survivor_id, count(*) AS cluster_size
FROM clusters GROUP BY cluster_id
""",
    description="materialized near-dedup: one row per duplicate "
    "cluster (survivor doc id + cluster size) — filtering the corpus "
    "to survivor_id IS the deduplicated training set",
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    return gr.dedup_corpus_survivors(docs, pairs, "doc_id")


@q(
    "q24_cosine_topk",
    oracle="""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pairs AS (
  SELECT q.vec_id AS qid, n.vec_id AS nid, q.e AS qe, n.e AS ne
  FROM v q JOIN v n ON q.vec_id < 20 AND n.vec_id <> q.vec_id),
elems AS (SELECT qid, nid, unnest(qe) AS x, unnest(ne) AS y FROM pairs),
sums AS (
  SELECT qid, nid,
    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5) AS cos_sim
  FROM elems GROUP BY qid, nid),
ranked AS (
  SELECT qid, nid, cos_sim,
    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid)
         AS BIGINT) AS rnk
  FROM sums)
SELECT qid, nid, cos_sim, rnk FROM ranked WHERE rnk <= 5
""",
    description="exact brute-force cosine top-k (similarity baseline)",
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_topk(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding", max_query_id=20, k=5
    )


def _ann_oracle() -> str:
    bucket_cols = []
    for t in range(sim.NUM_TABLES):
        plane_dots = [
            f"list_dot_product(e, [{', '.join(repr(v) for v in p)}])"
            for p in sim.HYPERPLANES[t]
        ]
        bucket = " + ".join(
            f"(CASE WHEN {d} > 0 THEN {1 << i} ELSE 0 END)"
            for i, d in enumerate(plane_dots)
        )
        bucket_cols.append(f"CAST({bucket} AS BIGINT) AS bucket{t}")
    buckets_sql = ",\n    ".join(bucket_cols)
    # r10: lsh_ann_topk defaults to Hamming-1 multiprobe, so the
    # oracle's candidate join probes the query bucket AND every
    # single-bit flip of it per table (mirrors the q106 oracle)
    def probes(t: int) -> str:
        flips = ", ".join(
            f"xor(q.bucket{t}, {1 << i})"
            for i in range(sim.PLANES_PER_TABLE)
        )
        return f"(q.bucket{t}, {flips})"

    cand_union = "\n  UNION\n".join(
        f"  SELECT q.vec_id AS qid, n.vec_id AS nid FROM v q "
        f"JOIN v n ON n.bucket{t} IN {probes(t)} AND n.vec_id <> q.vec_id "
        f"WHERE q.vec_id < 50"
        for t in range(sim.NUM_TABLES)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
    {buckets_sql}
  FROM embeddings),
cand AS (
{cand_union}),
pairs AS (
  SELECT c.qid, c.nid, q.e AS qe, n.e AS ne
  FROM cand c JOIN v q ON q.vec_id = c.qid JOIN v n ON n.vec_id = c.nid),
elems AS (SELECT qid, nid, unnest(qe) AS x, unnest(ne) AS y FROM pairs),
sums AS (
  SELECT qid, nid,
    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5) AS cos_sim
  FROM elems GROUP BY qid, nid),
ranked AS (
  SELECT qid, nid, cos_sim,
    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid)
         AS BIGINT) AS rnk
  FROM sums)
SELECT qid, nid, cos_sim, rnk FROM ranked WHERE rnk <= 3
"""


@q(
    "q25_ann_lsh",
    oracle=_ann_oracle(),
    description="approximate NN via multi-table random-hyperplane LSH "
    "(the 100 TB scale path: bucket-equality joins, no cross join); "
    "Hamming-1 multiprobe is the default since r10 — recall@3 0.47 "
    "single-probe vs 0.95 multiprobe (q105/q106) at unchanged index "
    "layout and <=5x probe rows for the small query set",
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.lsh_ann_topk(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding", max_query_id=50, k=3
    )


def _ivf_train_sql(
    n_centroids: int, iters: int
) -> tuple[str, str]:
    """The SQL k-means trainer shared by the IVF and SemDeDup
    oracles: seed centroids = the k lowest-id vectors, fixed Lloyd
    iterations with sorted-sum/rounded means (summation order is the
    only cross-engine divergence and sorting removes it — verified
    bit-identical), ending in ``af`` = every vector with its assigned
    cell. Returns (WITH-prefix through af, final-centroid CTE name).
    Distances are rounded to 8dp before every argmin, mirroring
    operators/similarity._ivf_assign."""
    dist = (
        "round(list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1]-p[2])*(p[1]-p[2]))), 8)"
    )
    iter_ctes = []
    prev = "c0"
    for it in range(1, iters + 1):
        d = dist.format(a="x.v", b="c.cv")
        iter_ctes.append(f"""
a{it} AS (
  SELECT x.nid, x.v,
    (SELECT c.cid FROM {prev} c ORDER BY {d}, c.cid LIMIT 1) AS cid
  FROM v x),
m{it} AS (
  SELECT cid, pos, round(list_sum(list_sort(list(val))) / count(*), 6) AS m
  FROM (SELECT a.cid, u.i AS pos, a.v[u.i] AS val
        FROM a{it} a CROSS JOIN LATERAL unnest(range(1, len(a.v) + 1)) u(i))
  GROUP BY cid, pos),
c{it} AS (
  SELECT m.cid, list(m.m ORDER BY m.pos) AS cv FROM m{it} m GROUP BY m.cid
  UNION ALL
  SELECT c.cid, c.cv FROM {prev} c
  WHERE c.cid NOT IN (SELECT cid FROM m{it}))""")
        prev = f"c{it}"
    d_final = dist.format(a="x.v", b="c.cv")
    prefix = f"""
WITH v AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY nid) - 1 AS BIGINT) AS cid, v AS cv
  FROM (SELECT nid, v FROM v ORDER BY nid LIMIT {n_centroids})),
{",".join(iter_ctes)},
af AS (
  SELECT x.nid, x.v,
    (SELECT c.cid FROM {prev} c ORDER BY {d_final}, c.cid LIMIT 1) AS cid
  FROM v x)"""
    return prefix, prev


def _ivf_oracle(
    max_query_id: int = 20,
    k: int = 3,
    n_centroids: int = sim.IVF_K,
    iters: int = sim.IVF_ITERS,
    nprobe: int = sim.IVF_NPROBE,
) -> str:
    """Probe + exact-cosine re-rank over the SQL-trained quantizer
    (_ivf_train_sql)."""
    dist = (
        "round(list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1]-p[2])*(p[1]-p[2]))), 8)"
    )
    train_prefix, prev = _ivf_train_sql(n_centroids, iters)
    d_probe = dist.format(a="q.v", b="c.cv")
    return f"""{train_prefix},
probes AS (
  SELECT q.nid AS qid, q.v AS qv, c.cid
  FROM v q, {prev} c
  WHERE q.nid < {max_query_id}
  QUALIFY row_number() OVER (PARTITION BY q.nid
    ORDER BY {d_probe}, c.cid) <= {nprobe}),
cand AS (
  SELECT DISTINCT p.qid, p.qv, a.nid, a.v
  FROM probes p JOIN af a ON a.cid = p.cid AND a.nid <> p.qid),
elems AS (SELECT qid, nid, unnest(qv) AS x, unnest(v) AS y FROM cand),
sums AS (
  SELECT qid, nid,
    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5) AS cos_sim
  FROM elems GROUP BY qid, nid),
ranked AS (
  SELECT qid, nid, cos_sim,
    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid)
         AS BIGINT) AS rnk
  FROM sums)
SELECT qid, nid, cos_sim, rnk FROM ranked WHERE rnk <= {k}
"""


@q(
    "q25b_ann_ivf",
    oracle=_ivf_oracle(),
    description="approximate NN via IVF (deterministically trained "
    "k-means coarse quantizer, nprobe cell scan, exact re-rank) — the "
    "trained-index alternative to q25's LSH; the oracle trains the "
    "bit-identical model in SQL",
)
def q25b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivf_ann_topk(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        max_query_id=20, k=3,
    )


def _embed_dedup_oracle(threshold: float = 0.8, max_bucket: int = 200) -> str:
    """Oracle twin of cosine_dedup_pairs INCLUDING the bucket cap:
    buckets within ``max_bucket`` emit all i<j pairs; oversized
    buckets emit the star pattern (min id x every other member) —
    the r12 sf1 sweep caught the uncapped oracle diverging the
    moment replicated identical vectors pushed buckets past the cap
    (the operator stayed linear by design; the oracle exploded
    quadratically). Below the cap the branches agree, so the small-SF
    rows are unchanged."""
    bucket_cols = []
    for t in range(sim.NUM_TABLES):
        plane_dots = [
            f"list_dot_product(e, [{', '.join(repr(v) for v in p)}])"
            for p in sim.HYPERPLANES[t]
        ]
        bucket = " + ".join(
            f"(CASE WHEN {d} > 0 THEN {1 << i} ELSE 0 END)"
            for i, d in enumerate(plane_dots)
        )
        bucket_cols.append(f"CAST({bucket} AS BIGINT) AS bucket{t}")
    buckets_sql = ",\n    ".join(bucket_cols)
    ct_ctes = ",\n".join(
        f"ct{t} AS (SELECT bucket{t} AS bh, count(*) AS k, "
        f"min(vec_id) AS rep FROM v GROUP BY 1)"
        for t in range(sim.NUM_TABLES)
    )
    cand_union = "\n  UNION\n".join(
        f"""  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM v a JOIN v b ON a.bucket{t} = b.bucket{t}
    AND a.vec_id < b.vec_id
  JOIN ct{t} ON ct{t}.bh = a.bucket{t}
  WHERE ct{t}.k <= {max_bucket}
  UNION
  SELECT ct{t}.rep AS a_id, m.vec_id AS b_id
  FROM v m JOIN ct{t} ON ct{t}.bh = m.bucket{t}
  WHERE ct{t}.k > {max_bucket} AND m.vec_id > ct{t}.rep"""
        for t in range(sim.NUM_TABLES)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
    {buckets_sql}
  FROM embeddings),
{ct_ctes},
cand AS (
{cand_union}),
pairs AS (
  SELECT c.a_id, c.b_id, a.e AS ae, b.e AS be
  FROM cand c JOIN v a ON a.vec_id = c.a_id JOIN v b ON b.vec_id = c.b_id),
elems AS (SELECT a_id, b_id, unnest(ae) AS x, unnest(be) AS y FROM pairs),
sums AS (
  SELECT a_id, b_id,
    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5) AS cos_sim
  FROM elems GROUP BY a_id, b_id)
SELECT a_id, b_id, cos_sim FROM sums WHERE cos_sim >= {threshold}
"""


@q(
    "q37_embed_dedup",
    oracle=_embed_dedup_oracle(0.8),
    description="embedding-cosine near-dup pairs via LSH candidates "
    "(completes the dedup family: exact/jaccard/minhash/simhash/embed)",
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_dedup_pairs(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.8
    )


def _text_stats_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w
  FROM documents),
m AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars_c,
    CAST(len(w) AS BIGINT) AS n_words,
    round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
          / len(w), 4) AS avg_word_len,
    CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS token_count,
    round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
          / length(text), 4) AS punct_ratio,
    round(CAST(len(list_filter(w, x -> x IN ({stop_list}))) AS DOUBLE)
          / len(w), 4) AS stopword_ratio
  FROM t)
SELECT doc_id, n_chars_c, n_words, avg_word_len, token_count, punct_ratio,
  stopword_ratio,
  round((least(n_words, 100) / 100.0) * (1.0 - stopword_ratio)
        * (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 10.0
                THEN 1.0 ELSE 0.5 END), 4) AS quality_score
FROM m
"""


@q(
    "q26_text_stats",
    oracle=_text_stats_oracle(),
    description="text quality statistics (length/punct/stopword/token "
    "features + quality score), all JVM-side expressions",
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return with_text_stats(docs, "text").select(
        "doc_id",
        "n_chars_c",
        "n_words",
        "avg_word_len",
        "token_count",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


def _lang_oracle() -> str:
    langs = list(LANG_MARKERS)
    score_exprs = ",\n    ".join(
        f"len(list_filter(w, x -> x IN ({', '.join(repr(m) for m in LANG_MARKERS[lang])})))"
        f" AS s_{lang}"
        for lang in langs
    )
    cases = []
    for idx, lang in enumerate(langs):
        conds = [f"s_{lang} > 0"]
        for jdx, other in enumerate(langs):
            if jdx < idx:
                conds.append(f"s_{lang} > s_{other}")
            elif jdx > idx:
                conds.append(f"s_{lang} >= s_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "\n       ".join(cases)
    return f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents),
s AS (
  SELECT doc_id,
    {score_exprs}
  FROM t)
SELECT doc_id,
  CASE {case_sql}
       ELSE 'und' END AS lang_pred
FROM s
"""


@q(
    "q27_lang_id",
    oracle=_lang_oracle(),
    description="marker-word language identification heuristic",
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_language(T(spark, sf_dir, "documents"), "text").select(
        "doc_id", "lang_pred"
    )


@q(
    "q29_fingerprint",
    oracle="""
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
    description="document fingerprinting: stable hash of normalized text",
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_fingerprint(T(spark, sf_dir, "documents"), "text").select(
        "doc_id", "fingerprint"
    )


@q(
    "q29b_winnow_fingerprints",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents),
g AS (
  SELECT doc_id,
    CASE WHEN len(t) >= {tx.WINNOW_K} THEN
      list_transform(generate_series(1, len(t) - {tx.WINNOW_K - 1}),
                     i -> md5(substr(t, i, {tx.WINNOW_K})))
    ELSE []::VARCHAR[] END AS hs
  FROM norm),
f AS (
  SELECT doc_id,
    CASE WHEN len(hs) >= {tx.WINNOW_W} THEN
      list_distinct(list_transform(
        generate_series(1, len(hs) - {tx.WINNOW_W - 1}),
        j -> list_min(hs[j:j + {tx.WINNOW_W - 1}])))
    ELSE []::VARCHAR[] END AS fps
  FROM g)
SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, list_min(fps) AS min_fp
FROM f
""",
    description="winnowing rolling-hash fingerprints (MOSS): per-doc "
    "fingerprint count + min — the partial-overlap detection tier "
    "above whole-document md5 (q29)",
)
def q29b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_winnow_summary(T(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "q30_simhash",
    # the 64-bit majority vote IS portable after all: md5 hex → UBIGINT,
    # per-bit shifts, and a two's-complement fold for bit 63 (the
    # -2^63 term), verified bit-for-bit against the scalar reference
    oracle=r"""
WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 16))::UBIGINT AS hv
      FROM w WHERE word <> ''),
bits AS (SELECT doc_id, u.k,
           CASE WHEN (hv >> CAST(u.k AS INTEGER)) & 1 = 1 THEN 1 ELSE 0 END AS b
         FROM h CROSS JOIN LATERAL unnest(range(0, 64)) u(k)),
agg AS (SELECT doc_id, k, sum(b) AS pos, count(*) AS n FROM bits
        GROUP BY doc_id, k),
sig AS (SELECT doc_id,
          CAST(sum(CASE WHEN 2 * pos > n
               THEN CASE WHEN k = 63 THEN -9223372036854775808
                    ELSE (1::BIGINT << CAST(k AS INTEGER)) END
               ELSE 0 END) AS BIGINT) AS simhash
        FROM agg GROUP BY doc_id)
SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
FROM documents d LEFT JOIN sig s USING (doc_id)
""",
    description="SimHash signatures via Arrow-batched pandas UDF; the "
    "oracle reproduces the 64-bit majority vote in SQL (md5-hex "
    "UBIGINT, per-bit shifts, two's-complement fold at bit 63)",
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_signatures(T(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "q31_media_meta",
    oracle="""
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  'unknown' AS format
FROM documents
""",
    description="multimodal plumbing: binary payloads through "
    "mapInPandas metadata extraction (format sniff + byte length)",
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return binary_length_meta(docs, "doc_id", "payload")


@q(
    "q31b_media_dims",
    oracle="""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(CASE doc_id % 3 WHEN 0 THEN 45 WHEN 1 THEN 41 ELSE 14 END AS BIGINT) AS n_bytes,
  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
  CAST(16 + (doc_id * 7) % 240 AS BIGINT) AS width,
  CAST(16 + (doc_id * 13) % 240 AS BIGINT) AS height
FROM documents
""",
    description="multimodal CONTENT check: real PNG/JPEG/GIF payloads "
    "(valid signatures + headers, synthesized per doc_id) decoded by "
    "the hand-written stdlib header parsers; the oracle predicts "
    "format + width + height arithmetically from doc_id, so a hash "
    "match verifies the parsers on genuine media bytes",
)
def q31b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators.multimodal import (
        extract_media_metadata,
        image_payload_udf,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    payloads = docs.withColumn("payload", image_payload_udf("doc_id"))
    return extract_media_metadata(payloads, "doc_id", "payload")


@q(
    "q31c_audio_meta",
    oracle="""
SELECT CAST(doc_id AS BIGINT) AS doc_id, 'wav' AS format,
  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS BIGINT) AS sample_rate,
  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
  CAST(16 AS BIGINT) AS bits_per_sample,
  CAST(100 + doc_id % 400 AS BIGINT) AS n_samples,
  CAST(floor((100 + doc_id % 400) * 1000.0 /
       CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END)
       AS BIGINT) AS duration_ms
FROM documents
""",
    description="audio CONTENT check: real PCM WAV payloads "
    "(synthesized per doc_id) decoded by the hand-written RIFF chunk "
    "walker; the oracle predicts sample rate / channels / sample "
    "count / duration arithmetically from doc_id",
)
def q31c(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators.multimodal import (
        extract_audio_metadata,
        wav_payload_udf,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    payloads = docs.withColumn("payload", wav_payload_udf("doc_id"))
    return extract_audio_metadata(payloads, "doc_id", "payload")


# ---------------------------------------------------------------------------
# round 5: corpus boilerplate / substring dedup / decontamination /
# temperature sampling / composite Gopher filter
# ---------------------------------------------------------------------------

# shared CTE prefix: words per document, mirrored on the Spark side by
# _util.words_col — the one tokenization both engines agree on
_WORDS_CTE = r"""
WITH d AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
           FROM documents)
"""


@q(
    "q65_frequent_ngrams",
    oracle=_WORDS_CTE
    + r"""
, g AS (SELECT doc_id,
          unnest(list_transform(generate_series(1, len(w) - 2),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
            AS ngram
        FROM d WHERE len(w) >= 3)
SELECT ngram,
  CAST(count(*) AS BIGINT) AS n_occurrences,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM g GROUP BY ngram
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occurrences DESC, ngram
LIMIT 50
""",
    description="corpus boilerplate detection: top-50 word 3-grams "
    "appearing in >=2 distinct documents (C4-style most-common-lines "
    "rule at n-gram granularity) — codegen'd gram build, ONE shuffle "
    "keyed by the gram, top-k fused into TakeOrderedAndProject",
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.frequent_ngrams(
        T(spark, sf_dir, "documents"), "doc_id", "text", n=3, min_docs=2, k=50
    )


@q(
    "q66_duplicated_windows",
    oracle=_WORDS_CTE
    + r"""
, wnd AS (SELECT doc_id,
            unnest(list_transform(generate_series(1, len(w) - 7),
                                  i -> md5(array_to_string(w[i:i+7], ' '))))
              AS h
          FROM d WHERE len(w) >= 8),
hc AS (SELECT h, count(DISTINCT doc_id) AS nd FROM wnd GROUP BY h)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_windows,
  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
  round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
        / CAST(count(*) AS DOUBLE), 4) AS dup_window_frac
FROM wnd JOIN hc USING (h)
GROUP BY doc_id
""",
    description="per-document duplicated-span fraction over sliding "
    "8-word windows (window-granular exact-substring dedup, Lee et "
    "al. 2022) — md5'd windows, two evenly-distributed shuffles on a "
    "near-unique hash key",
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.duplicated_window_fraction(
        T(spark, sf_dir, "documents"), "doc_id", "text", k=8
    )


@q(
    "q67_decontaminate",
    oracle=_WORDS_CTE
    + r"""
, g AS (SELECT doc_id, source,
          unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                 i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])))
            AS g
        FROM d WHERE len(w) >= 5),
eg AS (SELECT DISTINCT g FROM g WHERE source = 'src0')
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM g JOIN eg USING (g)
WHERE source <> 'src0'
GROUP BY doc_id
""",
    description="benchmark decontamination (GPT-3/PaLM 5-gram rule): "
    "training documents sharing any word 5-gram with the src0 holdout "
    "— holdout gram set broadcast into the training scan, zero "
    "shuffles on the corpus side before the per-doc count",
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return cp.ngram_decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "doc_id",
        "text",
        n=5,
    )


@q(
    "q68_temperature_mixture",
    oracle="""
WITH counts AS (SELECT source AS domain, count(*) AS n_docs
                FROM documents GROUP BY source),
tot AS (SELECT sum(n_docs) AS _total,
          CAST(sum(CAST(round(sqrt(n_docs), 6) AS DECIMAL(28,6))) AS DOUBLE)
            AS _total_scaled
        FROM counts)
SELECT domain, n_docs,
  round(n_docs / CAST(_total AS DOUBLE), 6) AS natural_frac,
  round(sqrt(n_docs) / _total_scaled, 6) AS temp_frac,
  round((sqrt(n_docs) / _total_scaled)
        / (n_docs / CAST(_total AS DOUBLE)), 4) AS sample_factor
FROM counts, tot
""",
    description="temperature-scaled domain sampling (p_i ~ n_i^0.5, "
    "the multilingual rebalancing rule): per-source natural vs "
    "temperature fractions and the implied sampling factor — one "
    "aggregate to domain granularity + a single-row broadcast; "
    "alpha=0.5 uses IEEE-exact sqrt so both engines agree bit-for-bit",
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.temperature_mixture(
        T(spark, sf_dir, "documents"), "source", alpha=0.5
    )


@q(
    "q69_gopher_filter",
    oracle=_WORDS_CTE
    + """
SELECT doc_id,
  CAST(len(w) AS BIGINT) AS n_words,
  round(list_sum(list_transform(w, x -> len(x)))
        / CAST(len(w) AS DOUBLE), 4) AS mean_word_len,
  CAST(len(list_intersect(list_transform(w, x -> lower(x)),
        ['the','and','of','to','in','a','is'])) AS BIGINT)
    AS n_stopwords,
  round(1 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4)
    AS dup_word_frac,
  len(w) BETWEEN 20 AND 1000 AS word_count_ok,
  list_sum(list_transform(w, x -> len(x))) / CAST(len(w) AS DOUBLE)
    BETWEEN 4.0 AND 10.0 AS mean_word_len_ok,
  len(list_intersect(list_transform(w, x -> lower(x)),
      ['the','and','of','to','in','a','is'])) >= 2
    AS stopwords_ok,
  1 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE) <= 0.6
    AS repetition_ok,
  (len(w) BETWEEN 20 AND 1000)
    AND (list_sum(list_transform(w, x -> len(x))) / CAST(len(w) AS DOUBLE)
         BETWEEN 4.0 AND 10.0)
    AND (len(list_intersect(list_transform(w, x -> lower(x)),
           ['the','and','of','to','in','a','is'])) >= 2)
    AND (1 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE) <= 0.6)
    AS keep
FROM (SELECT doc_id, list_filter(w, x -> x <> '') AS w FROM d)
WHERE len(w) >= 1
""",
    description="composite Gopher/MassiveText document filter: word "
    "count, mean word length, stopword-presence and repetition rules "
    "as per-rule booleans plus the conjunctive keep verdict — pure "
    "per-row array expressions, zero shuffles",
)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql.gopher_rules(T(spark, sf_dir, "documents"), "doc_id", "text")


def _semdedup_oracle(
    threshold: float = 0.25,
    n_centroids: int = sim.IVF_K,
    iters: int = sim.IVF_ITERS,
) -> str:
    """SemDeDup oracle: trains the bit-identical k-means model in SQL
    (_ivf_train_sql), then within-cell pairwise cosine at or above the
    threshold."""
    train_prefix, _ = _ivf_train_sql(n_centroids, iters)
    return f"""{train_prefix},
pr AS (
  SELECT a.nid AS a_id, b.nid AS b_id, a.v AS av, b.v AS bv
  FROM af a JOIN af b ON a.cid = b.cid AND a.nid < b.nid),
elems AS (SELECT a_id, b_id, unnest(av) AS x, unnest(bv) AS y FROM pr),
sums AS (
  SELECT a_id, b_id,
    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5) AS cos_sim
  FROM elems GROUP BY a_id, b_id)
SELECT a_id, b_id, cos_sim FROM sums WHERE cos_sim >= {threshold}
"""


@q(
    "q70_semdedup",
    oracle=_semdedup_oracle(),
    description="SemDeDup (arXiv:2303.09540): k-means the embeddings "
    "with the IVF trainer, cosine-compare only within each cluster — "
    "the cluster-then-compare semantic dedup recipe; the oracle "
    "trains the bit-identical model in SQL",
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.semdedup_pairs(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.25,
    )


@q(
    "q71_ccnet_buckets",
    oracle=r"""
WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM documents),
c AS (SELECT doc_id, word, count(*) AS n FROM w WHERE word <> ''
      GROUP BY doc_id, word),
v AS (SELECT word, sum(n) AS c FROM c GROUP BY word),
s AS (SELECT sum(c) AS total FROM v),
d AS (SELECT c.doc_id, sum(c.n) AS n_tokens,
        list_sum(list(c.n * ln(v.c / CAST(s.total AS DOUBLE))
                      ORDER BY c.word)) AS lp
      FROM c JOIN v USING (word), s
      GROUP BY c.doc_id),
scored AS (SELECT d.doc_id, doc.lang,
             round(d.lp / d.n_tokens, 4) + 0 AS avg_logprob
           FROM d JOIN documents doc USING (doc_id)),
t AS (SELECT doc_id, lang, avg_logprob,
        ntile(3) OVER (PARTITION BY lang
                       ORDER BY avg_logprob DESC, doc_id) AS tert
      FROM scored)
SELECT doc_id, lang, avg_logprob,
  CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
    AS ppl_bucket
FROM t
""",
    description="CCNet perplexity buckets (arXiv:1911.00359): per "
    "language, head/middle/tail tertiles by unigram-LM score — "
    "per-language because perplexities are incomparable across "
    "languages; one window shuffle on a per-doc frame",
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.ccnet_buckets(
        T(spark, sf_dir, "documents"), "doc_id", "text", "lang"
    )


_CHUNK_MAX, _CHUNK_OVERLAP = 64, 16
_CHUNK_STRIDE = _CHUNK_MAX - _CHUNK_OVERLAP


@q(
    "q72_chunk_documents",
    oracle=_WORDS_CTE
    + f"""
, g AS (SELECT doc_id, w,
          unnest(generate_series(1, greatest(1, len(w) - {_CHUNK_OVERLAP}),
                                 {_CHUNK_STRIDE})) AS start_word
        FROM d WHERE len(w) >= 1)
SELECT doc_id,
  CAST((start_word - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
  CAST(start_word AS BIGINT) AS start_word,
  CAST(len(w[start_word : start_word + {_CHUNK_MAX - 1}]) AS BIGINT)
    AS chunk_len,
  array_to_string(w[start_word : start_word + {_CHUNK_MAX - 1}], ' ')
    AS chunk_text
FROM g
""",
    description="fixed-size overlapping document chunking (64-word "
    "windows advancing by 48: the long-document step before packing/"
    "embedding) — per-row array expressions plus one explode, zero "
    "shuffles; tail chunks clamp identically in both engines",
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.chunk_documents(
        T(spark, sf_dir, "documents"), "doc_id", "text",
        max_tokens=_CHUNK_MAX, overlap=_CHUNK_OVERLAP,
    )


@q(
    "q73_domain_sample",
    oracle="""
SELECT doc_id, domain, CAST(rn AS BIGINT) AS sample_rank
FROM (SELECT doc_id, source AS domain,
        row_number() OVER (PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
          AS rn
      FROM documents)
WHERE rn <= 10
""",
    description="deterministic per-domain downsampling to a 10-doc "
    "budget (md5-ordered reproducible shuffle — applies the mixture "
    "decision q52/q68 compute); one window shuffle keyed by domain",
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.sample_per_domain(
        T(spark, sf_dir, "documents"), "doc_id", "source", budget=10
    )


@q(
    "q74_best_survivors",
    oracle=f"""
WITH RECURSIVE {_dedup_cluster_ctes()},
ent AS ({_ENTROPY_ORACLE}),
j AS (SELECT c.doc_id, c.cluster_id, e.word_entropy
      FROM clusters c LEFT JOIN ent e USING (doc_id)),
best AS (
  SELECT cluster_id, doc_id, word_entropy,
    row_number() OVER (PARTITION BY cluster_id
                       ORDER BY word_entropy DESC NULLS LAST, doc_id) AS rn,
    count(*) OVER (PARTITION BY cluster_id) AS sz
  FROM j)
SELECT cluster_id, doc_id AS survivor_id, word_entropy,
  CAST(sz AS BIGINT) AS cluster_size
FROM best WHERE rn = 1
""",
    description="quality-aware dedup survivors: per near-dup cluster "
    "keep the highest-entropy document (doc-id tiebreak) instead of "
    "keep-first — cluster resolution (q58) joined to the quality "
    "signal (q53), one window keyed by cluster",
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    clusters = gr.dedup_clusters(docs, pairs, "doc_id")
    scores = ql.word_entropy(docs, "doc_id", "text").select(
        "doc_id", "word_entropy"
    )
    return gr.cluster_best_survivors(clusters, scores, "word_entropy")


@q(
    "q75_token_budget",
    oracle=f"""
WITH ent AS ({_ENTROPY_ORACLE}),
docs AS (SELECT doc_id, n_words AS n_tokens, word_entropy,
           round(word_entropy, 2) AS bucket
         FROM ent),
pb AS (SELECT bucket, sum(n_tokens) AS bt FROM docs GROUP BY bucket),
tot AS (SELECT sum(bt) AS total FROM pb),
kb AS (SELECT bucket
       FROM (SELECT bucket,
               sum(bt) OVER (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM pb), tot
       WHERE cum <= 0.5 * total)
SELECT doc_id, word_entropy, CAST(n_tokens AS BIGINT) AS n_tokens
FROM docs JOIN kb USING (bucket)
""",
    description="global token-budget selection WITHOUT a global sort: "
    "keep highest-entropy documents until 50% of corpus tokens, at "
    "2dp histogram-bucket granularity — per-bucket sums aggregate to "
    "a model-sized frame, the cumulative threshold is computed there, "
    "and the corpus side is one broadcast-joined filter",
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    scores = ql.word_entropy(docs, "doc_id", "text").select(
        "doc_id", "word_entropy"
    )
    return cp.token_budget_select(
        docs, "doc_id", "text", scores, "word_entropy", budget_frac=0.5
    )


@q(
    "q76_tfidf_terms",
    oracle=r"""
WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM documents),
c AS (SELECT doc_id, word, count(*) AS n FROM w WHERE word <> ''
      GROUP BY doc_id, word),
dfreq AS (SELECT word, count(DISTINCT doc_id) AS _df FROM c GROUP BY word),
nd AS (SELECT count(DISTINCT doc_id) AS _n FROM documents),
scored AS (SELECT c.doc_id, c.word,
             round(c.n * ln(nd._n / CAST(dfreq._df AS DOUBLE)), 4) + 0
               AS tfidf
           FROM c JOIN dfreq USING (word), nd),
ranked AS (SELECT doc_id, word AS term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, word) AS BIGINT) AS rnk
           FROM scored)
SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
""",
    description="per-document top-3 terms by tf-idf (keyword "
    "extraction): document frequencies aggregate to vocabulary "
    "granularity and join back on the unique word key (q60 shape); "
    "rounded scores + term tiebreak give both engines a total rank "
    "order",
)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.tfidf_top_terms(T(spark, sf_dir, "documents"), "doc_id", "text")


def _minhash_audit_oracle() -> str:
    eq_sum = " + ".join(
        f"(CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END)"
        for s in range(dd.MINHASH_NUM)
    )
    return f"""
WITH {_minhash_cand_ctes()},
est AS (
  SELECT c.a_id, c.b_id,
    round(({eq_sum}) / {float(dd.MINHASH_NUM)}, 4) AS est_jaccard
  FROM cand c
  JOIN sig a ON a.doc = c.a_id
  JOIN sig b ON b.doc = c.b_id),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT c.a_id, c.b_id, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc = c.a_id
  JOIN sh b ON b.doc = c.b_id AND b.shingle = a.shingle
  GROUP BY 1, 2),
truej AS (
  SELECT e.a_id, e.b_id, e.est_jaccard,
    round(COALESCE(cm.n_common, 0)
          / CAST(sa.n_sh + sb.n_sh - COALESCE(cm.n_common, 0) AS DOUBLE),
          4) AS true_jaccard
  FROM est e
  JOIN sizes sa ON sa.doc = e.a_id
  JOIN sizes sb ON sb.doc = e.b_id
  LEFT JOIN common cm ON cm.a_id = e.a_id AND cm.b_id = e.b_id)
SELECT a_id, b_id, est_jaccard, true_jaccard,
  round(abs(est_jaccard - true_jaccard), 4) AS abs_err
FROM truej
"""


@q(
    "q77_sketch_audit",
    oracle=_minhash_audit_oracle(),
    description="MinHash sketch-accuracy audit: estimated Jaccard "
    "(agreeing signature components / 12) vs true n-gram Jaccard for "
    "every LSH candidate pair, with absolute error — the calibration "
    "check before trusting sketches where exact verification is "
    "unaffordable; zero-overlap candidates stay in (worst case)",
)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_estimate_audit(
        T(spark, sf_dir, "documents"), "doc_id", "text"
    )


@q(
    "q78_centroid_audit",
    oracle="""
WITH v AS (SELECT label, vec_id AS nid, embedding::DOUBLE[] AS v
           FROM embeddings),
elems AS (SELECT label, nid, u.i AS pos, v[u.i] AS val
          FROM v CROSS JOIN LATERAL unnest(range(1, len(v) + 1)) u(i)),
ce AS (SELECT label, pos,
         CAST(sum(CAST(round(val, 6) AS DECIMAL(28,6))) AS DOUBLE)
           / count(*) AS m
       FROM elems GROUP BY label, pos),
cent AS (SELECT label, list(round(m, 6) ORDER BY pos) AS c
         FROM ce GROUP BY label),
pe AS (SELECT s.label, s.nid, unnest(s.v) AS x, unnest(cent.c) AS y
       FROM v s JOIN cent USING (label)),
cos AS (SELECT label, nid,
          round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5) AS c
        FROM pe GROUP BY label, nid)
SELECT cos.label, CAST(count(*) AS BIGINT) AS n_vecs,
  round(sqrt(list_sum(list_transform(any_value(cent.c), e -> e * e))), 4)
    AS centroid_norm,
  round(CAST(sum(CAST(cos.c AS DECIMAL(28,5))) AS DOUBLE) / count(*), 4)
    AS avg_cos_to_centroid,
  round(min(cos.c), 5) AS min_cos_to_centroid
FROM cos JOIN cent USING (label)
GROUP BY cos.label
""",
    description="per-label embedding centroid audit (class-collapse / "
    "outlier check): centroid norm, average and minimum cosine to the "
    "class centroid — order-independent DECIMAL accumulation of "
    "pre-rounded terms makes per-LABEL sums engine-deterministic "
    "without O(group) sorted folds; centroids are model-sized and "
    "broadcast",
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.label_centroid_audit(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label"
    )


@q(
    "q79_length_histogram",
    oracle=_WORDS_CTE
    + """
, b AS (SELECT CAST(floor(len(w) / 10) * 10 AS BIGINT) AS bucket_lo
        FROM d),
counts AS (SELECT bucket_lo, count(*) AS n_docs FROM b GROUP BY bucket_lo),
tot AS (SELECT sum(n_docs) AS t FROM counts)
SELECT bucket_lo, CAST(n_docs AS BIGINT) AS n_docs,
  round(n_docs / CAST(t AS DOUBLE), 4) AS frac
FROM counts, tot
""",
    description="fixed-width word-count histogram (length-filter "
    "threshold profiling): one aggregate to bucket granularity, "
    "fraction via single-row broadcast total",
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql.length_histogram(T(spark, sf_dir, "documents"), "text")


@q(
    "q80_zipf_audit",
    oracle=_WORDS_CTE
    + """
, words AS (SELECT unnest(w) AS word FROM d),
counts AS (SELECT word, count(*) AS freq FROM words WHERE word <> ''
           GROUP BY word ORDER BY freq DESC, word LIMIT 100)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT) AS rank,
  word, CAST(freq AS BIGINT) AS freq,
  round(ln(freq), 4) AS log_freq
FROM counts
""",
    description="Zipf curve audit: top-100 corpus word frequencies "
    "with rank (flat head = boilerplate flooding, truncated tail = "
    "over-filtering) — word-keyed agg with map-side partials, top-k "
    "fused, rank windowed over the 100-row result only",
)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql.zipf_audit(T(spark, sf_dir, "documents"), "text")


@q(
    "q81_lsh_recall",
    oracle=f"""
WITH {_minhash_pair_ctes()},
tcommon AS (
  SELECT a.doc AS a_id, b.doc AS b_id, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2),
tpairs AS (
  SELECT a_id, b_id FROM tcommon
  JOIN sizes sa ON sa.doc = a_id
  JOIN sizes sb ON sb.doc = b_id
  WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.5),
agg AS (
  SELECT
    (SELECT count(*) FROM tpairs) AS n_true_pairs,
    (SELECT count(*) FROM pairs) AS n_found_pairs,
    (SELECT count(*) FROM pairs p
       JOIN tpairs t ON t.a_id = p.a_id AND t.b_id = p.b_id) AS n_hit)
SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
  CAST(n_found_pairs AS BIGINT) AS n_found_pairs,
  CASE WHEN n_true_pairs = 0 THEN 1.0
       ELSE round(n_hit / CAST(n_true_pairs AS DOUBLE), 4) END AS recall
FROM agg
""",
    description="LSH recall audit: exhaustive n-gram Jaccard pairs "
    "(ground truth, run on a sample at scale) vs what MinHash banding "
    "found at the same threshold — found is a subset by construction, "
    "recall is the metric; audits the CANDIDATE GENERATOR where q77 "
    "audits the estimator",
)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.lsh_recall_audit(
        T(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.5
    )


@q(
    "q82_source_dedup_stats",
    oracle=f"""
WITH RECURSIVE {_dedup_cluster_ctes()},
sized AS (
  SELECT c.doc_id, c.cluster_id,
    count(*) OVER (PARTITION BY c.cluster_id) AS sz
  FROM clusters c)
SELECT d.source AS domain,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN s.sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
  round(sum(CASE WHEN s.sz > 1 THEN 1 ELSE 0 END)
        / CAST(count(*) AS DOUBLE), 4) AS dup_rate
FROM sized s JOIN documents d ON d.doc_id = s.doc_id
GROUP BY d.source
""",
    description="per-source duplication report after near-dedup: "
    "docs, documents in multi-member clusters, duplication rate — "
    "which domains flood the corpus with copies; one cluster-keyed "
    "window + one domain-granular aggregate",
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    clusters = gr.dedup_clusters(docs, pairs, "doc_id")
    return dd.per_source_dedup_stats(docs, clusters, "doc_id", "source")


@q(
    "q31d_video_meta",
    oracle="""
SELECT CAST(doc_id AS BIGINT) AS doc_id, 'mp4' AS format,
  CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END
       AS BIGINT) AS timescale,
  CAST(1000 * (1 + doc_id % 30) AS BIGINT) AS duration_ms,
  CAST(1 + doc_id % 2 AS BIGINT) AS n_tracks,
  CAST(16 + (doc_id * 7) % 240 AS BIGINT) AS width,
  CAST(16 + (doc_id * 13) % 240 AS BIGINT) AS height
FROM documents
""",
    description="video CONTENT check: real ISO-BMFF MP4 payloads "
    "(synthesized per doc_id) decoded by the hand-written box walker "
    "(moov/mvhd/trak/tkhd); the oracle predicts timescale, duration, "
    "track count and 16.16-fixed dimensions arithmetically — "
    "completes the image/audio/video modality set",
)
def q31d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators.multimodal import (
        extract_video_metadata,
        mp4_payload_udf,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    payloads = docs.withColumn("payload", mp4_payload_udf("doc_id"))
    return extract_video_metadata(payloads, "doc_id", "payload")


# ------------------------------------------------- round-5 extensions


def _knn_graph_oracle(k: int = 5, max_bucket: int = 200) -> str:
    """Oracle twin of knn_graph INCLUDING banded_self_pairs' bucket
    cap (r12, the q37 lesson applied to the whole kNN-oracle family):
    buckets within ``max_bucket`` emit all i<j pairs, oversized
    buckets the min-id star — without the cap the r12 sf1 sweep's
    DuckDB side went quadratic on replicated identical vectors (q175's
    oracle spilled ~70 GB of temp before erroring) and would diverge
    from the operator's capped candidates anyway. Below the cap the
    branches agree, so every small-SF row is unchanged."""
    bucket_cols = []
    for t in range(sim.NUM_TABLES):
        plane_dots = [
            f"list_dot_product(e, [{', '.join(repr(v) for v in p)}])"
            for p in sim.HYPERPLANES[t]
        ]
        bucket = " + ".join(
            f"(CASE WHEN {d} > 0 THEN {1 << i} ELSE 0 END)"
            for i, d in enumerate(plane_dots)
        )
        bucket_cols.append(f"CAST({bucket} AS BIGINT) AS bucket{t}")
    buckets_sql = ",\n    ".join(bucket_cols)
    ct_ctes = ",\n".join(
        f"kct{t} AS (SELECT bucket{t} AS bh, count(*) AS kk, "
        f"min(vec_id) AS rep FROM v GROUP BY 1)"
        for t in range(sim.NUM_TABLES)
    )
    cand_union = "\n  UNION\n".join(
        f"""  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM v a JOIN v b ON a.bucket{t} = b.bucket{t}
    AND a.vec_id < b.vec_id
  JOIN kct{t} ON kct{t}.bh = a.bucket{t}
  WHERE kct{t}.kk <= {max_bucket}
  UNION
  SELECT kct{t}.rep AS a_id, m.vec_id AS b_id
  FROM v m JOIN kct{t} ON kct{t}.bh = m.bucket{t}
  WHERE kct{t}.kk > {max_bucket} AND m.vec_id > kct{t}.rep"""
        for t in range(sim.NUM_TABLES)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
    {buckets_sql}
  FROM embeddings),
{ct_ctes},
cand AS (
{cand_union}),
pairs AS (
  SELECT c.a_id, c.b_id, a.e AS ae, b.e AS be
  FROM cand c JOIN v a ON a.vec_id = c.a_id JOIN v b ON b.vec_id = c.b_id),
elems AS (SELECT a_id, b_id, unnest(ae) AS x, unnest(be) AS y FROM pairs),
sums AS (
  SELECT a_id, b_id,
    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5) AS cos_sim
  FROM elems GROUP BY a_id, b_id),
edges AS (
  SELECT a_id AS src, b_id AS nbr, cos_sim FROM sums
  UNION ALL
  SELECT b_id, a_id, cos_sim FROM sums),
ranked AS (
  SELECT src, nbr, cos_sim,
    CAST(row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, nbr)
         AS BIGINT) AS rnk
  FROM edges)
SELECT src, nbr, cos_sim, rnk FROM ranked WHERE rnk <= {k}
"""


@q(
    "q83_knn_graph",
    oracle=_knn_graph_oracle(5),
    description="corpus-wide approximate kNN graph: every vector's "
    "top-5 cosine neighbors among LSH-bucket candidates (the q25 "
    "machinery with every vector as a query) — one banded_self_pairs "
    "shuffle, each undirected edge scored once and read twice, one "
    "per-source window; never all-pairs",
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.knn_graph(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=5
    )


def _classifier_oracle() -> str:
    b, w_stop, w_wlen, w_distinct, w_len = ql.CLASSIFIER_WEIGHTS
    stop_list = ", ".join(f"'{w}'" for w in tx.STOPWORDS)
    return rf"""
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
f AS (SELECT doc_id,
        round(len(list_filter(w, x -> list_contains([{stop_list}], x)))
              / CAST(len(w) AS DOUBLE), 4) AS f_stopword,
        round(list_sum(list_transform(w, x -> len(x)))
              / CAST(len(w) AS DOUBLE), 4) AS f_word_len,
        round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4)
          AS f_distinct,
        round(len(w) / (len(w) + 100.0), 4) AS f_length
      FROM d),
z AS (SELECT doc_id, f_stopword, f_word_len, f_distinct, f_length,
        {b} + {w_stop} * f_stopword + {w_wlen} * f_word_len
        + {w_distinct} * f_distinct + {w_len} * f_length AS z
      FROM f)
SELECT doc_id, f_stopword, f_word_len, f_distinct, f_length,
  round(1.0 / (1.0 + exp(-z)), 4) AS quality_prob,
  round(1.0 / (1.0 + exp(-z)), 4) >= 0.5 AS keep
FROM z
"""


@q(
    "q84_quality_classifier",
    oracle=_classifier_oracle(),
    description="fastText/CCNet-shape quality classifier: fixed-weight "
    "logistic regression over per-document features (stopword ratio, "
    "word length, lexical diversity, saturating length) — the model "
    "lives in the closed form, so scoring 100 TB is one scan of pure "
    "per-row JVM expressions, zero shuffle",
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql.classifier_scores(T(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "q85_pack_efficiency",
    oracle=rf"""
WITH t AS (SELECT doc_id, source AS shard,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents),
p AS (SELECT doc_id, shard, n_tokens,
        COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM t),
packed AS (SELECT shard, n_tokens,
             CAST(floor(prefix / {cp.PACK_BUDGET}) AS BIGINT) AS bin_id,
             CAST(prefix % {cp.PACK_BUDGET} AS BIGINT) AS bin_offset
           FROM p)
SELECT shard,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  round(sum(n_tokens) / CAST((max(bin_id) + 1) * {cp.PACK_BUDGET} AS DOUBLE),
        4) AS fill_frac,
  CAST(sum(CASE WHEN bin_offset + n_tokens > {cp.PACK_BUDGET}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_spill_docs,
  round(sum(CASE WHEN bin_offset + n_tokens > {cp.PACK_BUDGET}
            THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS spill_frac
FROM packed GROUP BY shard
""",
    description="packing-efficiency audit over q50's bins: per-shard "
    "fill fraction and boundary-spill rate (the padding-waste / "
    "truncation feedback metric for context-window budget tuning) — "
    "exact integer aggregates at shard granularity, model-sized output",
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.pack_efficiency(
        T(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


@q(
    "q86_language_mix",
    oracle="""
WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source, lang),
tot AS (SELECT source, sum(n_docs) AS t FROM cells GROUP BY source),
sh AS (SELECT c.source, c.lang, c.n_docs,
         round(c.n_docs / CAST(t.t AS DOUBLE), 4) AS share
       FROM cells c JOIN tot t USING (source)),
ent AS (SELECT source,
          round(CAST(sum(CAST(CASE WHEN share > 0
                  THEN round(-share * ln(share), 6) ELSE 0.0 END
                AS DECIMAL(28,6))) AS DOUBLE), 4) AS source_lang_entropy
        FROM sh GROUP BY source)
SELECT sh.source, sh.lang, sh.n_docs, sh.share, ent.source_lang_entropy
FROM sh JOIN ent USING (source)
""",
    description="per-source language-composition audit: share of every "
    "(source, lang) cell + the source's language entropy (crawl gone "
    "monolingual / language-ID regression detector) — one aggregate to "
    "a model-sized frame; entropy terms sum as DECIMAL (exact, "
    "order-independent — the q78 trick)",
)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql.language_mix(T(spark, sf_dir, "documents"), "source", "lang")


@q(
    "q87_ngram_novelty",
    oracle=_WORDS_CTE
    + r"""
, g AS (SELECT doc_id,
          unnest(list_distinct(list_transform(
            generate_series(1, len(w) - 4),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                 || ' ' || w[i+4]))) AS gr
        FROM d WHERE len(w) >= 5),
fs AS (SELECT gr, min(doc_id) AS first_doc FROM g GROUP BY gr),
per AS (SELECT g.doc_id,
          CAST(count(*) AS BIGINT) AS n_grams,
          CAST(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel
        FROM g JOIN fs USING (gr) GROUP BY g.doc_id)
SELECT d.doc_id,
  COALESCE(per.n_grams, 0) AS n_grams,
  COALESCE(per.n_novel, 0) AS n_novel,
  round(per.n_novel / CAST(per.n_grams AS DOUBLE), 4) AS novelty
FROM d LEFT JOIN per USING (doc_id)
""",
    description="per-document 5-gram novelty: fraction of a document's "
    "distinct word 5-grams first seen (min doc id) in that document — "
    "the memorization/boilerplate lens dual to q66; aggregates to "
    "VOCABULARY granularity and joins back on the unique gram key "
    "(the q60/q76 shape), no self-join",
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.ngram_novelty(T(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "q88_quantization_audit",
    oracle="""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
elems AS (SELECT v.vec_id, u.i AS pos, e[u.i] AS x
          FROM v CROSS JOIN LATERAL unnest(range(1, len(e) + 1)) u(i)),
dims AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM elems GROUP BY pos),
qz AS (SELECT elems.vec_id, x, mn, mx,
         CASE WHEN mx > mn
              THEN floor((x - mn) / (mx - mn) * 255 + 0.5)
              ELSE 0 END AS code
       FROM elems JOIN dims USING (pos)),
r AS (SELECT vec_id, code,
        (CASE WHEN mx > mn THEN code / 255 * (mx - mn) + mn
              ELSE mn END) - x AS err
      FROM qz)
SELECT vec_id,
  CAST(sum(code) AS BIGINT) AS code_sum,
  round(sum(err * err) / count(*), 10) AS mse,
  round(max(abs(err)), 8) AS max_abs_err
FROM r GROUP BY vec_id
""",
    description="8-bit scalar-quantization audit (FAISS SQ8 recipe): "
    "per-dimension corpus ranges aggregate the posexploded corpus to "
    "DIM rows and return as one literal (model-sized collect, like "
    "the IVF centroids); quantize/dequantize/reconstruction-error are "
    "then pure per-row array folds — floor(x+0.5) so rounding-mode "
    "differences can never flip a code",
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.quantization_audit(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


BM25_QUERY_TERMS = ("spark", "hash", "window")


def _bm25_oracle(k: int = 10) -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    k1, b = lm.BM25_K1, lm.BM25_B
    return rf"""
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM d),
totals AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
             CAST(sum(dl) AS BIGINT) AS sum_dl FROM lens),
tf AS (SELECT doc_id,
         unnest(list_filter(w, x -> list_contains([{terms}], x))) AS term
       FROM d),
tfc AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM tf GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df_t
          FROM tfc GROUP BY term),
sc AS (SELECT tfc.doc_id,
         CAST(round(
           ln(1.0 + (n_corpus - df_t + 0.5) / (df_t + 0.5))
           * (tf * {k1 + 1.0}) / (tf + {k1} * ({1.0 - b} + {b} * dl
                                               / (sum_dl / n_corpus))), 6)
         AS DECIMAL(28,6)) AS term_score
       FROM tfc JOIN dfreq USING (term) JOIN lens USING (doc_id)
       CROSS JOIN totals),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
          round(CAST(sum(term_score) AS DOUBLE), 4) AS bm25
        FROM sc GROUP BY doc_id)
SELECT doc_id, n_terms_matched, bm25,
  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rnk
FROM per ORDER BY bm25 DESC, doc_id LIMIT {k}
"""


@q(
    "q89_bm25_search",
    oracle=_bm25_oracle(10),
    description="Okapi BM25 top-10 retrieval for a fixed term set "
    "(decontamination-lookup / retrieval-curation primitive): token "
    "stream filtered to the query terms BEFORE any shuffle, model "
    "totals broadcast, per-document scores sum rounded DECIMAL terms "
    "(order-independent), top-k via TakeOrderedAndProject",
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.bm25_topk(
        T(spark, sf_dir, "documents"), "doc_id", "text",
        BM25_QUERY_TERMS, k=10,
    )


@q(
    "q90_dimension_stats",
    oracle="""
WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
elems AS (SELECT u.i - 1 AS dim, e[u.i] AS x
          FROM v CROSS JOIN LATERAL unnest(range(1, len(e) + 1)) u(i)),
agg AS (SELECT dim,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(round(x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
          CAST(sum(CAST(round(x * x, 10) AS DECIMAL(28,10))) AS DOUBLE)
            AS sxx,
          min(x) AS mn, max(x) AS mx
        FROM elems GROUP BY dim)
SELECT CAST(dim AS BIGINT) AS dim, n,
  round(sx / n, 6) AS mean,
  round(sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)), 6) AS std,
  round(mn, 6) AS min_val,
  round(mx, 6) AS max_val,
  mx = mn AS is_constant
FROM agg
""",
    description="per-dimension embedding distribution audit (dead "
    "dimensions, whitening variances, anisotropy means): ONE "
    "aggregation of the posexploded corpus to DIM rows, decimal-"
    "accumulated sums so any partial-aggregation schedule matches",
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.dimension_stats(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


@q(
    "q91_source_overlap",
    oracle=_WORDS_CTE
    + r"""
, g AS (SELECT DISTINCT source,
          unnest(list_distinct(list_transform(
            generate_series(1, len(w) - 7),
            i -> md5(array_to_string(w[i:i+7], ' '))))) AS h
        FROM d WHERE len(w) >= 8),
per_hash AS (SELECT h, list_sort(list(DISTINCT source)) AS srcs
             FROM g GROUP BY h),
pairs AS (SELECT u1.a AS source_a, u2.b AS source_b
          FROM per_hash
          CROSS JOIN LATERAL unnest(srcs) u1(a)
          CROSS JOIN LATERAL unnest(srcs) u2(b)
          WHERE u1.a < u2.b AND len(srcs) >= 2)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS shared_windows
FROM pairs GROUP BY source_a, source_b
""",
    description="cross-source contamination matrix: distinct 8-word "
    "window hashes shared by every source pair (mirror-site / "
    "syndication detector at corpus level — q66's per-document dual); "
    "hash stream collapses to distinct (hash, source) first, per-hash "
    "source sets expand to pairs via array exprs — intermediates "
    "bounded by sources², never a hash self-join",
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.source_overlap_matrix(
        T(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


@q(
    "q92_pack_materialize",
    oracle=rf"""
WITH t AS (SELECT doc_id, source AS shard, text,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents),
p AS (SELECT doc_id, shard, text, n_tokens,
        COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM t)
SELECT shard,
  CAST(floor(prefix / {cp.PACK_BUDGET}) AS BIGINT) AS bin_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
  string_agg(text, ' <eos> ' ORDER BY doc_id) AS packed_text
FROM p GROUP BY shard, CAST(floor(prefix / {cp.PACK_BUDGET}) AS BIGINT)
""",
    description="bin materialization: q50's packing window carried "
    "through to one row per (shard, bin) with member texts joined in "
    "doc-id order behind <eos> — per-group state bounded by the bin "
    "budget (context-window-sized), one window + one aggregation",
)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.pack_materialize(
        T(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


def _hybrid_oracle(k_each: int = 50, k: int = 10) -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    k1, b = lm.BM25_K1, lm.BM25_B
    return rf"""
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM d),
totals AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
             CAST(sum(dl) AS BIGINT) AS sum_dl FROM lens),
tf AS (SELECT doc_id,
         unnest(list_filter(w, x -> list_contains([{terms}], x))) AS term
       FROM d),
tfc AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM tf GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df_t
          FROM tfc GROUP BY term),
sc AS (SELECT tfc.doc_id,
         CAST(round(
           ln(1.0 + (n_corpus - df_t + 0.5) / (df_t + 0.5))
           * (tf * {k1 + 1.0}) / (tf + {k1} * ({1.0 - b} + {b} * dl
                                               / (sum_dl / n_corpus))), 6)
         AS DECIMAL(28,6)) AS term_score
       FROM tfc JOIN dfreq USING (term) JOIN lens USING (doc_id)
       CROSS JOIN totals),
sparse AS (SELECT doc_id,
             round(CAST(sum(term_score) AS DOUBLE), 4) AS bm25
           FROM sc GROUP BY doc_id
           ORDER BY bm25 DESC, doc_id LIMIT {k_each}),
sparse_r AS (SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                    AS BIGINT) AS rnk
             FROM sparse),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
dp AS (SELECT q.vec_id AS qid, n.vec_id AS nid, q.e AS qe, n.e AS ne
       FROM v q JOIN v n ON q.vec_id < 1 AND n.vec_id <> q.vec_id),
elems AS (SELECT qid, nid, unnest(qe) AS x, unnest(ne) AS y FROM dp),
sums AS (SELECT qid, nid,
           round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5)
             AS cos_sim
         FROM elems GROUP BY qid, nid),
dense_r AS (SELECT nid AS doc_id, rnk FROM (
              SELECT nid, cos_sim,
                CAST(row_number() OVER (ORDER BY cos_sim DESC, nid)
                     AS BIGINT) AS rnk
              FROM sums) WHERE rnk <= {k_each}),
fused AS (SELECT COALESCE(s.doc_id, de.doc_id) AS doc_id,
            s.rnk AS rank_sparse, de.rnk AS rank_dense,
            round(COALESCE(1.0 / ({lm.RRF_K} + s.rnk), 0.0)
                  + COALESCE(1.0 / ({lm.RRF_K} + de.rnk), 0.0), 6)
              AS rrf_score
          FROM sparse_r s FULL OUTER JOIN dense_r de
            ON s.doc_id = de.doc_id),
topk AS (SELECT * FROM fused
         ORDER BY rrf_score DESC, doc_id LIMIT {k})
SELECT doc_id, rank_sparse, rank_dense, rrf_score,
  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
    AS rnk
FROM topk
"""


@q(
    "q93_hybrid_search",
    oracle=_hybrid_oracle(),
    description="hybrid retrieval: BM25 top-50 (sparse) fused with "
    "embedding-cosine top-50 for query vector 0 (dense) via "
    "reciprocal-rank fusion (Cormack 2009, k=60) — rank-based so the "
    "two score scales never mix; both inputs are model-sized top-k "
    "frames, the fusion join is trivially broadcastable",
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    sparse = lm.bm25_topk(
        T(spark, sf_dir, "documents"), "doc_id", "text",
        BM25_QUERY_TERMS, k=50,
    ).select("doc_id", "rnk")
    dense = sim.cosine_topk(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        max_query_id=1, k=50,
    ).select(F.col("nid").alias("doc_id"), "rnk")
    return lm.rrf_fuse(sparse, dense, "doc_id", k=10)


@q(
    "q94_image_features",
    oracle="""
WITH docs AS (SELECT doc_id,
                8 + (doc_id * 3) % 24 AS w,
                8 + (doc_id * 5) % 24 AS h,
                doc_id % 251 AS s,
                doc_id % 3 AS m
              FROM documents),
px AS (SELECT doc_id, m, w, h, s, ux.x AS x, uy.y AS y
       FROM docs
       CROSS JOIN LATERAL unnest(range(0, w)) ux(x)
       CROSS JOIN LATERAL unnest(range(0, h)) uy(y)),
ch AS (SELECT doc_id, w, h,
         CASE WHEN m = 2 THEN (x * 7 + y * 11 + s) % 256
              ELSE (x * 7 + s) % 256 END AS r,
         CASE WHEN m = 2 THEN ((x * 7 + y * 11 + s) % 256) * 3 % 256
              ELSE (y * 11 + s) % 256 END AS g,
         CASE WHEN m = 2 THEN ((x * 7 + y * 11 + s) % 256) * 7 % 256
              ELSE ((x + y) * 13 + s) % 256 END AS b
       FROM px),
sums AS (SELECT doc_id, w, h, sum(r) AS sr, sum(g) AS sg, sum(b) AS sb
         FROM ch GROUP BY doc_id, w, h),
tpx AS (SELECT d.doc_id, d.m, d.s,
          (uj.j * d.w // 4) AS x, (ui.i * d.h // 4) AS y
        FROM docs d
        CROSS JOIN LATERAL unnest(range(0, 4)) ui(i)
        CROSS JOIN LATERAL unnest(range(0, 4)) uj(j)),
thumb AS (SELECT doc_id,
            sum(CASE WHEN m = 2 THEN
                  (x * 7 + y * 11 + s) % 256
                  + ((x * 7 + y * 11 + s) % 256) * 3 % 256
                  + ((x * 7 + y * 11 + s) % 256) * 7 % 256
                ELSE (x * 7 + s) % 256 + (y * 11 + s) % 256
                  + ((x + y) * 13 + s) % 256 END) AS cks
          FROM tpx GROUP BY doc_id)
SELECT s.doc_id,
  CASE s.doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
    ELSE 'gif' END AS format,
  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  floor(CAST(sr AS DOUBLE) / (w * h) * 10000 + 0.5) / 10000 AS mean_r,
  floor(CAST(sg AS DOUBLE) / (w * h) * 10000 + 0.5) / 10000 AS mean_g,
  floor(CAST(sb AS DOUBLE) / (w * h) * 10000 + 0.5) / 10000 AS mean_b,
  CAST(t.cks AS BIGINT) AS resize4_checksum
FROM sums s JOIN thumb t USING (doc_id)
""",
    description="image CONTENT check at PIXEL level: doc_id % 3 "
    "cycles real 24-bit BMP, real zlib-compressed 8-bit RGB PNG and "
    "real LZW-compressed paletted GIF payloads, each synthesized "
    "with a closed-form pixel pattern and decoded by the "
    "hand-written stdlib codecs inside Arrow-batched mapInPandas; "
    "per-channel means from exact integer sums and a REAL 4×4 "
    "nearest-neighbor-resize checksum — the oracle predicts every "
    "decoded-pixel statistic arithmetically, so a green row proves "
    "ALL THREE codecs' decode (BMP stride/orientation, PNG inflate "
    "+ unfiltering, GIF LZW + palette mapping), channel order AND "
    "resize, not just headers",
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators.multimodal import (
        extract_image_features,
        mixed_image_payload_udf,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    payloads = docs.withColumn("payload", mixed_image_payload_udf("doc_id"))
    return extract_image_features(payloads, "doc_id", "payload")


@q(
    "q95_audio_features",
    oracle="""
WITH docs AS (SELECT doc_id,
                50 + doc_id % 200 AS n,
                doc_id % 9973 AS s
              FROM documents),
samp AS (SELECT doc_id, n, u.i AS i,
           ((u.i * 37 + s) % 65536) - 32768 AS v,
           CASE WHEN u.i >= 1
                THEN (((u.i * 37 + s) % 65536) - 32768 >= 0)
                     <> ((((u.i - 1) * 37 + s) % 65536) - 32768 >= 0)
                ELSE FALSE END AS crossed
         FROM docs CROSS JOIN LATERAL unnest(range(0, n)) u(i))
SELECT doc_id,
  CAST(n AS BIGINT) AS n_samples,
  floor(sqrt(CAST(sum(v * v) AS DOUBLE) / n) * 10000 + 0.5) / 10000 AS rms,
  CAST(max(abs(v)) AS BIGINT) AS peak,
  CAST(sum(CASE WHEN crossed THEN 1 ELSE 0 END) AS BIGINT)
    AS zero_crossings
FROM samp GROUP BY doc_id, n
""",
    description="audio CONTENT check at SAMPLE level: real 16-bit mono "
    "PCM payloads (closed-form sample pattern per doc_id) decoded by "
    "the stdlib RIFF data-chunk walk inside Arrow-batched mapInPandas; "
    "RMS from the exact integer energy sum, peak, zero crossings — "
    "the oracle predicts every decoded-sample statistic "
    "arithmetically (audio twin of q94)",
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators.multimodal import (
        audio_payload_udf,
        extract_audio_features,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    payloads = docs.withColumn("payload", audio_payload_udf("doc_id"))
    return extract_audio_features(payloads, "doc_id", "payload")


@q(
    "q96_video_frames",
    oracle="""
WITH docs AS (SELECT doc_id,
                2 + doc_id % 5 AS nf,
                8 + (doc_id * 3) % 8 AS w,
                8 + (doc_id * 5) % 8 AS h,
                doc_id % 251 AS s
              FROM documents),
frames AS (SELECT doc_id, w, h, uk.k AS frame_no,
             (s + uk.k * 17) % 251 AS sk
           FROM docs CROSS JOIN LATERAL unnest(range(0, nf)) uk(k)
           WHERE uk.k % 2 = 0),
px AS (SELECT doc_id, frame_no, w, h,
         ((ux.x * 7 + sk) % 256)
         + ((uy.y * 11 + sk) % 256)
         + (((ux.x + uy.y) * 13 + sk) % 256) AS rgb
       FROM frames
       CROSS JOIN LATERAL unnest(range(0, w)) ux(x)
       CROSS JOIN LATERAL unnest(range(0, h)) uy(y))
SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  floor(CAST(sum(rgb) AS DOUBLE) / (w * h) * 10000 + 0.5) / 10000
    AS mean_rgb
FROM px GROUP BY doc_id, frame_no, w, h
""",
    description="video CONTENT check at FRAME level: real LYNV "
    "raw-video payloads (length-prefixed BMP frames, the MJPEG/y4m "
    "moral equivalent) — container walk, stride-2 frame sampling AND "
    "pixel decode all hand-written stdlib; the oracle predicts every "
    "sampled frame's decoded mean arithmetically (completes the "
    "image/audio/video CONTENT set: q94/q95/q96)",
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators.multimodal import (
        extract_video_frame_features,
        video_payload_udf,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    payloads = docs.withColumn("payload", video_payload_udf("doc_id"))
    return extract_video_frame_features(payloads, "doc_id", "payload")


def _bpe_oracle() -> str:
    pattern_sql = tx.BPE_PRETOKEN_PATTERN.replace("'", "''")
    return rf"""
WITH d AS (SELECT doc_id, text,
             len(string_split_regex(trim(text), '\s+')) AS n_ws,
             len(regexp_extract_all(text, '{pattern_sql}')) AS n_bpe
           FROM documents)
SELECT doc_id, CAST(n_ws AS BIGINT) AS n_ws_tokens,
  CAST(n_bpe AS BIGINT) AS n_bpe_pretokens,
  CASE WHEN n_ws > 0 THEN round(n_bpe / CAST(n_ws AS DOUBLE), 4) END
    AS bpe_ratio
FROM d
"""


@q(
    "q97_bpe_pretokens",
    oracle=_bpe_oracle(),
    description="whitespace vs BPE-style pre-token counts per document "
    "(the token-budget correction factor: whitespace undercounts "
    "punctuation/digit-heavy text) — the GPT-2 pre-tokenizer in its "
    "portable lookahead-free form, identical under Java regex and "
    "RE2; pure JVM regexp expressions, zero shuffle (cross-engine "
    "parity spot-checked on contraction/punctuation/digit text in "
    "unit tests)",
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.with_token_counts(
        T(spark, sf_dir, "documents").select("doc_id", "text")
    ).drop("text")


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@q(
    "q98_event_pivot",
    oracle="""
SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_click,
  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_error,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_purchase,
  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_signup,
  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_view
FROM events GROUP BY 1
""",
    description="PIVOT reshape: daily event counts spread into one "
    "column per event type (Spark's pivot with an EXPLICIT value "
    "list — the listed form skips the extra distinct-values job a "
    "bare pivot() runs, and makes the plan a plain single-aggregate "
    "with conditional counts, one shuffle)",
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = (
        T(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    for t in _EVENT_TYPES:
        out = out.withColumn(
            f"n_{t}", F.coalesce(F.col(t), F.lit(0)).cast("long")
        ).drop(t)
    return out


def _funnel_oracle() -> str:
    b, w_stop, w_wlen, w_distinct, w_len = ql.CLASSIFIER_WEIGHTS
    stop_list = ", ".join(f"'{w}'" for w in tx.STOPWORDS)
    return rf"""
WITH RECURSIVE {_dedup_cluster_ctes()},
gd AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '') AS w
       FROM documents),
gop AS (SELECT doc_id,
          (len(w) BETWEEN 20 AND 1000)
          AND (list_sum(list_transform(w, x -> len(x)))
               / CAST(len(w) AS DOUBLE) BETWEEN 4.0 AND 10.0)
          AND (len(list_intersect(list_transform(w, x -> lower(x)),
                 ['the','and','of','to','in','a','is'])) >= 2)
          AND (1 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE) <= 0.6)
            AS gkeep
        FROM gd WHERE len(w) >= 1),
cd AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
       FROM documents),
cf AS (SELECT doc_id,
         round(len(list_filter(w, x -> list_contains([{stop_list}], x)))
               / CAST(len(w) AS DOUBLE), 4) AS f_stopword,
         round(list_sum(list_transform(w, x -> len(x)))
               / CAST(len(w) AS DOUBLE), 4) AS f_word_len,
         round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4)
           AS f_distinct,
         round(len(w) / (len(w) + 100.0), 4) AS f_length
       FROM cd),
clf AS (SELECT doc_id,
          round(1.0 / (1.0 + exp(-({b} + {w_stop} * f_stopword
            + {w_wlen} * f_word_len + {w_distinct} * f_distinct
            + {w_len} * f_length))), 4) >= 0.5 AS ckeep
        FROM cf),
flags AS (SELECT d.doc_id,
            COALESCE(g.gkeep, FALSE) AS gkeep,
            COALESCE(c.ckeep, FALSE) AS ckeep,
            cl.cluster_id
          FROM documents d
          LEFT JOIN gop g USING (doc_id)
          LEFT JOIN clf c USING (doc_id)
          JOIN clusters cl ON cl.doc_id = d.doc_id)
SELECT CAST(count(*) AS BIGINT) AS n_raw,
  CAST(sum(CASE WHEN gkeep THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
  CAST(sum(CASE WHEN gkeep AND ckeep THEN 1 ELSE 0 END) AS BIGINT)
    AS n_classifier_pass,
  CAST(sum(CASE WHEN gkeep AND ckeep AND cluster_id = doc_id
           THEN 1 ELSE 0 END) AS BIGINT) AS n_final_survivors
FROM flags
"""


@q(
    "q99_curation_funnel",
    oracle=_funnel_oracle(),
    description="curation-funnel observability report: one row of "
    "per-stage survivor counts — raw → Gopher rules → quality "
    "classifier → near-dup keep-first survivor (cluster minimum on "
    "the FULL corpus, the q58 semantics) — the numbers a pipeline "
    "owner watches to see which gate is eating the corpus; every "
    "stage reuses its standalone operator, aggregated to ONE row",
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    gop = ql.gopher_rules(docs, "doc_id", "text").select(
        "doc_id", F.col("keep").alias("_g")
    )
    clf = ql.classifier_scores(docs, "doc_id", "text").select(
        "doc_id", F.col("keep").alias("_c")
    )
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    clusters = gr.dedup_clusters(docs, pairs, "doc_id")
    flags = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(gop, "doc_id", "left")
        .join(clf, "doc_id", "left")
        .join(clusters, "doc_id")
        .select(
            "doc_id",
            F.coalesce("_g", F.lit(False)).alias("gkeep"),
            F.coalesce("_c", F.lit(False)).alias("ckeep"),
            "cluster_id",
        )
    )
    keep2 = F.col("gkeep") & F.col("ckeep")
    return flags.agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum(F.when(F.col("gkeep"), 1).otherwise(0))
        .cast("long")
        .alias("n_gopher_pass"),
        F.sum(F.when(keep2, 1).otherwise(0))
        .cast("long")
        .alias("n_classifier_pass"),
        F.sum(
            F.when(keep2 & (F.col("cluster_id") == F.col("doc_id")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_final_survivors"),
    )


@q(
    "q100_event_unpivot",
    oracle="""
WITH p AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_error,
    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase,
    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS n_signup,
    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view
  FROM events GROUP BY 1)
SELECT day, event_type, CAST(n AS BIGINT) AS n FROM (
  SELECT day, 'click' AS event_type, n_click AS n FROM p
  UNION ALL SELECT day, 'error', n_error FROM p
  UNION ALL SELECT day, 'purchase', n_purchase FROM p
  UNION ALL SELECT day, 'signup', n_signup FROM p
  UNION ALL SELECT day, 'view', n_view FROM p)
WHERE n > 0
""",
    description="UNPIVOT reshape (q98's inverse): the wide daily "
    "matrix melts back to (day, event_type, n) long form via stack() "
    "— one generator expression, no join, no extra shuffle beyond "
    "the pivot aggregation; zero-count cells drop (matching pivot's "
    "missing-combination semantics in reverse)",
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q98(spark, sf_dir)
    stack_expr = "stack({n}, {args}) as (event_type, n)".format(
        n=len(_EVENT_TYPES),
        args=", ".join(f"'{t}', n_{t}" for t in _EVENT_TYPES),
    )
    return wide.select("day", F.expr(stack_expr)).filter(F.col("n") > 0)


@q(
    "q101_rank_distributions",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)
      AS purchase_value
  FROM events GROUP BY user_id)
SELECT user_id, n_events, purchase_value,
  round(percent_rank() OVER (ORDER BY n_events, user_id), 4) AS activity_pr,
  round(cume_dist() OVER (ORDER BY n_events, user_id), 4) AS activity_cd,
  CAST(ntile(10) OVER (ORDER BY purchase_value DESC, user_id) AS BIGINT)
    AS value_decile
FROM daily
""",
    description="rank-distribution window breadth: percent_rank, "
    "cume_dist and ntile deciles over per-user event aggregates — "
    "completes the window-function surface (rank/dense_rank/"
    "row_number/lag/lead/frames/ntile-tertiles covered elsewhere); "
    "one aggregation + one window ordering, deterministic via id "
    "tiebreaks. NOTE the global ordering serializes the (model-"
    "sized, one-row-per-user) aggregate through one task — exact "
    "global ranks are inherently a global sort; at 100 TB swap in "
    "the q75 histogram-threshold shape for approximate ranks",
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        T(spark, sf_dir, "events")
        .groupBy(F.col("user_id"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    ).otherwise(0.0)
                ),
                2,
            ).alias("purchase_value"),
        )
    )
    w_act = Window.orderBy(F.asc("n_events"), F.asc("user_id"))
    w_val = Window.orderBy(F.desc("purchase_value"), F.asc("user_id"))
    return daily.select(
        "user_id",
        "n_events",
        "purchase_value",
        F.round(F.percent_rank().over(w_act), 4).alias("activity_pr"),
        F.round(F.cume_dist().over(w_act), 4).alias("activity_cd"),
        F.ntile(10).over(w_val).cast("long").alias("value_decile"),
    )


@q(
    "q102_multimodal_manifest",
    oracle=r"""
WITH t AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_ws_tokens
           FROM documents)
SELECT doc_id, n_ws_tokens,
  CAST(8 + (doc_id * 3) % 24 AS BIGINT) AS img_width,
  CAST(8 + (doc_id * 5) % 24 AS BIGINT) AS img_height,
  CAST(50 + doc_id % 200 AS BIGINT) AS audio_samples,
  CAST((2 + doc_id % 5 + 1) // 2 AS BIGINT) AS n_video_frames_sampled
FROM t
""",
    description="multimodal sample manifest: one row per training "
    "sample joining REAL decoded properties of every modality — text "
    "token count, image dims from the BMP pixel decode, audio sample "
    "count from the PCM decode, sampled-frame count from the video "
    "container walk — the pre-training data-loader contract; three "
    "mapInPandas feature stages (partition-preserving) joined on the "
    "sample id, video frames re-aggregated to one row",
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators.multimodal import (
        audio_payload_udf,
        bmp_payload_udf,
        extract_audio_features,
        extract_image_features,
        extract_video_frame_features,
        video_payload_udf,
    )

    docs = T(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    from lynx_spark.operators._util import words_col

    text = docs.select(
        "doc_id",
        F.size(words_col("text")).cast("long").alias("n_ws_tokens"),
    )
    img = extract_image_features(
        docs.withColumn("payload", bmp_payload_udf("doc_id")),
        "doc_id",
        "payload",
    ).select(
        "doc_id",
        F.col("width").alias("img_width"),
        F.col("height").alias("img_height"),
    )
    audio = extract_audio_features(
        docs.withColumn("payload", audio_payload_udf("doc_id")),
        "doc_id",
        "payload",
    ).select("doc_id", F.col("n_samples").alias("audio_samples"))
    video = (
        extract_video_frame_features(
            docs.withColumn("payload", video_payload_udf("doc_id")),
            "doc_id",
            "payload",
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_video_frames_sampled"))
    )
    return (
        text.join(img, "doc_id")
        .join(audio, "doc_id")
        .join(video, "doc_id")
    )


@q(
    "q103_lateral_topn",
    oracle="""
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
""",
    description="correlated LATERAL subquery: each customer's top-2 "
    "orders by price — the dependent-join SQL surface (Catalyst "
    "decorrelates the lateral into a ranked join; semantically the "
    "per-key top-n that q07 expresses as a window). Deterministic "
    "via the (price DESC, orderkey) total order",
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all(spark, sf_dir)
    return spark.sql(
        """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
"""
    )


@q(
    "q104_grouping_sets",
    oracle="""
SELECT source, lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(grouping(source) * 2 + grouping(lang) AS BIGINT) AS gid
FROM documents
GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
""",
    description="explicit GROUPING SETS (the general form behind "
    "q14's ROLLUP / q33's CUBE): per-(source,lang), per-source, "
    "per-lang and grand-total aggregates in ONE pass with a "
    "grouping-id disambiguator — Catalyst expands to a single "
    "Expand + hash aggregate, one shuffle",
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all(spark, sf_dir)
    return spark.sql(
        """
SELECT source, lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(grouping(source) * 2 + grouping(lang) AS BIGINT) AS gid
FROM documents
GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
"""
    )


def _ann_recall_oracle(max_q: int = 20, k: int = 3) -> str:
    bucket_cols = []
    for t in range(sim.NUM_TABLES):
        plane_dots = [
            f"list_dot_product(e, [{', '.join(repr(v) for v in p)}])"
            for p in sim.HYPERPLANES[t]
        ]
        bucket = " + ".join(
            f"(CASE WHEN {d} > 0 THEN {1 << i} ELSE 0 END)"
            for i, d in enumerate(plane_dots)
        )
        bucket_cols.append(f"CAST({bucket} AS BIGINT) AS bucket{t}")
    buckets_sql = ",\n    ".join(bucket_cols)
    cand_union = "\n  UNION\n".join(
        f"  SELECT q.vec_id AS qid, n.vec_id AS nid FROM v q "
        f"JOIN v n ON q.bucket{t} = n.bucket{t} AND n.vec_id <> q.vec_id "
        f"WHERE q.vec_id < {max_q}"
        for t in range(sim.NUM_TABLES)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
    {buckets_sql}
  FROM embeddings),
tpairs AS (
  SELECT q.vec_id AS qid, n.vec_id AS nid, q.e AS qe, n.e AS ne
  FROM v q JOIN v n ON q.vec_id < {max_q} AND n.vec_id <> q.vec_id),
telems AS (SELECT qid, nid, unnest(qe) AS x, unnest(ne) AS y FROM tpairs),
tsums AS (
  SELECT qid, nid,
    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5) AS cs
  FROM telems GROUP BY qid, nid),
truth AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
      row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rnk
    FROM tsums) WHERE rnk <= {k}),
cand AS (
{cand_union}),
fpairs AS (
  SELECT c.qid, c.nid, q.e AS qe, n.e AS ne
  FROM cand c JOIN v q ON q.vec_id = c.qid JOIN v n ON n.vec_id = c.nid),
felems AS (SELECT qid, nid, unnest(qe) AS x, unnest(ne) AS y FROM fpairs),
fsums AS (
  SELECT qid, nid,
    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5) AS cs
  FROM felems GROUP BY qid, nid),
found AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
      row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rnk
    FROM fsums) WHERE rnk <= {k}),
hits AS (SELECT t.qid, count(*) AS h
         FROM truth t JOIN found f ON f.qid = t.qid AND f.nid = t.nid
         GROUP BY t.qid),
per_q AS (SELECT t.qid, COALESCE(h.h, 0) AS h, count(*) AS tt
          FROM truth t LEFT JOIN hits h ON h.qid = t.qid
          GROUP BY t.qid, h.h)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
  round(sum(h) / CAST(sum(tt) AS DOUBLE), 4) AS mean_recall,
  round(min(h / CAST(tt AS DOUBLE)), 4) AS worst_recall
FROM per_q
"""


@q(
    "q105_ann_recall",
    oracle=_ann_recall_oracle(),
    description="ANN recall@3 audit of the SINGLE-PROBE baseline "
    "(explicit multiprobe=False — since r10 the default index path "
    "is Hamming-1 multiprobe, audited by q106; keeping both rows "
    "quantifies the recall-vs-cost lever) scored against brute-force "
    "truth (q24) over a 20-query sample — the retrieval twin of "
    "q81's dedup-recall audit; exact integer hit counts, one row out",
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ann_recall_audit(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        max_query_id=20, k=3, multiprobe=False,
    )


def _ann_recall_multiprobe_oracle(max_q: int = 20, k: int = 3) -> str:
    """The q105 oracle with Hamming-1 multiprobe on the query side:
    candidates meet when the corpus bucket equals the query bucket OR
    any single-bit flip of it."""
    base = _ann_recall_oracle(max_q, k)
    for t in range(sim.NUM_TABLES):
        flips = ", ".join(
            f"xor(q.bucket{t}, {1 << i})"
            for i in range(sim.PLANES_PER_TABLE)
        )
        old = (
            f"JOIN v n ON q.bucket{t} = n.bucket{t} "
            f"AND n.vec_id <> q.vec_id"
        )
        new = (
            f"JOIN v n ON n.bucket{t} IN (q.bucket{t}, {flips}) "
            f"AND n.vec_id <> q.vec_id"
        )
        assert old in base
        base = base.replace(old, new)
    return base


@q(
    "q106_ann_multiprobe_recall",
    oracle=_ann_recall_multiprobe_oracle(),
    description="multiprobe-LSH recall@3 audit (Lv et al. 2007): "
    "Hamming-1 bucket probing on the QUERY side only — same index, "
    "same corpus layout, ≤5× probe rows for the small query set — "
    "scored against the same brute-force truth as q105; the "
    "measured recall lift (q105 vs q106) is the recall-vs-cost "
    "lever quantified",
)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ann_recall_audit(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        max_query_id=20, k=3, multiprobe=True,
    )


def _dataset_card_oracle() -> str:
    b, w_stop, w_wlen, w_distinct, w_len = ql.CLASSIFIER_WEIGHTS
    stop_list = ", ".join(f"'{w}'" for w in tx.STOPWORDS)
    return rf"""
WITH ent AS ({_ENTROPY_ORACLE}),
gd AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '') AS w
       FROM documents),
gop AS (SELECT doc_id,
          (len(w) BETWEEN 20 AND 1000)
          AND (list_sum(list_transform(w, x -> len(x)))
               / CAST(len(w) AS DOUBLE) BETWEEN 4.0 AND 10.0)
          AND (len(list_intersect(list_transform(w, x -> lower(x)),
                 ['the','and','of','to','in','a','is'])) >= 2)
          AND (1 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE) <= 0.6)
            AS gkeep
        FROM gd WHERE len(w) >= 1),
cd AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
       FROM documents),
cf AS (SELECT doc_id,
         round(len(list_filter(w, x -> list_contains([{stop_list}], x)))
               / CAST(len(w) AS DOUBLE), 4) AS f_stopword,
         round(list_sum(list_transform(w, x -> len(x)))
               / CAST(len(w) AS DOUBLE), 4) AS f_word_len,
         round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4)
           AS f_distinct,
         round(len(w) / (len(w) + 100.0), 4) AS f_length
       FROM cd),
clf AS (SELECT doc_id,
          round(1.0 / (1.0 + exp(-({b} + {w_stop} * f_stopword
            + {w_wlen} * f_word_len + {w_distinct} * f_distinct
            + {w_len} * f_length))), 4) AS prob
        FROM cf)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
  (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents)
    AS n_sources,
  (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents) AS n_langs,
  (SELECT CAST(sum(n_words) AS BIGINT) FROM ent) AS total_tokens,
  (SELECT round(CAST(sum(CAST(round(word_entropy, 4)
              AS DECIMAL(28,4))) AS DOUBLE) / count(*), 4)
     FROM ent) AS mean_entropy,
  (SELECT round(sum(CASE WHEN gkeep THEN 1 ELSE 0 END)
                / CAST((SELECT count(*) FROM documents) AS DOUBLE), 4)
     FROM gop) AS gopher_pass_rate,
  (SELECT round(CAST(sum(CAST(prob AS DECIMAL(28,4))) AS DOUBLE)
                / count(*), 4)
     FROM clf) AS mean_quality_prob
"""


@q(
    "q107_dataset_card",
    oracle=_dataset_card_oracle(),
    description="corpus datasheet (the 'dataset card' numbers a data "
    "release publishes): docs, sources, languages, total tokens, "
    "mean word entropy, Gopher pass rate and mean classifier "
    "probability — every statistic is a one-pass aggregate of an "
    "existing operator's output; means accumulate rounded DECIMAL "
    "terms (order-independent), output is ONE row",
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    ent = ql.word_entropy(docs, "doc_id", "text")
    gop = ql.gopher_rules(docs, "doc_id", "text")
    clf = ql.classifier_scores(docs, "doc_id", "text")
    base = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    tok = ent.agg(
        F.sum("n_words").cast("long").alias("total_tokens"),
        F.round(
            F.sum(F.round(F.col("word_entropy"), 4).cast("decimal(28,4)"))
            .cast("double")
            / F.count("*"),
            4,
        ).alias("mean_entropy"),
    )
    n_docs_sub = docs.count()
    gpass = gop.agg(
        F.round(
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            / F.lit(float(n_docs_sub)),
            4,
        ).alias("gopher_pass_rate")
    )
    qprob = clf.agg(
        F.round(
            F.sum(F.col("quality_prob").cast("decimal(28,4)")).cast("double")
            / F.count("*"),
            4,
        ).alias("mean_quality_prob")
    )
    return (
        base.join(F.broadcast(tok))
        .join(F.broadcast(gpass))
        .join(F.broadcast(qprob))
    )


@q(
    "q108_char_classes",
    oracle=r"""
WITH c AS (SELECT doc_id,
             len(regexp_replace(text, '\s', '', 'g')) AS ns,
             len(text) - len(regexp_replace(text, '[A-Z]', '', 'g')) AS nu,
             len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS nd,
             len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
               AS np,
             len(text) - len(regexp_replace(text, '[^\x00-\x7F]', '', 'g'))
               AS na
           FROM documents)
SELECT doc_id, CAST(ns AS BIGINT) AS n_nonspace,
  CASE WHEN ns > 0 THEN round(nu / CAST(ns AS DOUBLE), 4) END AS upper_frac,
  CASE WHEN ns > 0 THEN round(nd / CAST(ns AS DOUBLE), 4) END AS digit_frac,
  CASE WHEN ns > 0 THEN round(np / CAST(ns AS DOUBLE), 4) END AS punct_frac,
  CASE WHEN ns > 0 THEN round(na / CAST(ns AS DOUBLE), 4) END
    AS nonascii_frac
FROM c
""",
    description="character-class composition (C4/RefinedWeb quality "
    "features: uppercase/digit/punctuation/non-ASCII ratios over "
    "non-space chars — the OCR-garbage/code-dump/shouting detectors) "
    "— pure JVM regexp-strip counts, zero shuffle; classes are "
    "explicit character sets identical under Java regex and RE2 "
    "(unit-tested on mixed-case/unicode/punct fixtures)",
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.with_char_class_stats(
        T(spark, sf_dir, "documents").select("doc_id", "text")
    ).drop("text")


@q(
    "q109_approx_ranks",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id),
counts AS (SELECT n_events AS v, count(*) AS c FROM daily GROUP BY 1),
cum AS (SELECT v,
          COALESCE(SUM(c) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM counts),
tot AS (SELECT count(*) AS n FROM daily)
SELECT d.user_id, d.n_events,
  round(cum.below / CAST(greatest(tot.n - 1, 1) AS DOUBLE), 4) AS pct_rank
FROM daily d JOIN cum ON cum.v = d.n_events CROSS JOIN tot
""",
    description="percentile rank WITHOUT a global sort (closes q101's "
    "documented caveat): per-value counts aggregate to a model-sized "
    "frame, the strict-below cumulative is windowed THERE, and the "
    "corpus side is one broadcast join — identical to percent_rank "
    "over the bare value (ties share their first row's rank); the "
    "q75 histogram-threshold shape applied to ranking",
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    return ql.approx_percent_rank(daily, "n_events")


@q(
    "q110_incremental_winnow",
    oracle=rf"""
WITH norm AS (
  SELECT doc_id, source,
    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
g AS (
  SELECT doc_id, source,
    CASE WHEN len(t) >= {tx.WINNOW_K} THEN
      list_transform(generate_series(1, len(t) - {tx.WINNOW_K - 1}),
                     i -> md5(substr(t, i, {tx.WINNOW_K})))
    ELSE []::VARCHAR[] END AS hs
  FROM norm),
f AS (
  SELECT doc_id, source,
    CASE WHEN len(hs) >= {tx.WINNOW_W} THEN
      list_distinct(list_transform(
        generate_series(1, len(hs) - {tx.WINNOW_W - 1}),
        j -> list_min(hs[j:j + {tx.WINNOW_W - 1}])))
    ELSE []::VARCHAR[] END AS fps
  FROM g),
fp AS (SELECT doc_id, source, unnest(fps) AS fp FROM f),
seen AS (SELECT doc_id, fp FROM (
           SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS _df
           FROM fp WHERE source = 'src0')
         WHERE _df <= 20)
SELECT n.doc_id AS new_id, s.doc_id AS seen_id,
  CAST(count(*) AS BIGINT) AS n_common
FROM fp n JOIN seen s ON n.fp = s.fp
WHERE n.source <> 'src0'
GROUP BY 1, 2
HAVING count(*) >= 2
""",
    description="incremental partial-overlap detection (winnow tier "
    "of the incremental dedup family, completing exact/minhash/"
    "embedding): incoming (non-src0) documents sharing ≥2 winnowing "
    "fingerprints with the ingested (src0) corpus — bipartite "
    "new×seen fingerprint join only, with the seen-side doc-frequency "
    "cap dropping boilerplate fingerprints (the word-salad corpus "
    "makes hot fingerprints the norm — uncapped, the join is "
    "quadratic in practice, measured as a hang at sf0.001); catches "
    "the copied-paragraph case whole-document similarity misses",
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return tx.incremental_winnow_matches(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "doc_id",
        "text",
    )


@q(
    "q111_paragraph_dedup",
    oracle=_WORDS_CTE
    + """
, g AS (SELECT doc_id, w,
          unnest(generate_series(1, greatest(1, len(w)), 20)) AS s
        FROM d WHERE len(w) >= 1),
p AS (SELECT doc_id, CAST((s - 1) // 20 AS BIGINT) AS chunk_id,
        md5(array_to_string(w[s : s + 19], ' ')) AS h
      FROM g),
f AS (SELECT doc_id, chunk_id,
        min(doc_id * 100000 + chunk_id) OVER (PARTITION BY h) AS fk
      FROM p)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
  CAST(sum(CASE WHEN doc_id * 100000 + chunk_id = fk THEN 1 ELSE 0 END)
    AS BIGINT) AS n_kept,
  round(sum(CASE WHEN doc_id * 100000 + chunk_id = fk THEN 1 ELSE 0 END)
    / CAST(count(*) AS DOUBLE), 4) AS kept_frac
FROM f GROUP BY doc_id
""",
    description="paragraph-granular exact dedup (the Dolma/CCNet "
    "sub-document mode between whole-document q21 and sliding-window "
    "q66): 20-word non-overlapping paragraphs, corpus-wide keep-first "
    "by (doc_id, chunk_id), per-document retained fraction — the "
    "boilerplate-document signal curation thresholds on; paragraph "
    "split is zero-shuffle, first-occurrence is one hash-keyed "
    "window, then one doc aggregate",
)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.paragraph_dedup_stats(
        T(spark, sf_dir, "documents"), "doc_id", "text"
    )


@q(
    "q112_bpe_pair_freqs",
    oracle=_WORDS_CTE
    + """
, wd AS (SELECT unnest(w) AS word FROM d),
wc AS (SELECT word, count(*) AS c FROM wd WHERE len(word) >= 2
       GROUP BY word),
ix AS (SELECT word, c, unnest(generate_series(1, len(word) - 1)) AS i
       FROM wc),
agg AS (SELECT substr(word, i, 2) AS pair, CAST(sum(c) AS BIGINT) AS n
        FROM ix GROUP BY 1)
SELECT pair, n,
  CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
FROM agg ORDER BY n DESC, pair LIMIT 50
""",
    description="BPE tokenizer-training pair statistics (Sennrich et "
    "al. 2016 first-merge counts): adjacent character pairs weighted "
    "by word frequency, top-50 with deterministic rank — the "
    "distributed-counting shape every BPE merge iteration shares; "
    "corpus touches only the word-frequency aggregate (map-side "
    "combine), pair expansion runs on the vocabulary",
)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.bpe_pair_frequencies(T(spark, sf_dir, "documents"))


@q(
    "q113_vocab_coverage",
    oracle=_WORDS_CTE
    + """
, words AS (SELECT unnest(w) AS word FROM d),
counts AS (SELECT word, count(*) AS freq FROM words WHERE word <> ''
           GROUP BY word),
ranked AS (SELECT freq,
             row_number() OVER (ORDER BY freq DESC, word) AS rank
           FROM counts),
total AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM counts),
sizes AS (SELECT unnest([100, 500, 1000, 5000]) AS vocab_size)
SELECT CAST(s.vocab_size AS BIGINT) AS vocab_size,
  CAST(sum(r.freq) AS BIGINT) AS covered, t.total,
  round(sum(r.freq) / CAST(t.total AS DOUBLE), 4) AS coverage,
  round(1 - sum(r.freq) / CAST(t.total AS DOUBLE), 4) AS oov_rate
FROM sizes s JOIN ranked r ON r.rank <= s.vocab_size CROSS JOIN total t
GROUP BY s.vocab_size, t.total
""",
    description="vocabulary coverage / OOV-rate curve (tokenizer "
    "design: what top-K vocabulary covers which fraction of token "
    "occurrences, and the <unk>/byte-fallback remainder) — corpus "
    "touched only by the word-frequency aggregate; ranking windows "
    "the model-sized vocabulary and K-membership is a broadcast "
    "against a 4-row sizes literal",
)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql.vocab_coverage(T(spark, sf_dir, "documents"))


@q(
    "q114_pps_sample",
    oracle="""
WITH tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w_total FROM documents)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
  round(least(100.0 * n_chars / CAST(w_total AS DOUBLE), 1.0), 9)
    AS incl_prob,
  round(1.0 / least(100.0 * n_chars / CAST(w_total AS DOUBLE), 1.0), 6)
    AS ht_weight
FROM documents CROSS JOIN tot
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        / 1152921504606846976.0
      < 100.0 * n_chars / CAST(w_total AS DOUBLE)
""",
    description="Poisson probability-proportional-to-size corpus "
    "sample (inclusion prob k*w/W, Horvitz-Thompson inverse weights; "
    "w = n_chars, k = 100): the unbiased way to thin a corpus to a "
    "token budget — one broadcast total + a map-side filter, no sort "
    "and no data shuffle; selection uses only IEEE-exact arithmetic "
    "on the shared 60-bit md5 hash, so both engines pick the "
    "identical set",
)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.pps_sample(
        T(spark, sf_dir, "documents"), "doc_id", "n_chars", expected_k=100.0
    )


@q(
    "q115_curriculum_interleave",
    oracle="""
WITH base AS (SELECT doc_id, source AS domain, n_chars FROM documents),
dim AS (SELECT domain,
          CAST(row_number() OVER (ORDER BY domain) AS BIGINT) AS domain_idx
        FROM (SELECT DISTINCT domain FROM base)),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_domains FROM dim),
st AS (SELECT doc_id, domain,
         CAST(row_number() OVER (
           PARTITION BY domain ORDER BY n_chars, doc_id) AS BIGINT) AS stage
       FROM base)
SELECT st.doc_id, st.domain, st.stage,
  CAST((st.stage - 1) * n.n_domains + d.domain_idx AS BIGINT) AS pos
FROM st JOIN dim d USING (domain) CROSS JOIN n
""",
    description="curriculum training order with round-robin domain "
    "interleaving: per-domain easiest-first stage (difficulty = "
    "n_chars) and the closed-form global position (stage-1)*n_domains"
    " + domain_idx — easy docs from every domain lead and no domain "
    "streaks, computed with ONE domain-keyed window shuffle instead "
    "of the global range-exchange a naive ORDER BY difficulty pays",
)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.curriculum_interleave(
        T(spark, sf_dir, "documents"), "doc_id", "source", "n_chars"
    )


@q(
    "q116_drift_psi",
    oracle="""
WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
rc AS (SELECT event_type AS category, CAST(count(*) AS BIGINT) AS n_ref
       FROM ev WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
cc AS (SELECT event_type AS category, CAST(count(*) AS BIGINT) AS n_cur
       FROM ev WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1),
j AS (SELECT coalesce(rc.category, cc.category) AS category,
        coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      FROM rc FULL OUTER JOIN cc ON rc.category = cc.category),
t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
        CAST(sum(n_cur) AS BIGINT) AS t_cur,
        CAST(count(*) AS BIGINT) AS n_cat FROM j)
SELECT category, n_ref, n_cur,
  round((n_ref + 1) / CAST(t_ref + n_cat AS DOUBLE), 9) AS share_ref,
  round((n_cur + 1) / CAST(t_cur + n_cat AS DOUBLE), 9) AS share_cur,
  round(((n_cur + 1) / CAST(t_cur + n_cat AS DOUBLE)
         - (n_ref + 1) / CAST(t_ref + n_cat AS DOUBLE))
        * ln(((n_cur + 1) / CAST(t_cur + n_cat AS DOUBLE))
             / ((n_ref + 1) / CAST(t_ref + n_cat AS DOUBLE))), 9)
    AS psi_term
FROM j CROSS JOIN t
""",
    description="population-stability-index drift monitor between two "
    "corpus periods (events before/after Jan 16 as reference vs "
    "current): per-category shares with add-one smoothing and PSI "
    "contribution (p_cur-p_ref)*ln(p_cur/p_ref) — the "
    "refresh-the-crawl audit; two count aggregations to category "
    "cardinality, tiny outer join, one broadcast totals row, data "
    "never shuffled",
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    boundary = F.lit("2024-01-16").cast("timestamp")
    return ql.category_drift_psi(
        ev.filter(F.col("ts") >= boundary),
        ev.filter(F.col("ts") < boundary),
        "event_type",
    )


@q(
    "q117_drift_ks",
    oracle="""
WITH vc AS (SELECT CAST(value AS DOUBLE) AS _v FROM events
            WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'),
vr AS (SELECT CAST(value AS DOUBLE) AS _v FROM events
       WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'),
bounds AS (SELECT min(_v) AS _lo, max(_v) AS _hi
           FROM (SELECT _v FROM vc UNION ALL SELECT _v FROM vr)),
rc AS (SELECT CAST(CASE WHEN (_hi - _lo) / 20.0 = 0 THEN 0
         ELSE least(19, floor((_v - _lo) / ((_hi - _lo) / 20.0))) END
         AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_ref
       FROM vr CROSS JOIN bounds GROUP BY 1),
cc AS (SELECT CAST(CASE WHEN (_hi - _lo) / 20.0 = 0 THEN 0
         ELSE least(19, floor((_v - _lo) / ((_hi - _lo) / 20.0))) END
         AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_cur
       FROM vc CROSS JOIN bounds GROUP BY 1),
j AS (SELECT coalesce(rc.bin, cc.bin) AS bin,
        coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin),
t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
        CAST(sum(n_cur) AS BIGINT) AS t_cur FROM j)
SELECT bin, n_ref, n_cur,
  round(CAST(sum(n_ref) OVER w AS DOUBLE) / CAST(t_ref AS DOUBLE), 9)
    AS cum_share_ref,
  round(CAST(sum(n_cur) OVER w AS DOUBLE) / CAST(t_cur AS DOUBLE), 9)
    AS cum_share_cur,
  round(abs(CAST(sum(n_cur) OVER w AS DOUBLE) / CAST(t_cur AS DOUBLE)
            - CAST(sum(n_ref) OVER w AS DOUBLE) / CAST(t_ref AS DOUBLE)),
        9) AS ks_term
FROM j CROSS JOIN t
WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    description="Kolmogorov-Smirnov-style numeric drift monitor (the "
    "continuous twin of q116): both event periods histogram into 20 "
    "shared equal-width bins, per-bin cumulative shares and their "
    "absolute gap; max(ks_term) is the histogram-granular KS "
    "statistic — ECDFs computed on the bin-granular frame, never a "
    "global sort; bucket membership is IEEE-exact on both engines",
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    boundary = F.lit("2024-01-16").cast("timestamp")
    return ql.numeric_drift_ks(
        ev.filter(F.col("ts") >= boundary),
        ev.filter(F.col("ts") < boundary),
        "value",
        nbins=20,
    )


@q(
    "q118_mixture_materialize",
    oracle="""
WITH counts AS (SELECT source AS domain, count(*) AS n_docs
                FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(CAST(round(sqrt(n_docs), 6) AS DECIMAL(28,6)))
                 AS DOUBLE) AS _total_scaled
        FROM counts),
quotas AS (SELECT domain,
             CAST(floor(round(sqrt(n_docs) / _total_scaled, 6) * 20000)
               AS BIGINT) AS quota_tokens
           FROM counts, tot),
base AS (SELECT doc_id, source AS domain, CAST(n_chars AS BIGINT)
           AS n_tokens FROM documents),
cum AS (SELECT doc_id, domain, n_tokens,
          CAST(sum(n_tokens) OVER (
            PARTITION BY domain
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens
        FROM base)
SELECT c.doc_id, c.domain, c.n_tokens, c.cum_tokens, q.quota_tokens
FROM cum c JOIN quotas q USING (domain)
WHERE c.cum_tokens <= q.quota_tokens
""",
    description="materialize the temperature mixture into an actual "
    "selection (the application step after q68's weights): each "
    "domain gets a token quota floor(temp_frac * 20000), filled in "
    "reproducible md5-of-id order until the running total would "
    "overflow — domain-granular broadcast quotas + ONE domain-keyed "
    "window, never a global sort; sqrt + decimal-summed normalizer "
    "keeps quotas bit-identical across engines",
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.materialize_mixture(
        T(spark, sf_dir, "documents"),
        "doc_id",
        "source",
        "n_chars",
        budget=20000,
    )


def _logreg_oracle(iters: int = 3, lr: float = 2.0) -> str:
    """Build the q119 oracle: the SAME gradient-descent recurrence as
    lm.train_logreg, unrolled as chained CTEs. Per-row gradient terms
    round to 12 decimals and sum as DECIMAL (exact, order-free), so
    the weight trajectory is bit-identical to Spark's; every other
    step is IEEE-identical arithmetic on equal inputs."""

    def p(w0: str, w1: str, w2: str) -> str:
        return f"1.0/(1.0 + exp(-({w0} + {w1}*x1 + {w2}*x2)))"

    def pclamp(raw: str) -> str:
        # the loss-only saturation clamp, the exact twin of
        # train_logreg's: 1.0 - 1e-12 computed, not a literal
        return f"greatest(1e-12, least(1.0 - 1e-12, {raw}))"

    parts = [
        r"""
WITH f AS (SELECT CAST(n_chars AS DOUBLE)/1000.0 AS x1,
         CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)/100.0
           AS x2,
         CASE WHEN n_chars >= 280 THEN 1.0 ELSE 0.0 END AS y
       FROM documents),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f)"""
    ]
    prev = ("0.0", "0.0", "0.0")
    for t in range(1, iters + 1):
        pt = p(*prev)
        pcl = pclamp(pt)
        src = "f" if t == 1 else f"f, w{t-1}"
        parts.append(
            f""",
i{t} AS (SELECT
  CAST(sum(CAST(round(1.0*({pt} - y), 12) AS DECIMAL(38,12)))
    AS DOUBLE) AS g0,
  CAST(sum(CAST(round(x1*({pt} - y), 12) AS DECIMAL(38,12)))
    AS DOUBLE) AS g1,
  CAST(sum(CAST(round(x2*({pt} - y), 12) AS DECIMAL(38,12)))
    AS DOUBLE) AS g2,
  CAST(sum(CAST(round(-(y*ln({pcl}) + (1.0-y)*ln(1.0 - {pcl})), 9)
    AS DECIMAL(38,9))) AS DOUBLE) AS l
  FROM {src}),
w{t} AS (SELECT {prev[0]} - {lr}*(g0/n) AS w0,
  {prev[1]} - {lr}*(g1/n) AS w1,
  {prev[2]} - {lr}*(g2/n) AS w2, l/n AS loss
  FROM {"i" + str(t) + ", n" if t == 1 else f"i{t}, n, w{t-1}"})"""
        )
        prev = (f"w{t}.w0", f"w{t}.w1", f"w{t}.w2")
    selects = [
        f"""SELECT CAST({t} AS BIGINT) AS iteration,
  round(loss, 6) AS avg_loss, round(w0, 6) AS w_bias,
  round(w1, 6) AS w_len, round(w2, 6) AS w_words FROM w{t}"""
        for t in range(1, iters + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@q(
    "q119_train_classifier",
    oracle=_logreg_oracle(),
    description="distributed full-batch logistic-regression TRAINING "
    "(the supervised twin of the q25b k-means trainer): 3 gradient "
    "iterations over (length, word-count) features vs a heuristic "
    "length label, each iteration ONE aggregation with d+2 scalars "
    "crossing the driver; per-row gradient terms decimal-summed so "
    "the SQL oracle reproduces the weight trajectory bit-for-bit",
)
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators._util import words_col

    docs = T(spark, sf_dir, "documents").select(
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("x_len"),
        (F.size(words_col("text")).cast("double") / F.lit(100.0)).alias(
            "x_words"
        ),
        F.when(F.col("n_chars") >= 280, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("label"),
    )
    out = lm.train_logreg(
        docs, ["x_len", "x_words"], "label", iters=3, lr=2.0
    )
    return out.select(
        "iteration",
        "avg_loss",
        F.col("w_bias"),
        F.col("w_x_len").alias("w_len"),
        F.col("w_x_words").alias("w_words"),
    )


@q(
    "q120_hard_negatives",
    oracle="""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
pairs AS (
  SELECT q.vec_id AS qid, q.label AS ql, n.vec_id AS nid, n.label AS nl,
         q.e AS qe, n.e AS ne
  FROM v q JOIN v n ON q.vec_id < 20 AND q.label <> n.label),
elems AS (SELECT qid, ql, nid, nl, unnest(qe) AS x, unnest(ne) AS y
          FROM pairs),
sums AS (
  SELECT qid, ql, nid, nl,
    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5) AS cos_sim
  FROM elems GROUP BY qid, ql, nid, nl),
ranked AS (
  SELECT qid, ql, nid, nl, cos_sim,
    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid)
         AS BIGINT) AS rnk
  FROM sums)
SELECT qid, CAST(ql AS BIGINT) AS q_label, nid,
  CAST(nl AS BIGINT) AS n_label, cos_sim, rnk
FROM ranked WHERE rnk <= 5
""",
    description="hard-negative mining for contrastive training: per "
    "anchor, the 5 closest OTHER-label vectors by cosine — the "
    "negatives that sit just across the decision boundary; the q24 "
    "broadcast-anchors plan with the label inequality fused into the "
    "join condition, corpus streamed once, per-anchor window top-k",
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.hard_negatives(
        T(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        max_query_id=20,
        k=5,
    )


def _classifier_eval_oracle() -> str:
    """q121 oracle: the q84 score CTEs + the q119 length label, then
    the threshold sweep on the score-bucket histogram."""
    base = _classifier_oracle()
    ctes = base[: base.rindex("SELECT doc_id")]
    ths = ", ".join(str(round(0.1 * i, 1)) for i in range(1, 10))
    return (
        ctes
        + f""", sc AS (
  SELECT z.doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS s,
    CASE WHEN doc.n_chars >= 280 THEN 1 ELSE 0 END AS y
  FROM z JOIN documents doc USING (doc_id)),
b AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
        CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY s),
th AS (SELECT CAST(unnest([{ths}]) AS DOUBLE) AS threshold),
agg AS (SELECT threshold,
  CAST(sum(CASE WHEN s >= threshold THEN pos ELSE 0 END) AS BIGINT) AS tp,
  CAST(sum(CASE WHEN s >= threshold THEN n - pos ELSE 0 END) AS BIGINT)
    AS fp,
  CAST(sum(CASE WHEN s < threshold THEN pos ELSE 0 END) AS BIGINT) AS fn,
  CAST(sum(CASE WHEN s < threshold THEN n - pos ELSE 0 END) AS BIGINT)
    AS tn
  FROM th CROSS JOIN b GROUP BY threshold)
SELECT threshold, tp, fp, fn, tn,
  round(CASE WHEN tp + fp > 0
    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6)
    AS precision,
  round(CASE WHEN tp + fn > 0
    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6)
    AS recall,
  round(CASE WHEN tp + fp > 0 AND tp + fn > 0
    AND CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
        + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) > 0
    THEN 2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
         * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
         / (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
            + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
    ELSE 0.0 END, 6) AS f1
FROM agg
"""
    )


@q(
    "q121_classifier_eval",
    oracle=_classifier_eval_oracle(),
    description="classifier calibration sweep (the step between "
    "training q119 and gating q84): precision/recall/F1 at 9 "
    "thresholds against the heuristic length label — the corpus "
    "aggregates ONCE to the 4dp score-bucket histogram and all "
    "thresholds evaluate on that model-sized frame, instead of one "
    "corpus scan per threshold",
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    scored = ql.classifier_scores(docs, "doc_id", "text").select(
        "doc_id", "quality_prob"
    )
    labeled = docs.select(
        "doc_id",
        F.when(F.col("n_chars") >= 280, F.lit(1))
        .otherwise(F.lit(0))
        .alias("label"),
    )
    return ql.classifier_eval_curve(
        scored.join(labeled, "doc_id"), "quality_prob", "label"
    )


@q(
    "q122_strip_markup",
    oracle=r"""
WITH h AS (SELECT doc_id,
    '<div id="' || CAST(doc_id AS VARCHAR)
    || '"><script type="text/javascript">var x = 1 < 2;</script>'
    || '<!-- boilerplate --><p>' || text
    || '</p><br/>&amp; &lt;tail&gt; &nbsp;</div>' AS html
  FROM documents),
s AS (SELECT doc_id, html,
    regexp_replace(html, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g')
      AS s1 FROM h),
sy AS (SELECT doc_id, html,
    regexp_replace(s1, '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g')
      AS s1 FROM s),
su AS (SELECT doc_id, html,
    regexp_replace(s1, '(?is)<(?:script|style)\b[^>]*>.*$', ' ', 'g')
      AS s1 FROM sy),
s2 AS (SELECT doc_id, html,
    regexp_replace(s1, '(?s)<!--.*?-->', ' ', 'g') AS s2 FROM su),
s3 AS (SELECT doc_id, html,
    regexp_replace(s2, '<[^>]*>', ' ', 'g') AS s3 FROM s2),
e AS (SELECT doc_id, html,
    replace(replace(replace(replace(replace(replace(
      s3, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS e FROM s3),
c AS (SELECT doc_id, html,
    trim(regexp_replace(e, '\s+', ' ', 'g')) AS extracted FROM e)
SELECT doc_id, extracted,
  CAST(len(html) - len(extracted) AS BIGINT) AS markup_overhead
FROM c
""",
    description="markup-to-text extraction (the C4/CommonCrawl "
    "acquisition step): drop script blocks and comments with their "
    "contents, strip tags, decode entities (amp last so escaped "
    "entities stay escaped), collapse whitespace — pure JVM regexp "
    "chain, zero shuffle; the query wraps each document in "
    "deterministic real markup and the oracle verifies the extractor "
    "recovers content + entity tail exactly",
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div id="'),
        F.col("doc_id").cast("string"),
        F.lit('"><script type="text/javascript">var x = 1 < 2;</script>'),
        F.lit("<!-- boilerplate --><p>"),
        F.col("text"),
        F.lit("</p><br/>&amp; &lt;tail&gt; &nbsp;</div>"),
    )
    framed = docs.select("doc_id", html.alias("html"))
    return tx.with_markup_stripped(framed, "html").select(
        "doc_id", "extracted", "markup_overhead"
    )


@q(
    "q123_corpus_checksum",
    oracle="""
SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text),
                 1, 15))::UBIGINT AS DECIMAL(38,0))) AS DECIMAL(38,0))
    AS VARCHAR) AS content_sum
FROM documents GROUP BY source
""",
    description="order-insensitive corpus content checksum per source "
    "(the reproducibility manifest a training run pins): exact "
    "decimal sum of per-document 60-bit content hashes over "
    "(id, text) — any add/drop/edit changes it, and the exact "
    "integer sum is partition-order-free where a double sum or a "
    "concat-then-hash would not be; one map-side-partial aggregate. "
    "The sum is emitted as its decimal-digit STRING on both sides: "
    "the values exceed int64 and a DECIMAL(38,0) column is a driver-"
    "canonicalization hazard (r06 red row) even when bit-identical",
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.corpus_checksum(
        T(spark, sf_dir, "documents"), "doc_id", "text", group_col="source"
    ).withColumn("content_sum", F.col("content_sum").cast("string"))


@q(
    "q124_feature_corr",
    oracle=r"""
WITH d AS (SELECT CAST(n_chars AS DECIMAL(19,0)) AS f_chars,
    CAST(len(string_split_regex(trim(text), '\s+')) AS DECIMAL(19,0))
      AS f_words,
    CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
      AS DECIMAL(19,0)) AS f_distinct
  FROM documents),
m AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(count(*) AS DOUBLE) AS nd,
    CAST(sum(f_chars) AS DOUBLE) AS s_c,
    CAST(sum(f_words) AS DOUBLE) AS s_w,
    CAST(sum(f_distinct) AS DOUBLE) AS s_d,
    CAST(sum(f_chars * f_words) AS DOUBLE) AS p_cw,
    CAST(sum(f_chars * f_distinct) AS DOUBLE) AS p_cd,
    CAST(sum(f_words * f_distinct) AS DOUBLE) AS p_wd,
    CAST(sum(f_chars * f_chars) AS DOUBLE) AS p_cc,
    CAST(sum(f_words * f_words) AS DOUBLE) AS p_ww,
    CAST(sum(f_distinct * f_distinct) AS DOUBLE) AS p_dd
  FROM d)
SELECT 'f_chars' AS feature_x, 'f_words' AS feature_y, n,
  round((nd * p_cw - s_c * s_w)
        / (sqrt(nd * p_cc - s_c * s_c) * sqrt(nd * p_ww - s_w * s_w)), 6)
    AS pearson_r
FROM m
UNION ALL
SELECT 'f_chars', 'f_distinct', n,
  round((nd * p_cd - s_c * s_d)
        / (sqrt(nd * p_cc - s_c * s_c) * sqrt(nd * p_dd - s_d * s_d)), 6)
FROM m
UNION ALL
SELECT 'f_words', 'f_distinct', n,
  round((nd * p_wd - s_w * s_d)
        / (sqrt(nd * p_ww - s_w * s_w) * sqrt(nd * p_dd - s_d * s_d)), 6)
FROM m
""",
    description="feature-redundancy audit: exact pairwise Pearson "
    "correlations over (chars, words, distinct words) from one "
    "aggregation of decimal-exact integer moments — order-free "
    "where F.corr's double accumulation is not; the corpus is "
    "scanned once for all pairs",
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lynx_spark.operators._util import words_col

    feats = T(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("long").alias("f_chars"),
        F.size(words_col("text")).cast("long").alias("f_words"),
        F.size(F.array_distinct(words_col("text")))
        .cast("long")
        .alias("f_distinct"),
    )
    return ql.feature_correlations(feats, ["f_chars", "f_words", "f_distinct"])


@q(
    "q125_dedup_threshold_sweep",
    oracle=f"""
WITH {_shingle_cte()},
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS a_id, b.doc AS b_id, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2),
pairs AS (
  SELECT a_id, b_id,
    round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc = a_id
  JOIN sizes sb ON sb.doc = b_id
  WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.3),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
th AS (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
         AS threshold)
SELECT threshold,
  CAST(count(p.b_id) AS BIGINT) AS n_pairs,
  CAST(count(DISTINCT p.b_id) AS BIGINT) AS n_docs_removed,
  round(count(DISTINCT p.b_id) / CAST(n_total AS DOUBLE), 6)
    AS removed_frac
FROM th LEFT JOIN pairs p ON p.jaccard >= th.threshold
CROSS JOIN tot
GROUP BY threshold, n_total
""",
    description="dedup-threshold sweep (the curation knob curve): for "
    "Jaccard thresholds 0.3-0.9, how many near-dup pairs survive and "
    "what corpus fraction keep-smallest dedup would remove — pairs "
    "are generated ONCE at the loosest threshold; the 7-row threshold "
    "roster broadcasts against the pair stream (never the reverse: "
    "the pair frame is data-dependent, C(k,2) per k-copy duplicate "
    "cluster), and empty thresholds are restored by a roster "
    "left-join on the 7-row aggregate",
)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(docs, "doc_id", "text", threshold=0.3)
    ths = [round(0.3 + 0.1 * i, 1) for i in range(7)]
    tf = spark.createDataFrame([(t,) for t in ths], "threshold double")
    total = docs.agg(F.count("*").cast("long").alias("n_total"))
    # broadcast the LITERAL roster (7 rows) against the pair stream —
    # a high-duplication corpus makes `pairs` quadratic in cluster
    # size, so hinting it (as this query did through r10) is the
    # driver-OOM hazard class broadcast_if_counted exists to prevent
    per_th = (
        pairs.join(
            F.broadcast(tf), pairs["jaccard"] >= tf["threshold"], "inner"
        )
        .groupBy("threshold")
        .agg(
            F.count("b_id").cast("long").alias("n_pairs"),
            F.countDistinct("b_id").cast("long").alias("n_docs_removed"),
        )
    )
    return (
        tf.join(F.broadcast(per_th), "threshold", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce("n_docs_removed", F.lit(0).cast("long")).alias(
                "n_docs_removed"
            ),
            F.round(
                F.coalesce("n_docs_removed", F.lit(0)).cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("removed_frac"),
        )
    )


@q(
    "q126_repetition_plan",
    oracle="""
WITH counts AS (SELECT source AS domain, count(*) AS n_docs,
                  CAST(sum(n_chars) AS BIGINT) AS avail_tokens
                FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(CAST(round(sqrt(n_docs), 6) AS DECIMAL(28,6)))
                 AS DOUBLE) AS _total_scaled
        FROM counts)
SELECT domain, avail_tokens,
  round(round(sqrt(n_docs) / _total_scaled, 6) * 100000.0, 2)
    AS target_tokens,
  round(round(sqrt(n_docs) / _total_scaled, 6) * 100000.0
        / CAST(avail_tokens AS DOUBLE), 4) AS epochs_raw,
  round(least(round(sqrt(n_docs) / _total_scaled, 6) * 100000.0
              / CAST(avail_tokens AS DOUBLE), 4.0), 4) AS epochs_capped,
  round(least(round(sqrt(n_docs) / _total_scaled, 6) * 100000.0,
              4.0 * CAST(avail_tokens AS DOUBLE)), 2) AS planned_tokens,
  round(round(sqrt(n_docs) / _total_scaled, 6) * 100000.0
        - least(round(sqrt(n_docs) / _total_scaled, 6) * 100000.0,
                4.0 * CAST(avail_tokens AS DOUBLE)), 2)
    AS shortfall_tokens
FROM counts, tot
""",
    description="data-constrained repetition planner (Muennighoff et "
    "al. 2023): per domain, how many epochs of repetition the "
    "temperature mixture's token target implies, capped at 4 where "
    "repeated data stops helping, with the unmet shortfall — the "
    "planning step between q68's weights and q118's materialization; "
    "one domain-granular aggregation, everything else model-sized",
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.repetition_plan(
        T(spark, sf_dir, "documents"), "source", "n_chars", budget=100000
    )


#: the tie-safe quantizer pair, SQL side (graph._q12/_unq12/_round8
#: twins): floor((x)·1e12 + 0.5) summed as exact integers, outputs
#: floor(x·1e8 + 0.5)/1e8 — round() on identical doubles diverges
#: between engines at exact decimal ties (sf0.1 q127 incident)
def _sql_q12sum(share: str) -> str:
    return (
        f"CAST(sum(CAST(floor(({share}) * 1000000000000.0 + 0.5) "
        f"AS HUGEINT)) AS DOUBLE) / 1000000000000.0"
    )


def _sql_round8(x: str) -> str:
    return f"floor(({x}) * 100000000.0 + 0.5) / 100000000.0"


def _pagerank_oracle(n_iters: int = 3, damping: float = 0.85) -> str:
    """q127 oracle: the q83 kNN-graph CTEs feeding an unrolled
    power-method recurrence. Per-edge contributions quantize and sum
    exactly as graph.pagerank's _q12 device does; the teleport term
    is written as (1.0 - d) so both engines perform the identical
    IEEE subtraction (a 0.15 literal is a DIFFERENT double than
    1.0 - 0.85)."""
    base = _knn_graph_oracle(5)
    ctes = base[: base.rindex("SELECT src, nbr")]
    sql = (
        ctes
        + """, g AS (SELECT src, nbr FROM ranked WHERE rnk <= 5),
nodes AS (SELECT vec_id FROM embeddings),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outd AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         FROM g GROUP BY src),
r0 AS (SELECT vec_id, 1.0 / n AS r FROM nodes, nn)"""
    )
    prev = "r0"
    for t in range(1, n_iters + 1):
        sql += f""",
c{t} AS (SELECT g.nbr AS vec_id,
    {_sql_q12sum("p.r / outd.outdeg")} AS s
  FROM g JOIN outd USING (src) JOIN {prev} p ON p.vec_id = g.src
  GROUP BY g.nbr),
r{t} AS (SELECT nodes.vec_id,
    (CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE)) / n
      + CAST({damping} AS DOUBLE) * coalesce(c{t}.s, 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN c{t} ON c{t}.vec_id = nodes.vec_id)"""
        prev = f"r{t}"
    return sql + f"""
SELECT vec_id, {_sql_round8("r")} AS pagerank FROM {prev}
"""


@q(
    "q127_pagerank",
    oracle=_pagerank_oracle(),
    description="PageRank centrality over the q83 kNN embedding graph "
    "(prototypicality for graph-based data selection): 3 power-method "
    "iterations, each one edges-to-ranks join plus a destination-"
    "keyed aggregation — per-edge contributions decimal-summed so "
    "the trajectory is exact and the unrolled SQL oracle matches "
    "bit-for-bit; the teleport term computes 1.0-0.85 identically "
    "on both engines",
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(emb, "vec_id", "embedding", k=5).select(
        "src", "nbr"
    )
    return gr.pagerank(
        edges, emb.select("vec_id"), "vec_id", n_iters=3, damping=0.85
    )


@q(
    "q128_nb_langid_eval",
    oracle=r"""
WITH w AS (SELECT doc_id AS doc, lang AS lbl,
             unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM documents),
wf AS (SELECT * FROM w WHERE word <> ''),
train AS (SELECT * FROM wf WHERE doc % 2 = 0),
test AS (SELECT * FROM wf WHERE doc % 2 = 1),
counts AS (SELECT lbl, word, CAST(count(*) AS BIGINT) AS c
           FROM train GROUP BY 1, 2),
totals AS (SELECT lbl, CAST(sum(c) AS BIGINT) AS t_words
           FROM counts GROUP BY 1),
vocab AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v_size
          FROM counts),
priors AS (SELECT lang AS lbl, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
pr AS (SELECT lbl, n_docs,
         CAST((SELECT sum(n_docs) FROM priors) AS BIGINT) AS n_all
       FROM priors),
tl AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_words,
         min(lbl) AS true_lbl
       FROM test GROUP BY doc),
hits AS (SELECT t.doc, c.lbl AS cand,
    CAST(sum(CAST(round(ln(c.c + 1), 9) AS DECIMAL(38,9))) AS DOUBLE)
      AS hit_sum
  FROM test t JOIN counts c ON c.word = t.word GROUP BY 1, 2),
cand AS (SELECT tl.doc, tl.true_lbl, p.lbl AS cand,
    round(ln(CAST(p.n_docs AS DOUBLE) / p.n_all)
          - tl.n_words * ln(CAST(t.t_words + v.v_size AS DOUBLE))
          + coalesce(h.hit_sum, 0.0), 6) AS score
  FROM tl CROSS JOIN pr p
  JOIN totals t ON t.lbl = p.lbl
  CROSS JOIN vocab v
  LEFT JOIN hits h ON h.doc = tl.doc AND h.cand = p.lbl),
preds AS (SELECT doc, true_lbl, cand,
    row_number() OVER (PARTITION BY doc ORDER BY score DESC, cand) AS rn
  FROM cand)
SELECT true_lbl, cand AS pred_lbl, CAST(count(*) AS BIGINT) AS n_docs
FROM preds WHERE rn = 1 GROUP BY 1, 2
""",
    description="multinomial Naive Bayes language-ID trained on even "
    "doc ids and evaluated on odd ones, output = the confusion "
    "matrix: the supervised fit-and-measure loop fully in-engine — "
    "training is two aggregations, scoring is one words-counts join "
    "with decimal-summed hit terms (smoothing decomposed so unseen "
    "words cost ln(1)=0 and need no join row), argmax a per-doc "
    "window over the label candidates",
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.nb_langid_confusion(
        T(spark, sf_dir, "documents"), "doc_id", "text", "lang"
    )


_PQ_DIST = (
    "round(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (p[1]-p[2])*(p[1]-p[2]))), 8)"
)


def _pq_chain_sql(
    src: str, vec_expr: str, dim: int, m: int, k: int, tag: str = ""
) -> list[str]:
    """Per-subspace PQ training chains (the q25b k-means recipe with a
    name suffix), sourced from any CTE/table ``src`` whose vector
    expression is ``vec_expr`` — shared by the q129 audit (over raw
    embeddings) and the q131 IVF-PQ oracle (over IVF residuals).
    Emits v{tag}{j}/s../a../m../f../af.. per subspace; ``tag`` keeps
    the names clear of _ivf_train_sql's a1/m1/a2/m2 when both chains
    share one WITH clause."""
    sub = dim // m
    ctes = []
    for j in range(m):
        g = f"{tag}{j}"
        lo = j * sub + 1
        hi = (j + 1) * sub
        d_assign = _PQ_DIST.format(a="x.v", b="c.cv")
        ctes.append(f"""
v{g} AS (SELECT nid,
    list_slice({vec_expr}, {lo}, {hi}) AS v FROM {src}),
s{g} AS (
  SELECT CAST(row_number() OVER (ORDER BY nid) - 1 AS BIGINT) AS cid,
    v AS cv
  FROM (SELECT nid, v FROM v{g} ORDER BY nid LIMIT {k})),
a{g} AS (
  SELECT x.nid, x.v,
    (SELECT c.cid FROM s{g} c ORDER BY {d_assign}, c.cid LIMIT 1) AS cid
  FROM v{g} x),
m{g} AS (
  SELECT cid, pos, round(list_sum(list_sort(list(val))) / count(*), 6) AS m
  FROM (SELECT a.cid, u.i AS pos, a.v[u.i] AS val
        FROM a{g} a CROSS JOIN LATERAL unnest(range(1, len(a.v) + 1)) u(i))
  GROUP BY cid, pos),
f{g} AS (
  SELECT mm.cid, list(mm.m ORDER BY mm.pos) AS cv FROM m{g} mm GROUP BY mm.cid
  UNION ALL
  SELECT c.cid, c.cv FROM s{g} c
  WHERE c.cid NOT IN (SELECT cid FROM m{g})),
af{g} AS (
  SELECT x.nid, c.cid, {_PQ_DIST.format(a="x.v", b="c.cv")} AS d
  FROM v{g} x CROSS JOIN f{g} c
  QUALIFY row_number() OVER (PARTITION BY x.nid
    ORDER BY {_PQ_DIST.format(a="x.v", b="c.cv")}, c.cid) = 1)""")
    return ctes


def _pq_oracle(dim: int = 64, m: int = 4, k: int = 8) -> str:
    """q129 oracle: train the per-subspace PQ codebooks in SQL with
    the exact _ivf_train_sql recipe (lowest-id seeds, one Lloyd
    iteration, sorted-sum rounded means, 8dp-rounded argmin with cid
    tie-break), then assign codes and fold the reconstruction error
    — per subspace the chain is the q25b trainer with a name suffix."""
    ctes = _pq_chain_sql("ve", "e", dim, m, k)
    joins = " ".join(f"JOIN af{j} a{j} USING (nid)" for j in range(1, m))
    codes = ", ".join(f"a{j}.cid" for j in range(m))
    errs = " + ".join(f"a{j}.d" for j in range(m))
    return (
        "WITH ve AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS e "
        "FROM embeddings),"
        + ",".join(ctes)
        + f"""
SELECT nid AS vec_id, array_to_string([{codes}], '-') AS codes,
  round(({errs}) / {float(dim)}, 6) AS recon_mse
FROM af0 a0 {joins}
"""
    )


@q(
    "q129_pq_audit",
    oracle=_pq_oracle(),
    description="product-quantization audit completing the FAISS trio "
    "(IVF q25b, SQ8 q88): per-subspace k-means codebooks trained "
    "with the deterministic q25b recipe, per-vector codes and "
    "reconstruction MSE — training collects only codebook scalars, "
    "assignment is per-row literal-codebook folds, one scan; the "
    "oracle trains the bit-identical model per subspace in SQL. "
    "Codes render as a dash-joined STRING on both sides: a top-level "
    "array column breaks the driver's pandas sort_values "
    "canonicalizer (r06 red row, `unhashable type: 'list'`)",
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sim.pq_audit(T(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return out.withColumn(
        "codes", F.concat_ws("-", F.col("codes").cast("array<string>"))
    )


def _jl_oracle(max_sample_id: int = 20) -> str:
    """q130 oracle: the projection matrix is a code literal (JL is
    data-independent), so the oracle projects with the same
    list_dot_product rows and folds the same positional distance
    sums — no training CTEs at all."""
    rows = ", ".join(
        "[" + ", ".join(repr(x) for x in r) + "]" for r in sim.JL_ROWS
    )
    proj = (
        "list_transform([" + rows + "], r -> list_dot_product(e, r))"
    )
    d = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
           WHERE vec_id < {max_sample_id}),
p AS (SELECT vec_id, e, {proj} AS pr FROM v)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
  round({d.format(a="a.e", b="b.e")}, 6) AS d_orig,
  round({d.format(a="a.pr", b="b.pr")}, 6) AS d_proj,
  round({d.format(a="a.pr", b="b.pr")}
        / {d.format(a="a.e", b="b.e")}, 6) AS distortion
FROM p a JOIN p b ON a.vec_id < b.vec_id
WHERE round({d.format(a="a.e", b="b.e")}, 6) > 0
"""


@q(
    "q130_jl_distortion",
    oracle=_jl_oracle(),
    description="Johnson-Lindenstrauss random projection 64->16 with "
    "a pairwise distortion audit on a fixed sample: the data-"
    "independent dimensionality reduction (the matrix is a code "
    "literal, reproducible everywhere) — per-row codegen folds, "
    "zero shuffle, no training; the audit verifies the 1±eps "
    "distance preservation empirically",
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.jl_distortion_audit(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


def _ivfpq_oracle(
    max_query_id: int = 20,
    k: int = 3,
    n_centroids: int = sim.IVF_K,
    iters: int = sim.IVF_ITERS,
    nprobe: int = sim.IVF_NPROBE,
    dim: int = 64,
    m: int = sim.PQ_M,
    pq_k: int = sim.PQ_K,
) -> str:
    """q131 oracle: the q25b SQL-trained IVF quantizer feeding
    residual PQ chains (tag 'p' keeps CTE names disjoint), then the
    asymmetric-distance search — probe nprobe cells, score each
    cell's candidates by per-subspace query-residual-vs-codebook
    folds, per-query top-k. Every rounding and tie-break mirrors
    similarity.ivfpq_ann_topk."""
    sub = dim // m
    train_prefix, cfinal = _ivf_train_sql(n_centroids, iters)
    res = (
        f"res AS (SELECT a.nid, a.cid, "
        f"list_transform(list_zip(a.v, c.cv), p -> p[1]-p[2]) AS rv "
        f"FROM af a JOIN {cfinal} c ON c.cid = a.cid)"
    )
    pq = _pq_chain_sql("res", "rv", dim, m, pq_k, tag="p")
    code_joins = " ".join(
        f"JOIN afp{j} p{j} ON p{j}.nid = r.nid" for j in range(m)
    )
    code_cols = ", ".join(f"p{j}.cid AS code{j}" for j in range(m))
    d_probe = _PQ_DIST.format(a="q.v", b="c.cv")
    book_joins = " ".join(
        f"JOIN fp{j} b{j} ON b{j}.cid = c.code{j}" for j in range(m)
    )
    adc = " + ".join(
        _PQ_DIST.format(
            a=f"list_slice(c.rq, {j * sub + 1}, {(j + 1) * sub})",
            b=f"b{j}.cv",
        )
        for j in range(m)
    )
    return f"""{train_prefix},
{res},{",".join(pq)},
encoded AS (
  SELECT r.nid, r.cid, {code_cols}
  FROM res r {code_joins}),
probes AS (
  SELECT q.nid AS qid, q.v AS qv, c.cid, c.cv
  FROM v q, {cfinal} c
  WHERE q.nid < {max_query_id}
  QUALIFY row_number() OVER (PARTITION BY q.nid
    ORDER BY {d_probe}, c.cid) <= {nprobe}),
rqs AS (
  SELECT qid, cid,
    list_transform(list_zip(qv, cv), p -> p[1]-p[2]) AS rq
  FROM probes),
cand AS (
  SELECT r.qid, e.nid, r.rq,
    {", ".join(f"e.code{j}" for j in range(m))}
  FROM rqs r JOIN encoded e ON e.cid = r.cid AND e.nid <> r.qid),
scored AS (
  SELECT c.qid, c.nid, round({adc}, 6) AS adc_dist
  FROM cand c {book_joins}),
ranked AS (
  SELECT qid, nid, adc_dist,
    CAST(row_number() OVER (PARTITION BY qid
      ORDER BY adc_dist, nid) AS BIGINT) AS rnk
  FROM scored)
SELECT qid, nid, adc_dist, rnk FROM ranked WHERE rnk <= {k}
"""


@q(
    "q131_ivfpq_search",
    oracle=_ivfpq_oracle(),
    description="IVF-PQ approximate search (the FAISS IndexIVFPQ "
    "composition of q25b's coarse quantizer and q129's product "
    "codebooks over residuals): queries probe nprobe cells and score "
    "candidates by asymmetric distance against the m codebook "
    "entries — no full database vector touched at query time; both "
    "models train in SQL in the oracle, which mirrors every rounding "
    "and tie-break",
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivfpq_ann_topk(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


def _countmin_oracle(probe_top: int = 20) -> str:
    """q132 oracle: CMS build + probe with the shared bucket family
    (quality.cms_bucket_sql — single source, can't drift)."""
    depth = ql.CMS_DEPTH
    build = "\n   UNION ALL ".join(
        f"SELECT {r} AS row, {ql.cms_bucket_sql(r)} AS bucket, exact FROM wc"
        for r in range(depth)
    )
    probe = "\n   UNION ALL ".join(
        f"SELECT word, exact, rnk, {r} AS row, {ql.cms_bucket_sql(r)}"
        f" AS bucket FROM probes"
        for r in range(depth)
    )
    return rf"""
WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM documents),
wc AS (SELECT word, CAST(count(*) AS BIGINT) AS exact,
         ('0x' || substr(md5(word), 1, 15))::BIGINT AS base
       FROM w WHERE word <> '' GROUP BY word),
sk AS (SELECT row, bucket, CAST(sum(exact) AS BIGINT) AS cell FROM (
   {build}) GROUP BY row, bucket),
probes AS (SELECT word, exact, base,
    CAST(row_number() OVER (ORDER BY exact DESC, word) AS BIGINT) AS rnk
  FROM wc QUALIFY rnk <= {probe_top}),
pr AS (
   {probe})
SELECT word, exact, CAST(min(cell) AS BIGINT) AS cms_est,
  CAST(min(cell) - exact AS BIGINT) AS overestimate, rnk
FROM pr JOIN sk USING (row, bucket) GROUP BY word, exact, rnk
"""


@q(
    "q132_countmin_audit",
    oracle=_countmin_oracle(),
    description="count-min sketch accuracy audit (the third sketch "
    "family beside HLL q09b and MinHash q77): depth-4 x width-256 "
    "CMS of corpus word frequencies vs exact counts for the top-20 "
    "words — the sketch builds over the vocabulary-granular count "
    "frame, never the token stream, and probes join by bucket "
    "equality; overestimate >= 0 is the CMS invariant",
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql.countmin_audit(T(spark, sf_dir, "documents"))


def _hll_oracle() -> str:
    """q133 oracle: the from-scratch HLL with the shared rho chain
    (quality.hll_rho_sql) and the integer-domain harmonic sum."""
    m = ql.HLL_M
    return f"""
WITH vals AS (SELECT CAST(user_id AS VARCHAR) AS s FROM events
              WHERE user_id IS NOT NULL),
hashed AS (SELECT
    ('0x' || substr(md5(s), 1, 15))::BIGINT % {m} AS idx,
    ('0x' || substr(md5(s), 1, 15))::BIGINT // {1 << ql.HLL_B} AS w
  FROM vals),
regs AS (SELECT idx, max({ql.hll_rho_sql()}) AS reg
         FROM hashed GROUP BY idx),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n_present,
    CAST(sum((1::BIGINT << ({ql.HLL_SCALE} - reg))) AS BIGINT) AS s_present
  FROM regs),
exact AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n_exact FROM vals),
est AS (SELECT n_exact, n_present,
    CAST(s_present + ({m} - n_present) * {1 << ql.HLL_SCALE}::BIGINT
      AS DOUBLE) AS s_total,
    CAST({m} - n_present AS DOUBLE) AS zeros
  FROM agg CROSS JOIN exact),
fin AS (SELECT n_exact,
    CASE WHEN {ql.HLL_NUMER!r} / s_total <= {2.5 * m}
              AND zeros > 0
         THEN {float(m)!r} * ln({float(m)!r} / zeros)
         ELSE {ql.HLL_NUMER!r} / s_total END AS e
  FROM est)
SELECT n_exact, round(e, 4) AS hll_estimate,
  round((e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 4)
    AS rel_error,
  CAST({m} AS BIGINT) AS m_registers
FROM fin
"""


@q(
    "q133_hll_audit",
    oracle=_hll_oracle(),
    description="HyperLogLog from scratch with an accuracy audit: "
    "256 registers over the shared md5 hash, harmonic sum kept in "
    "the INTEGER domain (exact and order-free where a float sum of "
    "2^-reg terms would be partial-aggregation-order dependent), "
    "linear-counting small-range correction — the fully-oracled "
    "sketch twin of q09b's engine-native approx_count_distinct; one "
    "aggregation to 256 register rows",
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ql.hll_audit(T(spark, sf_dir, "events"), "user_id")


def _hll_group_oracle() -> str:
    """q134 oracle: the q133 recipe with a GROUP BY — distinct words
    per source via grouped registers."""
    m = ql.HLL_M
    return rf"""
WITH vals AS (SELECT source AS grp,
    unnest(string_split_regex(trim(text), '\s+')) AS s
  FROM documents),
vf AS (SELECT grp, s FROM vals WHERE s <> ''),
hashed AS (SELECT grp,
    ('0x' || substr(md5(s), 1, 15))::BIGINT % {m} AS idx,
    ('0x' || substr(md5(s), 1, 15))::BIGINT // {1 << ql.HLL_B} AS w
  FROM vf),
regs AS (SELECT grp, idx, max({ql.hll_rho_sql()}) AS reg
         FROM hashed GROUP BY grp, idx),
agg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_present,
    CAST(sum((1::BIGINT << ({ql.HLL_SCALE} - reg))) AS BIGINT) AS s_present
  FROM regs GROUP BY grp),
exact AS (SELECT grp, CAST(count(DISTINCT s) AS BIGINT) AS n_exact
          FROM vf GROUP BY grp),
est AS (SELECT a.grp, e.n_exact,
    CAST(s_present + ({m} - n_present) * {1 << ql.HLL_SCALE}::BIGINT
      AS DOUBLE) AS s_total,
    CAST({m} - n_present AS DOUBLE) AS zeros
  FROM agg a JOIN exact e ON e.grp = a.grp),
fin AS (SELECT grp, n_exact,
    CASE WHEN {ql.HLL_NUMER!r} / s_total <= {2.5 * m} AND zeros > 0
         THEN {float(m)!r} * ln({float(m)!r} / zeros)
         ELSE {ql.HLL_NUMER!r} / s_total END AS e
  FROM est)
SELECT grp AS source, n_exact, round(e, 4) AS hll_estimate,
  round((e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 4)
    AS rel_error
FROM fin
"""


@q(
    "q134_hll_per_source",
    oracle=_hll_group_oracle(),
    description="per-source distinct-word cardinality via grouped HLL "
    "registers (the per-domain dashboard shape): one (group, idx) "
    "max-aggregation sketches every source at once — groups x 256 "
    "rows of state vs the full (group, value) shuffle an exact "
    "grouped COUNT DISTINCT pays; the exact side is kept as the "
    "audit column",
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    return ql.hll_group_audit(words, "source", "word")


def _kmv_oracle(k: int = ql.KMV_K) -> str:
    """q135 oracle: KMV/theta set-op estimates in the integer hash
    domain, estimator literals shared with quality.kmv_set_ops_audit
    (including the below-k exact fallback: a side with no k-th hash
    has a COMPLETE sketch — theta = the 2^60 domain max, estimate =
    the retained count)."""
    dom = 1 << 60
    eff = (
        f"least(coalesce(theta_a, {dom}), coalesce(theta_b, {dom}))"
    )
    raw_a = (
        f"CASE WHEN theta_a IS NOT NULL THEN {ql.KMV_NUMER!r}"
        f" / CAST(theta_a AS DOUBLE) ELSE CAST(n_a_h AS DOUBLE) END"
    )
    raw_b = (
        f"CASE WHEN theta_b IS NOT NULL THEN {ql.KMV_NUMER!r}"
        f" / CAST(theta_b AS DOUBLE) ELSE CAST(n_b_h AS DOUBLE) END"
    )
    raw_u = (
        f"CASE WHEN theta_u IS NOT NULL THEN {ql.KMV_NUMER!r}"
        f" / CAST(theta_u AS DOUBLE) ELSE CAST(n_u_h AS DOUBLE) END"
    )
    raw_i = (
        f"CAST(n_inter_sk AS DOUBLE) * {ql.KMV_DOMAIN!r} "
        f"/ CAST({eff} AS DOUBLE)"
    )

    def row(name, raw, ex):
        return f"""SELECT '{name}' AS measure, {ex} AS n_exact,
  round({raw}, 4) AS kmv_estimate,
  CASE WHEN {ex} > 0 THEN
    round(({raw} - CAST({ex} AS DOUBLE)) / CAST({ex} AS DOUBLE), 4)
  ELSE NULL END AS rel_error
FROM base_row"""

    rows = "\nUNION ALL\n".join(
        [
            row("a", raw_a, "ex_a"),
            row("b", raw_b, "ex_b"),
            row("union", raw_u, "ex_u"),
            row("intersection", raw_i, "ex_i"),
        ]
    )
    return rf"""
WITH w AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
    unnest(string_split_regex(trim(text), '\s+')) AS s
  FROM documents),
vf AS (SELECT side, s FROM w WHERE s <> ''),
hashes AS (SELECT DISTINCT side,
    ('0x' || substr(md5(s), 1, 15))::BIGINT AS base FROM vf),
ranked AS (SELECT side, base,
    row_number() OVER (PARTITION BY side ORDER BY base) AS rn
  FROM hashes),
th AS (SELECT
    max(CASE WHEN side = 'a' AND rn = {k} THEN base END) AS theta_a,
    max(CASE WHEN side = 'b' AND rn = {k} THEN base END) AS theta_b,
    CAST(count(CASE WHEN side = 'a' THEN 1 END) AS BIGINT) AS n_a_h,
    CAST(count(CASE WHEN side = 'b' THEN 1 END) AS BIGINT) AS n_b_h
  FROM ranked),
sk AS (SELECT side, base FROM ranked WHERE rn <= {k}),
ic AS (SELECT CAST(count(*) AS BIGINT) AS n_inter_sk FROM
    (SELECT a.base FROM sk a JOIN sk b2
       ON b2.base = a.base AND a.side = 'a' AND b2.side = 'b') x
    CROSS JOIN th
  WHERE x.base < {eff}),
ut AS (SELECT max(CASE WHEN rn = {k} THEN base END) AS theta_u,
    CAST(count(*) AS BIGINT) AS n_u_h
  FROM (SELECT base, row_number() OVER (ORDER BY base) AS rn
        FROM (SELECT DISTINCT base FROM hashes) d)),
ex AS (SELECT
    CAST(count(DISTINCT CASE WHEN side = 'a' THEN s END) AS BIGINT) AS ex_a,
    CAST(count(DISTINCT CASE WHEN side = 'b' THEN s END) AS BIGINT) AS ex_b,
    CAST(count(DISTINCT s) AS BIGINT) AS ex_u
  FROM vf),
exi AS (SELECT CAST(count(*) AS BIGINT) AS ex_i FROM
    (SELECT DISTINCT s FROM vf WHERE side = 'a') a
    JOIN (SELECT DISTINCT s FROM vf WHERE side = 'b') b USING (s)),
base_row AS (SELECT * FROM th CROSS JOIN ut CROSS JOIN ic
             CROSS JOIN ex CROSS JOIN exi)
{rows}
"""


@q(
    "q135_kmv_set_ops",
    oracle=_kmv_oracle(),
    description="set-operation cardinalities via KMV/theta sketches — "
    "the capability HLL lacks: distinct counts of side A (even docs' "
    "words), side B, A∪B AND A∩B from k=128 minimum hash values, "
    "with thresholds in the exact integer hash domain and the exact "
    "counts kept as audit columns; everything after the per-side "
    "distinct-hash aggregate is k-row-granular",
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    words = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("side"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    return ql.kmv_set_ops_audit(words, "side", "word")


def _triangle_oracle() -> str:
    """q136 oracle: the q83 kNN-graph CTEs feeding the canonical
    a<b<c triangle enumeration."""
    base = _knn_graph_oracle(5)
    ctes = base[: base.rindex("SELECT src, nbr")]
    return (
        ctes
        + """, g AS (SELECT src, nbr FROM ranked WHERE rnk <= 5),
e AS (SELECT DISTINCT least(src, nbr) AS a, greatest(src, nbr) AS b
      FROM g WHERE src <> nbr),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
corners AS (SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
       FROM corners GROUP BY node),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
  (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node)
SELECT d.node, d.degree,
  coalesce(tn.n_triangles, 0) AS n_triangles,
  CASE WHEN d.degree > 1 THEN
    round((2.0 * CAST(coalesce(tn.n_triangles, 0) AS DOUBLE))
          / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
  ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN tn ON tn.node = d.node
"""
    )


@q(
    "q136_triangle_stats",
    oracle=_triangle_oracle(),
    description="per-node triangle count + local clustering "
    "coefficient over the q83 kNN embedding graph (manifold-density "
    "signal — prototypical regions triangulate, noise does not): the "
    "canonical a<b<c enumeration via two equality self-joins, each "
    "triangle materialized exactly once; degree capped at k by the "
    "kNN construction, which bounds the wedge fan-out",
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(emb, "vec_id", "embedding", k=5).select(
        "src", "nbr"
    )
    return gr.triangle_stats(edges)


def _wpagerank_oracle(n_iters: int = 3, damping: float = 0.85) -> str:
    """q137 oracle: the q127 recurrence with similarity-weighted
    shares — r·w/W_u instead of r/outdeg, W_u an exact decimal sum
    of the rounded cosine weights."""
    base = _knn_graph_oracle(5)
    ctes = base[: base.rindex("SELECT src, nbr")]
    sql = (
        ctes
        + """, g AS (SELECT src, nbr, cos_sim FROM ranked WHERE rnk <= 5),
nodes AS (SELECT vec_id FROM embeddings),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS (SELECT src,
    CAST(sum(CAST(cos_sim AS DECIMAL(18,5))) AS DOUBLE) AS w_out
  FROM g GROUP BY src),
r0 AS (SELECT vec_id, 1.0 / n AS r FROM nodes, nn)"""
    )
    prev = "r0"
    for t in range(1, n_iters + 1):
        sql += f""",
c{t} AS (SELECT g.nbr AS vec_id,
    {_sql_q12sum(
        "CASE WHEN o.w_out <> 0 THEN p.r * g.cos_sim / o.w_out "
        "ELSE 0.0 END"
    )} AS s
  FROM g JOIN outw o USING (src) JOIN {prev} p ON p.vec_id = g.src
  GROUP BY g.nbr),
r{t} AS (SELECT nodes.vec_id,
    (CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE)) / n
      + CAST({damping} AS DOUBLE) * coalesce(c{t}.s, 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN c{t} ON c{t}.vec_id = nodes.vec_id)"""
        prev = f"r{t}"
    return sql + f"""
SELECT vec_id, {_sql_round8("r")} AS pagerank FROM {prev}
"""


@q(
    "q137_weighted_pagerank",
    oracle=_wpagerank_oracle(),
    description="similarity-weighted PageRank over the kNN graph: "
    "rank flows proportional to cosine weight (r*w/W_u) instead of "
    "uniformly — the centrality that actually respects how close "
    "neighbors are; same one-join-one-aggregate iteration shape as "
    "q127, weight normalizers decimal-summed",
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(emb, "vec_id", "embedding", k=5).select(
        "src", "nbr", "cos_sim"
    )
    return gr.pagerank(
        edges,
        emb.select("vec_id"),
        "vec_id",
        n_iters=3,
        damping=0.85,
        weight_col="cos_sim",
    )


def _label_prop_oracle(n_rounds: int = 2) -> str:
    """q138 oracle: the q83 kNN CTEs + symmetric edges + the exact
    integer-vote majority recurrence, unrolled."""
    base = _knn_graph_oracle(5)
    ctes = base[: base.rindex("SELECT src, nbr")]
    sql = (
        ctes
        + """, g AS (SELECT src, nbr FROM ranked WHERE rnk <= 5),
sym AS (SELECT DISTINCT u, v FROM (
    SELECT src AS u, nbr AS v FROM g
    UNION ALL SELECT nbr, src FROM g)),
base AS (SELECT vec_id AS node, CAST(label AS BIGINT) AS true_label,
    vec_id % 10 = 0 AS is_seed
  FROM embeddings),
l0 AS (SELECT node,
    CASE WHEN is_seed THEN true_label ELSE NULL END AS label
  FROM base)"""
    )
    prev = "l0"
    for t in range(1, n_rounds + 1):
        sql += f""",
v{t} AS (SELECT s.u, c.label, CAST(count(*) AS BIGINT) AS votes
  FROM sym s JOIN {prev} c ON c.node = s.v AND c.label IS NOT NULL
  GROUP BY s.u, c.label),
w{t}p AS (SELECT u AS node, label AS maj FROM v{t}
  QUALIFY row_number() OVER (PARTITION BY u
    ORDER BY votes DESC, label) = 1),
l{t} AS (SELECT b.node,
    CASE WHEN b.is_seed THEN b.true_label ELSE w.maj END AS label
  FROM base b LEFT JOIN w{t}p w ON w.node = b.node)"""
        prev = f"l{t}"
    return sql + f"""
SELECT b.node, b.is_seed, b.true_label,
  c.label AS propagated_label
FROM base b JOIN {prev} c ON c.node = b.node
"""


@q(
    "q138_label_propagation",
    oracle=_label_prop_oracle(),
    description="semi-supervised label propagation over the kNN "
    "embedding graph (weak-supervision bootstrap): 10% seeds keep "
    "their labels, everyone else takes the iterated neighbor "
    "majority — pure integer votes with a deterministic argmax, so "
    "the oracle replays both rounds exactly; per round one join, one "
    "count aggregate, one per-node window",
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(emb, "vec_id", "embedding", k=5).select(
        "src", "nbr"
    )
    return gr.label_propagation(
        edges,
        emb.select("vec_id", "label"),
        "vec_id",
        "label",
        F.col("vec_id") % 10 == 0,
        n_rounds=2,
    )


@q(
    "q139_bigram_backoff",
    oracle=rf"""
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        FROM d WHERE len(w) >= 2)
  WHERE w[i] <> '' AND w[i + 1] <> ''),
bgc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
        FROM bg GROUP BY w1, w2),
uni AS (SELECT word, CAST(count(*) AS BIGINT) AS cu FROM
  (SELECT unnest(w) AS word FROM d) WHERE word <> '' GROUP BY word),
tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n_total FROM uni),
terms AS (SELECT b.doc_id,
    CAST(round(ln(CASE WHEN c.cb IS NOT NULL
      THEN CAST(c.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE)
      ELSE 0.4 * CAST(u2.cu AS DOUBLE) / CAST(n_total AS DOUBLE) END), 9)
      AS DECIMAL(38,9)) AS term
  FROM bg b
  LEFT JOIN bgc c ON c.w1 = b.w1 AND c.w2 = b.w2
  JOIN uni u1 ON u1.word = b.w1
  JOIN uni u2 ON u2.word = b.w2
  CROSS JOIN tot),
sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
    CAST(sum(term) AS DOUBLE) AS lp
  FROM terms GROUP BY doc_id)
SELECT doc_id, n_bigrams, round(lp, 4) AS logscore,
  round(lp / CAST(n_bigrams AS DOUBLE), 4) AS avg_logscore
FROM sc
""",
    description="bigram language-model scoring with stupid backoff "
    "(Brants et al. 2007 — the backoff designed FOR distributed "
    "corpora: no renormalization pass): per-document log score and "
    "per-bigram mean, one rung up from the unigram q60 scorer; "
    "bigram/unigram tables are two map-side-partial aggregations, "
    "scoring is unique-build-key joins with decimal-summed log terms",
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.stupid_backoff_scores(
        T(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _hits_oracle(n_iters: int = 2) -> str:
    """q140 oracle: the q83 kNN edges feeding Kleinberg's mutual
    recursion, tie-safe quantized sums everywhere a float order (or a
    round() tie) could differ."""
    base = _knn_graph_oracle(5)
    ctes = base[: base.rindex("SELECT src, nbr")]
    ds = (
        "CAST(sum(CAST(floor(({x}) * 1000000000000.0 + 0.5) "
        "AS HUGEINT)) AS DOUBLE) / 1000000000000.0"
    )
    sql = (
        ctes
        + """, g AS (SELECT src, nbr FROM ranked WHERE rnk <= 5),
nodes AS (SELECT vec_id AS v FROM embeddings),
h0 AS (SELECT v, 1.0 AS h FROM nodes)"""
    )
    prev_h = "h0"
    for t in range(1, n_iters + 1):
        sql += f""",
ra{t} AS (SELECT g.nbr AS v, {ds.format(x="p.h")} AS a
  FROM g JOIN {prev_h} p ON p.v = g.src GROUP BY g.nbr),
fa{t} AS (SELECT n.v, coalesce(ra{t}.a, 0.0) AS a
  FROM nodes n LEFT JOIN ra{t} ON ra{t}.v = n.v),
na{t} AS (SELECT {ds.format(x="a")} AS t FROM fa{t}),
a{t}h AS (SELECT v, CASE WHEN t <> 0 THEN a / t ELSE 0.0 END AS a
  FROM fa{t} CROSS JOIN na{t}),
rh{t} AS (SELECT g.src AS v, {ds.format(x="p.a")} AS h
  FROM g JOIN a{t}h p ON p.v = g.nbr GROUP BY g.src),
fh{t} AS (SELECT n.v, coalesce(rh{t}.h, 0.0) AS h
  FROM nodes n LEFT JOIN rh{t} ON rh{t}.v = n.v),
nh{t} AS (SELECT {ds.format(x="h")} AS t FROM fh{t}),
h{t} AS (SELECT v, CASE WHEN t <> 0 THEN h / t ELSE 0.0 END AS h
  FROM fh{t} CROSS JOIN nh{t})"""
        prev_h = f"h{t}"
    return sql + f"""
SELECT h.v AS vec_id, {_sql_round8("h.h")} AS hub,
  {_sql_round8("a.a")} AS authority
FROM h{n_iters} h JOIN a{n_iters}h a ON a.v = h.v
"""


@q(
    "q140_hits",
    oracle=_hits_oracle(n_iters=1),
    description="HITS hubs and authorities over the kNN query graph "
    "(Kleinberg's mutual recursion, PageRank's sibling): fixed "
    "iterations with L1 normalization, every cross-row sum a "
    "decimal sum of rounded terms so the trajectory is order-free "
    "and the unrolled oracle matches exactly; per half-step one "
    "edges-scores join and one aggregation",
)
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(emb, "vec_id", "embedding", k=5).select(
        "src", "nbr"
    )
    return gr.hits_scores(edges, emb.select("vec_id"), "vec_id", n_iters=1)


# ------------------------------------------------------------------
# Store-backed query tier (round 7, VERDICT r06 task 4): the graph /
# ANN heavies above rebuild their kNN edges or retrain IVF-PQ inline —
# necessary for self-contained oracles, but it charges build-cadence
# cost at query cadence. These twins consume the persisted stores
# (write/read_knn_graph_store, save/load of the full IVF-PQ index)
# that a production deployment would build once at ingest: the store
# materializes lazily under a versioned temp path keyed by sf_dir on
# first call, so the first bench rep pays the build and the min-of-N
# reflects true query-cadence latency. Results are identical to the
# inline twins by construction (deterministic builds), so each entry
# reuses the inline oracle verbatim.

#: bump when knn_graph / IVF-PQ training semantics change — stale
#: stores under the old version path are then never read again
_STORE_VERSION = "v1"


def _data_fingerprint(sf_dir: str) -> str:
    """Content key for the lazy stores: md5 over the size and the
    final 64 KiB of the embeddings parquet — the parquet FOOTER lives
    there (row count, per-column min/max stats, row-group offsets),
    so regenerating the testdata in place (new seed, new scale)
    changes the key even when the path doesn't. Guards the r7 hazard:
    a store keyed by path alone would silently serve stale kNN edges
    / IVF-PQ codes against a fresh oracle. One stat + one 64 KiB read
    per query call — no data scan."""
    import hashlib
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    # Spark-written tables are DIRECTORIES of part files (the sf1
    # synthetic tier); driver testdata is a single file. Fingerprint
    # the lexicographically-last part file either way — its footer
    # still moves whenever the data is regenerated.
    if os.path.isdir(p):
        parts = sorted(
            f for f in os.listdir(p) if f.endswith(".parquet")
        )
        p = os.path.join(p, parts[-1])
    st = os.stat(p)
    h = hashlib.md5(str(st.st_size).encode())
    with open(p, "rb") as f:
        f.seek(max(0, st.st_size - 65536))
        h.update(f.read())
    return h.hexdigest()[:10]


def _store_path(sf_dir: str, name: str) -> str:
    import hashlib
    import os
    import tempfile

    key = (
        hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
        + "_"
        + _data_fingerprint(sf_dir)
    )
    return os.path.join(
        tempfile.gettempdir(),
        f"lynx_spark_stores_{_STORE_VERSION}",
        key,
        name,
    )


def _knn_edges_stored(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """The q83 kNN edge list from the persisted store, building it on
    first use — one banded self-join at build cadence, a parquet scan
    of k·N rows ever after."""
    import os

    path = _store_path(sf_dir, f"knn_k{k}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # a fingerprint change lands here with the OLD file possibly
        # still in Spark's plan cache / file index (same path ⇒ same
        # canonical plan ⇒ CacheManager serves stale rows) — refresh
        # before building so the store always reflects the bytes the
        # fingerprint was computed from
        spark.catalog.refreshByPath(f"{sf_dir}/embeddings.parquet")
        emb = T(spark, sf_dir, "embeddings")
        sim.write_knn_graph_store(
            sim.knn_graph(emb, "vec_id", "embedding", k=k), path
        )
    return sim.read_knn_graph_store(spark, path)


def _ivfpq_store(spark: SparkSession, sf_dir: str) -> str:
    import os

    path = _store_path(sf_dir, "ivfpq")
    if not os.path.exists(os.path.join(path, "encoded", "_SUCCESS")):
        spark.catalog.refreshByPath(f"{sf_dir}/embeddings.parquet")
        sim.save_ivfpq_index(
            spark, T(spark, sf_dir, "embeddings"), "vec_id", "embedding", path
        )
    return path


@q(
    "q141_pagerank_stored",
    oracle=_pagerank_oracle(),
    description="q127's PageRank at query cadence: identical power-"
    "method recurrence, but the kNN edges come from the persisted "
    "edge store (built once on first use) instead of an inline "
    "banded self-join — the oracle is q127's verbatim because the "
    "stored edges ARE the inline edges",
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = _knn_edges_stored(spark, sf_dir).select("src", "nbr")
    return gr.pagerank(
        edges, emb.select("vec_id"), "vec_id", n_iters=3, damping=0.85
    )


@q(
    "q142_hits_stored",
    oracle=_hits_oracle(n_iters=1),
    description="q140's HITS from the persisted kNN edge store — "
    "query-cadence twin separating the one-time edge build from the "
    "per-query mutual recursion",
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = _knn_edges_stored(spark, sf_dir).select("src", "nbr")
    return gr.hits_scores(edges, emb.select("vec_id"), "vec_id", n_iters=1)


@q(
    "q143_triangles_stored",
    oracle=_triangle_oracle(),
    description="q136's triangle/clustering stats from the persisted "
    "kNN edge store — the wedge enumeration is the query-cadence "
    "cost, the edge build is not",
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges_stored(spark, sf_dir).select("src", "nbr")
    return gr.triangle_stats(edges)


@q(
    "q144_label_prop_stored",
    oracle=_label_prop_oracle(),
    description="q138's label propagation from the persisted kNN "
    "edge store — seeds and votes unchanged, edge build amortized",
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = _knn_edges_stored(spark, sf_dir).select("src", "nbr")
    return gr.label_propagation(
        edges,
        emb.select("vec_id", "label"),
        "vec_id",
        "label",
        F.col("vec_id") % 10 == 0,
        n_rounds=2,
    )


@q(
    "q145_wpagerank_stored",
    oracle=_wpagerank_oracle(),
    description="q137's similarity-weighted PageRank from the "
    "persisted kNN edge store (cos_sim weights ride in the store)",
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = _knn_edges_stored(spark, sf_dir).select("src", "nbr", "cos_sim")
    return gr.pagerank(
        edges,
        emb.select("vec_id"),
        "vec_id",
        n_iters=3,
        damping=0.85,
        weight_col="cos_sim",
    )


@q(
    "q146_ivfpq_stored",
    oracle=_ivfpq_oracle(),
    description="q131's IVF-PQ search against the PERSISTED index "
    "(centroids + codebooks + encoded codes, the FAISS write_index "
    "analogue): queries load model scalars and meet the encoded "
    "parquet by cell equality — no training, no raw database "
    "vectors at query time; identical results to the inline twin "
    "because training is deterministic",
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ivfpq_store(spark, sf_dir)
    return sim.ivfpq_ann_topk_stored(
        spark, path, T(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


def _bpe_chain_sql(n_merges: int) -> str:
    """The shared q147/q148 training chain: word counts, symbol
    encoding, and n_merges unrolled greedy-merge CTEs ending at
    v{n_merges}. Chained CTEs are MATERIALIZED — inlined, each level
    expands twice and the plan goes exponential."""
    sql = _WORDS_CTE + """
, wd AS (SELECT unnest(w) AS word FROM d),
wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM wd
       WHERE regexp_matches(word, '^[a-z0-9_]+$') GROUP BY word),
v0 AS MATERIALIZED (SELECT word, c,
  '..' || array_to_string(regexp_extract_all(word, '.'), '..') || '..' AS s
  FROM wc)"""
    for t in range(1, n_merges + 1):
        p = t - 1
        sql += f""",
a{t} AS (SELECT c, string_split(s, '..') AS a FROM v{p}
         WHERE len(string_split(s, '..')) >= 4),
p{t} AS (SELECT a[i] AS pa, a[i + 1] AS pb,
           CAST(sum(c) AS BIGINT) AS pair_count
         FROM (SELECT c, a, unnest(generate_series(2, len(a) - 2)) AS i
               FROM a{t})
         GROUP BY 1, 2),
b{t} AS MATERIALIZED (SELECT pa, pb, pair_count FROM p{t}
         ORDER BY pair_count DESC, pa, pb LIMIT 1),
v{t} AS MATERIALIZED (SELECT word, c,
           replace(s, '.' || pa || '..' || pb || '.',
                   '.' || pa || pb || '.') AS s
         FROM v{p}, b{t}),
t{t} AS (SELECT CAST(sum(c * (len(string_split(s, '..')) - 2)) AS BIGINT)
           AS vocab_tokens_after FROM v{t}),
r{t} AS (SELECT CAST({t} AS BIGINT) AS merge_rank, pa AS lhs, pb AS rhs,
           pa || pb AS merged, pair_count, vocab_tokens_after
         FROM b{t}, t{t})"""
    return sql


def _bpe_train_oracle(n_merges: int = 20) -> str:
    """q147 oracle: the identical greedy merge loop unrolled — per
    iteration a pair-count CTE, a deterministic top-1 (count DESC,
    then lexicographic), the doubled-separator replace (plain
    left-to-right non-overlapping in BOTH engines), and the exact
    re-tokenized corpus size. The merge CHOSEN each round is computed
    from the data in SQL, not hardcoded, so the oracle genuinely
    replays the training."""
    union = "\nUNION ALL ".join(
        f"SELECT * FROM r{t}" for t in range(1, n_merges + 1)
    )
    return _bpe_chain_sql(n_merges) + "\n" + union + "\n"


def _bpe_tokenize_oracle(n_merges: int = 20) -> str:
    """q148 oracle: the q147 chain to the final vocabulary, then one
    doc-words ⋈ vocab join with OOV words costing 1 token."""
    return _bpe_chain_sql(n_merges) + f""",
wt AS (SELECT word,
         CAST(len(string_split(s, '..')) - 2 AS BIGINT) AS t
       FROM v{n_merges}),
dw AS (SELECT doc_id, unnest(w) AS word FROM d),
dj AS (SELECT doc_id, coalesce(t, 1) AS t
       FROM (SELECT doc_id, word FROM dw WHERE word <> '')
       LEFT JOIN wt USING (word))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(t) AS BIGINT) AS n_tokens,
  round(sum(t) / CAST(count(*) AS DOUBLE), 4) AS tokens_per_word
FROM dj GROUP BY doc_id
"""


@q(
    "q147_bpe_train",
    oracle=_bpe_train_oracle(),
    description="full BPE merge-loop training (Sennrich 2016), "
    "completing the q97/q112/q113 tokenizer family: 20 greedy merges "
    "over the lowercase [a-z0-9_]+ word vocabulary, each with its pre-merge pair "
    "count and the EXACT re-tokenized corpus size after it (the "
    "compression trajectory). Corpus touched once (word counts); "
    "every iteration is vocabulary-granular with a 1-row broadcast "
    "argmax — no driver collects; the oracle replays the whole loop "
    "in SQL including the data-dependent merge choices",
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.bpe_train(T(spark, sf_dir, "documents"), "text")


@q(
    "q148_bpe_tokenize",
    oracle=_bpe_tokenize_oracle(),
    description="per-document tokenization under the freshly-trained "
    "q147 BPE merges — the exact token accounting packing and budget "
    "plans consume: word count, exact BPE token count (OOV words "
    "cost one whole-word token), tokens-per-word. Training is "
    "vocabulary-granular; application is one unique-build-key "
    "doc-words join + a per-doc aggregate; the oracle replays the "
    "training chain and the join",
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.bpe_tokenize_docs(
        T(spark, sf_dir, "documents"), "doc_id", "text"
    )


# =====================================================================
# round 7: warehouse / curation additions (cohorts, SCD2, smoothing,
# data-layout audits, skyline, linkage, phrase retrieval, graph
# quality, diversity sampling)
# =====================================================================


@q(
    "q149_cohort_retention",
    oracle=f"""
WITH ev AS ({_EV}),
ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM ev),
c AS (SELECT user_id, day,
        min(day) OVER (PARTITION BY user_id) AS cohort
      FROM ud),
g AS (SELECT cohort, date_diff('day', cohort, day) AS offset_days,
        CAST(count(*) AS BIGINT) AS n_active
      FROM c GROUP BY 1, 2)
SELECT CAST(cohort AS VARCHAR) AS cohort_day,
  CAST(offset_days AS BIGINT) AS offset_days, n_active,
  round(n_active / CAST(first_value(n_active) OVER (
      PARTITION BY cohort ORDER BY offset_days) AS DOUBLE), 4)
    AS retention
FROM g
""",
    description="cohort retention matrix: cohort = each user's first "
    "active day; per (cohort, day-offset) the distinct active users "
    "and the retention fraction vs the cohort's day-0 size "
    "(first_value window). Scale shape: one user-keyed shuffle for "
    "the cohort assignment, then a cohort-granular aggregate — the "
    "matrix is days², never rows-sized",
)
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    c = ud.withColumn(
        "cohort", F.min("day").over(Window.partitionBy("user_id"))
    )
    g = (
        c.groupBy(
            "cohort", F.datediff("day", "cohort").alias("offset_days")
        )
        .agg(F.count("*").cast("long").alias("n_active"))
    )
    day0 = Window.partitionBy("cohort").orderBy("offset_days")
    return g.select(
        F.col("cohort").cast("string").alias("cohort_day"),
        F.col("offset_days").cast("long").alias("offset_days"),
        "n_active",
        F.round(
            F.col("n_active")
            / F.first("n_active").over(day0).cast("double"),
            4,
        ).alias("retention"),
    )


@q(
    "q150_scd2_history",
    oracle=f"""
WITH ev AS ({_EV}),
l AS (SELECT user_id, ts, event_id, event_type,
        CASE WHEN lag(event_type) OVER w IS NULL
             OR lag(event_type) OVER w <> event_type
             THEN 1 ELSE 0 END AS chg
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
v AS (SELECT user_id, ts, event_type,
        sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      FROM l),
seg AS (SELECT user_id, CAST(version AS BIGINT) AS version,
          min(event_type) AS event_type,
          min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
        FROM v GROUP BY user_id, version)
SELECT user_id, version, event_type,
  CAST(valid_from AS VARCHAR) AS valid_from,
  CAST(lead(valid_from) OVER (
      PARTITION BY user_id ORDER BY version) AS VARCHAR) AS valid_to,
  n_events
FROM seg
""",
    description="SCD type-2 history build: collapse each user's "
    "event_type run-lengths into versioned [valid_from, valid_to) "
    "rows (change flag via lag, version via running sum, close via "
    "lead — the classic warehouse dimension-history recipe). One "
    "user-keyed shuffle; all windows run inside it",
)
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(
        prev.isNull() | (prev != F.col("event_type")), 1
    ).otherwise(0)
    v = ev.withColumn(
        "version",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    seg = v.groupBy(
        "user_id", F.col("version").cast("long").alias("version")
    ).agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").cast("long").alias("n_events"),
    )
    nxt = Window.partitionBy("user_id").orderBy("version")
    return seg.select(
        "user_id",
        "version",
        "event_type",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.lead("valid_from").over(nxt).cast("string").alias("valid_to"),
        "n_events",
    )


@q(
    "q151_ewma_smooth",
    oracle=f"""
WITH ev AS ({_EV}),
l AS (SELECT event_id, user_id, value,
        lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
        lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
e AS (SELECT event_id, user_id, value,
        (value
         + CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 * l1 END
         + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 * l2 END
         + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 * l3 END
         + CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.0625 * l4 END)
        /
        (1.0
         + CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 END
         + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 END
         + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 END
         + CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.0625 END) AS ew
      FROM l)
SELECT event_id, user_id,
  floor(ew * 1000000.0 + 0.5) / 1000000.0 AS ewma
FROM e
""",
    description="depth-5 exponentially-weighted smoothing per user "
    "series (alpha=1/2 — power-of-two weights, so every product is "
    "an EXACT IEEE scaling and the fixed left-to-right sum is "
    "bit-identical cross-engine; boundary rows renormalize over the "
    "lags that exist). Window-lag only: zero shuffles beyond the "
    "series partition, whole-stage codegen throughout",
)
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", i).over(w) for i in (1, 2, 3, 4)]
    wts = [0.5, 0.25, 0.125, 0.0625]
    num = F.col("value")
    den = F.lit(1.0)
    for lag_col, wt in zip(lags, wts):
        num = num + F.when(lag_col.isNull(), 0.0).otherwise(
            F.lit(wt) * lag_col
        )
        den = den + F.when(lag_col.isNull(), 0.0).otherwise(F.lit(wt))
    ew = num / den
    return ev.select(
        "event_id",
        "user_id",
        (F.floor(ew * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "ewma"
        ),
    )


@q(
    "q152_zonemap_audit",
    oracle=f"""
WITH ev AS ({_EV}),
zm AS (SELECT CAST(ts AS DATE) AS day, min(value) AS mn,
         max(value) AS mx, CAST(count(*) AS BIGINT) AS n
       FROM ev GROUP BY 1),
th AS (SELECT unnest([50.0, 150.0, 300.0]) AS threshold),
pruned AS (SELECT t.threshold,
    CAST(count(*) AS BIGINT) AS n_zones,
    CAST(sum(CASE WHEN zm.mx <= t.threshold THEN 1 ELSE 0 END)
      AS BIGINT) AS zones_pruned,
    CAST(sum(CASE WHEN zm.mx <= t.threshold THEN zm.n ELSE 0 END)
      AS BIGINT) AS rows_skipped,
    CAST(sum(CASE WHEN zm.mx <= t.threshold THEN 0 ELSE zm.n END)
      AS BIGINT) AS rows_scanned
  FROM th t CROSS JOIN zm GROUP BY t.threshold),
act AS (SELECT t.threshold,
    CAST(sum(CASE WHEN e.value > t.threshold THEN 1 ELSE 0 END)
      AS BIGINT) AS rows_matching
  FROM th t CROSS JOIN ev e GROUP BY t.threshold)
SELECT p.threshold, p.n_zones, p.zones_pruned, p.rows_skipped,
  p.rows_scanned, a.rows_matching,
  round(p.rows_skipped / CAST(p.rows_skipped + p.rows_scanned
    AS DOUBLE), 4) AS skip_fraction
FROM pruned p JOIN act a ON a.threshold = p.threshold
""",
    description="zone-map (min/max statistics) pruning audit: build "
    "day-granular zones over events.value, then for each `value > "
    "t` predicate report zones/rows a statistics-aware scan skips "
    "vs the rows actually matching — the observability query behind "
    "file-skipping layout decisions. Zones are day-count-sized; the "
    "only corpus-scan is the zone build itself",
)
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    zm = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count("*").cast("long").alias("n"),
    )
    th = ev.sparkSession.range(1).select(
        F.explode(
            F.array(F.lit(50.0), F.lit(150.0), F.lit(300.0))
        ).alias("threshold")
    )
    pruned = (
        th.crossJoin(F.broadcast(zm))
        .groupBy("threshold")
        .agg(
            F.count("*").cast("long").alias("n_zones"),
            F.sum(
                F.when(F.col("mx") <= F.col("threshold"), 1).otherwise(0)
            )
            .cast("long")
            .alias("zones_pruned"),
            F.sum(
                F.when(
                    F.col("mx") <= F.col("threshold"), F.col("n")
                ).otherwise(0)
            )
            .cast("long")
            .alias("rows_skipped"),
            F.sum(
                F.when(
                    F.col("mx") <= F.col("threshold"), 0
                ).otherwise(F.col("n"))
            )
            .cast("long")
            .alias("rows_scanned"),
        )
    )
    act = (
        ev.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("value") > F.col("threshold"), 1).otherwise(0)
            )
            .cast("long")
            .alias("rows_matching")
        )
    )
    return (
        pruned.join(act, "threshold")
        .select(
            "threshold",
            "n_zones",
            "zones_pruned",
            "rows_skipped",
            "rows_scanned",
            "rows_matching",
            F.round(
                F.col("rows_skipped")
                / (F.col("rows_skipped") + F.col("rows_scanned")).cast(
                    "double"
                ),
                4,
            ).alias("skip_fraction"),
        )
    )


@q(
    "q153_skyline",
    oracle="""
WITH best AS (SELECT p_retailprice AS price, max(p_size) AS msize
              FROM part GROUP BY p_retailprice),
cm AS (SELECT price, msize,
         max(msize) OVER (ORDER BY price
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       FROM best),
sky AS (SELECT price, msize FROM cm
        WHERE prev_max IS NULL OR msize > prev_max)
SELECT p.p_partkey, p.p_name, round(p.p_retailprice, 2) AS price,
  CAST(p.p_size AS BIGINT) AS size
FROM part p JOIN sky s
  ON p.p_retailprice = s.price AND p.p_size = s.msize
""",
    description="2-D skyline (Pareto frontier: min price, max size) "
    "via the sort-scan recipe — per-price best, a strict running-max "
    "window over ascending price, survivors join back for their "
    "part rows. One global sort of the price-distinct frame (never "
    "all-pairs dominance); at 100 TB a per-partition local skyline "
    "pre-filter bounds the sorted frame",
)
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = T(spark, sf_dir, "part")
    best = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("msize")
    )
    wcm = Window.orderBy("price").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky = (
        best.withColumn("prev_max", F.max("msize").over(wcm))
        .filter(
            F.col("prev_max").isNull()
            | (F.col("msize") > F.col("prev_max"))
        )
        .select("price", "msize")
    )
    # the frontier is usually tiny but worst-case (monotone price vs
    # size) distinct-price-sized, and no count is already paid here —
    # leave it un-hinted (equi-join: clean shuffle-hash fallback; AQE
    # converts to broadcast from runtime stats when it actually fits)
    from lynx_spark.operators._util import broadcast_if_counted

    return part.join(
        broadcast_if_counted(sky, None),
        (part.p_retailprice == sky.price) & (part.p_size == sky.msize),
    ).select(
        "p_partkey",
        "p_name",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )


def _zorder_oracle() -> str:
    file_id = layout.zorder_sql(
        "o_custkey", "day", bits=8, file_bits=6
    )
    return f"""
WITH o AS (SELECT o_custkey,
    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      AS day
  FROM orders),
st AS (SELECT CAST(min(o_custkey) AS BIGINT) AS mnx,
         CAST(max(o_custkey) AS BIGINT) AS mxx,
         CAST(min(day) AS BIGINT) AS mny,
         CAST(max(day) AS BIGINT) AS mxy
       FROM o),
keyed AS (SELECT {file_id} AS file_id, o_custkey AS x, day AS y,
            mnx, mxx, mny, mxy
          FROM o CROSS JOIN st)
SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
  CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y,
  floor((max(x) - min(x)) / CAST(greatest(any_value(mxx)
    - any_value(mnx), 1) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
    AS span_x,
  floor((max(y) - min(y)) / CAST(greatest(any_value(mxy)
    - any_value(mny), 1) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
    AS span_y
FROM keyed GROUP BY file_id
"""


@q(
    "q154_zorder_layout",
    oracle=_zorder_oracle(),
    description="Z-order (Morton) layout audit over orders on "
    "(custkey, order epoch-day): each dimension min/max-quantized "
    "to 8 bits on exact integers, bit-interleaved, bucketed by the "
    "top 6 Z-bits into the 64 files an OPTIMIZE ZORDER rewrite "
    "would emit; per file the bounding box and the fraction of each "
    "dimension's range it spans (the data-skipping effectiveness "
    "a q152-style zone map gets on EITHER predicate column). One "
    "4-scalar aggregate broadcast back, one bucket-granular agg",
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("day"),
    )
    return layout.zorder_audit(
        o, "o_custkey", "day", bits=8, file_bits=6
    )


@q(
    "q155_phrase_search",
    oracle=_WORDS_CTE
    + """
, p0 AS (SELECT doc_id, w,
           unnest(generate_series(1, len(w))) AS pos FROM d),
p AS (SELECT doc_id, pos, w[pos] AS word FROM p0 WHERE w[pos] <> ''),
bg AS (SELECT p1.word AS w1, p2.word AS w2,
         CAST(count(*) AS BIGINT) AS c
       FROM p p1 JOIN p p2
         ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
       GROUP BY 1, 2),
top AS (SELECT w1, w2 FROM bg ORDER BY c DESC, w1, w2 LIMIT 1)
SELECT p1.doc_id, t.w1 || ' ' || t.w2 AS phrase,
  CAST(count(*) AS BIGINT) AS n_matches,
  CAST(min(p1.pos) AS BIGINT) AS first_pos
FROM p p1
JOIN top t ON p1.word = t.w1
JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
         AND p2.word = t.w2
GROUP BY 1, 2
""",
    description="positional-index phrase retrieval: build the "
    "(doc, pos, word) inverted index once, pick the corpus's most "
    "frequent bigram deterministically (1-row broadcast argmax), "
    "and match the exact phrase via an index equality self-join on "
    "(doc, pos+1) — co-partitioned, never a text rescan; per-doc "
    "occurrence count and first position",
)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.phrase_search_top_bigram(
        T(spark, sf_dir, "documents"), "doc_id", "text"
    )


@q(
    "q156_entity_match",
    oracle="""
WITH nm AS (SELECT p_name AS name, split_part(p_name, ' ', 1) AS blk,
              CAST(count(*) AS BIGINT) AS n
            FROM part GROUP BY 1, 2)
SELECT a.name AS a_name, b.name AS b_name,
  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
  a.n AS n_a, b.n AS n_b, a.n * b.n AS n_record_pairs
FROM nm a JOIN nm b ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 4
""",
    description="blocked fuzzy entity matching (record linkage): "
    "distinct part names within the same first-word block compared "
    "by exact Levenshtein edit distance (<= 4), canonical a < b "
    "pairs, each carrying the record-pair multiplicity it links. "
    "The match runs on the NAME vocabulary, not the record rows — "
    "the key-collapse that keeps linkage sub-quadratic when an "
    "entity repeats millions of times — and the blocking key bounds "
    "candidate volume to block-local vocabulary quadratics; edit "
    "distance is an exact integer in both engines",
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    nm = (
        T(spark, sf_dir, "part")
        .groupBy(
            F.col("p_name").alias("name"),
            F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    a = nm.alias("a")
    b = nm.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .filter(
            F.levenshtein(F.col("a.name"), F.col("b.name")) <= F.lit(4)
        )
        .select(
            F.col("a.name").alias("a_name"),
            F.col("b.name").alias("b_name"),
            F.levenshtein(F.col("a.name"), F.col("b.name"))
            .cast("long")
            .alias("dist"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            (F.col("a.n") * F.col("b.n")).alias("n_record_pairs"),
        )
    )


def _modularity_oracle() -> str:
    base = _knn_graph_oracle(5)
    ctes = base[: base.rindex("SELECT src, nbr")]
    return (
        ctes
        + """, g AS (SELECT src, nbr, cos_sim FROM ranked WHERE rnk <= 5),
e5 AS (SELECT src, nbr,
         CAST(floor(cos_sim * 100000.0 + 0.5) AS BIGINT) AS w5
       FROM g),
lab AS (SELECT vec_id AS node, CAST(label AS BIGINT) AS lab
        FROM embeddings),
tg AS (SELECT sl.lab AS src_lab, nl.lab AS nbr_lab, e5.w5
       FROM e5 JOIN lab sl ON sl.node = e5.src
       JOIN lab nl ON nl.node = e5.nbr),
wn AS (SELECT src_lab AS lab, CAST(sum(w5) AS BIGINT) AS w_in5
       FROM tg WHERE src_lab = nbr_lab GROUP BY 1),
ow AS (SELECT src_lab AS lab, CAST(sum(w5) AS BIGINT) AS out5
       FROM tg GROUP BY 1),
iw AS (SELECT nbr_lab AS lab, CAST(sum(w5) AS BIGINT) AS in5
       FROM tg GROUP BY 1),
tot AS (SELECT CAST(sum(w5) AS BIGINT) AS tot5 FROM e5),
al AS (SELECT DISTINCT CAST(label AS BIGINT) AS lab FROM embeddings)
SELECT al.lab AS label,
  coalesce(w_in5, 0) / 100000.0 AS w_within,
  coalesce(out5, 0) / 100000.0 AS w_out,
  coalesce(in5, 0) / 100000.0 AS w_in,
  floor((coalesce(w_in5, 0) / CAST(tot5 AS DOUBLE)
    - (coalesce(out5, 0) / CAST(tot5 AS DOUBLE))
      * (coalesce(in5, 0) / CAST(tot5 AS DOUBLE)))
    * 100000000.0 + 0.5) / 100000000.0 AS q_contrib
FROM al LEFT JOIN wn USING (lab) LEFT JOIN ow USING (lab)
LEFT JOIN iw USING (lab) CROSS JOIN tot
"""
    )


@q(
    "q157_modularity",
    oracle=_modularity_oracle(),
    description="directed weighted modularity (Leicht-Newman) of the "
    "given label partition over the q83 kNN similarity graph — the "
    "partition-quality audit completing the graph family: per "
    "community, within-weight and out/in expected-weight terms, "
    "Q_c = w_cc/W - (out_c/W)(in_c/W). Edge weights quantized onto "
    "the 1e5 integer grid so every sum is exact; one label-map "
    "broadcast onto the edges, three community-granular aggregates",
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(emb, "vec_id", "embedding", k=5)
    return gr.directed_modularity(
        edges, emb.select("vec_id", "label"), "vec_id", "label"
    )


def _kcenter_oracle(k: int = 6) -> str:
    def d8(expr: str) -> str:
        return f"floor(({expr}) * 100000000.0 + 0.5) / 100000000.0"

    cos = "sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y)))"
    sql = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c1 AS MATERIALIZED (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 1),
el1 AS (SELECT v.vec_id, unnest(v.e) AS x, unnest(c.e) AS y
        FROM v CROSS JOIN c1 c),
d1 AS (SELECT vec_id, {d8(f"1.0 - ({cos})")} AS dn
       FROM el1 GROUP BY vec_id),
m1 AS MATERIALIZED (SELECT v.vec_id, v.e, d1.dn AS mind
      FROM v JOIN d1 USING (vec_id))"""
    for t in range(2, k + 1):
        p = t - 1
        sql += f""",
c{t} AS MATERIALIZED (SELECT vec_id, e, mind FROM m{p}
       ORDER BY mind DESC, vec_id LIMIT 1)"""
        if t < k:
            sql += f""",
el{t} AS (SELECT m.vec_id, unnest(m.e) AS x, unnest(c.e) AS y
          FROM m{p} m CROSS JOIN c{t} c),
d{t} AS (SELECT vec_id, {d8(f"1.0 - ({cos})")} AS dn
         FROM el{t} GROUP BY vec_id),
m{t} AS MATERIALIZED (SELECT m.vec_id, m.e, least(m.mind, d.dn) AS mind
       FROM m{p} m JOIN d{t} d USING (vec_id))"""
    union = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS sel_rank, vec_id, "
        f"mind AS dist FROM c{t}"
        for t in range(2, k + 1)
    )
    return (
        sql
        + "\nSELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, "
        "CAST(NULL AS DOUBLE) AS dist FROM c1\nUNION ALL "
        + union
        + "\n"
    )


@q(
    "q158_kcenter_sample",
    oracle=_kcenter_oracle(6),
    description="greedy farthest-point (Gonzalez k-center) diversity "
    "sampling over the embedding corpus: seed = lowest id, then 5 "
    "rounds of 'pick the point farthest from its nearest selected "
    "center' — the coverage-maximizing exemplar sampler; per pick "
    "its selection distance (the k-center radius trajectory). Every "
    "distance 8dp-quantized before the argmax (vec_id tie-break) so "
    "the unrolled SQL oracle replays the identical sequence; each "
    "round is one 1-row center broadcast + a linear min-distance "
    "update, never pairwise",
)
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.kcenter_sample(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=6
    )


# =====================================================================
# round 7 batch 2: recursive SQL, interval analytics, robust stats,
# time-series forecasting, graph coreness, winsorization
# =====================================================================


@q(
    "q159_recursive_calendar",
    oracle=f"""
WITH RECURSIVE ev AS ({_EV}),
bounds AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
           FROM ev),
cal AS (
  SELECT lo AS day, hi FROM bounds
  UNION ALL
  SELECT day + 1, hi FROM cal WHERE day < hi
),
daily AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
          FROM ev GROUP BY 1)
SELECT c.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n_events,
  CAST(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
  CAST(sum(coalesce(d.n, 0)) OVER (ORDER BY c.day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS run_events
FROM cal c LEFT JOIN daily d ON d.day = c.day
""",
    description="recursive CTE (Spark 4 WITH RECURSIVE — new SQL "
    "surface): dense day calendar generated by recursion from the "
    "event-time bounds, left-joined to daily counts so silent gap "
    "days surface as zero rows, plus a cumulative ingest curve. The "
    "recursion is bounded by the date span (days, not rows), the "
    "calendar frame is tiny, and the one unpartitioned running-sum "
    "window runs over calendar days only — never over events",
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
WITH RECURSIVE bounds AS (
  SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
  FROM events
),
cal AS (
  SELECT lo AS day, hi FROM bounds
  UNION ALL
  SELECT date_add(day, 1), hi FROM cal WHERE day < hi
),
daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
)
SELECT c.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n_events,
  CAST(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
  CAST(sum(coalesce(d.n, 0)) OVER (ORDER BY c.day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS run_events
FROM cal c LEFT JOIN daily d ON d.day = c.day
"""
    )


@q(
    "q160_peak_concurrency",
    oracle=f"""
WITH ev AS ({_EV}),
iv AS (SELECT user_id, CAST(ts AS DATE) AS day,
         min(ts) AS t0, max(ts) AS t1
       FROM ev GROUP BY 1, 2),
pts AS (
  SELECT day, user_id, t0 AS t, 1 AS d FROM iv
  UNION ALL
  SELECT day, user_id, t1 AS t, -1 AS d FROM iv
),
sweep AS (
  SELECT day, sum(d) OVER (PARTITION BY day
    ORDER BY t, d DESC, user_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM pts
)
SELECT s.day, n.n_users, CAST(max(s.conc) AS BIGINT) AS peak_concurrent
FROM sweep s
JOIN (SELECT day, CAST(count(*) AS BIGINT) AS n_users
      FROM iv GROUP BY 1) n ON n.day = s.day
GROUP BY s.day, n.n_users
""",
    description="interval analytics via sweep-line: per-user daily "
    "activity intervals [first event, last event] become +1/-1 "
    "endpoint deltas; a day-partitioned running sum (starts ordered "
    "before ends at equal timestamps, user_id tie-break for a total "
    "order) traces concurrency, and its max is the day's peak "
    "concurrent-user count. LINEAR where the naive overlapping-pairs "
    "join is quadratic in users-per-day — the 100 TB-safe shape for "
    "interval overlap questions; all integer arithmetic, fully "
    "deterministic",
)
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 reshape: endpoints come from ONE pass over the per-user
    # intervals (explode, not a self-union that reads iv twice), and
    # n_users is recovered inside the post-sweep aggregation as the
    # count of +1 endpoints — so the nu join (and iv's second
    # derivation, which re-ran the events scan + groupBy) is gone.
    # Two shuffles total: the interval groupBy and the day exchange
    # for the sweep window; the final day aggregation reuses the
    # window's partitioning.
    ev = T(spark, sf_dir, "events")
    iv = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    pts = iv.select(
        "day",
        "user_id",
        F.explode(
            F.array(
                F.struct(F.col("t0").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("t1").alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("p"),
    ).select("day", "user_id", F.col("p.t").alias("t"), F.col("p.d").alias("d"))
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.col("d").desc(), F.col("user_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sweep = pts.select("day", "d", F.sum("d").over(w).alias("conc"))
    return sweep.groupBy("day").agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_users"),
        F.max("conc").cast("long").alias("peak_concurrent"),
    )


@q(
    "q161_rolling_distinct",
    oracle=f"""
WITH ev AS ({_EV}),
tri AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS d0, user_id
        FROM ev),
days AS (SELECT DISTINCT event_type, d0 AS day FROM tri)
SELECT d.event_type, d.day,
  CAST(count(DISTINCT t.user_id) AS BIGINT) AS users_7d
FROM days d JOIN tri t
  ON t.event_type = d.event_type
 AND t.d0 BETWEEN d.day - 6 AND d.day
GROUP BY 1, 2
""",
    description="7-day rolling DISTINCT users per event type — the "
    "rolling-cardinality metric windows can't express (DISTINCT "
    "inside a window frame is unsupported in both engines). Spark "
    "shape: distinct (type, day, user) triples fan out to the <=7 "
    "forward days they cover (explode of a constant 0..6 sequence), "
    "then one equi-join back to observed days and a distinct count — "
    "linear with a fixed x7 factor, where the oracle's BETWEEN range "
    "join is quadratic-ish; at 100 TB the triple-dedup is the only "
    "real shuffle and the fan-out key (type, day) is perfectly "
    "partitionable",
)
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    tri = ev.select(
        "event_type", F.to_date("ts").alias("d0"), "user_id"
    ).distinct()
    days = tri.select("event_type", F.col("d0").alias("day")).distinct()
    expanded = tri.withColumn(
        "off", F.explode(F.sequence(F.lit(0), F.lit(6)))
    ).select(
        "event_type",
        F.date_add("d0", F.col("off")).alias("day"),
        "user_id",
    )
    return (
        expanded.join(days, ["event_type", "day"])
        .groupBy("event_type", "day")
        .agg(F.countDistinct("user_id").cast("long").alias("users_7d"))
    )


@q(
    "q162_mad_anomaly",
    oracle=f"""
WITH ev AS ({_EV}),
med AS (SELECT event_type, quantile_cont(value, 5e-1) AS med
        FROM ev GROUP BY 1),
dv AS (SELECT e.event_type, e.value, m.med,
         abs(e.value - m.med) AS dev
       FROM ev e JOIN med m USING (event_type)),
mad AS (SELECT event_type, quantile_cont(dev, 5e-1) AS mad
        FROM dv GROUP BY 1),
fl AS (SELECT d.event_type, d.med, m.mad,
         CASE WHEN m.mad > 0e0 AND d.dev > 3e0 * m.mad
              THEN 1 ELSE 0 END AS is_anom
       FROM dv d JOIN mad m USING (event_type))
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  floor(max(med) * 1e6 + 5e-1) / 1e6 AS med,
  floor(max(mad) * 1e6 + 5e-1) / 1e6 AS mad,
  CAST(sum(is_anom) AS BIGINT) AS n_anomalies,
  floor((CAST(sum(is_anom) AS DOUBLE) / count(*)) * 1e6 + 5e-1) / 1e6
    AS anomaly_rate
FROM fl GROUP BY 1
""",
    description="robust anomaly detection per event type: median/MAD "
    "(exact interpolated percentiles — identical (n-1)*q index "
    "arithmetic in both engines) flag values beyond 3 MAD, the "
    "outlier gate that survives the heavy tails that wreck "
    "mean/stddev z-scores. Two aggregation passes plus a 5-row "
    "broadcast back onto events; the exact-percentile sort is "
    "per-group and at warehouse scale would swap to approx_percentile "
    "with the same flagging contract",
)
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    dv = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dv.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5D)").alias("mad")
    )
    fl = dv.join(F.broadcast(mad), "event_type").withColumn(
        "is_anom",
        F.when(
            (F.col("mad") > 0.0) & (F.col("dev") > F.lit(3.0) * F.col("mad")),
            1,
        ).otherwise(0),
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return fl.groupBy("event_type").agg(
        F.count("*").alias("n"),
        r6(F.max("med")).alias("med"),
        r6(F.max("mad")).alias("mad"),
        F.sum("is_anom").cast("long").alias("n_anomalies"),
        r6(F.sum("is_anom").cast("double") / F.count("*")).alias(
            "anomaly_rate"
        ),
    )


@q(
    "q163_holt_forecast",
    oracle=f"""
WITH RECURSIVE ev AS ({_EV}),
d AS (SELECT user_id, CAST(ts AS DATE) AS day,
        CAST(sum(CAST(floor(value * 1e6 + 5e-1) AS BIGINT)) AS BIGINT)
          AS y6
      FROM ev GROUP BY 1, 2),
s AS (SELECT user_id, y6,
        row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM d),
h AS (
  SELECT user_id, 1 AS rn, CAST(y6 AS DOUBLE) / 1e6 AS l,
    CAST(0 AS DOUBLE) AS b
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn,
    5e-1 * (CAST(s.y6 AS DOUBLE) / 1e6) + 5e-1 * (h.l + h.b),
    5e-1 * ((5e-1 * (CAST(s.y6 AS DOUBLE) / 1e6)
             + 5e-1 * (h.l + h.b)) - h.l) + 5e-1 * h.b
  FROM h JOIN s ON s.user_id = h.user_id AND s.rn = h.rn + 1
),
mx AS (SELECT user_id, max(rn) AS m FROM h GROUP BY 1)
SELECT h.user_id,
  CAST(mx.m AS BIGINT) AS n_days,
  floor(h.l * 1e6 + 5e-1) / 1e6 AS level,
  floor(h.b * 1e6 + 5e-1) / 1e6 AS trend,
  floor((h.l + 3e0 * h.b) * 1e6 + 5e-1) / 1e6 AS forecast_3
FROM h JOIN mx ON mx.user_id = h.user_id AND h.rn = mx.m
""",
    description="Holt double-exponential (level+trend) smoothing of "
    "each user's daily value series, with a 3-step-ahead forecast — "
    "per-series state folded with alpha=beta=1/2 so every smoothing "
    "product is an EXACT IEEE scaling and the sequential fold is "
    "bit-identical to the oracle's recursive-CTE replay. Daily "
    "totals quantize onto the 1e-6 integer grid first (order-free "
    "exact sums); the Spark side is one groupBy + an array_sort + "
    "F.aggregate fold per series — series state never leaves the "
    "executor, no iteration shuffles at all (the recurrence depth "
    "lives inside the array fold, not the plan)",
)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("y6")
    )
    ser = daily.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("day", "y6"))).alias("s")
    )
    y0 = F.element_at("s", 1)["y6"].cast("double") / F.lit(1e6)
    init = F.struct(y0.alias("l"), F.lit(0.0).alias("b"))
    rest = F.slice(
        "s", 2, F.greatest(F.size("s") - F.lit(1), F.lit(0))
    )

    def step(acc, x):
        y = x["y6"].cast("double") / F.lit(1e6)
        lp = F.lit(0.5) * y + F.lit(0.5) * (acc["l"] + acc["b"])
        bp = F.lit(0.5) * (lp - acc["l"]) + F.lit(0.5) * acc["b"]
        return F.struct(lp.alias("l"), bp.alias("b"))

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    acc = F.aggregate(rest, init, step)
    return ser.select(
        "user_id",
        F.size("s").cast("long").alias("n_days"),
        r6(acc["l"]).alias("level"),
        r6(acc["b"]).alias("trend"),
        r6(acc["l"] + F.lit(3.0) * acc["b"]).alias("forecast_3"),
    )


def _kcore_oracle(k: int = 12, n_rounds: int = 3, cap: int = 8) -> str:
    # every CTE is AS MATERIALIZED (r12): each symN is referenced
    # three times by symN+1 (FROM + two IN-subqueries) and the final
    # SELECT adds 2 scalar subqueries per round, so DuckDB's default
    # CTE INLINING re-expanded the whole chain multiplicatively —
    # dozens of re-evaluations of the 6M-row DISTINCT at the
    # synthesized sf1 (a 48 GiB temp spill for a graph that is in
    # fact EMPTY there). Materialization pins one evaluation each.
    sql = f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
keep AS MATERIALIZED (
  SELECT l_partkey FROM li GROUP BY 1 HAVING count(*) <= {cap}),
lik AS MATERIALIZED (SELECT li.* FROM li JOIN keep USING (l_partkey)),
e AS MATERIALIZED (SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
      FROM lik a JOIN lik b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
sym0 AS MATERIALIZED (SELECT s AS a, t AS b FROM e
         UNION ALL SELECT t AS a, s AS b FROM e)"""
    for r in range(1, n_rounds + 1):
        p = r - 1
        sql += f""",
al{r} AS MATERIALIZED (SELECT a AS v FROM sym{p} GROUP BY 1
          HAVING count(*) >= {k}),
sym{r} AS MATERIALIZED (SELECT sy.a, sy.b FROM sym{p} sy
           WHERE sy.a IN (SELECT v FROM al{r})
             AND sy.b IN (SELECT v FROM al{r}))"""
    rows = [
        "SELECT CAST(0 AS BIGINT) AS round,"
        " (SELECT CAST(count(DISTINCT a) AS BIGINT) FROM sym0)"
        " AS survivors,"
        " (SELECT CAST(count(*) / 2 AS BIGINT) FROM sym0) AS n_edges"
    ]
    for r in range(1, n_rounds + 1):
        rows.append(
            f"SELECT CAST({r} AS BIGINT) AS round,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM al{r}) AS survivors,"
            f" (SELECT CAST(count(*) / 2 AS BIGINT) FROM sym{r})"
            " AS n_edges"
        )
    return sql + "\n" + "\nUNION ALL ".join(rows) + "\n"


@q(
    "q164_kcore_peel",
    oracle=_kcore_oracle(12, 3, 8),
    description="k-core peeling (k=12, 3 fixed rounds) of the "
    "supplier co-purchase graph — suppliers linked when they ship "
    "the same part, with a fan-out cap (parts carried by <= 8 "
    "suppliers) playing the df-cap role so no hub part can go "
    "quadratic. Per-round survivor/edge trajectory; each round is "
    "one degree aggregation + two semi-joins, and the per-round "
    "frames are released together once the 4-row result is "
    "collected — the graph-density pruning tier for corpus graphs "
    "at 100 TB",
)
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        T(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    keep = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("ns"))
        .filter(F.col("ns") <= 8)
        .select("l_partkey")
    )
    lik = li.join(keep, "l_partkey")
    pairs = (
        lik.alias("a")
        .join(lik.alias("b"), "l_partkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .distinct()
    )
    return gr.kcore_peel(pairs, k=12, n_rounds=3)


@q(
    "q165_winsorize",
    oracle="""
WITH pct AS (
  SELECT source,
    floor(quantile_cont(n_chars, 5e-2) * 1e2 + 5e-1) / 1e2 AS p05,
    floor(quantile_cont(n_chars, 95e-2) * 1e2 + 5e-1) / 1e2 AS p95
  FROM documents GROUP BY 1),
j AS (
  SELECT d.source, d.n_chars, p.p05, p.p95,
    CAST(floor(least(greatest(CAST(d.n_chars AS DOUBLE), p.p05), p.p95)
      * 1e2 + 5e-1) AS BIGINT) AS w2
  FROM documents d JOIN pct p USING (source)),
s AS (
  SELECT source, max(p05) AS p05, max(p95) AS p95,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(count(*) AS BIGINT) AS nn,
    CAST(sum(n_chars) AS BIGINT) AS s1r,
    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2r,
    CAST(sum(w2) AS BIGINT) AS s1w,
    CAST(sum(w2 * w2) AS BIGINT) AS s2w
  FROM j GROUP BY source)
SELECT source, nn AS n, p05, p95,
  floor((CAST(s1r AS DOUBLE) / n) * 1e4 + 5e-1) / 1e4 AS raw_mean,
  floor(sqrt(greatest(CAST(s2r AS DOUBLE) / n
    - (CAST(s1r AS DOUBLE) / n) * (CAST(s1r AS DOUBLE) / n), 0e0))
    * 1e4 + 5e-1) / 1e4 AS raw_std,
  floor(((CAST(s1w AS DOUBLE) / n) / 1e2) * 1e4 + 5e-1) / 1e4
    AS win_mean,
  floor(sqrt(greatest((CAST(s2w AS DOUBLE) / n) / 1e4
    - ((CAST(s1w AS DOUBLE) / n) / 1e2)
      * ((CAST(s1w AS DOUBLE) / n) / 1e2), 0e0))
    * 1e4 + 5e-1) / 1e4 AS win_std
FROM s
""",
    description="per-source winsorization audit of document lengths: "
    "p05/p95 exact percentiles (2dp-quantized so both engines clip "
    "on the identical grid), then mean/std of raw vs clipped lengths "
    "— the outlier-clipping length normalizer a curation pipeline "
    "applies before length-balanced sampling. Clipped values live on "
    "a 1e-2 integer grid so every moment is an exact integer sum "
    "(order-free); variance is assembled from the same op sequence "
    "in both engines. One percentile pass + one moment pass, "
    "source-keyed — trivially partitionable",
)
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    q2 = lambda c: F.floor(c * F.lit(1e2) + F.lit(0.5)) / F.lit(1e2)
    r4 = lambda c: F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)
    pct = docs.groupBy("source").agg(
        q2(F.expr("percentile(n_chars, 0.05D)")).alias("p05"),
        q2(F.expr("percentile(n_chars, 0.95D)")).alias("p95"),
    )
    j = docs.join(F.broadcast(pct), "source").withColumn(
        "w2",
        F.floor(
            F.least(
                F.greatest(F.col("n_chars").cast("double"), F.col("p05")),
                F.col("p95"),
            )
            * F.lit(1e2)
            + F.lit(0.5)
        ).cast("long"),
    )
    s = j.groupBy("source").agg(
        F.max("p05").alias("p05"),
        F.max("p95").alias("p95"),
        F.count("*").cast("double").alias("n"),
        F.count("*").alias("nn"),
        F.sum("n_chars").alias("s1r"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2r"),
        F.sum("w2").alias("s1w"),
        F.sum(F.col("w2") * F.col("w2")).alias("s2w"),
    )
    mr = F.col("s1r").cast("double") / F.col("n")
    mw = (F.col("s1w").cast("double") / F.col("n")) / F.lit(1e2)
    vr = F.greatest(
        F.col("s2r").cast("double") / F.col("n") - mr * mr, F.lit(0.0)
    )
    vw = F.greatest(
        (F.col("s2w").cast("double") / F.col("n")) / F.lit(1e4) - mw * mw,
        F.lit(0.0),
    )
    return s.select(
        "source",
        F.col("nn").alias("n"),
        "p05",
        "p95",
        r4(mr).alias("raw_mean"),
        r4(F.sqrt(vr)).alias("raw_std"),
        r4(mw).alias("win_mean"),
        r4(F.sqrt(vw)).alias("win_std"),
    )


@q(
    "q166_funnel_conversion",
    oracle=f"""
WITH ev AS ({_EV}),
v AS (SELECT user_id, min(ts) AS t1 FROM ev
      WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, min(e.ts) AS t2
      FROM ev e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
p AS (SELECT e.user_id, min(e.ts) AS t3
      FROM ev e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
coh AS (SELECT v.user_id, CAST(v.t1 AS DATE) AS cohort_day,
          CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS hit2,
          CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS hit3
        FROM v LEFT JOIN c ON c.user_id = v.user_id
        LEFT JOIN p ON p.user_id = v.user_id)
SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_viewed,
  CAST(sum(hit2) AS BIGINT) AS n_clicked,
  CAST(sum(hit3) AS BIGINT) AS n_purchased,
  floor((CAST(sum(hit2) AS DOUBLE) / count(*)) * 1e6 + 5e-1) / 1e6
    AS click_rate,
  floor((CAST(sum(hit3) AS DOUBLE) / count(*)) * 1e6 + 5e-1) / 1e6
    AS purchase_rate
FROM coh GROUP BY 1
""",
    description="ordered 3-step funnel (view -> later click -> later "
    "purchase) with per-cohort-day conversion rates — the strictly-"
    "ordered variant q13's unordered pair counting can't express. "
    "Three user-keyed min-aggregations chained by strict timestamp "
    "inequality (microsecond integers — exact comparisons), then two "
    "left joins collapse to per-user stage flags; cohort = first-view "
    "day. Every join is user-keyed equi; no windows over raw events",
)
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    coh = (
        v.join(c.select("user_id", F.lit(1).alias("hit2")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("hit3")), "user_id", "left")
        .select(
            F.to_date("t1").alias("cohort_day"),
            F.coalesce("hit2", F.lit(0)).alias("hit2"),
            F.coalesce("hit3", F.lit(0)).alias("hit3"),
        )
    )
    r6 = lambda col: F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return coh.groupBy("cohort_day").agg(
        F.count("*").alias("n_viewed"),
        F.sum("hit2").cast("long").alias("n_clicked"),
        F.sum("hit3").cast("long").alias("n_purchased"),
        r6(F.sum("hit2").cast("double") / F.count("*")).alias("click_rate"),
        r6(F.sum("hit3").cast("double") / F.count("*")).alias(
            "purchase_rate"
        ),
    )


@q(
    "q167_cusum_changepoint",
    oracle=f"""
WITH ev AS ({_EV}),
mu AS (SELECT event_type,
         floor((CAST(sum(CAST(floor(value * 1e6 + 5e-1) AS BIGINT))
                  AS DOUBLE) / count(*)) / 1e6 * 1e6 + 5e-1) / 1e6
           AS mu
       FROM ev GROUP BY 1),
g AS (SELECT e.event_type, CAST(e.ts AS DATE) AS day,
        list(CAST(e.value AS DOUBLE) - m.mu - 5e-1
             ORDER BY e.ts, e.event_id) AS xs
      FROM ev e JOIN mu m USING (event_type)
      GROUP BY 1, 2),
f AS (SELECT event_type, day, len(xs) AS n_events,
        list_reduce(
          list_prepend(
            struct_pack(mx := 0e0, alarms := 0, cs := 0e0, x := 0e0),
            list_transform(xs, v -> struct_pack(
              mx := 0e0, alarms := 0, cs := 0e0, x := v))),
          (acc, e) -> struct_pack(
            mx := greatest(acc.mx, greatest(0e0, acc.cs + e.x)),
            alarms := acc.alarms + CASE
              WHEN greatest(0e0, acc.cs + e.x) > 5e0 THEN 1 ELSE 0 END,
            cs := greatest(0e0, acc.cs + e.x),
            x := e.x)
        ) AS st
      FROM g)
SELECT event_type, day, CAST(n_events AS BIGINT) AS n_events,
  CAST(st.alarms AS BIGINT) AS n_alarms,
  floor(st.mx * 1e6 + 5e-1) / 1e6 AS max_s
FROM f
""",
    description="one-sided CUSUM change-point monitor per (event "
    "type, day): s_t = max(0, s_t-1 + (x_t - mu - k)) with slack "
    "k=1/2 and alarm threshold h=5, mean mu quantized onto the 1e-6 "
    "grid so both engines subtract the identical constant — the "
    "drift ALARM tier completing EWMA (q151) / Holt (q163) / MAD "
    "(q162). The day-bounded recurrence runs inside an array_sort + "
    "F.aggregate fold (daily reset keeps series executor-sized at "
    "any corpus scale); the oracle replays the SAME sequential fold "
    "with list_reduce over the identically-ordered day list (r12: "
    "the former recursive-CTE replay re-joined the full event frame "
    "once per recursion depth — O(depth x n), a ~44 GB DuckDB spill "
    "at the synthesized sf1 — while the fold is one linear pass; op "
    "order is unchanged, so values still match bit-for-bit). The "
    "fold's struct fields are ordered (mx, alarms, cs, x) and every "
    "field recomputes from the OLD acc.cs explicitly — DuckDB 1.0's "
    "list_reduce rebinds acc.<field> to already-computed output "
    "fields in declaration order, and this ordering is correct "
    "under both that behavior and proper closure scoping. "
    "max/+/- on identical doubles are IEEE-exact, so the alarm "
    "counts and peak statistic match bit-for-bit",
)
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    mu = ev.groupBy("event_type").agg(
        (
            F.floor(
                (
                    F.sum(
                        F.floor(
                            F.col("value") * F.lit(1e6) + F.lit(0.5)
                        ).cast("long")
                    ).cast("double")
                    / F.count("*")
                )
                / F.lit(1e6)
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mu")
    )
    ser = (
        ev.join(F.broadcast(mu), "event_type")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("s"),
            F.max("mu").alias("mu"),
        )
    )
    zero = F.lit(0.0)
    init = F.struct(
        zero.alias("cs"), F.lit(0).cast("long").alias("alarms"),
        zero.alias("mx"),
    )

    def step(acc, x):
        cs = F.greatest(
            zero, acc["cs"] + (x["value"] - F.col("mu") - F.lit(0.5))
        )
        return F.struct(
            cs.alias("cs"),
            (
                acc["alarms"]
                + F.when(cs > F.lit(5.0), 1).otherwise(0)
            ).alias("alarms"),
            F.greatest(acc["mx"], cs).alias("mx"),
        )

    acc = F.aggregate("s", init, step)
    r6 = lambda col: F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return ser.select(
        "event_type",
        "day",
        F.size("s").cast("long").alias("n_events"),
        acc["alarms"].cast("long").alias("n_alarms"),
        r6(acc["mx"]).alias("max_s"),
    )


@q(
    "q168_weighted_sample_wor",
    oracle="""
WITH h AS (
  SELECT o_orderkey, o_totalprice,
    ('0x' || substr(md5('wor-' || CAST(o_orderkey AS VARCHAR)), 1, 15))
      ::BIGINT AS hv
  FROM orders WHERE o_totalprice > 0e0),
k AS (
  SELECT o_orderkey, o_totalprice,
    CAST(floor((ln((CAST(hv AS DOUBLE) + 1e0) / 1152921504606846976e0)
      / o_totalprice) * 1e8) AS BIGINT) AS key8
  FROM h),
r AS (
  SELECT o_orderkey, o_totalprice, key8,
    row_number() OVER (ORDER BY key8 DESC, o_orderkey) AS sel_rank
  FROM k)
SELECT CAST(sel_rank AS BIGINT) AS sel_rank, o_orderkey,
  round(o_totalprice, 2) AS weight
FROM r WHERE sel_rank <= 50
""",
    description="fixed-size weighted sampling WITHOUT replacement "
    "(Efraimidis-Spirakis A-Res): per item an md5-derived uniform "
    "u in (0,1], exponential key ln(u)/w, top-50 by key — the "
    "importance sampler that complements q114's Poisson PPS (which "
    "cannot pin the sample size). Keys quantize onto the 1e-8 "
    "integer grid with an id tie-break so both engines replay the "
    "identical selection (ln is the one non-exact op; the floor "
    "device absorbs it). One scan + one top-k — TakeOrdered, no "
    "full sort at scale",
)
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0.0)
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wor-"), F.col("o_orderkey").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    u = (hv.cast("double") + F.lit(1.0)) / F.lit(1152921504606846976e0)
    key8 = F.floor((F.log(u) / F.col("o_totalprice")) * F.lit(1e8)).cast(
        "long"
    )
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-
    # partition partial top-50, driver merge of 50-row heads — never
    # a global sort or single-partition window over the full table);
    # the rank window then runs over 50 rows only
    top = (
        od.select("o_orderkey", "o_totalprice", key8.alias("key8"))
        .orderBy(F.col("key8").desc(), F.col("o_orderkey"))
        .limit(50)
    )
    w = Window.orderBy(F.col("key8").desc(), F.col("o_orderkey"))
    return top.withColumn("sel_rank", F.row_number().over(w)).select(
        F.col("sel_rank").cast("long").alias("sel_rank"),
        "o_orderkey",
        F.round("o_totalprice", 2).alias("weight"),
    )


@q(
    "q169_markov_transitions",
    oracle=f"""
WITH ev AS ({_EV}),
l AS (SELECT user_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS prev_type
      FROM ev),
t AS (SELECT prev_type, event_type AS next_type,
        CAST(count(*) AS BIGINT) AS n
      FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_n
        FROM t GROUP BY 1)
SELECT t.prev_type, t.next_type, t.n,
  floor((CAST(t.n AS DOUBLE) / tot.row_n) * 1e6 + 5e-1) / 1e6 AS p
FROM t JOIN tot ON tot.prev_type = t.prev_type
""",
    description="first-order Markov transition matrix over each "
    "user's event sequence (behavioral sequence model: which action "
    "follows which): one lag window per user series, integer "
    "transition counts, row-normalized probabilities. One user-keyed "
    "exchange carries the window; the matrix is event-type-squared "
    "sized regardless of corpus scale",
)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    t = (
        l.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = t.groupBy("prev_type").agg(F.sum("n").alias("row_n"))
    return t.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (
            F.floor(
                (F.col("n").cast("double") / F.col("row_n")) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("p"),
    )


@q(
    "q170_prefix_filter_join",
    oracle=r"""
WITH words AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
               FROM documents),
sh AS (SELECT DISTINCT doc_id AS doc,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       FROM (SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 2)) AS i
             FROM words WHERE len(w) >= 3)),
sz AS (SELECT doc, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
dfc AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
        FROM sh GROUP BY 1),
rk AS (SELECT sh.doc, sh.shingle,
         row_number() OVER (PARTITION BY sh.doc
           ORDER BY dfc.df, sh.shingle) AS rnk
       FROM sh JOIN dfc USING (shingle)),
pfx AS (SELECT rk.doc, rk.shingle
        FROM rk JOIN sz USING (doc)
        WHERE rk.rnk <= sz.n - ((7 * sz.n + 9) // 10) + 1),
cand AS (SELECT DISTINCT a.doc AS da, b.doc AS db
         FROM pfx a JOIN pfx b
           ON a.shingle = b.shingle AND a.doc < b.doc),
inter AS (SELECT c.da, c.db, CAST(count(*) AS BIGINT) AS ni
          FROM cand c
          JOIN sh wa ON wa.doc = c.da
          JOIN sh wb ON wb.doc = c.db AND wb.shingle = wa.shingle
          GROUP BY 1, 2)
SELECT i.da AS doc_a, i.db AS doc_b, i.ni AS n_inter,
  sa.n AS n_a, sb.n AS n_b,
  floor((CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni)) * 1e6 + 5e-1)
    / 1e6 AS jaccard
FROM inter i JOIN sz sa ON sa.doc = i.da
JOIN sz sb ON sb.doc = i.db
WHERE 10 * i.ni >= 7 * (sa.n + sb.n - i.ni)
""",
    description="exact set-similarity join via PREFIX FILTERING "
    "(PPJoin family, Xiao et al. WWW'08) at Jaccard >= 0.7 over the "
    "shared word-trigram shingle universe (dedup._shingle_expr / the "
    "q22 oracle CTE) — the sort-by-rarity alternative to MinHash/LSH "
    "banding with NO false negatives: shingles order by ascending "
    "document frequency, each doc indexes only its first "
    "n - ceil(0.7n) + 1 rarest shingles, and any qualifying pair "
    "must share a prefix shingle (pigeonhole). Threshold arithmetic "
    "stays in pure integers (ceil(7n/10) = (7n+9) div 10; the gate "
    "as 10*inter >= 7*union) so both engines agree exactly; the one "
    "double (the reported jaccard) goes through the tie-safe "
    "floor(x*1e6+0.5) device. Scale shape: prefix shingles are "
    "globally RARE by construction, so the candidate equi-join "
    "fan-out stays bounded where a naive inverted-index join "
    "explodes on boilerplate; verification (array_intersect on the "
    "two shingle sets) touches candidate pairs only",
)
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.prefix_filter_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text"
    )


@q(
    "q171_stratified_wor",
    oracle="""
WITH h AS (
  SELECT source, doc_id, n_chars,
    ('0x' || substr(md5('swor-' || CAST(doc_id AS VARCHAR)), 1, 15))
      ::BIGINT AS hv
  FROM documents WHERE n_chars > 0),
k AS (
  SELECT source, doc_id, n_chars,
    CAST(floor((ln((CAST(hv AS DOUBLE) + 1e0) / 1152921504606846976e0)
      / CAST(n_chars AS DOUBLE)) * 1e8) AS BIGINT) AS key8
  FROM h),
r AS (
  SELECT source, doc_id, n_chars, key8,
    row_number() OVER (PARTITION BY source
      ORDER BY key8 DESC, doc_id) AS sel_rank
  FROM k)
SELECT source, CAST(sel_rank AS BIGINT) AS sel_rank, doc_id,
  n_chars AS weight
FROM r WHERE sel_rank <= 10
""",
    description="per-stratum fixed-size weighted sampling without "
    "replacement: q168's Efraimidis-Spirakis keys (md5 uniforms, "
    "1e-8-grid quantized, id tie-break) ranked INSIDE each source "
    "partition — exactly 10 docs per source, length-weighted; the "
    "per-group companion of q168's global TakeOrdered (a source-"
    "partitioned rank window prunes to WindowGroupLimit, never a "
    "global sort). The balanced-per-stratum sampler a mixture "
    "pipeline uses when quotas are per-domain",
)
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("swor-"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    u = (hv.cast("double") + F.lit(1.0)) / F.lit(1152921504606846976e0)
    key8 = F.floor(
        (F.log(u) / F.col("n_chars").cast("double")) * F.lit(1e8)
    ).cast("long")
    w = Window.partitionBy("source").orderBy(
        F.col("key8").desc(), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", "n_chars", key8.alias("key8"))
        .withColumn("sel_rank", F.row_number().over(w))
        .filter(F.col("sel_rank") <= 10)
        .select(
            "source",
            F.col("sel_rank").cast("long").alias("sel_rank"),
            "doc_id",
            F.col("n_chars").alias("weight"),
        )
    )


@q(
    "q172_sorted_neighborhood",
    oracle=r"""
WITH d AS (SELECT doc_id, text,
    string_split_regex(trim(text), '\s+')[1] AS blk
  FROM documents WHERE trim(text) <> ''),
r AS (SELECT doc_id, text, blk,
    row_number() OVER (PARTITION BY blk ORDER BY text, doc_id) AS rnk
  FROM d),
cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(b.rnk - a.rnk AS BIGINT) AS gap
  FROM r a JOIN r b
    ON a.blk = b.blk AND b.rnk - a.rnk BETWEEN 1 AND 4),
words AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM documents),
sh AS (SELECT DISTINCT doc_id AS doc,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       FROM (SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 2)) AS i
             FROM words WHERE len(w) >= 3)),
sz AS (SELECT doc, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
inter AS (SELECT c.doc_a, c.doc_b, c.gap, CAST(count(*) AS BIGINT) AS ni
          FROM cand c
          JOIN sh wa ON wa.doc = c.doc_a
          JOIN sh wb ON wb.doc = c.doc_b AND wb.shingle = wa.shingle
          GROUP BY 1, 2, 3)
SELECT i.doc_a, i.doc_b, i.gap, i.ni AS n_inter,
  sa.n AS n_a, sb.n AS n_b,
  floor((CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni)) * 1e6 + 5e-1)
    / 1e6 AS jaccard
FROM inter i JOIN sz sa ON sa.doc = i.doc_a
JOIN sz sb ON sb.doc = i.doc_b
WHERE 10 * i.ni >= 7 * (sa.n + sb.n - i.ni)
""",
    description="blocked SORTED-NEIGHBORHOOD near-dup detection "
    "(Hernandez-Stolfo merge/purge): records sort lexicographically "
    "inside first-word blocks and only pairs within a rank window of "
    "4 become candidates, then verify by trigram-shingle Jaccard >= "
    "0.7 (the q170/q22 universe, same integer gate + floor-rounded "
    "jaccard). The third candidate-generation strategy next to LSH "
    "banding (probabilistic, q23) and prefix filtering (exact, "
    "q170): SNM is the cheap linear pass — one partitioned sort, "
    "zero token joins — that trades recall for never touching more "
    "than window x corpus pairs. Blocking keeps the rank window "
    "per-partition (no global row_number; production SNM is always "
    "blocked), and verification joins shingle sets on candidate "
    "pairs only",
)
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    ranked = docs.select(
        "doc_id",
        "text",
        F.split(F.trim(F.col("text")), r"\s+").getItem(0).alias("blk"),
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("blk").orderBy("text", "doc_id")
        ),
    )
    a = ranked.select(
        "blk",
        F.col("doc_id").alias("doc_a"),
        F.col("rnk").alias("rnk_a"),
        F.explode(
            F.array(*[F.lit(i) for i in range(1, 5)])
        ).alias("off"),
    ).withColumn("rnk_b", F.col("rnk_a") + F.col("off"))
    b = ranked.select(
        "blk",
        F.col("doc_id").alias("doc_b"),
        F.col("rnk").alias("rnk_b"),
    )
    cand = a.join(b, ["blk", "rnk_b"]).select(
        "doc_a", "doc_b", F.col("off").cast("long").alias("gap")
    )
    sh = dd.shingle_table(docs, "doc_id", "text")
    docsets = sh.groupBy("doc").agg(
        F.array_sort(F.collect_list("shingle")).alias("shset")
    )
    sa = docsets.select(
        F.col("doc").alias("doc_a"),
        F.col("shset").alias("_sa"),
        F.size("shset").cast("long").alias("n_a"),
    )
    sb = docsets.select(
        F.col("doc").alias("doc_b"),
        F.col("shset").alias("_sb"),
        F.size("shset").cast("long").alias("n_b"),
    )
    ni = F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast(
        "long"
    )
    un = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", ni)
        .filter(F.lit(10) * F.col("n_inter") >= F.lit(7) * un)
        .select(
            "doc_a",
            "doc_b",
            "gap",
            "n_inter",
            "n_a",
            "n_b",
            (
                F.floor(
                    (F.col("n_inter").cast("double") / un) * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("jaccard"),
        )
    )


@q(
    "q173_fuzzy_name_match",
    oracle="""
WITH names AS (SELECT p_name, CAST(count(*) AS BIGINT) AS cnt
               FROM part GROUP BY 1),
b AS (SELECT p_name, cnt, string_split(p_name, ' ')[-1] AS blk
      FROM names)
SELECT a.p_name AS name_a, c.p_name AS name_b,
  CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS dist,
  a.cnt AS n_a, c.cnt AS n_b
FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
WHERE levenshtein(a.p_name, c.p_name) <= 4
""",
    description="fuzzy string matching by edit distance with "
    "last-word blocking: the DISTINCT part-name vocabulary (the "
    "linkage universe — vocabulary-sized, never row-sized) "
    "self-joins inside last-word blocks and keeps pairs with "
    "Levenshtein distance <= 4, carrying each name's row count. "
    "Levenshtein is a pure-integer dynamic program both engines "
    "implement identically (F.levenshtein <-> DuckDB levenshtein), "
    "so no rounding device is needed anywhere. Scale shape: the "
    "quadratic lives inside vocabulary blocks, not the data — "
    "production record linkage always blocks first; the data-sized "
    "work is one name-frequency aggregation",
)
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        T(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn(
            "blk", F.element_at(F.split(F.col("p_name"), " "), -1)
        )
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("cnt").alias("n_a"),
        "blk",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("cnt").alias("n_b"),
        "blk",
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist",
            F.levenshtein(F.col("name_a"), F.col("name_b")).cast("long"),
        )
        .filter(F.col("dist") <= 4)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )


def _gini_audit_sql(table: str, key: str) -> str:
    """One audited key column: exact integer Gini numerator/denominator
    over the frequency table (rank-weighted sum), divided once in
    DOUBLE and floor-rounded — identical arithmetic to the engine."""
    return f"""
SELECT '{table}.{key}' AS key_col,
  CAST(count(*) AS BIGINT) AS n_keys,
  CAST(sum(f) AS BIGINT) AS total,
  CAST(max(f) AS BIGINT) AS max_f,
  floor(CAST(max(f) AS DOUBLE) / CAST(sum(f) AS DOUBLE) * 1e6 + 5e-1)
    / 1e6 AS top1_share,
  floor((CAST(2 * sum(i * f) - (count(*) + 1) * sum(f) AS DOUBLE)
         / CAST(count(*) * sum(f) AS DOUBLE)) * 1e6 + 5e-1)
    / 1e6 AS gini
FROM (SELECT f, row_number() OVER (ORDER BY f, k) AS i
      FROM (SELECT {key} AS k, CAST(count(*) AS BIGINT) AS f
            FROM {table} GROUP BY 1))"""


@q(
    "q174_key_skew_audit",
    oracle=_gini_audit_sql("lineitem", "l_suppkey")
    + "\nUNION ALL"
    + _gini_audit_sql("events", "user_id"),
    description="join/shuffle KEY-SKEW audit: per key column, the "
    "frequency table's Gini coefficient (rank-weighted exact-integer "
    "form G = (2*sum(i*f_i) - (n+1)*sum(f)) / (n*sum(f)), "
    "frequencies ranked ascending with the key as tie-break), the "
    "hottest key's share, and cardinality — the diagnostic a "
    "100 TB pipeline runs BEFORE a join to decide salting/AQE skew "
    "handling. All sums are exact integers (sum(i*f) fits int64 "
    "through sf0.1 x1000; the 100 TB path widens to DECIMAL) so the "
    "single double division agrees across engines. r8 rewrite: the "
    "engine no longer ranks every key — for the m_f keys sharing "
    "frequency f the ranks are the consecutive block a_f+1..a_f+m_f "
    "regardless of key order, so sum(i*f) = sum_f f*(m_f*a_f + "
    "m_f(m_f+1)/2) computes on the FREQUENCY-OF-FREQUENCIES "
    "histogram (a_f = keys with smaller f). The only windows run "
    "over that fof frame (heavy-tail-bounded: hundreds of distinct "
    "frequencies even at 100 TB), never the key table — the r7 "
    "SinglePartition rank over the orderkey-cardinality frame is "
    "gone; the oracle keeps the literal rank form",
)
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(df: DataFrame, table: str, key: str) -> DataFrame:
        freq = df.groupBy(F.col(key).alias("k")).agg(
            F.count("*").cast("long").alias("f")
        )
        fof = freq.groupBy("f").agg(
            F.count("*").cast("long").alias("m")
        )
        below = Window.orderBy("f").rowsBetween(
            Window.unboundedPreceding, -1
        )
        ranked = fof.withColumn(
            "a", F.coalesce(F.sum("m").over(below), F.lit(0)).cast("long")
        )
        n = F.sum("m").cast("long")
        s0 = F.sum(F.col("f") * F.col("m")).cast("long")
        # sum of global ranks inside one f-block = m*a + m(m+1)/2
        # (consecutive integers a+1..a+m); m*(m+1) is even so DIV 2
        # stays exact int64
        s1 = F.sum(
            F.expr("f * (m * a + m * (m + 1) DIV 2)")
        ).cast("long")
        mx = F.max("f").cast("long")
        return ranked.agg(
            F.lit(f"{table}.{key}").alias("key_col"),
            n.alias("n_keys"),
            s0.alias("total"),
            mx.alias("max_f"),
            (
                F.floor(
                    mx.cast("double") / s0.cast("double") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("top1_share"),
            (
                F.floor(
                    (
                        (
                            F.lit(2) * s1 - (n + F.lit(1)) * s0
                        ).cast("double")
                        / (n * s0).cast("double")
                    )
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("gini"),
        )

    return audit(
        T(spark, sf_dir, "lineitem"), "lineitem", "l_suppkey"
    ).unionByName(audit(T(spark, sf_dir, "events"), "events", "user_id"))


# =====================================================================
# round-7 batch 5: link prediction, association rules, customer
# analytics, time-series diagnostics, layout/quality audits
# =====================================================================


def _link_prediction_oracle(k: int = 5, cap: int = 16) -> str:
    """q175 oracle: the q83 kNN-edge CTEs feeding the resource-
    allocation index (Zhou/Lu/Zhang 2009) — per-center contributions
    are exact integers floor(1e9/deg), so pair scores are order-free
    BIGINT sums in both engines."""
    base = _knn_graph_oracle(k)
    ctes = base[: base.rindex("SELECT src, nbr")]
    return (
        ctes
        + f""", g AS (SELECT src, nbr FROM ranked WHERE rnk <= {k}),
sym AS (SELECT DISTINCT a, b FROM (
  SELECT src AS a, nbr AS b FROM g
  UNION ALL SELECT nbr AS a, src AS b FROM g)),
deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
capped AS (SELECT a, b FROM (
  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) AS rn
  FROM sym) WHERE rn <= {cap}),
wed AS (SELECT x.a AS w, x.b AS u, y.b AS v
  FROM capped x JOIN capped y ON x.a = y.a AND x.b < y.b),
sc AS (SELECT wed.u, wed.v,
    CAST(count(*) AS BIGINT) AS common_neighbors,
    CAST(sum(CAST(floor(1000000000.0 / deg.d) AS BIGINT)) AS BIGINT)
      AS ra_score_e9
  FROM wed JOIN deg ON deg.v = wed.w GROUP BY 1, 2)
SELECT sc.u, sc.v, sc.common_neighbors, sc.ra_score_e9
FROM sc LEFT JOIN sym ON sym.a = sc.u AND sym.b = sc.v
WHERE sym.a IS NULL
ORDER BY sc.ra_score_e9 DESC, sc.u, sc.v
LIMIT 100
"""
    )


@q(
    "q175_link_prediction",
    oracle=_link_prediction_oracle(5, 16),
    description="resource-allocation link prediction over the kNN "
    "query graph (Zhou/Lu/Zhang 2009 — the RA index, Adamic-Adar's "
    "better-calibrated sibling): for every NON-adjacent pair sharing "
    "a neighbor, score = sum over common neighbors w of 1/deg(w), "
    "emitted as exact-integer floor(1e9/deg) contributions so the "
    "cross-row sum is an order-free BIGINT in both engines. Wedge "
    "enumeration runs over per-center neighbor lists capped at 16 by "
    "id (deterministic; deg(center) in the kNN graph is k + in-"
    "degree, and the cap bounds hub fan-out the way q136's wedge "
    "cap does), existing edges are removed with one anti-join, and "
    "the top-100 plans as TakeOrderedAndProject — partial per-"
    "partition top-k, no global sort",
)
def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    e = sim.knn_graph(emb, "vec_id", "embedding", k=5).select("src", "nbr")
    sym = e.unionByName(
        e.select(F.col("nbr").alias("src"), F.col("src").alias("nbr"))
    ).distinct()
    deg = sym.groupBy(F.col("src").alias("dv")).agg(
        F.count("*").cast("long").alias("d")
    )
    capped = (
        sym.withColumn(
            "rn", F.row_number().over(Window.partitionBy("src").orderBy("nbr"))
        )
        .filter(F.col("rn") <= 16)
        .select("src", "nbr")
    )
    wed = (
        capped.alias("x")
        .join(
            capped.alias("y"),
            (F.col("x.src") == F.col("y.src"))
            & (F.col("x.nbr") < F.col("y.nbr")),
        )
        .select(
            F.col("x.src").alias("w"),
            F.col("x.nbr").alias("u"),
            F.col("y.nbr").alias("v"),
        )
    )
    sc = (
        wed.join(deg, wed["w"] == deg["dv"])
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum(
                F.floor(F.lit(1000000000.0) / F.col("d")).cast("long")
            )
            .cast("long")
            .alias("ra_score_e9"),
        )
    )
    nonedge = sc.join(
        sym,
        (sc["u"] == sym["src"]) & (sc["v"] == sym["nbr"]),
        "left_anti",
    )
    return nonedge.orderBy(
        F.desc("ra_score_e9"), "u", "v"
    ).limit(100)


@q(
    "q176_basket_rules",
    oracle="""
WITH b AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM b),
bn AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_brand
       FROM b GROUP BY 1),
pr AS (SELECT x.p_brand AS brand_a, y.p_brand AS brand_b,
        CAST(count(*) AS BIGINT) AS n_ab
  FROM b x JOIN b y
    ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
  GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT pr.brand_a, pr.brand_b, pr.n_ab,
  floor(CAST(pr.n_ab AS DOUBLE) / CAST(a.n_brand AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS confidence,
  floor((CAST(pr.n_ab AS DOUBLE) * CAST(tot.n AS DOUBLE))
        / (CAST(a.n_brand AS DOUBLE) * CAST(bb.n_brand AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM pr
JOIN bn a ON a.p_brand = pr.brand_a
JOIN bn bb ON bb.p_brand = pr.brand_b
CROSS JOIN tot
ORDER BY lift DESC, brand_a, brand_b
LIMIT 50
""",
    description="market-basket association rules at brand granularity "
    "(Agrawal/Srikant support-confidence-lift): baskets are orders, "
    "items the distinct brands inside each (basket width is bounded "
    "by order size, so the within-order pair self-join is corpus-"
    "linear, never brand-quadratic across orders); supports are exact "
    "integer counts, confidence/lift single IEEE divisions of exact "
    "int-to-double casts quantized to the 1e-6 grid. The brand-count "
    "side is a 25-row broadcast, the basket total a 1-row broadcast, "
    "and the top-50 plans as TakeOrderedAndProject",
)
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    tot = b.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    bn = b.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_brand")
    )
    pr = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.p_brand") < F.col("y.p_brand")),
        )
        .groupBy(
            F.col("x.p_brand").alias("brand_a"),
            F.col("y.p_brand").alias("brand_b"),
        )
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    na = bn.select(
        F.col("p_brand").alias("ba"), F.col("n_brand").alias("n_a")
    )
    nb = bn.select(
        F.col("p_brand").alias("bb"), F.col("n_brand").alias("n_b")
    )
    out = (
        pr.join(F.broadcast(na), pr["brand_a"] == na["ba"])
        .join(F.broadcast(nb), pr["brand_b"] == nb["bb"])
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            r6(
                F.col("n_ab").cast("double") / F.col("n_a").cast("double")
            ).alias("confidence"),
            r6(
                (
                    F.col("n_ab").cast("double")
                    * F.col("n_orders").cast("double")
                )
                / (
                    F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                )
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("lift"), "brand_a", "brand_b").limit(50)


@q(
    "q177_rfm_segments",
    oracle="""
WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders),
mx AS (SELECT max(d) AS mxd FROM o),
c AS (SELECT o_custkey,
    CAST(date_diff('day', max(d), (SELECT mxd FROM mx)) AS BIGINT)
      AS recency,
    CAST(count(*) AS BIGINT) AS frequency,
    CAST(sum(cents) AS BIGINT) AS monetary
  FROM o GROUP BY 1),
s AS (SELECT o_custkey, monetary,
    ntile(5) OVER (ORDER BY recency DESC, o_custkey) AS r_score,
    ntile(5) OVER (ORDER BY frequency ASC, o_custkey) AS f_score,
    ntile(5) OVER (ORDER BY monetary ASC, o_custkey) AS m_score
  FROM c)
SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
    || CAST(m_score AS VARCHAR) AS segment,
  CAST(count(*) AS BIGINT) AS n_customers,
  floor(CAST(sum(monetary) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5)
    / 100.0 AS avg_monetary
FROM s GROUP BY 1 ORDER BY 1
""",
    description="RFM customer segmentation (Hughes' recency/"
    "frequency/monetary quintiles, the classic CRM operator): one "
    "fact-side aggregation to customer grain (recency in whole days "
    "against the corpus max date, frequency an exact count, monetary "
    "an exact integer-cents sum), then three exact ntile(5) scores "
    "with custkey tie-breaks. r8 rewrite: the scores come from "
    "ranking.global_ntile — the two-phase TeraSort rank (breakpoint "
    "buckets, bucket-local row_number behind a hashpartitioning "
    "exchange, broadcast offsets, closed-form SQL-standard tile from "
    "rank and n) — bit-identical to the oracle's literal ntile "
    "windows but with NO SinglePartition exchange over the customer "
    "frame, which scales linearly with the corpus. Output is the "
    "125-cell segment histogram with cent-rounded average spend",
)
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    mx = o.agg(F.max("d").alias("mxd"))
    c = (
        o.groupBy("o_custkey")
        .agg(
            F.max("d").alias("last_d"),
            F.count("*").cast("long").alias("frequency"),
            F.sum("cents").cast("long").alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.datediff("mxd", "last_d").cast("long").alias("recency"),
            "frequency",
            "monetary",
        )
    )
    # r10: the three quintile scores come from ONE multi-spec device
    # call — one persist of the customer frame, one combined
    # breakpoint aggregation, one combined bucket histogram, then all
    # three bucket windows pipeline in the final job (the r9 chained
    # form persisted every intermediate and ran six scalar jobs)
    # n_buckets sizes the bucket-window parallelism — it should track
    # the cluster's core count (32 here = local[32]); bucket count
    # never affects correctness, only balance
    s = rnk.global_ntile_multi(
        c,
        [
            dict(value_col="recency", k=5, ascending=False,
                 tie_cols=["o_custkey"], out_col="r_score"),
            dict(value_col="frequency", k=5,
                 tie_cols=["o_custkey"], out_col="f_score"),
            dict(value_col="monetary", k=5,
                 tie_cols=["o_custkey"], out_col="m_score"),
        ],
        n_buckets=32,
        persist_input=True,
    )
    return (
        s.groupBy(
            F.concat(
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ).alias("segment")
        )
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            (
                F.floor(
                    F.sum("monetary").cast("double")
                    / F.count("*").cast("double")
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


@q(
    "q178_acf",
    oracle=f"""
WITH ev AS ({_EV}),
d AS (SELECT CAST(ts AS DATE) AS day,
    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
      AS y2
  FROM ev GROUP BY 1),
st AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(y2) AS BIGINT) AS s FROM d),
m AS (SELECT CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
        AS BIGINT) AS m2, n FROM st),
dv AS (SELECT day, y2 - (SELECT m2 FROM m) AS dev FROM d),
den AS (SELECT CAST(sum(dev * dev) AS BIGINT) AS den FROM dv),
num AS (SELECT CAST(date_diff('day', b.day, a.day) AS BIGINT)
          AS lag_days,
        CAST(sum(a.dev * b.dev) AS BIGINT) AS num,
        CAST(count(*) AS BIGINT) AS n_pairs
  FROM dv a JOIN dv b
    ON date_diff('day', b.day, a.day) BETWEEN 1 AND 7
  GROUP BY 1)
SELECT num.lag_days, m.n AS n_days, num.n_pairs,
  floor(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS acf
FROM num CROSS JOIN den CROSS JOIN m
ORDER BY lag_days
""",
    description="autocorrelation function of the corpus-wide daily "
    "event-value series at lags 1-7 (the seasonality diagnostic "
    "that decides windowing for every downstream forecast): daily "
    "totals quantize to integer cents (order-free exact sums, the "
    "ONLY data-sized pass — one map-side-partial aggregation over "
    "ONE events scan: the calendar-bounded day frame is collected "
    "once so its four consumers read a local relation instead of "
    "re-deriving it, r8), the mean is rounded to the cent so "
    "deviations stay exact BIGINTs — NOTE this cent-rounded mean "
    "biases the ACF slightly vs the textbook estimator (sum(dev) "
    "can be up to n/2 cents off zero); it is deterministic and "
    "engine/oracle-identical, and the unbiased n*y-s scaling would "
    "push dev^2 past int64 at large day counts "
    "(sums fit int64 through sf0.1 x100; the 100 TB path widens to "
    "DECIMAL like q174), and each lag's numerator is an exact "
    "integer cross-product sum over the day-cardinality frame — the "
    "final ratio is one IEEE division of two exact int64-to-double "
    "casts, quantized to 1e-6",
)
def q178(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("y2")
    )
    # the day frame is calendar-bounded (a few thousand rows however
    # large the corpus), and it is referenced by four consumers below
    # (mean, deviations, denominator, the a×b lag self-join) — left
    # lazy, each consumer re-derives it and the events scan runs 7×
    # (one full 100 TB pass each). Collect it once (model-sized, the
    # repo's k-means-codebook convention) and every consumer reads a
    # local relation: exactly ONE fact scan, pinned in test_plans.py.
    # JVM LocalRelation via a VALUES literal, NOT createDataFrame: a
    # parallelize-backed frame pays a python-worker round trip PER
    # EVALUATION, and the lag self-join references it twice per pass
    # (the q199/q200 lesson: 8.9s vs 0.9s for the same pair count)
    vals = ", ".join(
        f"(DATE '{r['day'].isoformat()}', {r['y2']})" for r in d.collect()
    )
    d = spark.sql(f"SELECT * FROM VALUES {vals} AS t(day, y2)")
    st = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y2").cast("long").alias("s"),
    )
    m = st.select(
        F.floor(
            F.col("s").cast("double") / F.col("n").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("m2"),
        "n",
    )
    dv = d.crossJoin(F.broadcast(m)).select(
        "day", (F.col("y2") - F.col("m2")).alias("dev"), "n"
    )
    den = dv.agg(
        F.sum(F.col("dev") * F.col("dev")).cast("long").alias("den")
    )
    a, b = dv.alias("a"), dv.alias("b")
    num = (
        a.join(
            # day-grain × day-grain range join: broadcast one side so
            # the local relation plans BNLJ, never CartesianProduct
            F.broadcast(b),
            F.datediff(F.col("a.day"), F.col("b.day")).between(1, 7),
        )
        .groupBy(
            F.datediff(F.col("a.day"), F.col("b.day"))
            .cast("long")
            .alias("lag_days")
        )
        .agg(
            F.sum(F.col("a.dev") * F.col("b.dev"))
            .cast("long")
            .alias("num"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(m.select(F.col("n").alias("n_days"))))
        .select(
            "lag_days",
            "n_days",
            "n_pairs",
            (
                F.floor(
                    F.col("num").cast("double")
                    / F.col("den").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("acf"),
        )
        .orderBy("lag_days")
    )


@q(
    "q179_pareto_abc",
    oracle="""
WITH pr AS (SELECT l_partkey,
    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0
      + 0.5) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(sum(rev) AS BIGINT) AS t FROM pr),
rk AS (SELECT l_partkey, rev,
    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum
  FROM pr),
cl AS (SELECT CASE
      WHEN cum * 100 <= (SELECT t FROM tot) * 80 THEN 'A'
      WHEN cum * 100 <= (SELECT t FROM tot) * 95 THEN 'B'
      ELSE 'C' END AS abc_class, rev FROM rk)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
  CAST(sum(rev) AS BIGINT) AS class_rev_cents,
  floor(CAST(sum(rev) AS DOUBLE)
        / CAST((SELECT t FROM tot) AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS rev_share
FROM cl GROUP BY 1 ORDER BY 1
""",
    description="Pareto/ABC inventory classification (the 80/95 "
    "cumulative-revenue-share cut every warehouse runs to pick "
    "cycle-count tiers): per-part revenue lands on the exact integer-"
    "cent grid (per-row IEEE product then floor, q01's device) in "
    "one fact-side aggregation; the threshold tests are pure integer "
    "cross-multiplications (cum*100 <= total*80 — no division, no "
    "float, exact through sf0.1 x1000; the 100 TB path widens to "
    "DECIMAL). r8 rewrite: the cumulative revenue comes from "
    "ranking.global_running_sum — bucket-local running sums behind a "
    "hashpartitioning exchange plus broadcast per-bucket offsets "
    "(exact integer re-association) — bit-identical to the oracle's "
    "literal running-total window but with NO SinglePartition "
    "exchange over the part frame, which scales linearly",
)
def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1) - F.col("l_discount"))
                * F.lit(100.0)
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("rev")
    )
    tot = pr.agg(F.sum("rev").cast("long").alias("t"))
    rk = rnk.global_running_sum(
        pr, "rev", "rev",
        ascending=False, tie_cols=["l_partkey"], out_col="cum",
    )
    cl = rk.crossJoin(F.broadcast(tot)).select(
        F.when(
            F.col("cum") * F.lit(100) <= F.col("t") * F.lit(80), "A"
        )
        .when(F.col("cum") * F.lit(100) <= F.col("t") * F.lit(95), "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev",
        "t",
    )
    return (
        cl.groupBy("abc_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev").cast("long").alias("class_rev_cents"),
            (
                F.floor(
                    F.sum("rev").cast("double")
                    / F.first("t").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("rev_share"),
        )
        .orderBy("abc_class")
    )


#: Benford expected first-digit shares, round(log10(1+1/d)*1e9) —
#: embedded as identical integer literals in engine and oracle so no
#: runtime log() can diverge between engines
_BENFORD_E9 = {
    1: 301029996,
    2: 176091259,
    3: 124938737,
    4: 96910013,
    5: 79181246,
    6: 66946790,
    7: 57991947,
    8: 51152522,
    9: 45757491,
}


@q(
    "q180_benford_audit",
    oracle=f"""
WITH o AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
      AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM orders),
c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
      FROM o GROUP BY 1),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS t FROM c),
e AS (SELECT * FROM (VALUES
  {", ".join(f"({d}, {v})" for d, v in _BENFORD_E9.items())})
  t(digit, exp_e9)),
sh AS (SELECT e.digit, coalesce(c.n_obs, 0) AS n_obs,
    floor(CAST(coalesce(c.n_obs, 0) AS DOUBLE)
          / CAST(tot.t AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
      AS obs_share,
    CAST(e.exp_e9 AS DOUBLE) / 1000000000.0 AS exp_share
  FROM e LEFT JOIN c ON c.digit = e.digit CROSS JOIN tot)
SELECT digit, n_obs, obs_share, exp_share,
  floor(abs(obs_share - exp_share) * 1000000.0 + 0.5) / 1000000.0
    AS abs_dev
FROM sh ORDER BY digit
""",
    description="Benford first-significant-digit audit of order "
    "totals (Nigrini's fraud/data-quality screen): leading digit via "
    "integer-string extraction (no log in the hot path), observed "
    "shares quantized to 1e-6, expected shares log10(1+1/d) baked in "
    "as identical 1e-9-grid integer literals on BOTH sides so no "
    "runtime transcendental can diverge between engines; one zero-"
    "shuffle-beyond-9-rows aggregation over the fact side, the "
    "digit dimension a 9-row broadcast",
)
def q180(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = o.groupBy("digit").agg(F.count("*").cast("long").alias("n_obs"))
    tot = c.agg(F.sum("n_obs").cast("long").alias("t"))
    e = spark.createDataFrame(
        sorted(_BENFORD_E9.items()), "digit int, exp_e9 long"
    )
    sh = (
        F.broadcast(e)
        .join(c, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            (
                F.floor(
                    F.coalesce("n_obs", F.lit(0)).cast("double")
                    / F.col("t").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("obs_share"),
            (F.col("exp_e9").cast("double") / F.lit(1e9)).alias(
                "exp_share"
            ),
        )
    )
    return sh.select(
        "digit",
        "n_obs",
        "obs_share",
        "exp_share",
        (
            F.floor(
                F.abs(F.col("obs_share") - F.col("exp_share"))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("abs_dev"),
    ).orderBy("digit")


def _decile_gains_oracle() -> str:
    """q181 oracle: the q84 score CTEs + the q119 length label feeding
    a cumulative gains/lift table over score deciles."""
    base = _classifier_oracle()
    ctes = base[: base.rindex("SELECT doc_id")]
    return (
        ctes
        + """, sc AS (
  SELECT z.doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS s,
    CASE WHEN doc.n_chars >= 280 THEN 1 ELSE 0 END AS y
  FROM z JOIN documents doc USING (doc_id)),
dd AS (SELECT ntile(10) OVER (ORDER BY s DESC, doc_id) AS decile, y
  FROM sc),
per AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(y) AS BIGINT) AS n_pos FROM dd GROUP BY 1),
cum AS (SELECT decile, n_docs, n_pos,
    CAST(sum(n_docs) OVER (ORDER BY decile
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_n,
    CAST(sum(n_pos) OVER (ORDER BY decile
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_pos
  FROM per),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tn,
    CAST(sum(n_pos) AS BIGINT) AS tp FROM per)
SELECT CAST(cum.decile AS BIGINT) AS decile, cum.n_docs, cum.n_pos,
  cum.cum_pos,
  floor(CAST(cum.cum_pos AS DOUBLE) / CAST(tot.tp AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS gain,
  floor((CAST(cum.cum_pos AS DOUBLE) * CAST(tot.tn AS DOUBLE))
        / (CAST(cum.cum_n AS DOUBLE) * CAST(tot.tp AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM cum CROSS JOIN tot ORDER BY decile
"""
    )


@q(
    "q181_decile_gains",
    oracle=_decile_gains_oracle(),
    description="cumulative gains / lift chart for the q84 quality "
    "classifier against the q119 length label (the model-eval table "
    "that decides how much corpus a classifier-gated curation pass "
    "keeps): docs rank into score deciles with doc_id tie-breaks — "
    "r8 rewrite: the decile comes from ranking.global_ntile (two-"
    "phase breakpoint rank, closed-form tile), bit-identical to the "
    "oracle's literal ntile(10) window but with NO SinglePartition "
    "exchange over the scored corpus, which is fact-sized; then "
    "per-decile exact counts cumulate over the 10-row frame; gain "
    "and lift are single IEEE divisions of exact int casts on the "
    "1e-6 grid, identical trees in both engines",
)
def q181(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    scored = ql.classifier_scores(docs, "doc_id", "text").select(
        "doc_id", "quality_prob"
    )
    labeled = docs.select(
        "doc_id",
        F.when(F.col("n_chars") >= 280, F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    dd = rnk.global_ntile(
        scored.join(labeled, "doc_id"),
        "quality_prob",
        10,
        ascending=False,
        tie_cols=["doc_id"],
        out_col="decile",
        # the device input embeds the classifier scoring pass —
        # unpersisted, the two scalar collects re-ran it 3x (SCALE.md
        # 10x row 2.18); cached, scoring runs once
        persist_input=True,
    ).select("decile", "y")
    per = dd.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    # the decile frame is ≤10 rows by construction and feeds two
    # consumers (cumulation, totals) — left lazy, the fact-sized
    # bucket window re-ran once per consumer. Collect it to a VALUES
    # literal (the q199/q200 local-relation device): the device
    # window evaluates exactly once, downstream is driver-local
    vals = ", ".join(
        f"({r['decile']}, {r['n_docs']}, {r['n_pos']})"
        for r in per.collect()
    )
    per = spark.sql(
        f"SELECT * FROM VALUES {vals} AS t(decile, n_docs, n_pos)"
    ).select(
        "decile",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_pos").cast("long").alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.withColumn(
        "cum_n", F.sum("n_docs").over(w).cast("long")
    ).withColumn("cum_pos", F.sum("n_pos").over(w).cast("long"))
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("tn"),
        F.sum("n_pos").cast("long").alias("tp"),
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_docs",
            "n_pos",
            "cum_pos",
            r6(
                F.col("cum_pos").cast("double") / F.col("tp").cast("double")
            ).alias("gain"),
            r6(
                (
                    F.col("cum_pos").cast("double")
                    * F.col("tn").cast("double")
                )
                / (
                    F.col("cum_n").cast("double")
                    * F.col("tp").cast("double")
                )
            ).alias("lift"),
        )
        .orderBy("decile")
    )


# =====================================================================
# round 8: exact distributed order statistics (the ranking device at
# fact grain), collocations, asymmetric containment dedup, mixture
# temperature weights, split-leakage audit, agreement statistics
# =====================================================================


@q(
    "q182_exact_percentiles",
    oracle="""
WITH o AS (SELECT o_orderkey,
    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders),
r AS (SELECT cents,
    row_number() OVER (ORDER BY cents, o_orderkey) AS rn FROM o),
n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM o)
SELECT CAST(p.pct AS BIGINT) AS pct, r.cents AS value_cents
FROM (VALUES (50), (90), (99)) p(pct)
JOIN n ON TRUE
JOIN r ON r.rn = (n.c * p.pct + 99) // 100
ORDER BY pct
""",
    description="EXACT p50/p90/p99 of order totals without a global "
    "sort — percentile_disc(p) is the value at rank ceil(p*n), so "
    "the two-phase ranking device (breakpoint buckets, bucket-local "
    "row_number, literal offsets) turns exact order statistics into "
    "a 3-row broadcast join against the target ranks: the 100 TB "
    "alternative to both percentile_approx (approximate) and a "
    "SinglePartition sort (serialized). Target ranks are pure "
    "integer arithmetic (n*p+99) DIV 100 on both sides; values are "
    "exact integer cents — no rounding device needed anywhere",
)
def q182(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    n = o.count()  # scalar job (the device collects breakpoints anyway)
    ranked = rnk.global_row_number(
        o, "cents", ascending=True, tie_cols=["o_orderkey"], out_col="rn"
    )
    targets = spark.createDataFrame(
        [(p, (n * p + 99) // 100) for p in (50, 90, 99)],
        "pct long, rn long",
    )
    return (
        ranked.join(F.broadcast(targets), "rn")
        .select("pct", F.col("cents").alias("value_cents"))
        .orderBy("pct")
    )


@q(
    "q183_equidepth_histogram",
    oracle="""
WITH li AS (SELECT l_orderkey, l_linenumber,
    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM lineitem),
b AS (SELECT cents,
    ntile(10) OVER (ORDER BY cents, l_orderkey, l_linenumber) AS bin
  FROM li)
SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(min(cents) AS BIGINT) AS min_cents,
  CAST(max(cents) AS BIGINT) AS max_cents,
  CAST(sum(cents) AS BIGINT) AS sum_cents
FROM b GROUP BY 1 ORDER BY 1
""",
    description="exact equi-depth (equal-height) histogram of "
    "lineitem price cents in 10 bins — the optimizer/zone-map "
    "companion statistic built over the FACT table itself, which is "
    "exactly where a global ntile would serialize 100 TB through one "
    "task: the two-phase ranking device assigns SQL-standard tiles "
    "from bucket-partitioned ranks (bit-identical to the oracle's "
    "literal ntile window), then per-bin count/min/max/sum are one "
    "10-row aggregation. All values exact integer cents",
)
def q183(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    binned = rnk.global_ntile(
        li,
        "cents",
        10,
        ascending=True,
        tie_cols=["l_orderkey", "l_linenumber"],
        out_col="bin",
    )
    return (
        binned.groupBy(F.col("bin").cast("long").alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("bin")
    )


@q(
    "q184_pmi_collocations",
    oracle=r"""
WITH w AS (SELECT string_split_regex(trim(text), '\s+') AS w
           FROM documents),
uni AS (SELECT word, CAST(count(*) AS BIGINT) AS n_w
        FROM (SELECT unnest(w) AS word FROM w)
        WHERE word <> '' GROUP BY 1),
bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM (
    SELECT w[i] AS w1, w[i + 1] AS w2
    FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
          FROM w WHERE len(w) >= 2))
  WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2
  HAVING count(*) >= 5),
t AS (SELECT (SELECT CAST(sum(n_w) AS BIGINT) FROM uni) AS n_uni,
             (SELECT CAST(sum(len(w) - 1) AS BIGINT) FROM w
              WHERE len(w) >= 2) AS n_bi)
SELECT bg.w1, bg.w2, bg.n_ab,
  round(ln((CAST(bg.n_ab AS DOUBLE) * CAST(t.n_uni AS DOUBLE)
            * CAST(t.n_uni AS DOUBLE))
           / (CAST(t.n_bi AS DOUBLE) * CAST(ua.n_w AS DOUBLE)
              * CAST(ub.n_w AS DOUBLE))), 6) AS pmi
FROM bg
JOIN uni ua ON ua.word = bg.w1
JOIN uni ub ON ub.word = bg.w2
CROSS JOIN t
ORDER BY pmi DESC, w1, w2 LIMIT 50
""",
    description="top-50 adjacent-word collocations by pointwise "
    "mutual information (word2vec's phrase-merge statistic): bigram "
    "and unigram counts are two vocabulary-granular aggregations "
    "with map-side partials, PMI's ln argument is assembled with "
    "identical parenthesization in both engines before the single "
    "transcendental (rounded 1e-6, the q116 PSI convention), and "
    "the top-50 plans as TakeOrderedAndProject with lexicographic "
    "tie-breaks — no global sort, no all-pairs anywhere",
)
def q184(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.pmi_collocations(
        T(spark, sf_dir, "documents"), "doc_id", "text",
        min_count=5, top_k=50,
    )


@q(
    "q185_ngram_containment",
    oracle=f"""
WITH {_shingle_cte()},
sizes AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS a_id, b.doc AS b_id,
    CAST(count(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2),
directed AS (
  SELECT a_id AS src_id, b_id AS dst_id, n_common FROM common
  UNION ALL
  SELECT b_id AS src_id, a_id AS dst_id, n_common FROM common)
SELECT d.src_id, d.dst_id, d.n_common,
  round(d.n_common / CAST(s.n_sh AS DOUBLE), 4) AS containment
FROM directed d JOIN sizes s ON s.doc = d.src_id
WHERE round(d.n_common / CAST(s.n_sh AS DOUBLE), 4) >= 0.8
""",
    description="DIRECTIONAL n-gram containment pairs |A∩B|/|A| — "
    "the verbatim-inclusion/quote detector Jaccard structurally "
    "misses (a short doc quoted inside a long one has tiny Jaccard "
    "but containment ≈ 1 from the short side; Broder's containment "
    "half of resemblance). Same one-aggregation df-capped inverted-"
    "index candidates as q22; each unordered candidate emits both "
    "directions against the per-doc size table — one extra "
    "projection, no second shuffle, never all-pairs",
)
def q185(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.containment_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.8
    )


@q(
    "q186_temperature_mixture",
    oracle=r"""
WITH s AS (SELECT source,
    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      AS n_tokens
  FROM documents GROUP BY 1),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM s),
p AS (SELECT source, n_tokens,
    CAST(round(pow(CAST(n_tokens AS DOUBLE) / CAST(t.total AS DOUBLE),
                   0.3), 9) AS DECIMAL(28,9)) AS tw
  FROM s CROSS JOIN t),
z AS (SELECT CAST(sum(tw) AS DECIMAL(28,9)) AS zsum FROM p)
SELECT p.source, p.n_tokens,
  round(CAST(p.n_tokens AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
    AS nat_share,
  round(CAST(p.tw AS DOUBLE) / CAST(z.zsum AS DOUBLE), 6)
    AS temp_weight,
  CAST(floor(CAST(p.tw AS DOUBLE) / CAST(z.zsum AS DOUBLE)
             * 1000000.0 + 0.5) AS BIGINT) AS expected_tokens_1m
FROM p CROSS JOIN z CROSS JOIN t ORDER BY source
""",
    description="temperature-scaled sampling weights per source "
    "(the multilingual-LM upsampling rule p_i^alpha / sum p_j^alpha "
    "with alpha=0.3, Conneau & Lample's low-resource boost): one "
    "map-side-partial token-count aggregation to source grain is "
    "the only data-sized pass; each pow term is rounded to the 1e-9 "
    "grid and summed as DECIMAL so the normalizer is order-free "
    "exact (the q78 device) — the final shares are single IEEE "
    "divisions rounded 1e-6, identical trees in both engines",
)
def q186(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(tx._words(F.col("text")))).cast("long").alias("n_tokens")
    )
    t = s.agg(F.sum("n_tokens").cast("long").alias("total"))
    p = s.crossJoin(F.broadcast(t)).withColumn(
        "tw",
        F.round(
            F.pow(
                F.col("n_tokens").cast("double")
                / F.col("total").cast("double"),
                F.lit(0.3),
            ),
            9,
        ).cast("decimal(28,9)"),
    )
    z = p.agg(F.sum("tw").cast("decimal(28,9)").alias("zsum"))
    w = F.col("tw").cast("double") / F.col("zsum").cast("double")
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("nat_share"),
            F.round(w, 6).alias("temp_weight"),
            F.floor(w * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("expected_tokens_1m"),
        )
        .orderBy("source")
    )


@q(
    "q187_split_leakage",
    oracle=f"""
WITH {_shingle_cte()},
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS a_id, b.doc AS b_id, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2),
pairs AS (SELECT a_id, b_id FROM common
  JOIN sizes sa ON sa.doc = a_id JOIN sizes sb ON sb.doc = b_id
  WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.6),
sp AS (SELECT doc_id,
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1')
      THEN 'test' ELSE 'train' END AS split
  FROM documents),
lab AS (SELECT CASE WHEN x.split <= y.split
      THEN x.split || '-' || y.split
      ELSE y.split || '-' || x.split END AS pair_type
  FROM pairs
  JOIN sp x ON x.doc_id = a_id
  JOIN sp y ON y.doc_id = b_id)
SELECT pair_type, CAST(count(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY 1 ORDER BY 1
""",
    description="train/test split-leakage audit — the eval-"
    "contamination check every pretraining pipeline runs before "
    "trusting held-out numbers: documents split 1/8 test by the "
    "first hex digit of md5(doc_id) (deterministic, engine-"
    "identical), then the q22 near-dup pairs are labeled by the "
    "split pair they straddle; any 'test-train' row IS leakage "
    "(a test doc with a near-duplicate in train). Candidates come "
    "from the same df-capped inverted index as q22 — one shuffle "
    "on the shingle; the split join keys on doc_id",
)
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(docs, "doc_id", "text", threshold=0.6)
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            "0", "1"
        ),
        F.lit("test"),
    ).otherwise(F.lit("train"))
    sp = docs.select(F.col("doc_id"), split.alias("split"))
    sx = sp.select(F.col("doc_id").alias("a_id"), F.col("split").alias("sa"))
    sy = sp.select(F.col("doc_id").alias("b_id"), F.col("split").alias("sb"))
    pair_type = F.when(
        F.col("sa") <= F.col("sb"),
        F.concat(F.col("sa"), F.lit("-"), F.col("sb")),
    ).otherwise(F.concat(F.col("sb"), F.lit("-"), F.col("sa")))
    return (
        pairs.join(sx, "a_id")
        .join(sy, "b_id")
        .groupBy(pair_type.alias("pair_type"))
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("pair_type")
    )


def _kappa_oracle() -> str:
    """q188 oracle: the q84 score CTEs feeding a 2×2 confusion matrix
    and Cohen's kappa in exact-integer form — the only division is
    the final one, floor-rounded to 1e-6 identically in the engine."""
    base = _classifier_oracle()
    ctes = base[: base.rindex("SELECT doc_id")]
    e_expr = "(tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)"
    return (
        ctes
        + f""", pred AS (
  SELECT z.doc_id,
    CASE WHEN round(1.0 / (1.0 + exp(-z)), 4) >= 0.5
      THEN 1 ELSE 0 END AS yhat,
    CASE WHEN doc.n_chars >= 280 THEN 1 ELSE 0 END AS y
  FROM z JOIN documents doc USING (doc_id)),
c AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN yhat = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS tp,
    CAST(sum(CASE WHEN yhat = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS fp,
    CAST(sum(CASE WHEN yhat = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS fn,
    CAST(sum(CASE WHEN yhat = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS tn
  FROM pred)
SELECT n, tp, fp, fn, tn,
  floor(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS po,
  floor(CAST({e_expr} AS DOUBLE) / CAST(n * n AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS pe,
  floor(CAST(n * (tp + tn) - ({e_expr}) AS DOUBLE)
        / CAST(n * n - ({e_expr}) AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS kappa
FROM c
"""
    )


@q(
    "q188_cohens_kappa",
    oracle=_kappa_oracle(),
    description="Cohen's kappa between the q84 quality classifier "
    "(prob >= 0.5) and the q119 length label — chance-corrected "
    "agreement, the annotator-quality statistic a labeling pipeline "
    "reports alongside raw accuracy: the classifier scores are "
    "zero-shuffle per-row expressions, the 2×2 confusion matrix is "
    "one map-side-partial aggregation to a single row, and kappa = "
    "(n·(tp+tn) − E) / (n² − E) with E = (tp+fp)(tp+fn)+(fn+tn)"
    "(fp+tn) is pure int64 arithmetic up to one floor-rounded "
    "division — no rounding hazard anywhere",
)
def q188(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    scored = ql.classifier_scores(docs, "doc_id", "text").select(
        "doc_id",
        F.when(F.col("quality_prob") >= 0.5, F.lit(1))
        .otherwise(F.lit(0))
        .alias("yhat"),
    )
    labeled = docs.select(
        "doc_id",
        F.when(F.col("n_chars") >= 280, F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    c = scored.join(labeled, "doc_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(((F.col("yhat") == 1) & (F.col("y") == 1)).cast("int"))
        .cast("long")
        .alias("tp"),
        F.sum(((F.col("yhat") == 1) & (F.col("y") == 0)).cast("int"))
        .cast("long")
        .alias("fp"),
        F.sum(((F.col("yhat") == 0) & (F.col("y") == 1)).cast("int"))
        .cast("long")
        .alias("fn"),
        F.sum(((F.col("yhat") == 0) & (F.col("y") == 0)).cast("int"))
        .cast("long")
        .alias("tn"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    e = (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn")) + (
        F.col("fn") + F.col("tn")
    ) * (F.col("fp") + F.col("tn"))
    return c.select(
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        fl6(
            (F.col("tp") + F.col("tn")).cast("double")
            / F.col("n").cast("double")
        ).alias("po"),
        fl6(e.cast("double") / (F.col("n") * F.col("n")).cast("double")).alias(
            "pe"
        ),
        fl6(
            (F.col("n") * (F.col("tp") + F.col("tn")) - e).cast("double")
            / (F.col("n") * F.col("n") - e).cast("double")
        ).alias("kappa"),
    )


@q(
    "q189_systematic_sample",
    oracle="""
WITH li AS (SELECT l_orderkey, l_linenumber,
    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM lineitem),
r AS (SELECT l_orderkey, l_linenumber, cents,
    row_number() OVER (ORDER BY cents DESC, l_orderkey, l_linenumber)
      AS rn
  FROM li)
SELECT CAST(rn AS BIGINT) AS rn, l_orderkey,
  CAST(l_linenumber AS BIGINT) AS l_linenumber, cents
FROM r WHERE (rn - 1) % 97 = 0 ORDER BY rn
""",
    description="systematic (every k-th, k=97) sample of lineitem "
    "ordered by price — the classic equal-probability design whose "
    "implicit stratification beats Bernoulli sampling on ordered "
    "frames (Madow's method): the global order comes from the "
    "two-phase ranking device, so the FACT-sized frame is sampled "
    "with no SinglePartition exchange; the modulus filter is "
    "per-row arithmetic on the exact rank. Exact integer cents, "
    "bit-identical ranks to the oracle's literal window",
)
def q189(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    ranked = rnk.global_row_number(
        li,
        "cents",
        ascending=False,
        tie_cols=["l_orderkey", "l_linenumber"],
        out_col="rn",
    )
    return (
        ranked.filter((F.col("rn") - 1) % 97 == 0)
        .select("rn", "l_orderkey", "l_linenumber", "cents")
        .orderBy("rn")
    )


# =====================================================================
# round 8 (second batch): classifier ranking metrics (AUC), exact
# heavy hitters via mergeable Misra-Gries, decision-stump training,
# readability scoring, chi-square independence, marketing attribution
# =====================================================================


def _auc_oracle() -> str:
    """q190 oracle: the q84 score CTEs feeding the histogram-form
    AUC — the Mann-Whitney statistic computed at SCORE-VALUE grain
    (quality_prob lives on a 1e-4 grid, so the frame is bounded at
    10001 rows regardless of corpus size). Midrank tie handling:
    each score level contributes pos_v * (neg_below + neg_v/2),
    kept exact by working with the doubled numerator in int64."""
    base = _classifier_oracle()
    ctes = base[: base.rindex("SELECT doc_id")]
    return (
        ctes
        + """, pred AS (
  SELECT z.doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS p,
    CASE WHEN doc.n_chars >= 280 THEN 1 ELSE 0 END AS y
  FROM z JOIN documents doc USING (doc_id)),
g AS (SELECT p, CAST(sum(y) AS BIGINT) AS pos_v,
    CAST(count(*) - sum(y) AS BIGINT) AS neg_v
  FROM pred GROUP BY p),
cu AS (SELECT p, pos_v, neg_v,
    CAST(COALESCE(sum(neg_v) OVER (ORDER BY p
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS neg_below
  FROM g),
s AS (SELECT CAST(sum(pos_v) AS BIGINT) AS n_pos,
    CAST(sum(neg_v) AS BIGINT) AS n_neg,
    CAST(sum(pos_v * (2 * neg_below + neg_v)) AS BIGINT) AS num2
  FROM cu)
SELECT CAST(n_pos + n_neg AS BIGINT) AS n, n_pos, n_neg,
  floor(CAST(num2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS auc,
  floor((CAST(num2 AS DOUBLE) / CAST(n_pos * n_neg AS DOUBLE) - 1.0)
        * 1000000.0 + 0.5) / 1000000.0 AS gini_coef
FROM s
"""
    )


@q(
    "q190_roc_auc",
    oracle=_auc_oracle(),
    description="exact ROC-AUC of the q84 quality classifier against "
    "the q119/q188 length label — the Mann-Whitney rank statistic "
    "with midrank tie handling, computed from the SCORE HISTOGRAM "
    "rather than per-row ranks: quality_prob lives on a 1e-4 grid, "
    "so after one fact-sized aggregation to score-value grain the "
    "running-negatives window covers a frame bounded at 10001 rows "
    "no matter the corpus size (the q153 bounded-domain argument; "
    "never a rank over the corpus). The doubled numerator "
    "sum(pos_v * (2*neg_below + neg_v)) stays exact int64 through "
    "sf0.1 x 1000; the 100 TB path widens it to DECIMAL",
)
def q190(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    pred = (
        ql.classifier_scores(docs, "doc_id", "text")
        .select("doc_id", F.col("quality_prob").alias("p"))
        .join(
            docs.select(
                "doc_id",
                F.when(F.col("n_chars") >= 280, F.lit(1))
                .otherwise(F.lit(0))
                .alias("y"),
            ),
            "doc_id",
        )
    )
    g = pred.groupBy("p").agg(
        F.sum("y").cast("long").alias("pos_v"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg_v"),
    )
    w = (
        Window.orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cu = g.withColumn(
        "neg_below",
        F.coalesce(F.sum("neg_v").over(w), F.lit(0)).cast("long"),
    )
    s = cu.agg(
        F.sum("pos_v").cast("long").alias("n_pos"),
        F.sum("neg_v").cast("long").alias("n_neg"),
        F.sum(
            F.col("pos_v")
            * (F.lit(2) * F.col("neg_below") + F.col("neg_v"))
        )
        .cast("long")
        .alias("num2"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    pn = (F.col("n_pos") * F.col("n_neg")).cast("double")
    return s.select(
        (F.col("n_pos") + F.col("n_neg")).cast("long").alias("n"),
        "n_pos",
        "n_neg",
        fl6(
            F.col("num2").cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
        fl6(F.col("num2").cast("double") / pn - F.lit(1.0)).alias(
            "gini_coef"
        ),
    )


@q(
    "q191_heavy_hitters",
    oracle=r"""
WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM documents),
f AS (SELECT word FROM w WHERE word <> ''),
n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM f)
SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences,
  (SELECT c FROM n) AS n_total
FROM f GROUP BY word HAVING count(*) * 100 > (SELECT c FROM n)
ORDER BY word
""",
    description="EXACT heavy hitters (words with count > n/100) via "
    "the two-pass Misra-Gries design: pass 1 runs the classic "
    "k-counter stream summary per partition (Arrow-batched "
    "mapInPandas, zero shuffle) whose union of keys is a "
    "DETERMINISTIC superset of every true heavy hitter (undercount "
    "<= n_i/(k+1) per partition => any global count > n/(k+1) "
    "survives somewhere; Misra-Gries 1982, mergeable per Agarwal et "
    "al. PODS 2012) — at 100 TB this replaces a billions-of-keys "
    "vocabulary shuffle with a summary-sized candidate frame; pass 2 "
    "broadcast-semi-joins the <= partitions*k candidates and counts "
    "them exactly, so the output is bit-identical to the naive "
    "full groupBy the oracle runs",
)
def q191(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(tx._words(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    return ql.heavy_hitters_exact(words, "word", k=100).orderBy("word")


def _stump_oracle() -> str:
    """q192 oracle: the q84 score CTEs feeding an exact weighted-Gini
    split search at FEATURE-VALUE grain (distinct n_chars values, a
    bounded domain) — cumulative left-side counts via one window over
    the value-granular frame, right side by subtraction from the
    broadcast totals, cost in exact-int numerators over a single
    double division per side with identical parenthesization."""
    base = _classifier_oracle()
    ctes = base[: base.rindex("SELECT doc_id")]
    return (
        ctes
        + """, pred AS (
  SELECT z.doc_id,
    CASE WHEN round(1.0 / (1.0 + exp(-z)), 4) >= 0.5
      THEN 1 ELSE 0 END AS keep_lbl,
    doc.n_chars AS x
  FROM z JOIN documents doc USING (doc_id)),
g AS (SELECT x, CAST(count(*) AS BIGINT) AS n_v,
    CAST(sum(keep_lbl) AS BIGINT) AS pos_v
  FROM pred GROUP BY x),
cu AS (SELECT x,
    CAST(sum(n_v) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
      AS BIGINT) AS nl,
    CAST(sum(pos_v) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
      AS BIGINT) AS lp
  FROM g),
t AS (SELECT CAST(sum(n_v) AS BIGINT) AS n,
    CAST(sum(pos_v) AS BIGINT) AS p FROM g),
c AS (SELECT cu.x, cu.nl, cu.lp,
    t.n - cu.nl AS nr, t.p - cu.lp AS rp,
    round(
      CAST(cu.nl * cu.nl - cu.lp * cu.lp
           - (cu.nl - cu.lp) * (cu.nl - cu.lp) AS DOUBLE)
        / CAST(cu.nl AS DOUBLE)
      + CAST((t.n - cu.nl) * (t.n - cu.nl)
             - (t.p - cu.lp) * (t.p - cu.lp)
             - ((t.n - cu.nl) - (t.p - cu.lp))
               * ((t.n - cu.nl) - (t.p - cu.lp)) AS DOUBLE)
        / CAST(t.n - cu.nl AS DOUBLE),
      9) AS cost
  FROM cu CROSS JOIN t WHERE cu.nl < t.n)
SELECT x AS split_at, nl AS n_left, lp AS pos_left,
  nr AS n_right, rp AS pos_right,
  round(cost, 6) AS gini_cost
FROM c ORDER BY cost, x LIMIT 1
"""
    )


@q(
    "q192_decision_stump",
    oracle=_stump_oracle(),
    description="train an optimal decision stump (1-level tree): the "
    "best n_chars threshold replicating the q84 classifier's keep "
    "decision — the distillation question 'how much of the model is "
    "just length?'. Split search is EXACT and runs at feature-VALUE "
    "grain: one fact-sized aggregation to distinct n_chars (bounded "
    "domain), cumulative class counts via one window over that "
    "bounded frame, right side by subtraction from broadcast totals; "
    "weighted-Gini cost keeps exact int64 numerators (nl^2 - lp^2 - "
    "ln^2) with one double division per side, identical "
    "parenthesization both engines; argmin is a "
    "TakeOrderedAndProject with the threshold as tie-break",
)
def q192(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    pred = (
        ql.classifier_scores(docs, "doc_id", "text")
        .select("doc_id", F.col("keep").cast("int").alias("keep_lbl"))
        .join(docs.select("doc_id", F.col("n_chars").alias("x")), "doc_id")
    )
    g = pred.groupBy("x").agg(
        F.count("*").cast("long").alias("n_v"),
        F.sum("keep_lbl").cast("long").alias("pos_v"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cu = g.select(
        "x",
        F.sum("n_v").over(w).cast("long").alias("nl"),
        F.sum("pos_v").over(w).cast("long").alias("lp"),
    )
    t = g.agg(
        F.sum("n_v").cast("long").alias("n"),
        F.sum("pos_v").cast("long").alias("p"),
    )
    nl, lp = F.col("nl"), F.col("lp")
    nr, rp = F.col("n") - nl, F.col("p") - lp
    cost = F.round(
        (nl * nl - lp * lp - (nl - lp) * (nl - lp)).cast("double")
        / nl.cast("double")
        + (nr * nr - rp * rp - (nr - rp) * (nr - rp)).cast("double")
        / nr.cast("double"),
        9,
    )
    return (
        cu.crossJoin(F.broadcast(t))
        .filter(nl < F.col("n"))
        .select(
            F.col("x").alias("split_at"),
            nl.alias("n_left"),
            lp.alias("pos_left"),
            nr.cast("long").alias("n_right"),
            rp.cast("long").alias("pos_right"),
            cost.alias("_cost"),
        )
        .orderBy("_cost", "split_at")
        .limit(1)
        .select(
            "split_at",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            F.round(F.col("_cost"), 6).alias("gini_cost"),
        )
    )


@q(
    "q193_readability",
    oracle=r"""
WITH d AS (SELECT source,
    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w,
    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      AS BIGINT) AS s,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      AS BIGINT) AS y
  FROM documents),
a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(w) AS BIGINT) AS total_words,
    CAST(sum(s) AS BIGINT) AS total_sentences,
    CAST(sum(y) AS BIGINT) AS total_syllables
  FROM d GROUP BY 1)
SELECT source, n_docs, total_words, total_sentences, total_syllables,
  round(206.835
        - 1.015 * (CAST(total_words AS DOUBLE)
                   / CAST(total_sentences AS DOUBLE))
        - 84.6 * (CAST(total_syllables AS DOUBLE)
                  / CAST(total_words AS DOUBLE)), 4) AS flesch_ease,
  round(0.39 * (CAST(total_words AS DOUBLE)
                / CAST(total_sentences AS DOUBLE))
        + 11.8 * (CAST(total_syllables AS DOUBLE)
                  / CAST(total_words AS DOUBLE))
        - 15.59, 4) AS fk_grade
FROM a ORDER BY source
""",
    description="per-source Flesch reading ease + Flesch-Kincaid "
    "grade (the classic readability pair every text-quality stage "
    "reports): words by whitespace split, sentences by [.!?]+ "
    "terminator groups (min 1), syllables by the [aeiouy]+ vowel-"
    "group heuristic — all three are per-row regexp counts summed "
    "as exact int64 in ONE zero-join scan to source grain "
    "(map-side partials); the two formulas are single IEEE "
    "expressions over the summed integers, identical trees both "
    "engines, 1e-4 grid",
)
def q193(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(tx._words(F.col("text"))).cast("long").alias("w"),
        F.greatest(
            F.regexp_count("text", F.lit("[.!?]+")), F.lit(1)
        )
        .cast("long")
        .alias("s"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("y"),
    )
    a = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("total_words"),
        F.sum("s").cast("long").alias("total_sentences"),
        F.sum("y").cast("long").alias("total_syllables"),
    )
    wps = F.col("total_words").cast("double") / F.col(
        "total_sentences"
    ).cast("double")
    spw = F.col("total_syllables").cast("double") / F.col(
        "total_words"
    ).cast("double")
    return a.select(
        "source",
        "n_docs",
        "total_words",
        "total_sentences",
        "total_syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4
        ).alias("fk_grade"),
    ).orderBy("source")


@q(
    "q194_chi_square",
    oracle="""
WITH o AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS obs
           FROM documents GROUP BY 1, 2),
r AS (SELECT source, CAST(count(*) AS BIGINT) AS r_tot
      FROM documents GROUP BY 1),
c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_tot
      FROM documents GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
SELECT r.source, c.lang,
  CAST(COALESCE(o.obs, 0) AS BIGINT) AS observed,
  round(CAST(r.r_tot AS DOUBLE) * CAST(c.c_tot AS DOUBLE)
        / CAST(n.n AS DOUBLE), 4) AS expected,
  round((CAST(COALESCE(o.obs, 0) AS DOUBLE)
         - CAST(r.r_tot AS DOUBLE) * CAST(c.c_tot AS DOUBLE)
           / CAST(n.n AS DOUBLE))
        * (CAST(COALESCE(o.obs, 0) AS DOUBLE)
           - CAST(r.r_tot AS DOUBLE) * CAST(c.c_tot AS DOUBLE)
             / CAST(n.n AS DOUBLE))
        / (CAST(r.r_tot AS DOUBLE) * CAST(c.c_tot AS DOUBLE)
           / CAST(n.n AS DOUBLE)), 6) AS chi2_contrib
FROM r CROSS JOIN c CROSS JOIN n
LEFT JOIN o ON o.source = r.source AND o.lang = c.lang
ORDER BY r.source, c.lang
""",
    description="chi-square independence audit of source x lang — "
    "the contingency check a corpus curator runs to catch a scraper "
    "that silently skewed one language into one source: three "
    "grain-reduced aggregations over ONE physical scan: the corpus "
    "is touched exactly once (the cell-count aggregation to R x C "
    "grain — dimension-sized), collected as a local relation (the "
    "q178 device: lazily re-derived, the margins re-scanned the "
    "corpus 4x — four full passes at 100 TB), margins and the "
    "grand total derived FROM the cells, the full R x C grid "
    "rebuilt by a broadcast cross join so zero cells still "
    "contribute, expected counts and per-cell chi2 contributions "
    "as single IEEE expressions with identical parenthesization "
    "both engines (1e-4 / 1e-6 grids)",
)
def q194(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    cells = (
        docs.groupBy("source", "lang")
        .agg(F.count("*").cast("long").alias("obs"))
        .collect()
    )
    # VALUES literal, not createDataFrame: the cell frame feeds four
    # consumers (margins, total, grid) and a parallelize-backed local
    # frame pays a python-worker round trip per evaluation (the
    # q199/q200 lesson); single quotes in the dimension values escape
    # by doubling
    def _q(s: str) -> str:
        return "'" + str(s).replace("'", "''") + "'"
    vals = ", ".join(
        f"({_q(r['source'])}, {_q(r['lang'])}, {r['obs']})" for r in cells
    )
    o = spark.sql(f"SELECT * FROM VALUES {vals} AS t(source, lang, obs)")
    r = o.groupBy("source").agg(F.sum("obs").cast("long").alias("r_tot"))
    c = o.groupBy("lang").agg(F.sum("obs").cast("long").alias("c_tot"))
    n = o.agg(F.sum("obs").cast("long").alias("n"))
    e = (
        F.col("r_tot").cast("double")
        * F.col("c_tot").cast("double")
        / F.col("n").cast("double")
    )
    obs = F.coalesce(F.col("obs"), F.lit(0)).cast("long")
    d = obs.cast("double") - e
    return (
        r.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(o), ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            obs.alias("observed"),
            F.round(e, 4).alias("expected"),
            F.round(d * d / e, 6).alias("chi2_contrib"),
        )
        .orderBy("source", "lang")
    )


@q(
    "q195_attribution",
    oracle="""
WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
    event_type, value FROM events),
a AS (SELECT event_type, value,
    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS touch
  FROM e),
conv AS (SELECT COALESCE(touch, 'direct') AS channel,
    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM a WHERE event_type = 'purchase')
SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
  CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM conv GROUP BY 1 ORDER BY 1
""",
    description="last-touch conversion attribution: every purchase "
    "is credited to the user's most recent preceding non-purchase "
    "event type (LOCF via last(..., ignorenulls) over a strictly-"
    "preceding frame; no prior touch = 'direct') — the funnel-"
    "credit statistic every event pipeline reports. One window "
    "PARTITIONED BY user_id (hashpartitioning, parallel — never a "
    "global window), deterministic (ts, event_id) order, then a "
    "channel-grain aggregation; revenue kept as exact integer cents",
)
def q195(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.col("touch"), F.lit("direct")).alias("channel"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


@q(
    "q196_heldout_perplexity",
    oracle=r"""
WITH w AS (SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
      IN ('0', '1') THEN 1 ELSE 0 END AS is_test,
    unnest(string_split_regex(trim(text), '\s+')) AS word
  FROM documents),
f AS (SELECT word, CAST(sum(1 - is_test) AS BIGINT) AS c_w,
    CAST(sum(is_test) AS BIGINT) AS m_w
  FROM w WHERE word <> '' GROUP BY 1),
s AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_train,
    CAST(count(CASE WHEN c_w > 0 THEN 1 END) AS BIGINT) AS vocab,
    CAST(sum(m_w) AS BIGINT) AS n_test,
    CAST(sum(CASE WHEN c_w = 0 THEN m_w ELSE 0 END) AS BIGINT)
      AS n_oov,
    CAST(sum(CAST(round(CAST(m_w AS DOUBLE)
        * ln(CAST(c_w + 1 AS DOUBLE)), 9)
      AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS sum_part
  FROM f)
SELECT n_train AS n_train_tokens, vocab AS vocab_size,
  n_test AS n_test_tokens, n_oov AS n_oov_tokens,
  round((CAST(n_test AS DOUBLE)
         * ln(CAST(n_train + vocab AS DOUBLE))
         - CAST(sum_part AS DOUBLE)) / CAST(n_test AS DOUBLE), 6)
    AS cross_entropy,
  round(exp((CAST(n_test AS DOUBLE)
             * ln(CAST(n_train + vocab AS DOUBLE))
             - CAST(sum_part AS DOUBLE)) / CAST(n_test AS DOUBLE)), 4)
    AS perplexity
FROM s
""",
    description="held-out unigram perplexity — THE language-model "
    "data metric: an add-1-smoothed unigram LM trained on the "
    "deterministic 7/8 md5 train split (the q187 split) and "
    "evaluated as cross-entropy/perplexity on the held-out 1/8. "
    "ONE corpus scan, ONE vocabulary-granular aggregation, ONE "
    "scalar reduction: ln(p_w) = ln(c_w+1) - ln(N+V) is split so "
    "the per-word term m_w*ln(c_w+1) has NO scalar dependency "
    "(a naive ln(a/b) form needs the N+V total before the per-word "
    "pass - a second corpus scan); terms are rounded to the 1e-9 "
    "grid and summed as DECIMAL so the vocabulary-sized float sum "
    "is ORDER-FREE exact (the q186 normalizer device), and the "
    "- n_test*ln(N+V) correction is a single IEEE op on scalars",
)
def q196(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    is_test = (
        F.when(
            F.substring(
                F.md5(F.col("doc_id").cast("string")), 1, 1
            ).isin("0", "1"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_test")
    )
    w = docs.select(
        is_test, F.explode(tx._words(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    f = w.groupBy("word").agg(
        F.sum(F.lit(1) - F.col("is_test")).cast("long").alias("c_w"),
        F.sum("is_test").cast("long").alias("m_w"),
    )
    # ln(p_w) = ln(c_w+1) - ln(N+V): the per-word half has no scalar
    # dependency, so the whole statistic is ONE aggregation over f
    term = F.round(
        F.col("m_w").cast("double")
        * F.log((F.col("c_w") + F.lit(1)).cast("double")),
        9,
    ).cast("decimal(38,9)")
    s = f.agg(
        F.sum("c_w").cast("long").alias("n_train"),
        F.count(F.when(F.col("c_w") > 0, F.lit(1)))
        .cast("long")
        .alias("vocab"),
        F.sum("m_w").cast("long").alias("n_test"),
        F.sum(F.when(F.col("c_w") == 0, F.col("m_w")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_oov"),
        F.sum(term).cast("decimal(38,9)").alias("sum_part"),
    )
    ce = (
        F.col("n_test").cast("double")
        * F.log((F.col("n_train") + F.col("vocab")).cast("double"))
        - F.col("sum_part").cast("double")
    ) / F.col("n_test").cast("double")
    return s.select(
        F.col("n_train").alias("n_train_tokens"),
        F.col("vocab").alias("vocab_size"),
        F.col("n_test").alias("n_test_tokens"),
        F.col("n_oov").alias("n_oov_tokens"),
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 4).alias("perplexity"),
    )


def _funnel_oracle() -> str:
    """q197 oracle: the q21 exact-dedup rule, the q22 near-dup pairs,
    and the q84 classifier composed into one WITH list (CTE names
    are disjoint by construction) — each stage's survivors feed the
    next, and the output is the 4-row funnel of doc/token counts."""
    base = _classifier_oracle()
    clf_ctes = base[base.index("WITH ") + 5 : base.rindex("SELECT doc_id")]
    return (
        f"WITH {_shingle_cte()},\n"
        + clf_ctes
        + r""", d0 AS (SELECT doc_id,
    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      AS n_tokens, text
  FROM documents),
s1 AS (SELECT doc_id, n_tokens FROM (
    SELECT doc_id, n_tokens,
      min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM d0) WHERE doc_id = keeper),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS a_id, b.doc AS b_id, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2),
pairs AS (SELECT a_id, b_id FROM common
  JOIN sizes sa ON sa.doc = a_id
  JOIN sizes sb ON sb.doc = b_id
  WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.6),
drop2 AS (SELECT DISTINCT p.b_id FROM pairs p
  JOIN s1 a ON a.doc_id = p.a_id
  JOIN s1 b ON b.doc_id = p.b_id),
s2 AS (SELECT doc_id, n_tokens FROM s1
  WHERE doc_id NOT IN (SELECT b_id FROM drop2)),
keepers AS (SELECT doc_id FROM z
  WHERE round(1.0 / (1.0 + exp(-z)), 4) >= 0.5),
s3 AS (SELECT doc_id, n_tokens FROM s2
  WHERE doc_id IN (SELECT doc_id FROM keepers))
SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM d0
UNION ALL SELECT '1_exact_dedup', CAST(count(*) AS BIGINT),
  CAST(sum(n_tokens) AS BIGINT) FROM s1
UNION ALL SELECT '2_near_dedup', CAST(count(*) AS BIGINT),
  CAST(sum(n_tokens) AS BIGINT) FROM s2
UNION ALL SELECT '3_quality', CAST(count(*) AS BIGINT),
  CAST(sum(n_tokens) AS BIGINT) FROM s3
ORDER BY stage
"""
    )


@q(
    "q197_curation_funnel",
    oracle=_funnel_oracle(),
    description="end-to-end curation funnel — the composed pipeline "
    "run every pretraining corpus goes through, with per-stage "
    "doc/token survivor counts: raw -> exact dedup (q21's min-id "
    "per md5 rule, one fingerprint-partitioned window) -> near-dup "
    "removal (q22's df-capped inverted-index pairs, both endpoints "
    "restricted to exact-dedup survivors, drop the larger id of "
    "each pair: deterministic pairwise-greedy) -> quality filter "
    "(q84's zero-shuffle classifier). Each stage reuses the "
    "operator's own plan; stage frames narrow monotonically so the "
    "expensive shingle pass runs once over the raw corpus and "
    "everything downstream is doc_id semi/anti joins; the output "
    "is a 4-row funnel",
)
def q197(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every doc is annotated with per-stage survival FLAGS on one
    # persisted narrow frame (doc_id, n_tokens, s1) — a lazily
    # re-derived flag frame would re-scan the corpus and re-run the
    # fingerprint shuffle once per stage reference (the first draft's
    # plan held 21 parquet scans); the persist is MLlib-style,
    # ContextCleaner-reclaimed. The funnel itself is then ONE
    # aggregation over left-join flags, unpivoted to 4 rows by a
    # stack over the single aggregate row (the q54 profile shape) —
    # never one aggregation job per stage.
    docs = T(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text")))
    flags = (
        docs.select(
            "doc_id",
            F.size(tx._words(F.col("text"))).cast("long").alias("n_tokens"),
            "text",
        )
        .withColumn(
            "s1", F.col("doc_id") == F.min("doc_id").over(w)
        )
        .select("doc_id", "n_tokens", "s1")
        .persist()
    )
    # no eager count (r15): all three consumers evaluate inside the
    # final funnel action; block locks fill the one scan's cache there
    pairs = dd.jaccard_pairs(docs, "doc_id", "text", threshold=0.6)
    s1_ids = flags.filter("s1").select("doc_id")
    drop2 = (
        pairs.join(
            s1_ids.withColumnRenamed("doc_id", "a_id"), "a_id", "left_semi"
        )
        .join(
            s1_ids.withColumnRenamed("doc_id", "b_id"), "b_id", "left_semi"
        )
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    keepers = (
        ql.classifier_scores(docs, "doc_id", "text")
        .filter(F.col("keep"))
        .select("doc_id")
        .withColumn("kept", F.lit(True))
    )
    ann = flags.join(drop2, "doc_id", "left").join(keepers, "doc_id", "left")
    s2 = F.col("s1") & F.col("dropped").isNull()
    s3 = s2 & F.col("kept").isNotNull()
    def cnt(flag):
        return F.sum(F.when(flag, 1).otherwise(0)).cast("long")
    def tok(flag):
        return (
            F.sum(F.when(flag, F.col("n_tokens")).otherwise(0))
            .cast("long")
        )
    row = ann.agg(
        F.count("*").cast("long").alias("d0"),
        F.sum("n_tokens").cast("long").alias("t0"),
        cnt(F.col("s1")).alias("d1"),
        tok(F.col("s1")).alias("t1"),
        cnt(s2).alias("d2"),
        tok(s2).alias("t2"),
        cnt(s3).alias("d3"),
        tok(s3).alias("t3"),
    )
    return row.select(
        F.expr(
            "stack(4, '0_raw', d0, t0, '1_exact_dedup', d1, t1, "
            "'2_near_dedup', d2, t2, '3_quality', d3, t3) AS "
            "(stage, n_docs, n_tokens)"
        )
    ).orderBy("stage")


@q(
    "q198_trimmed_mean",
    oracle="""
WITH o AS (SELECT o_orderkey,
    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders),
n AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(count(*) // 100 AS BIGINT) AS k FROM o),
r AS (SELECT cents,
    row_number() OVER (ORDER BY cents, o_orderkey) AS rn FROM o)
SELECT n.n AS n_total, CAST(2 * n.k AS BIGINT) AS n_dropped,
  round(CAST(sum(cents) AS DOUBLE) / CAST(n.n AS DOUBLE), 4)
    AS mean_cents,
  round(CAST(sum(CASE WHEN r.rn > n.k AND r.rn <= n.n - n.k
                 THEN cents ELSE 0 END) AS DOUBLE)
        / CAST(n.n - 2 * n.k AS DOUBLE), 4) AS trimmed_mean_cents
FROM r CROSS JOIN n GROUP BY n.n, n.k
""",
    description="1%-trimmed mean of order totals — the outlier-"
    "robust location estimate, computed EXACTLY at fact grain via "
    "the two-phase ranking device: global ranks come from bucket-"
    "partitioned row_number (no SinglePartition exchange over the "
    "fact frame), the trim bounds are driver-known integers "
    "(k = n DIV 100), and both means are single IEEE divisions of "
    "exact int64 cent sums from ONE aggregation over the ranked "
    "frame",
)
def q198(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    n = o.count()
    k = n // 100
    ranked = rnk.global_row_number(
        o, "cents", ascending=True, tie_cols=["o_orderkey"], out_col="rn"
    )
    mid = (F.col("rn") > F.lit(k)) & (F.col("rn") <= F.lit(n - k))
    return ranked.agg(
        F.lit(n).cast("long").alias("n_total"),
        F.lit(2 * k).cast("long").alias("n_dropped"),
        F.round(
            F.sum("cents").cast("double") / F.lit(n).cast("double"), 4
        ).alias("mean_cents"),
        F.round(
            F.sum(F.when(mid, F.col("cents")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.lit(n - 2 * k).cast("double"),
            4,
        ).alias("trimmed_mean_cents"),
    ).select("n_total", "n_dropped", "mean_cents", "trimmed_mean_cents")


# =====================================================================
# round 8, third batch: nonparametric trend statistics (Mann-Kendall,
# Theil-Sen) at calendar-bounded grain + binomial interval estimation
# =====================================================================

_MONTH_CTE = """
m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate)
      AS BIGINT) AS mi,
    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      AS BIGINT) AS rev
  FROM orders GROUP BY 1)"""


def _monthly_revenue_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared q199/q200 device: ONE fact scan aggregates orders to
    the calendar-bounded month grain (80 rows at every SF — months
    grow with years, not data volume), collected to a local relation
    (the q178/q194 move) so the pairwise trend statistics downstream
    never touch the fact table again."""
    rows = (
        T(spark, sf_dir, "orders")
        .groupBy(
            (
                F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")
            )
            .cast("long")
            .alias("mi")
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("rev")
        )
        .collect()
    )
    # JVM LocalRelation via a VALUES literal, NOT createDataFrame:
    # a parallelize-backed local frame costs seconds PER EVALUATION
    # (python-worker round trip on every reference; the months^2
    # join references it twice per pass — measured 8.9s vs 0.9s for
    # the same 80x80 pair count), while a VALUES literal is
    # driver-embedded and free to re-evaluate. Values are integers
    # by construction (month index, revenue cents) — no quoting.
    vals = ", ".join(f"({r['mi']}, {r['rev']})" for r in rows)
    # BIGINT casts: VALUES infers INT for small literals, and
    # downstream row products (q226's mi*rev) overflow 32 bits under
    # ANSI even when each factor fits
    return spark.sql(
        f"SELECT CAST(mi AS BIGINT) AS mi, CAST(rev AS BIGINT) AS rev "
        f"FROM VALUES {vals} AS t(mi, rev)"
    )


@q(
    "q199_mann_kendall",
    oracle=f"""
WITH {_MONTH_CTE},
p AS (SELECT CASE WHEN b.rev > a.rev THEN 1
      WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
  FROM m a JOIN m b ON b.mi > a.mi),
s AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
    (SELECT CAST(count(*) AS BIGINT) FROM m) AS n FROM p),
t AS (SELECT CAST(COALESCE(sum(c * (c - 1) * (2 * c + 5)), 0)
      AS BIGINT) AS corr
  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM m GROUP BY rev)),
v AS (SELECT s.n, s.s_stat,
    CAST(s.n * (s.n - 1) * (2 * s.n + 5) - t.corr AS BIGINT) AS var18
  FROM s CROSS JOIN t),
z AS (SELECT n, s_stat, var18,
    round(CASE WHEN var18 <= 0 OR s_stat = 0 THEN 0.0
      WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)
        / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      ELSE (CAST(s_stat AS DOUBLE) + 1.0)
        / sqrt(CAST(var18 AS DOUBLE) / 18.0) END, 6) AS z_stat
  FROM v)
SELECT n AS n_periods, s_stat, var18, z_stat,
  CASE WHEN z_stat >= 1.959964 THEN 'increasing'
       WHEN z_stat <= -1.959964 THEN 'decreasing'
       ELSE 'no_trend' END AS trend
FROM z
""",
    description="Mann-Kendall nonparametric trend test on monthly "
    "revenue — the distribution-free is-it-really-growing audit "
    "(no normality or linearity assumed): S = sum of pairwise "
    "signs, tie-corrected variance kept as the exact integer "
    "18*Var = n(n-1)(2n+5) - sum t(t-1)(2t+5), continuity-"
    "corrected z. ONE fact scan aggregates to the calendar-bounded "
    "month grain (80 rows at every SF) collected as a local "
    "relation (the q178 device), so the O(months^2) pair join is "
    "dimension^2, never data-sized",
)
def q199(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _monthly_revenue_local(spark, sf_dir)
    a = m.select(F.col("mi").alias("ai"), F.col("rev").alias("ar"))
    b = m.select(F.col("mi").alias("bi"), F.col("rev").alias("br"))
    sgn = (
        F.when(F.col("br") > F.col("ar"), F.lit(1))
        .when(F.col("br") < F.col("ar"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    s = (
        a.join(b, F.col("bi") > F.col("ai"))
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    n_ = m.agg(F.count("*").cast("long").alias("n"))
    corr = (
        m.groupBy("rev")
        .agg(F.count("*").cast("long").alias("c"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c")
                    * (F.col("c") - F.lit(1))
                    * (F.lit(2) * F.col("c") + F.lit(5))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("corr")
        )
    )
    v = (
        s.crossJoin(F.broadcast(n_))
        .crossJoin(F.broadcast(corr))
        .select(
            "n",
            "s_stat",
            (
                F.col("n")
                * (F.col("n") - F.lit(1))
                * (F.lit(2) * F.col("n") + F.lit(5))
                - F.col("corr")
            )
            .cast("long")
            .alias("var18"),
        )
    )
    sd = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    z = F.round(
        F.when((F.col("var18") <= 0) | (F.col("s_stat") == 0), F.lit(0.0))
        .when(
            F.col("s_stat") > 0,
            (F.col("s_stat").cast("double") - F.lit(1.0)) / sd,
        )
        .otherwise((F.col("s_stat").cast("double") + F.lit(1.0)) / sd),
        6,
    )
    zf = v.withColumn("z_stat", z)
    return zf.select(
        F.col("n").alias("n_periods"),
        "s_stat",
        "var18",
        "z_stat",
        F.when(F.col("z_stat") >= 1.959964, F.lit("increasing"))
        .when(F.col("z_stat") <= -1.959964, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


@q(
    "q200_theil_sen",
    oracle=f"""
WITH {_MONTH_CTE},
x AS (SELECT CAST(mi - (SELECT min(mi) FROM m) AS BIGINT) AS xi, rev
  FROM m),
p AS (SELECT CAST(b.rev - a.rev AS DOUBLE)
      / CAST(b.xi - a.xi AS DOUBLE) AS slope
  FROM x a JOIN x b ON b.xi > a.xi),
lim AS (SELECT CAST(count(*) AS BIGINT) AS np FROM p),
r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM p),
sel AS (SELECT r.slope FROM r CROSS JOIN lim
  WHERE r.rn IN ((lim.np + 1) // 2, lim.np // 2 + 1)),
o2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(rev) AS BIGINT) AS sy,
    CAST(sum(xi * xi) AS BIGINT) AS sxx,
    CAST(sum(xi * rev) AS BIGINT) AS sxy FROM x)
SELECT lim.np AS n_pairs,
  round((SELECT (min(slope) + max(slope)) / 2.0 FROM sel), 4)
    AS theilsen_slope,
  round(CAST(o2.n * o2.sxy - o2.sx * o2.sy AS DOUBLE)
        / CAST(o2.n * o2.sxx - o2.sx * o2.sx AS DOUBLE), 4)
    AS ols_slope
FROM lim CROSS JOIN o2
""",
    description="Theil-Sen robust slope of monthly revenue (median "
    "of all pairwise slopes — up to 29% outlier breakdown vs OLS's "
    "zero) with the OLS slope alongside for contrast: the pair "
    "frame is months^2 over the same collected calendar-bounded "
    "month relation as q199 (ONE fact scan), the median is exact "
    "rank selection ((min+max)/2 over the one or two middle ranks, "
    "so odd/even counts share one expression), and the OLS slope "
    "is pure int64 moment sums with a single final division",
)
def q200(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _monthly_revenue_local(spark, sf_dir)
    mn = m.agg(F.min("mi").alias("m0"))
    x = m.crossJoin(F.broadcast(mn)).select(
        (F.col("mi") - F.col("m0")).cast("long").alias("xi"), "rev"
    )
    a = x.select(F.col("xi").alias("ax"), F.col("rev").alias("ar"))
    b = x.select(F.col("xi").alias("bx"), F.col("rev").alias("br"))
    p = a.join(b, F.col("bx") > F.col("ax")).select(
        (
            (F.col("br") - F.col("ar")).cast("double")
            / (F.col("bx") - F.col("ax")).cast("double")
        ).alias("slope")
    )
    lim = p.agg(F.count("*").cast("long").alias("np"))
    r = p.withColumn(
        "rn", F.row_number().over(Window.orderBy("slope"))
    )
    # integer rank targets: Spark's `/` is FLOAT division ((np+1)/2 =
    # 1580.5 matches no rank) — DIV is the `//` the oracle uses
    sel = r.crossJoin(F.broadcast(lim)).filter(
        (F.col("rn") == F.expr("(np + 1) DIV 2"))
        | (F.col("rn") == F.expr("np DIV 2 + 1"))
    )
    med = sel.agg(
        ((F.min("slope") + F.max("slope")) / F.lit(2.0)).alias("ts_raw")
    )
    o2 = x.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xi").cast("long").alias("sx"),
        F.sum("rev").cast("long").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("long").alias("sxx"),
        F.sum(F.col("xi") * F.col("rev")).cast("long").alias("sxy"),
    )
    return (
        lim.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(o2))
        .select(
            F.col("np").alias("n_pairs"),
            F.round(F.col("ts_raw"), 4).alias("theilsen_slope"),
            F.round(
                (
                    F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
                ).cast("double")
                / (
                    F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
                ).cast("double"),
                4,
            ).alias("ols_slope"),
        )
    )


def _wilson_oracle() -> str:
    """q201 oracle: the q84 classifier CTEs feeding per-source
    binomial keep-rates with Wilson 95% intervals — the closed form
    with z=1.96 as an exact literal, identical parenthesization."""
    base = _classifier_oracle()
    ctes = base[: base.rindex("SELECT doc_id")]
    return (
        ctes
        + """, pred AS (
  SELECT z.doc_id, doc.source,
    CASE WHEN round(1.0 / (1.0 + exp(-z)), 4) >= 0.5
      THEN 1 ELSE 0 END AS keep_i
  FROM z JOIN documents doc USING (doc_id)),
g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(keep_i) AS BIGINT) AS n_keep
  FROM pred GROUP BY 1)
SELECT source, n_docs, n_keep,
  round(CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
    AS keep_rate,
  round(((CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE))
         + 3.8416 / (2.0 * CAST(n_docs AS DOUBLE))
         - 1.96 * sqrt((CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE))
             * (1.0 - CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE))
             / CAST(n_docs AS DOUBLE)
             + 3.8416 / (4.0 * CAST(n_docs AS DOUBLE)
                         * CAST(n_docs AS DOUBLE))))
        / (1.0 + 3.8416 / CAST(n_docs AS DOUBLE)), 6) AS wilson_lo,
  round(((CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE))
         + 3.8416 / (2.0 * CAST(n_docs AS DOUBLE))
         + 1.96 * sqrt((CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE))
             * (1.0 - CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE))
             / CAST(n_docs AS DOUBLE)
             + 3.8416 / (4.0 * CAST(n_docs AS DOUBLE)
                         * CAST(n_docs AS DOUBLE))))
        / (1.0 + 3.8416 / CAST(n_docs AS DOUBLE)), 6) AS wilson_hi
FROM g ORDER BY source
"""
    )


@q(
    "q201_wilson_interval",
    oracle=_wilson_oracle(),
    description="Wilson 95% score intervals for per-source classifier "
    "keep-rates — the binomial uncertainty every curation dashboard "
    "should show next to a rate (the normal approximation fails at "
    "extreme rates and small sources; Wilson does not): one "
    "zero-shuffle scoring pass + one source-grain aggregation, then "
    "the closed form with z=1.96 / z^2=3.8416 as exact literals and "
    "identical parenthesization in both engines (1e-6 grid)",
)
def q201(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    g = (
        ql.classifier_scores(docs, "doc_id", "text")
        .select("doc_id", F.col("keep").cast("int").alias("keep_i"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("keep_i").cast("long").alias("n_keep"),
        )
    )
    nd = F.col("n_docs").cast("double")
    ph = F.col("n_keep").cast("double") / nd
    half = F.lit(1.96) * F.sqrt(
        ph * (F.lit(1.0) - ph) / nd
        + F.lit(3.8416) / (F.lit(4.0) * nd * nd)
    )
    denom = F.lit(1.0) + F.lit(3.8416) / nd
    center = ph + F.lit(3.8416) / (F.lit(2.0) * nd)
    return g.select(
        "source",
        "n_docs",
        "n_keep",
        F.round(ph, 6).alias("keep_rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("source")


# =====================================================================
# round 9: classifier-eval completions (calibration / PR curve / KS),
# exact inequality statistics via the ranking device, rank and
# concordance correlations, cohort/seasonality OLAP, interval islands,
# grouped exact percentiles, distribution divergences
# =====================================================================


def _pred_cte() -> str:
    """Shared round-9 oracle CTE: the q84 classifier score joined to
    the q119 length label at doc grain — the q190 `pred` shape."""
    base = _classifier_oracle()
    ctes = base[: base.rindex("SELECT doc_id")]
    return (
        ctes
        + """, pred AS (
  SELECT z.doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS p,
    CASE WHEN doc.n_chars >= 280 THEN 1 ELSE 0 END AS y
  FROM z JOIN documents doc USING (doc_id))"""
    )


def _pred_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _pred_cte: (doc_id, p, y), one corpus scan,
    zero-shuffle scoring (q190's construction)."""
    docs = T(spark, sf_dir, "documents")
    return (
        ql.classifier_scores(docs, "doc_id", "text")
        .select("doc_id", F.col("quality_prob").alias("p"))
        .join(
            docs.select(
                "doc_id",
                F.when(F.col("n_chars") >= 280, F.lit(1))
                .otherwise(F.lit(0))
                .alias("y"),
            ),
            "doc_id",
        )
    )


@q(
    "q202_calibration_bins",
    oracle=_pred_cte()
    + """,
b AS (SELECT least(CAST(floor(
        CAST(floor(p * 10000.0 + 0.5) AS BIGINT) / 1000.0)
        AS BIGINT), 9) AS bin,
    CAST(floor(p * 10000.0 + 0.5) AS BIGINT) AS s4, y
  FROM pred),
g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(y) AS BIGINT) AS n_pos,
    CAST(sum(s4) AS BIGINT) AS sum_s4
  FROM b GROUP BY bin)
SELECT bin, n_docs, n_pos,
  floor(CAST(sum_s4 AS DOUBLE) / (10000.0 * CAST(n_docs AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS avg_pred,
  floor(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS obs_rate,
  floor((CAST(sum_s4 AS DOUBLE) / (10000.0 * CAST(n_docs AS DOUBLE))
         - CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS gap
FROM g ORDER BY bin
""",
    description="calibration reliability diagram of the q84 quality "
    "classifier against the q119 length label — the model-eval "
    "table that decides whether classifier-gated curation needs "
    "Platt/isotonic recalibration: predicted probabilities bin into "
    "10 equal-width cells ON THE 1e-4 INTEGER GRID (s4 = "
    "floor(p*10000+0.5); bin = s4 div 1000 clamped — integer "
    "arithmetic, so a float boundary like 0.3*10 can never split "
    "engines), one map-side-partial aggregation to a <=10-row "
    "frame; avg_pred stays an exact int64 sum of grid values up to "
    "one floor-rounded division. One corpus scan, zero joins beyond "
    "the label join",
)
def q202(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _pred_frame(spark, sf_dir)
    s4 = F.floor(F.col("p") * F.lit(10000.0) + F.lit(0.5)).cast("long")
    b = pred.select(
        F.least(
            F.floor(s4.cast("double") / F.lit(1000.0)).cast("long"),
            F.lit(9).cast("long"),
        ).alias("bin"),
        s4.alias("s4"),
        "y",
    )
    g = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("s4").cast("long").alias("sum_s4"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    avg_pred = F.col("sum_s4").cast("double") / (
        F.lit(10000.0) * F.col("n_docs").cast("double")
    )
    obs = F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
    return g.select(
        "bin",
        "n_docs",
        "n_pos",
        fl6(avg_pred).alias("avg_pred"),
        fl6(obs).alias("obs_rate"),
        fl6(avg_pred - obs).alias("gap"),
    ).orderBy("bin")


@q(
    "q203_pr_curve",
    oracle=_pred_cte()
    + """,
g AS (SELECT p, CAST(sum(y) AS BIGINT) AS pos_v,
    CAST(count(*) - sum(y) AS BIGINT) AS neg_v
  FROM pred GROUP BY p),
t AS (SELECT CAST(sum(pos_v) AS BIGINT) AS n_pos FROM g),
cu AS (SELECT p,
    CAST(sum(pos_v) OVER (ORDER BY p DESC) AS BIGINT) AS cum_tp,
    CAST(sum(neg_v) OVER (ORDER BY p DESC) AS BIGINT) AS cum_fp
  FROM g)
SELECT cu.p AS p_threshold, cu.cum_tp, cu.cum_fp,
  floor(CAST(cum_tp AS DOUBLE) / CAST(cum_tp + cum_fp AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS precision_at,
  floor(CAST(cum_tp AS DOUBLE) / CAST(t.n_pos AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS recall_at,
  CASE WHEN cum_tp > 0 THEN
    floor(2.0 * CAST(cum_tp AS DOUBLE)
          / CAST(cum_tp + cum_fp + t.n_pos AS DOUBLE)
          * 1000000.0 + 0.5) / 1000000.0
  END AS f1_at
FROM cu CROSS JOIN t ORDER BY p_threshold DESC
""",
    description="precision/recall/F1 at every classifier score "
    "threshold (the q190 companion: ROC integrates over thresholds, "
    "curation needs the operating POINT) — computed at SCORE-VALUE "
    "grain like q190: one fact-sized aggregation to the 1e-4 score "
    "grid, then descending running sums over a frame bounded at "
    "10001 rows regardless of corpus size — never a per-row rank. "
    "F1 = 2tp/(2tp+fp+fn) in the single-division form (identical "
    "trees both engines); null when cum_tp = 0",
)
def q203(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _pred_frame(spark, sf_dir)
    g = pred.groupBy("p").agg(
        F.sum("y").cast("long").alias("pos_v"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg_v"),
    ).persist()  # bounded (<=10001 rows); two consumers (curve, totals)
    w = Window.orderBy(F.desc("p")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cu = g.select(
        F.col("p").alias("p_threshold"),
        F.sum("pos_v").over(w).cast("long").alias("cum_tp"),
        F.sum("neg_v").over(w).cast("long").alias("cum_fp"),
    )
    tot = g.agg(F.sum("pos_v").cast("long").alias("n_pos"))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        cu.crossJoin(F.broadcast(tot))
        .select(
            "p_threshold",
            "cum_tp",
            "cum_fp",
            fl6(
                F.col("cum_tp").cast("double")
                / (F.col("cum_tp") + F.col("cum_fp")).cast("double")
            ).alias("precision_at"),
            fl6(
                F.col("cum_tp").cast("double")
                / F.col("n_pos").cast("double")
            ).alias("recall_at"),
            F.when(
                F.col("cum_tp") > 0,
                fl6(
                    F.lit(2.0)
                    * F.col("cum_tp").cast("double")
                    / (
                        F.col("cum_tp")
                        + F.col("cum_fp")
                        + F.col("n_pos")
                    ).cast("double")
                ),
            ).alias("f1_at"),
        )
        .orderBy(F.desc("p_threshold"))
    )


@q(
    "q204_ks_statistic",
    oracle=_pred_cte()
    + """,
g AS (SELECT p, CAST(sum(y) AS BIGINT) AS pos_v,
    CAST(count(*) - sum(y) AS BIGINT) AS neg_v
  FROM pred GROUP BY p),
t AS (SELECT CAST(sum(pos_v) AS BIGINT) AS np,
             CAST(sum(neg_v) AS BIGINT) AS nn FROM g),
dn AS (SELECT p,
    abs(CAST(sum(pos_v) OVER (ORDER BY p) AS BIGINT) * t.nn
        - CAST(sum(neg_v) OVER (ORDER BY p) AS BIGINT) * t.np)
      AS dnum
  FROM g CROSS JOIN t),
mx AS (SELECT CAST(max(dnum) AS BIGINT) AS m FROM dn)
SELECT t.np AS n_pos, t.nn AS n_neg,
  floor(CAST(mx.m AS DOUBLE) / CAST(t.np * t.nn AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS ks_stat,
  (SELECT min(p) FROM dn WHERE dnum = mx.m) AS ks_at_p
FROM t CROSS JOIN mx
""",
    description="two-sample Kolmogorov-Smirnov statistic between the "
    "classifier's positive-class and negative-class score "
    "distributions — the separability number (KS = max ECDF gap) "
    "model-eval dashboards report next to AUC: ECDFs live on the "
    "bounded 1e-4 score grid (the q190 argument), the gap numerator "
    "|cum_pos*n_neg - cum_neg*n_pos| stays exact int64 (<= n^2; the "
    "100 TB path widens to DECIMAL), and the argmax threshold "
    "resolves ties to the smallest score via one struct-max "
    "aggregation — a single pass over the bounded frame, no second "
    "fact scan",
)
def q204(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _pred_frame(spark, sf_dir)
    g = pred.groupBy("p").agg(
        F.sum("y").cast("long").alias("pos_v"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg_v"),
    ).persist()  # bounded (<=10001 rows); two consumers (ECDFs, totals)
    w = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    t = g.agg(
        F.sum("pos_v").cast("long").alias("np"),
        F.sum("neg_v").cast("long").alias("nn"),
    )
    d = (
        g.select(
            "p",
            F.sum("pos_v").over(w).cast("long").alias("cp"),
            F.sum("neg_v").over(w).cast("long").alias("cn"),
        )
        .crossJoin(F.broadcast(t))
        .select(
            "p",
            "np",
            "nn",
            F.abs(
                F.col("cp") * F.col("nn") - F.col("cn") * F.col("np")
            ).alias("dnum"),
        )
    )
    best = d.agg(
        F.first("np").alias("np"),
        F.first("nn").alias("nn"),
        F.max(F.struct(F.col("dnum"), (-F.col("p")).alias("negp"))).alias(
            "b"
        ),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return best.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        fl6(
            F.col("b.dnum").cast("double")
            / (F.col("np") * F.col("nn")).cast("double")
        ).alias("ks_stat"),
        (-F.col("b.negp")).alias("ks_at_p"),
    )


@q(
    "q205_gini_concentration",
    oracle=r"""
WITH d AS (SELECT doc_id,
    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      AS n_tok
  FROM documents),
r AS (SELECT n_tok,
    CAST(row_number() OVER (ORDER BY n_tok, doc_id) AS BIGINT) AS rn
  FROM d),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(n_tok) AS BIGINT) AS tot,
    CAST(sum(rn * n_tok) AS BIGINT) AS srx
  FROM r)
SELECT n AS n_docs, tot AS total_tokens,
  floor((2.0 * CAST(srx AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
         - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS gini
FROM s
""",
    description="exact Gini coefficient of token-count concentration "
    "across documents — the corpus-inequality number (how much of "
    "the token budget a few long documents absorb) a mixture "
    "designer reads before capping per-doc contribution: the "
    "rank-sum identity G = 2*sum(r_i*x_i)/(n*sum(x)) - (n+1)/n "
    "needs the GLOBAL ascending rank of a fact-sized frame, which "
    "comes from the two-phase ranking device (persist_input) — "
    "bucket-partitioned windows, zero SinglePartition over data; "
    "sum(r*x) stays exact int64 through sf0.1 x100 (the 100 TB path "
    "widens to DECIMAL); ties permute only equal x values between "
    "consecutive ranks, so the sum is tie-order invariant",
)
def q205(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tx._words(F.col("text"))).cast("long").alias("n_tok"),
    )
    r = rnk.global_row_number(
        d, "n_tok",
        ascending=True, tie_cols=["doc_id"], out_col="rn",
        persist_input=True,
    )
    s = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_tok").cast("long").alias("tot"),
        F.sum(F.col("rn") * F.col("n_tok")).cast("long").alias("srx"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return s.select(
        F.col("n").alias("n_docs"),
        F.col("tot").alias("total_tokens"),
        fl6(
            F.lit(2.0)
            * F.col("srx").cast("double")
            / (F.col("n").cast("double") * F.col("tot").cast("double"))
            - (F.col("n") + 1).cast("double") / F.col("n").cast("double")
        ).alias("gini"),
    )


@q(
    "q206_lorenz_deciles",
    oracle=r"""
WITH d AS (SELECT doc_id,
    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      AS n_tok
  FROM documents),
t AS (SELECT CAST(ntile(10) OVER (ORDER BY n_tok, doc_id) AS BIGINT)
      AS decile, n_tok
  FROM d),
g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_tok) AS BIGINT) AS tokens
  FROM t GROUP BY decile),
tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS grand FROM g)
SELECT decile, n_docs, tokens,
  CAST(sum(tokens) OVER (ORDER BY decile) AS BIGINT) AS cum_tokens,
  floor(CAST(sum(tokens) OVER (ORDER BY decile) AS DOUBLE)
        / CAST(tot.grand AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
    AS cum_share
FROM g CROSS JOIN tot ORDER BY decile
""",
    description="Lorenz curve of the token budget at document "
    "deciles (q205's Gini, spatialized: 'the shortest 50% of docs "
    "hold x% of tokens') — deciles come from the ranking device's "
    "closed-form exact ntile over the fact-sized frame "
    "(persist_input, bucket-partitioned window, zero "
    "SinglePartition over data), then cumulation runs over the "
    "10-row decile frame; exact int64 token sums up to one "
    "floor-rounded share division",
)
def q206(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tx._words(F.col("text"))).cast("long").alias("n_tok"),
    )
    t = rnk.global_ntile(
        d, "n_tok", 10,
        ascending=True, tie_cols=["doc_id"], out_col="decile",
        persist_input=True,
    )
    # the decile frame is <=10 rows and has two consumers (cumulation,
    # grand total) — collect it to a VALUES literal (the q181 move) so
    # the fact-sized device window evaluates exactly once
    rows = t.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tokens"),
    ).collect()
    vals = ", ".join(
        f"({r['decile']}, {r['n_docs']}, {r['tokens']})" for r in rows
    )
    g = spark.sql(
        f"SELECT CAST(decile AS BIGINT) AS decile, "
        f"CAST(n_docs AS BIGINT) AS n_docs, "
        f"CAST(tokens AS BIGINT) AS tokens "
        f"FROM VALUES {vals} AS t(decile, n_docs, tokens)"
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = g.agg(F.sum("tokens").cast("long").alias("grand"))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        g.withColumn("cum_tokens", F.sum("tokens").over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_docs",
            "tokens",
            "cum_tokens",
            fl6(
                F.col("cum_tokens").cast("double")
                / F.col("grand").cast("double")
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


@q(
    "q209_spearman_rank_corr",
    oracle=r"""
WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS y
  FROM documents),
cx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY x),
rx AS (SELECT x, CAST(2 * COALESCE(sum(c) OVER (ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
    AS BIGINT) AS u2
  FROM cx),
cy AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY y),
ry AS (SELECT y, CAST(2 * COALESCE(sum(c) OVER (ORDER BY y
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
    AS BIGINT) AS v2
  FROM cy),
j AS (SELECT rx.u2 AS u, ry.v2 AS v
  FROM d JOIN rx USING (x) JOIN ry USING (y)),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(u) AS BIGINT) AS su, CAST(sum(v) AS BIGINT) AS sv,
    CAST(sum(u * u) AS HUGEINT) AS suu,
    CAST(sum(v * v) AS HUGEINT) AS svv,
    CAST(sum(u * v) AS HUGEINT) AS suv
  FROM j)
SELECT n AS n_docs,
  floor((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE)
         - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
                - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                  - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)))
        * 1000000.0 + 0.5) / 1000000.0 AS spearman_rho
FROM s
""",
    description="exact Spearman rank correlation (midrank/fractional "
    "tie handling — textbook tie-corrected rho) between document "
    "char length and token count — the metric-redundancy audit that "
    "tells a curation pipeline whether two quality features measure "
    "the same thing. Ranks are NOT per-row windows: midranks are a "
    "closed form of the VALUE-grain histogram (2*rank = 2*cum_below "
    "+ count + 1, exact integers — the doubled-midrank trick keeps "
    "half-ranks in int64), computed on two domain-bounded frames "
    "and broadcast back to the fact scan; Pearson-on-ranks moments "
    "sum exactly (DECIMAL(38) / HUGEINT for the squares, which pass "
    "2^63 at 10x sf0.1) before ONE double evaluation with identical "
    "parenthesization in both engines",
)
def q209(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("x"),
        F.size(tx._words(F.col("text"))).cast("long").alias("y"),
    ).persist()

    def midrank_map(col: str, out: str) -> DataFrame:
        c = d.groupBy(col).agg(F.count("*").cast("long").alias("c"))
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return c.select(
            col,
            (
                F.lit(2) * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + F.lit(1)
            )
            .cast("long")
            .alias(out),
        )

    j = d.join(F.broadcast(midrank_map("x", "u")), "x").join(
        F.broadcast(midrank_map("y", "v")), "y"
    )
    dec = lambda c_: F.sum(c_.cast("decimal(38,0)"))
    s = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("u").cast("long").alias("su"),
        F.sum("v").cast("long").alias("sv"),
        dec(F.col("u") * F.col("u")).alias("suu"),
        dec(F.col("v") * F.col("v")).alias("svv"),
        dec(F.col("u") * F.col("v")).alias("suv"),
    )
    nd = F.col("n").cast("double")
    sud, svd = F.col("su").cast("double"), F.col("sv").cast("double")
    num = nd * F.col("suv").cast("double") - sud * svd
    denx = nd * F.col("suu").cast("double") - sud * sud
    deny = nd * F.col("svv").cast("double") - svd * svd
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return s.select(
        F.col("n").alias("n_docs"),
        fl6(num / F.sqrt(denx * deny)).alias("spearman_rho"),
    )


@q(
    "q212_zipf_slope",
    oracle=r"""
WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+'))
      AS word FROM documents),
vc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w
  WHERE word <> '' GROUP BY word HAVING count(*) >= 5),
r AS (SELECT cnt,
    CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT)
      AS rnk
  FROM vc),
p AS (SELECT
    CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS x6,
    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS y6
  FROM r),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
    CAST(sum(x6 * x6) AS HUGEINT) AS sxx,
    CAST(sum(y6 * y6) AS HUGEINT) AS syy,
    CAST(sum(x6 * y6) AS HUGEINT) AS sxy
  FROM p)
SELECT n AS n_types,
  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS zipf_slope,
  floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        * 1000000.0 + 0.5) / 1000000.0 AS r_squared
FROM s
""",
    description="Zipf's-law fit for the corpus vocabulary — OLS "
    "slope of ln(frequency) on ln(rank) over types with count >= 5 "
    "(a natural-language corpus fits slope ~ -1; a slope far off "
    "flags boilerplate or synthetic text): the frequency RANK of a "
    "vocabulary-sized frame comes from the two-phase ranking device "
    "(persist_input — vocabulary is data-sized at 100 TB, never a "
    "SinglePartition window); the regression moments are made "
    "ORDER-FREE by snapping ln to the 1e-6 integer grid before "
    "summing (floor(ln*1e6+0.5) as int64 — float partial-agg order "
    "can never move the result), summed exactly in DECIMAL(38)/"
    "HUGEINT, then one double evaluation with identical trees; the "
    "1e-6 grid scale cancels in the slope",
)
def q212(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    vc = (
        docs.select(F.explode(tx._words(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )
    r = rnk.global_row_number(
        vc, "cnt",
        ascending=False, tie_cols=["word"], out_col="rnk",
        persist_input=True,
    )
    grid = lambda c_: F.floor(
        F.log(c_.cast("double")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    p = r.select(
        grid(F.col("rnk")).alias("x6"), grid(F.col("cnt")).alias("y6")
    )
    dec = lambda c_: F.sum(c_.cast("decimal(38,0)"))
    s = p.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x6").cast("long").alias("sx"),
        F.sum("y6").cast("long").alias("sy"),
        dec(F.col("x6") * F.col("x6")).alias("sxx"),
        dec(F.col("y6") * F.col("y6")).alias("syy"),
        dec(F.col("x6") * F.col("y6")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return s.select(
        F.col("n").alias("n_types"),
        fl6(num / denx).alias("zipf_slope"),
        fl6((num * num) / (denx * deny)).alias("r_squared"),
    )


@q(
    "q207_gtest_collocations",
    oracle=r"""
WITH w AS (SELECT string_split_regex(trim(text), '\s+') AS w
           FROM documents),
bgall AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM (
    SELECT w[i] AS w1, w[i + 1] AS w2
    FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
          FROM w WHERE len(w) >= 2))
  WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2),
la AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS ca FROM bgall
       GROUP BY 1),
rb AS (SELECT w2, CAST(sum(n_ab) AS BIGINT) AS cb FROM bgall
       GROUP BY 1),
t AS (SELECT CAST(sum(n_ab) AS BIGINT) AS nn FROM bgall),
sc AS (SELECT bg.w1, bg.w2, bg.n_ab, la.ca, rb.cb, t.nn
  FROM bgall bg JOIN la USING (w1) JOIN rb USING (w2) CROSS JOIN t
  WHERE bg.n_ab >= 5)
SELECT w1, w2, n_ab,
  floor(2.0 * (
    CASE WHEN n_ab > 0 THEN CAST(n_ab AS DOUBLE)
      * ln(CAST(n_ab AS DOUBLE) * CAST(nn AS DOUBLE)
           / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
      ELSE 0.0 END
    + CASE WHEN ca - n_ab > 0 THEN CAST(ca - n_ab AS DOUBLE)
      * ln(CAST(ca - n_ab AS DOUBLE) * CAST(nn AS DOUBLE)
           / (CAST(ca AS DOUBLE) * CAST(nn - cb AS DOUBLE)))
      ELSE 0.0 END
    + CASE WHEN cb - n_ab > 0 THEN CAST(cb - n_ab AS DOUBLE)
      * ln(CAST(cb - n_ab AS DOUBLE) * CAST(nn AS DOUBLE)
           / (CAST(nn - ca AS DOUBLE) * CAST(cb AS DOUBLE)))
      ELSE 0.0 END
    + CASE WHEN nn - ca - cb + n_ab > 0
      THEN CAST(nn - ca - cb + n_ab AS DOUBLE)
      * ln(CAST(nn - ca - cb + n_ab AS DOUBLE) * CAST(nn AS DOUBLE)
           / (CAST(nn - ca AS DOUBLE) * CAST(nn - cb AS DOUBLE)))
      ELSE 0.0 END
  ) * 1000000.0 + 0.5) / 1000000.0 AS g2
FROM sc ORDER BY g2 DESC, w1, w2 LIMIT 50
""",
    description="top-50 adjacent-word collocations by Dunning's "
    "log-likelihood ratio (G-test; Dunning 1993) — the collocation "
    "statistic that, unlike q184's PMI, does not over-rank rare "
    "pairs: the 2x2 contingency per bigram comes from the bigram "
    "table's own marginals (left-word, right-word, grand total — "
    "three vocabulary-granular aggregations off ONE bigram frame), "
    "each cell term O*ln(O*N/(row*col)) is evaluated with an "
    "identical parenthesized tree in both engines (zero-count "
    "cells contribute exactly 0), and the top-50 plans as "
    "TakeOrderedAndProject with lexicographic tie-breaks",
)
def q207(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    w = docs.select(tx._words(F.col("text")).alias("w")).filter(
        F.size("w") >= 2
    )
    bgall = (
        w.select(
            F.explode(
                F.expr(
                    "transform(slice(w, 1, size(w) - 1), (x, i) -> "
                    "struct(x AS w1, w[i + 1] AS w2))"
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n_ab"))
        # three marginal consumers share this vocabulary-grain frame
        .persist()
    )
    la = bgall.groupBy("w1").agg(F.sum("n_ab").cast("long").alias("ca"))
    rb = bgall.groupBy("w2").agg(F.sum("n_ab").cast("long").alias("cb"))
    t = bgall.agg(F.sum("n_ab").cast("long").alias("nn"))
    sc = (
        bgall.filter(F.col("n_ab") >= 5)
        .join(la, "w1")
        .join(rb, "w2")
        .crossJoin(F.broadcast(t))
    )
    d = lambda c_: c_.cast("double")
    nn, ca, cb, nab = (
        F.col("nn"), F.col("ca"), F.col("cb"), F.col("n_ab"),
    )

    def term(o, r_, c_) -> "F.Column":
        return F.when(
            o > 0, d(o) * F.log(d(o) * d(nn) / (d(r_) * d(c_)))
        ).otherwise(F.lit(0.0))

    g2 = F.lit(2.0) * (
        term(nab, ca, cb)
        + term(ca - nab, ca, nn - cb)
        + term(cb - nab, nn - ca, cb)
        + term(nn - ca - cb + nab, nn - ca, nn - cb)
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        sc.select("w1", "w2", "n_ab", fl6(g2).alias("g2"))
        .orderBy(F.desc("g2"), "w1", "w2")
        .limit(50)
    )


_MONTH2_CTE = """
m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate)
      AS BIGINT) AS mi,
    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      AS BIGINT) AS rev,
    CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1)"""


@q(
    "q208_kendall_tau",
    oracle=f"""
WITH {_MONTH2_CTE},
p AS (SELECT a.rev AS ra, a.cnt AS ca, b.rev AS rb, b.cnt AS cb
  FROM m a JOIN m b ON b.mi > a.mi),
s AS (SELECT CAST(count(*) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN (rb - ra) * (cb - ca) > 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS conc,
    CAST(sum(CASE WHEN (rb - ra) * (cb - ca) < 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS disc,
    CAST(sum(CASE WHEN rb = ra THEN 1 ELSE 0 END) AS BIGINT) AS tx,
    CAST(sum(CASE WHEN cb = ca THEN 1 ELSE 0 END) AS BIGINT) AS ty
  FROM p),
n AS (SELECT CAST(count(*) AS BIGINT) AS nm FROM m)
SELECT n.nm AS n_months, s.conc AS concordant, s.disc AS discordant,
  floor(CAST(s.conc - s.disc AS DOUBLE)
        / sqrt(CAST(s.n0 - s.tx AS DOUBLE)
               * CAST(s.n0 - s.ty AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS tau_b
FROM s CROSS JOIN n
""",
    description="Kendall tau-b concordance between monthly revenue "
    "and monthly order volume — the nonparametric 'do these two "
    "KPIs move together' statistic, tie-corrected: the fact table "
    "aggregates once to the calendar-bounded month grain (80 rows "
    "at any corpus size) and collects to a VALUES-literal local "
    "relation (the q199/q200 device), so the O(months^2) pair "
    "enumeration is an 80x80 broadcast range join over a "
    "LocalTableScan that never touches the fact table again; all "
    "pair counts are exact int64 up to one double division",
)
def q208(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = (
        T(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate"))
            .cast("long")
            .alias("mi")
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("rev"),
            F.count("*").cast("long").alias("cnt"),
        )
        .collect()
    )
    vals = ", ".join(
        f"({r['mi']}, {r['rev']}, {r['cnt']})" for r in rows
    )
    # VALUES infers INT for small literals; the pair sign product
    # needs long arithmetic (rev diffs are ~1e10 cents at sf0.1)
    m = spark.sql(
        f"SELECT CAST(mi AS BIGINT) AS mi, CAST(rev AS BIGINT) AS rev, "
        f"CAST(cnt AS BIGINT) AS cnt FROM VALUES {vals} AS t(mi, rev, cnt)"
    )
    a, b = m.alias("a"), m.alias("b")
    sgn = (F.col("b.rev") - F.col("a.rev")) * (
        F.col("b.cnt") - F.col("a.cnt")
    )
    s = (
        a.join(F.broadcast(b), F.col("b.mi") > F.col("a.mi"))
        .agg(
            F.count("*").cast("long").alias("n0"),
            F.sum(F.when(sgn > 0, 1).otherwise(0))
            .cast("long")
            .alias("conc"),
            F.sum(F.when(sgn < 0, 1).otherwise(0))
            .cast("long")
            .alias("disc"),
            F.sum(
                F.when(F.col("b.rev") == F.col("a.rev"), 1).otherwise(0)
            )
            .cast("long")
            .alias("tx"),
            F.sum(
                F.when(F.col("b.cnt") == F.col("a.cnt"), 1).otherwise(0)
            )
            .cast("long")
            .alias("ty"),
        )
    )
    n = m.agg(F.count("*").cast("long").alias("nm"))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return s.crossJoin(F.broadcast(n)).select(
        F.col("nm").alias("n_months"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        fl6(
            (F.col("conc") - F.col("disc")).cast("double")
            / F.sqrt(
                (F.col("n0") - F.col("tx")).cast("double")
                * (F.col("n0") - F.col("ty")).cast("double")
            )
        ).alias("tau_b"),
    )


@q(
    "q210_cohort_retention",
    oracle="""
WITH om AS (SELECT o_custkey,
    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi
  FROM orders),
wm AS (SELECT o_custkey, mi,
    CAST(min(mi) OVER (PARTITION BY o_custkey) AS BIGINT) AS cm
  FROM om),
act AS (SELECT DISTINCT cm, mi - cm AS offs, o_custkey
  FROM wm WHERE mi - cm <= 5),
r AS (SELECT cm, CAST(offs AS BIGINT) AS offs,
    CAST(count(*) AS BIGINT) AS n_active
  FROM act GROUP BY 1, 2),
c0 AS (SELECT cm, n_active AS cohort_size FROM r WHERE offs = 0)
SELECT r.cm AS cohort_month, r.offs AS month_offset, r.n_active,
  c0.cohort_size,
  floor(CAST(r.n_active AS DOUBLE) / CAST(c0.cohort_size AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS retention
FROM r JOIN c0 USING (cm) ORDER BY cohort_month, month_offset
""",
    description="cohort retention matrix — customers cohorted by "
    "first-order month, retention = share of the cohort ordering "
    "again k months later (k <= 5), the standard growth-analytics "
    "triangle: ONE fact scan, the first-month assignment is a "
    "min-window PARTITIONED BY customer (hash-partitioned, "
    "parallel), activity dedupes at (cohort, offset, customer) "
    "grain, and cohort size is the matrix's own offset-0 column "
    "(every customer orders in their first month by construction) "
    "joined back broadcast — no second scan, no countDistinct "
    "expansion",
)
def q210(spark: SparkSession, sf_dir: str) -> DataFrame:
    om = T(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate"))
        .cast("long")
        .alias("mi"),
    )
    wm = om.withColumn(
        "cm", F.min("mi").over(Window.partitionBy("o_custkey")).cast("long")
    )
    act = (
        wm.filter(F.col("mi") - F.col("cm") <= 5)
        .select("cm", (F.col("mi") - F.col("cm")).alias("offs"), "o_custkey")
        .distinct()
    )
    # the retention matrix is calendar-bounded (months x 6 offsets)
    # and has two consumers (itself and its offset-0 slice) — left
    # lazy, the fact scan and custkey shuffle run twice. Collect to a
    # VALUES literal (the q199/q200 device): ONE fact pass, the
    # cohort-size self-join is local
    rows = act.groupBy(
        "cm", F.col("offs").cast("long").alias("offs")
    ).agg(F.count("*").cast("long").alias("n_active")).collect()
    vals = ", ".join(
        f"({r['cm']}, {r['offs']}, {r['n_active']})" for r in rows
    )
    r = spark.sql(
        f"SELECT CAST(cm AS BIGINT) AS cm, CAST(offs AS BIGINT) AS offs, "
        f"CAST(n_active AS BIGINT) AS n_active "
        f"FROM VALUES {vals} AS t(cm, offs, n_active)"
    )
    c0 = r.filter(F.col("offs") == 0).select(
        "cm", F.col("n_active").alias("cohort_size")
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        r.join(F.broadcast(c0), "cm")
        .select(
            F.col("cm").alias("cohort_month"),
            F.col("offs").alias("month_offset"),
            "n_active",
            "cohort_size",
            fl6(
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
        .orderBy("cohort_month", "month_offset")
    )


@q(
    "q211_dow_seasonality",
    oracle="""
WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events),
g AS (SELECT
    CAST((datediff('day', DATE '1970-01-01', day) + 4) % 7
      AS BIGINT) AS dow,
    CAST(count(DISTINCT day) AS BIGINT) AS n_days,
    CAST(sum(cents) AS BIGINT) AS total_cents
  FROM e GROUP BY 1),
t AS (SELECT CAST(sum(total_cents) AS BIGINT) AS grand FROM g)
SELECT dow, n_days, total_cents,
  floor(CAST(total_cents AS DOUBLE) / CAST(n_days AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS avg_day_cents,
  floor(CAST(total_cents AS DOUBLE) / CAST(t.grand AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS share
FROM g CROSS JOIN t ORDER BY dow
""",
    description="day-of-week seasonality profile of event revenue — "
    "the weekly-cycle decomposition a forecaster subtracts before "
    "trend fitting: day-of-week computed portably as "
    "(epoch_days + 4) mod 7 (0 = Sunday; no engine-specific "
    "dayofweek convention can split the oracle), ONE fact scan "
    "aggregates straight to the 7-row dow grain (count DISTINCT "
    "day rides the same shuffle), which collects to a VALUES "
    "literal so the share-of-total consumer never re-scans the "
    "fact table",
)
def q211(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    g = (
        e.groupBy(
            (
                (
                    F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
                    + F.lit(4)
                )
                % 7
            )
            .cast("long")
            .alias("dow")
        )
        .agg(
            F.countDistinct("day").cast("long").alias("n_days"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .collect()
    )
    vals = ", ".join(
        f"({r['dow']}, {r['n_days']}, {r['total_cents']})" for r in g
    )
    lo = spark.sql(
        f"SELECT CAST(dow AS BIGINT) AS dow, "
        f"CAST(n_days AS BIGINT) AS n_days, "
        f"CAST(total_cents AS BIGINT) AS total_cents "
        f"FROM VALUES {vals} AS t(dow, n_days, total_cents)"
    )
    t = lo.agg(F.sum("total_cents").cast("long").alias("grand"))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        lo.crossJoin(F.broadcast(t))
        .select(
            "dow",
            "n_days",
            "total_cents",
            fl6(
                F.col("total_cents").cast("double")
                / F.col("n_days").cast("double")
            ).alias("avg_day_cents"),
            fl6(
                F.col("total_cents").cast("double")
                / F.col("grand").cast("double")
            ).alias("share"),
        )
        .orderBy("dow")
    )


@q(
    "q213_dup_cluster_powerlaw",
    oracle="""
WITH c AS (SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS s
  FROM documents GROUP BY 1),
d AS (SELECT s,
    CAST(floor(ln(CAST(s AS DOUBLE) / 1.5) * 1000000.0 + 0.5)
      AS BIGINT) AS l6
  FROM c WHERE s >= 2),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters,
    CAST(sum(s) AS BIGINT) AS n_docs_in_dups,
    CAST(max(s) AS BIGINT) AS max_size,
    CAST(sum(l6) AS BIGINT) AS sum6
  FROM d)
SELECT n_clusters, n_docs_in_dups, max_size,
  CASE WHEN sum6 > 0 THEN
    floor((1.0 + CAST(n_clusters AS DOUBLE) * 1000000.0
           / CAST(sum6 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
  END AS alpha_hat
FROM a
""",
    description="discrete power-law exponent of the duplicate-"
    "cluster size distribution (exact-dup clusters from the q21 md5 "
    "rule, sizes >= 2) via the Clauset-Shalizi-Newman continuous "
    "MLE alpha = 1 + n / sum(ln(s_i/(xmin-1/2))) — the shape "
    "number that says whether duplication is a long tail of pairs "
    "or a few mega-clusters (which decide dedup strategy at "
    "100 TB): one corpus scan to fingerprint grain, the ln snapped "
    "to the 1e-6 integer grid before summing so float partial-agg "
    "order can never move the result, exact int64 everywhere else",
)
def q213(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        T(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(F.count("*").cast("long").alias("s"))
        .filter(F.col("s") >= 2)
    )
    d = c.select(
        "s",
        F.floor(
            F.log(F.col("s").cast("double") / F.lit(1.5)) * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("l6"),
    )
    a = d.agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("s").cast("long").alias("n_docs_in_dups"),
        F.max("s").cast("long").alias("max_size"),
        F.sum("l6").cast("long").alias("sum6"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return a.select(
        "n_clusters",
        "n_docs_in_dups",
        "max_size",
        F.when(
            F.col("sum6") > 0,
            fl6(
                F.lit(1.0)
                + F.col("n_clusters").cast("double")
                * F.lit(1e6)
                / F.col("sum6").cast("double")
            ),
        ).alias("alpha_hat"),
    )


@q(
    "q214_interval_islands",
    oracle="""
WITH e AS (SELECT user_id, event_id,
    epoch_us(CAST(ts AS TIMESTAMP)) AS st,
    epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS en
  FROM events),
f AS (SELECT user_id, st, en,
    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM e),
g AS (SELECT user_id, st, en,
    CAST(sum(CASE WHEN pm IS NULL OR st > pm THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY st, en
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS BIGINT) AS island
  FROM f),
i AS (SELECT user_id, island,
    CAST(count(*) AS BIGINT) AS n_ev,
    CAST(max(en) - min(st) AS BIGINT) AS dur_us
  FROM g GROUP BY 1, 2),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_islands,
    CAST(sum(n_ev) AS BIGINT) AS n_events,
    CAST(sum(dur_us) AS BIGINT) AS sum_dur_us,
    CAST(max(dur_us) AS BIGINT) AS max_dur_us
  FROM i)
SELECT n_islands, n_events,
  floor(CAST(n_events AS DOUBLE) / CAST(n_islands AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS avg_events_per_island,
  floor(CAST(sum_dur_us AS DOUBLE) / CAST(n_islands AS DOUBLE)
        / 1000000.0 * 1000000.0 + 0.5) / 1000000.0
    AS avg_island_sec,
  CAST(max_dur_us AS DOUBLE) / 1000000.0 AS max_island_sec
FROM a
""",
    description="gaps-and-islands merge of overlapping activity "
    "intervals (each event spans 30 min) per user — the interval "
    "coalescing primitive behind session billing, uptime and "
    "co-viewing analytics: the classic running-max island detector "
    "(island starts where start > max of all previous ends), with "
    "EVERY window PARTITIONED BY user (hash-partitioned, parallel; "
    "never a global window), island grain is one aggregation, and "
    "all time arithmetic is exact int64 microseconds until the two "
    "final divisions",
)
def q214(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    # ts loads as TIMESTAMP_NTZ; the session timezone is pinned UTC
    # (session.py), so the NTZ->LTZ cast is the identity and
    # unix_micros matches DuckDB's epoch_us(naive-as-UTC) exactly
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = ev.select(
        "user_id",
        "event_id",
        us.alias("st"),
        (us + F.lit(1_800_000_000)).alias("en"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("st", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    f = e.withColumn("pm", F.max("en").over(wprev))
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("st", "en")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flag = F.when(
        F.col("pm").isNull() | (F.col("st") > F.col("pm")), 1
    ).otherwise(0)
    g = f.withColumn("island", F.sum(flag).over(wcum).cast("long"))
    i = g.groupBy("user_id", "island").agg(
        F.count("*").cast("long").alias("n_ev"),
        (F.max("en") - F.min("st")).cast("long").alias("dur_us"),
    )
    a = i.agg(
        F.count("*").cast("long").alias("n_islands"),
        F.sum("n_ev").cast("long").alias("n_events"),
        F.sum("dur_us").cast("long").alias("sum_dur_us"),
        F.max("dur_us").cast("long").alias("max_dur_us"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return a.select(
        "n_islands",
        "n_events",
        fl6(
            F.col("n_events").cast("double")
            / F.col("n_islands").cast("double")
        ).alias("avg_events_per_island"),
        fl6(
            F.col("sum_dur_us").cast("double")
            / F.col("n_islands").cast("double")
            / F.lit(1e6)
        ).alias("avg_island_sec"),
        (F.col("max_dur_us").cast("double") / F.lit(1e6)).alias(
            "max_island_sec"
        ),
    )


@q(
    "q215_source_percentile_bands",
    oracle="""
WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
    CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
cu AS (SELECT source, v, c,
    CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
      AS cum,
    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM v)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
  CAST(min(CASE WHEN cum * 100 >= 25 * n THEN v END) AS BIGINT)
    AS p25,
  CAST(min(CASE WHEN cum * 100 >= 50 * n THEN v END) AS BIGINT)
    AS p50,
  CAST(min(CASE WHEN cum * 100 >= 75 * n THEN v END) AS BIGINT)
    AS p75,
  CAST(min(CASE WHEN cum * 100 >= 90 * n THEN v END) AS BIGINT)
    AS p90
FROM cu GROUP BY source ORDER BY source
""",
    description="per-source exact nearest-rank percentile bands "
    "(p25/p50/p75/p90 of document char length) — the per-slice "
    "length profile a mixture designer compares across crawls: "
    "computed at (source, value) HISTOGRAM grain (domain-bounded, "
    "never per-row ranks), cumulated by windows PARTITIONED BY "
    "source (hash-partitioned, parallel — grouped percentiles need "
    "no global device), each percentile a conditional-min over the "
    "cumulative histogram (nearest-rank definition, cum*100 >= p*n "
    "in exact integers — no interpolation convention to split "
    "engines)",
)
def q215(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        T(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").cast("long").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("source")
    cu = v.select(
        "source",
        "v",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )

    def pct(p: int, out: str):
        return (
            F.min(
                F.when(
                    F.col("cum") * F.lit(100) >= F.lit(p) * F.col("n"),
                    F.col("v"),
                )
            )
            .cast("long")
            .alias(out)
        )

    return (
        cu.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            pct(25, "p25"),
            pct(50, "p50"),
            pct(75, "p75"),
            pct(90, "p90"),
        )
        .orderBy("source")
    )


@q(
    "q216_quantile_sketch_audit",
    oracle=f"""
WITH ev AS ({_EV}),
g AS (SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS gv
      FROM ev WHERE value IS NOT NULL),
gh AS (SELECT gv, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gv),
st AS (SELECT CAST(min(gv) AS BIGINT) AS mn,
              CAST(max(gv) AS BIGINT) AS mx,
              CAST(sum(cnt) AS BIGINT) AS n FROM gh),
cumv AS (SELECT gv,
    CAST(sum(cnt) OVER (ORDER BY gv) AS BIGINT) AS cum FROM gh),
p AS (SELECT CAST(pct AS BIGINT) AS pct
      FROM (VALUES (25),(50),(75),(90),(99)) t(pct)),
ex AS (SELECT pct, CAST(min(gv) AS BIGINT) AS exact_gv
       FROM p CROSS JOIN st CROSS JOIN cumv
       WHERE cum * 100 >= pct * n GROUP BY pct),
bk AS (SELECT ((gv - mn) * 64) // (mx - mn + 1) AS b,
              CAST(sum(cnt) AS BIGINT) AS bc
       FROM gh CROSS JOIN st GROUP BY 1),
be AS (SELECT b, bc,
         CAST(sum(bc) OVER (ORDER BY b) AS BIGINT) AS cum,
         (b * (mx - mn + 1) + 63) // 64 AS lo_off,
         ((b + 1) * (mx - mn + 1) + 63) // 64 - 1 AS hi_off,
         mn, n
       FROM bk CROSS JOIN st),
sk AS (SELECT pct,
         CAST(min_by(mn + lo_off
           + ((((pct * n + 99) // 100) - (cum - bc) - 1)
              * (hi_off - lo_off + 1)) // bc, b) AS BIGINT) AS sketch_gv,
         CAST(min_by(hi_off - lo_off + 1, b) AS BIGINT)
           AS bucket_width_cents,
         CAST(max(n) AS BIGINT) AS n_total
       FROM p CROSS JOIN be
       WHERE cum * 100 >= pct * n GROUP BY pct)
SELECT pct, n_total,
  CAST(exact_gv AS DOUBLE) / 100.0 AS exact_value,
  CAST(sketch_gv AS DOUBLE) / 100.0 AS sketch_value,
  CAST(sketch_gv - exact_gv AS BIGINT) AS err_cents,
  bucket_width_cents
FROM sk JOIN ex USING (pct)
ORDER BY pct
""",
    description="quantile-sketch accuracy audit — the order-statistics "
    "sibling of q132 (count-min) and q133 (HLL), and the batch twin "
    "of percentile_stream: a 64-bucket equi-width histogram sketch "
    "(the bounded MERGEABLE summary an engine keeps when value-grain "
    "state is too wide) estimates p25..p99 of the events value by "
    "within-bucket uniform interpolation, audited against the exact "
    "grid nearest-rank percentiles. Every step is integer arithmetic "
    "on the 1e-2 value grid (bucket ids, ceil-offsets and the "
    "interpolation all via integer DIV, never a float chain — exact "
    "in both engines at any n); the sketch's error is reported in "
    "cents next to its structural bound, the bucket width. State: "
    "grid-histogram grain for the exact side (domain-bounded), 64 "
    "rows for the sketch",
)
def q216(spark: SparkSession, sf_dir: str) -> DataFrame:
    B = 64
    ev = T(spark, sf_dir, "events")
    gh = (
        ev.select(
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("gv")
        )
        .filter(F.col("gv").isNotNull())
        .groupBy("gv")
        .agg(F.count("*").cast("long").alias("cnt"))
        .persist()  # three consumers: stats collect, exact cum, sketch
    )
    st = gh.agg(
        F.min("gv").alias("mn"), F.max("gv").alias("mx"), F.sum("cnt").alias("n")
    ).collect()[0]
    mn, mx, n = int(st["mn"]), int(st["mx"]), int(st["n"])
    span = mx - mn + 1
    p = spark.sql(
        "SELECT CAST(pct AS BIGINT) AS pct "
        "FROM (VALUES (25),(50),(75),(90),(99)) AS t(pct)"
    )
    wg = Window.orderBy("gv").rowsBetween(Window.unboundedPreceding, 0)
    cumv = gh.select(
        "gv", F.sum("cnt").over(wg).cast("long").alias("cum")
    )
    ex = (
        cumv.crossJoin(F.broadcast(p))
        .filter(F.col("cum") * F.lit(100) >= F.col("pct") * F.lit(n))
        .groupBy("pct")
        .agg(F.min("gv").cast("long").alias("exact_gv"))
    )
    bk = gh.groupBy(
        F.expr(f"((gv - {mn}) * {B}) div {span}").alias("b")
    ).agg(F.sum("cnt").cast("long").alias("bc"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    be = bk.select(
        "b",
        "bc",
        F.sum("bc").over(wb).cast("long").alias("cum"),
        F.expr(f"(b * {span} + {B - 1}) div {B}").alias("lo_off"),
        F.expr(f"((b + 1) * {span} + {B - 1}) div {B} - 1").alias(
            "hi_off"
        ),
    )
    sk = (
        be.crossJoin(F.broadcast(p))
        .filter(F.col("cum") * F.lit(100) >= F.col("pct") * F.lit(n))
        .withColumn("r", F.expr(f"(pct * {n} + 99) div 100"))
        .withColumn("pos", F.col("r") - (F.col("cum") - F.col("bc")) - 1)
        .withColumn("width", F.col("hi_off") - F.col("lo_off") + 1)
        .withColumn(
            "est_gv",
            F.lit(mn) + F.col("lo_off") + F.expr("(pos * width) div bc"),
        )
        .groupBy("pct")
        .agg(
            F.min_by("est_gv", "b").cast("long").alias("sketch_gv"),
            F.min_by("width", "b").cast("long").alias("bucket_width_cents"),
        )
    )
    return (
        sk.join(ex, "pct")
        .select(
            "pct",
            F.lit(n).cast("long").alias("n_total"),
            (F.col("exact_gv").cast("double") / F.lit(100.0)).alias(
                "exact_value"
            ),
            (F.col("sketch_gv").cast("double") / F.lit(100.0)).alias(
                "sketch_value"
            ),
            (F.col("sketch_gv") - F.col("exact_gv"))
            .cast("long")
            .alias("err_cents"),
            "bucket_width_cents",
        )
        .orderBy("pct")
    )


@q(
    "q217_js_divergence",
    oracle="""
WITH sl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
s AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sl GROUP BY 1),
l AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM sl GROUP BY 1),
t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sl),
grid AS (SELECT s.source, s.ns, l.lang, l.nl, t.n,
    COALESCE(sl.c, 0) AS c
  FROM s CROSS JOIN l CROSS JOIN t
  LEFT JOIN sl ON sl.source = s.source AND sl.lang = l.lang),
terms AS (SELECT source, ns,
    CASE WHEN c > 0 THEN (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
      * ln((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
           / ((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
               + CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0))
      ELSE 0.0 END AS tp,
    (CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))
      * ln((CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))
           / ((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
               + CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0))
      AS tq
  FROM grid)
SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
  floor((0.5 * sum(tp) + 0.5 * sum(tq)) * 1000000.0 + 0.5)
    / 1000000.0 AS jsd
FROM terms GROUP BY source ORDER BY source
""",
    description="Jensen-Shannon divergence between each source's "
    "language distribution and the corpus-wide language mix — the "
    "symmetric, bounded drift number (0..ln2 nats) a mixture "
    "designer watches per crawl slice: counts aggregate once to the "
    "bounded source x lang grid (zero-filled by a dimension cross "
    "join, so absent languages still contribute their KL(Q||M) "
    "mass), every cell term evaluates the identical parenthesized "
    "double tree in both engines, and the per-source sum runs over "
    "a languages-sized frame",
)
def q217(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = (
        T(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").cast("long").alias("c"))
        # bounded grid (sources x langs), five consumers
        .persist()
    )
    s = sl.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    l = sl.groupBy("lang").agg(F.sum("c").cast("long").alias("nl"))
    t = sl.agg(F.sum("c").cast("long").alias("n"))
    grid = (
        s.crossJoin(F.broadcast(l))
        .crossJoin(F.broadcast(t))
        .join(F.broadcast(sl), ["source", "lang"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    d = lambda c_: c_.cast("double")
    p = d(F.col("c")) / d(F.col("ns"))
    qd = d(F.col("nl")) / d(F.col("n"))
    m = (p + qd) / F.lit(2.0)
    terms = grid.select(
        "source",
        "ns",
        F.when(F.col("c") > 0, p * F.log(p / m))
        .otherwise(F.lit(0.0))
        .alias("tp"),
        (qd * F.log(qd / m)).alias("tq"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        terms.groupBy("source")
        .agg(
            F.max("ns").cast("long").alias("n_docs"),
            fl6(
                F.lit(0.5) * F.sum("tp") + F.lit(0.5) * F.sum("tq")
            ).alias("jsd"),
        )
        .orderBy("source")
    )


@q(
    "q218_kaplan_meier",
    oracle="""
WITH o AS (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS d
  FROM orders),
r AS (SELECT o_custkey, d, row_number() OVER (PARTITION BY o_custkey
      ORDER BY d, o_orderkey) AS rn FROM o),
per AS (SELECT o_custkey,
    min(CASE WHEN rn = 1 THEN d END) AS d1,
    min(CASE WHEN rn = 2 THEN d END) AS d2
  FROM r WHERE rn <= 2 GROUP BY 1),
mx AS (SELECT max(d) AS maxd FROM o),
dur AS (SELECT CAST(CASE WHEN d2 IS NOT NULL
      THEN date_diff('day', d1, d2)
      ELSE date_diff('day', d1, maxd) END AS BIGINT) AS t,
    CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS evt
  FROM per CROSS JOIN mx),
g AS (SELECT t, CAST(count(*) AS BIGINT) AS c_all,
    CAST(sum(evt) AS BIGINT) AS d_i FROM dur GROUP BY 1),
k AS (SELECT t, d_i,
    CAST(sum(c_all) OVER ()
      - COALESCE(sum(c_all) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS n_risk
  FROM g),
k2 AS (SELECT t, n_risk, d_i,
    sum(CASE WHEN d_i > 0 AND d_i < n_risk
        THEN CAST(floor(ln(CAST(n_risk - d_i AS DOUBLE)
            / CAST(n_risk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        ELSE 0 END) OVER (ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lcum,
    sum(CASE WHEN d_i > 0 AND d_i = n_risk THEN 1 ELSE 0 END)
      OVER (ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zcum
  FROM k)
SELECT t AS t_days, n_risk AS n_at_risk, d_i AS n_events,
  CASE WHEN zcum > 0 THEN 0.0
    ELSE floor(exp(CAST(lcum AS DOUBLE) / 1000000.0) * 1000000.0
         + 0.5) / 1000000.0 END AS survival
FROM k2 WHERE d_i > 0 ORDER BY t_days
""",
    description="Kaplan-Meier survival curve of customer repeat "
    "purchase — time-to-second-order in days, right-censored at the "
    "corpus horizon for one-order customers (the retention curve an "
    "experimenter reads before powering a churn test): per-customer "
    "first/second order dates come from ONE custkey-partitioned "
    "window over the fact scan (hashpartitioned, never global), the "
    "curve itself lives at the calendar-bounded distinct-duration "
    "grain (<= span-in-days rows at every SF), at-risk counts are "
    "exact integers from a prefix-sum complement, and the product "
    "S(t) = prod(1 - d_i/n_i) is evaluated order-free as exp of a "
    "cumulative sum of 1e-6-grid-snapped ln terms (the q212 "
    "convention) with an exact-zero flag once any factor hits 0",
)
def q218(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
    )
    wc = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    per = (
        o.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
        )
    )
    mx = o.agg(F.max("d").alias("maxd"))
    dur = per.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("d2").isNotNull(), F.datediff("d2", "d1")
        )
        .otherwise(F.datediff("maxd", "d1"))
        .cast("long")
        .alias("t"),
        F.when(F.col("d2").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("evt"),
    )
    # ONE aggregation to the duration grain; every window below runs
    # on this calendar-bounded frame (<= span-in-days rows), so the
    # fact scan happens exactly once
    g = dur.groupBy("t").agg(
        F.count("*").cast("long").alias("c_all"),
        F.sum("evt").cast("long").alias("d_i"),
    )
    wt = Window.orderBy("t")
    whole = Window.partitionBy()
    prev = F.coalesce(
        F.sum("c_all").over(
            wt.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    k = g.select(
        "t",
        "d_i",
        (F.sum("c_all").over(whole) - prev).cast("long").alias("n_risk"),
    )
    lterm = F.when(
        (F.col("d_i") > 0) & (F.col("d_i") < F.col("n_risk")),
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("d_i")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0))
    zterm = F.when(
        (F.col("d_i") > 0) & (F.col("d_i") == F.col("n_risk")),
        F.lit(1),
    ).otherwise(F.lit(0))
    cum = wt.rowsBetween(Window.unboundedPreceding, 0)
    k2 = k.select(
        "t",
        "n_risk",
        "d_i",
        F.sum(lterm).over(cum).alias("lcum"),
        F.sum(zterm).over(cum).alias("zcum"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        k2.filter(F.col("d_i") > 0)
        .select(
            F.col("t").alias("t_days"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d_i").alias("n_events"),
            F.when(F.col("zcum") > 0, F.lit(0.0))
            .otherwise(
                fl6(F.exp(F.col("lcum").cast("double") / F.lit(1e6)))
            )
            .alias("survival"),
        )
        .orderBy("t_days")
    )


@q(
    "q219_changepoint",
    oracle=f"""
WITH {_MONTH_CTE},
c AS (SELECT mi, rev,
    CAST(row_number() OVER (ORDER BY mi) AS BIGINT) AS k,
    CAST(sum(rev) OVER (ORDER BY mi
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS BIGINT) AS sl,
    CAST(count(*) OVER () AS BIGINT) AS n,
    CAST(sum(rev) OVER () AS BIGINT) AS stot,
    sum(CAST(rev AS HUGEINT) * rev) OVER () AS s2tot
  FROM m),
d AS (SELECT mi, k, n, sl, stot, s2tot,
    ((CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)) / CAST(k AS DOUBLE)
     + (CAST(stot - sl AS DOUBLE) * CAST(stot - sl AS DOUBLE))
       / CAST(n - k AS DOUBLE))
    - (CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
      / CAST(n AS DOUBLE) AS gain,
    CAST(s2tot AS DOUBLE)
    - (CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
      / CAST(n AS DOUBLE) AS sst
  FROM c WHERE k < n),
best AS (SELECT * FROM d ORDER BY gain DESC, mi LIMIT 1)
SELECT n AS n_months, mi AS split_mi, k AS left_months,
  floor(CAST(sl AS DOUBLE) / CAST(k AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS left_mean_cents,
  floor(CAST(stot - sl AS DOUBLE) / CAST(n - k AS DOUBLE)
    * 1000000.0 + 0.5) / 1000000.0 AS right_mean_cents,
  CASE WHEN sst <= 0.0 THEN 0.0
    ELSE floor(gain / sst * 1000000.0 + 0.5) / 1000000.0 END
    AS var_explained
FROM best
""",
    description="single change-point detection on monthly revenue "
    "(binary segmentation step 1, Scott-Knott/CUSUM family): the "
    "split k minimizing total within-segment SSE, found in closed "
    "form via gain(k) = S_l^2/k + S_r^2/(n-k) - S^2/n over prefix "
    "sums — ONE fact scan aggregates to the calendar-bounded month "
    "grain (the q199/q200 local relation), every candidate split is "
    "a row of a months-sized window frame, and all doubles derive "
    "from exact int64 cent sums through IEEE +,*,/ (deterministic "
    "across engines — no transcendentals), with sum(rev^2) carried "
    "as DECIMAL(38)/HUGEINT since cents-squared passes 2^63 at 10x; "
    "reported var_explained = gain/SST is the scale-free fraction "
    "of variance the split removes",
)
def q219(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _monthly_revenue_local(spark, sf_dir)
    wm = Window.orderBy("mi")
    whole = Window.partitionBy()
    cum = wm.rowsBetween(Window.unboundedPreceding, 0)
    dbl = lambda c_: c_.cast("double")
    c = m.select(
        "mi",
        "rev",
        F.row_number().over(wm).cast("long").alias("k"),
        F.sum("rev").over(cum).cast("long").alias("sl"),
        F.count("*").over(whole).cast("long").alias("n"),
        F.sum("rev").over(whole).cast("long").alias("stot"),
        F.sum(
            F.col("rev").cast("decimal(19,0)")
            * F.col("rev").cast("decimal(19,0)")
        )
        .over(whole)
        .alias("s2tot"),
    )
    sl, k, n, stot = F.col("sl"), F.col("k"), F.col("n"), F.col("stot")
    gain = (
        (dbl(sl) * dbl(sl)) / dbl(k)
        + (dbl(stot - sl) * dbl(stot - sl)) / dbl(n - k)
    ) - (dbl(stot) * dbl(stot)) / dbl(n)
    sst = F.col("s2tot").cast("double") - (dbl(stot) * dbl(stot)) / dbl(n)
    d = c.filter(k < n).select(
        "mi", "k", "n", "sl", "stot",
        gain.alias("gain"), sst.alias("sst"),
    )
    # argmax over the months-sized candidate frame: lexicographic
    # struct max on (gain, -mi) — mi is unique, so the winner is
    # total-ordered; every double here is bit-identical across
    # engines (exact-int inputs through IEEE ops only)
    best = d.agg(
        F.max(
            F.struct(
                F.col("gain").alias("g"),
                (-F.col("mi")).alias("negmi"),
                F.col("n").alias("n"),
                F.col("k").alias("k"),
                F.col("sl").alias("sl"),
                F.col("stot").alias("stot"),
                F.col("sst").alias("sst"),
            )
        ).alias("b")
    ).select("b.*")
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return best.select(
        F.col("n").alias("n_months"),
        (-F.col("negmi")).alias("split_mi"),
        F.col("k").alias("left_months"),
        fl6(dbl(F.col("sl")) / dbl(F.col("k"))).alias("left_mean_cents"),
        fl6(
            dbl(F.col("stot") - F.col("sl"))
            / dbl(F.col("n") - F.col("k"))
        ).alias("right_mean_cents"),
        F.when(F.col("sst") <= 0.0, F.lit(0.0))
        .otherwise(fl6(F.col("g") / F.col("sst")))
        .alias("var_explained"),
    )


@q(
    "q220_lexical_diversity",
    oracle=r"""
WITH wx AS (SELECT source,
    unnest(string_split_regex(trim(text), '\s+')) AS w
  FROM documents),
wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM wx WHERE w <> '' GROUP BY 1, 2),
per AS (SELECT source,
    CAST(sum(c) AS BIGINT) AS n_tokens,
    CAST(count(*) AS BIGINT) AS vocab,
    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
  FROM wc GROUP BY 1)
SELECT source, n_tokens, vocab, hapax,
  floor(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE)
    * 1000000.0 + 0.5) / 1000000.0 AS ttr,
  floor(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE)
    * 1000000.0 + 0.5) / 1000000.0 AS hapax_share,
  CASE WHEN n_tokens <= 1 THEN 0.0
    ELSE floor(ln(CAST(vocab AS DOUBLE))
      / ln(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5)
      / 1000000.0 END AS herdan_c
FROM per ORDER BY source
""",
    description="lexical-diversity profile per source — type-token "
    "ratio, hapax-legomenon share, and Herdan's C (ln V / ln N, the "
    "size-robust diversity exponent) — the quick template-vs-"
    "natural-text discriminator a curation pipeline reads per crawl "
    "slice (boilerplate farms show low TTR and hapax share at high "
    "volume): ONE pass explodes words to the (source, word) "
    "vocabulary grain, a single conditional aggregation derives all "
    "three counts, and the ratios snap to the 1e-6 grid",
)
def q220(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = (
        T(spark, sf_dir, "documents")
        .select("source", F.explode(tx._words(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per = wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("hapax"),
    )
    dbl = lambda c_: c_.cast("double")
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return per.select(
        "source",
        "n_tokens",
        "vocab",
        "hapax",
        fl6(dbl(F.col("vocab")) / dbl(F.col("n_tokens"))).alias("ttr"),
        fl6(dbl(F.col("hapax")) / dbl(F.col("vocab"))).alias(
            "hapax_share"
        ),
        F.when(F.col("n_tokens") <= 1, F.lit(0.0))
        .otherwise(
            fl6(
                F.log(dbl(F.col("vocab")))
                / F.log(dbl(F.col("n_tokens")))
            )
        )
        .alias("herdan_c"),
    ).orderBy("source")


@q(
    "q221_cramers_v",
    oracle="""
WITH cell AS (SELECT c_mktsegment AS seg,
    CAST(c_nationkey AS BIGINT) AS nk,
    CAST(count(*) AS BIGINT) AS c
  FROM customer GROUP BY 1, 2),
rowm AS (SELECT seg, CAST(sum(c) AS BIGINT) AS rc FROM cell
  GROUP BY 1),
colm AS (SELECT nk, CAST(sum(c) AS BIGINT) AS cc FROM cell
  GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cell),
grid AS (SELECT rowm.seg, rowm.rc, colm.nk, colm.cc, tot.n,
    COALESCE(cell.c, 0) AS o
  FROM rowm CROSS JOIN colm CROSS JOIN tot
  LEFT JOIN cell ON cell.seg = rowm.seg AND cell.nk = colm.nk),
terms AS (SELECT n,
    CAST(floor((CAST(o AS DOUBLE)
        - (CAST(rc AS DOUBLE) * CAST(cc AS DOUBLE))
          / CAST(n AS DOUBLE))
      * (CAST(o AS DOUBLE)
        - (CAST(rc AS DOUBLE) * CAST(cc AS DOUBLE))
          / CAST(n AS DOUBLE))
      / ((CAST(rc AS DOUBLE) * CAST(cc AS DOUBLE))
         / CAST(n AS DOUBLE))
      * 1000000.0 + 0.5) AS BIGINT) AS tmic
  FROM grid),
s AS (SELECT CAST(max(n) AS BIGINT) AS n,
    CAST(count(*) AS BIGINT) AS cells,
    (SELECT CAST(count(*) AS BIGINT) FROM rowm) AS r,
    (SELECT CAST(count(*) AS BIGINT) FROM colm) AS c,
    CAST(sum(tmic) AS BIGINT) AS chimic
  FROM terms)
SELECT n AS n_customers, r AS r_levels, c AS c_levels,
  CAST(chimic AS DOUBLE) / 1000000.0 AS chi2,
  floor(sqrt((CAST(chimic AS DOUBLE) / 1000000.0)
      / CAST(n AS DOUBLE)
      / CAST(CASE WHEN r - 1 < c - 1 THEN r - 1 ELSE c - 1 END
             AS DOUBLE))
    * 1000000.0 + 0.5) / 1000000.0 AS cramers_v,
  floor(sqrt(
      (CASE WHEN (CAST(chimic AS DOUBLE) / 1000000.0)
          / CAST(n AS DOUBLE)
          - (CAST(r - 1 AS DOUBLE) * CAST(c - 1 AS DOUBLE))
            / CAST(n - 1 AS DOUBLE) > 0.0
        THEN (CAST(chimic AS DOUBLE) / 1000000.0)
          / CAST(n AS DOUBLE)
          - (CAST(r - 1 AS DOUBLE) * CAST(c - 1 AS DOUBLE))
            / CAST(n - 1 AS DOUBLE)
        ELSE 0.0 END)
      / (CASE WHEN
          CAST(r AS DOUBLE) - (CAST(r - 1 AS DOUBLE)
            * CAST(r - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE) - 1.0
          < CAST(c AS DOUBLE) - (CAST(c - 1 AS DOUBLE)
            * CAST(c - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE) - 1.0
        THEN CAST(r AS DOUBLE) - (CAST(r - 1 AS DOUBLE)
            * CAST(r - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE) - 1.0
        ELSE CAST(c AS DOUBLE) - (CAST(c - 1 AS DOUBLE)
            * CAST(c - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE) - 1.0
        END))
    * 1000000.0 + 0.5) / 1000000.0 AS cramers_v_corrected
FROM s
""",
    description="Cramer's V association between market segment and "
    "nation (plain and Bergsma 2013 bias-corrected) — the effect-"
    "size companion to q194's chi-square (is the association LARGE, "
    "not just significant — bias correction matters exactly when a "
    "pipeline compares tables of different dimensions): counts "
    "aggregate once to the bounded segment x nation grid, absent "
    "cells are zero-filled via a marginal cross join (they still "
    "contribute their expected mass), each cell's (O-E)^2/E snaps "
    "to the 1e-6 grid BEFORE the grid-sized sum (order-free integer "
    "micro-units), and the closing sqrt is a correctly-rounded IEEE "
    "op on identical doubles",
)
def q221(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = (
        T(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").cast("long").alias("nk"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        # bounded grid (segments x nations), four consumers
        .persist()
    )
    rowm = cell.groupBy("seg").agg(F.sum("c").cast("long").alias("rc"))
    colm = cell.groupBy("nk").agg(F.sum("c").cast("long").alias("cc"))
    tot = cell.agg(F.sum("c").cast("long").alias("n"))
    grid = (
        rowm.crossJoin(F.broadcast(colm))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(cell), ["seg", "nk"], "left")
        .withColumn("o", F.coalesce(F.col("c"), F.lit(0)))
    )
    dbl = lambda c_: c_.cast("double")
    e = (dbl(F.col("rc")) * dbl(F.col("cc"))) / dbl(F.col("n"))
    tmic = F.floor(
        (dbl(F.col("o")) - e) * (dbl(F.col("o")) - e) / e
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    s = grid.select("n", tmic.alias("tmic"), "seg", "nk").agg(
        F.max("n").cast("long").alias("n"),
        F.countDistinct("seg").cast("long").alias("r"),
        F.countDistinct("nk").cast("long").alias("c"),
        F.sum("tmic").cast("long").alias("chimic"),
    )
    chi2 = F.col("chimic").cast("double") / F.lit(1e6)
    n, r, c = F.col("n"), F.col("r"), F.col("c")
    phi2 = chi2 / dbl(n)
    phi2c = F.when(
        phi2 - (dbl(r - 1) * dbl(c - 1)) / dbl(n - 1) > 0.0,
        phi2 - (dbl(r - 1) * dbl(c - 1)) / dbl(n - 1),
    ).otherwise(F.lit(0.0))
    rcorr = dbl(r) - (dbl(r - 1) * dbl(r - 1)) / dbl(n - 1) - F.lit(1.0)
    ccorr = dbl(c) - (dbl(c - 1) * dbl(c - 1)) / dbl(n - 1) - F.lit(1.0)
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("r").alias("r_levels"),
        F.col("c").alias("c_levels"),
        chi2.alias("chi2"),
        fl6(
            F.sqrt(
                phi2
                / dbl(
                    F.when(r - 1 < c - 1, r - 1).otherwise(c - 1)
                )
            )
        ).alias("cramers_v"),
        fl6(
            F.sqrt(
                phi2c
                / F.when(rcorr < ccorr, rcorr).otherwise(ccorr)
            )
        ).alias("cramers_v_corrected"),
    )


@q(
    "q222_neyman_allocation",
    oracle="""
WITH o AS (SELECT o_custkey,
    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders),
st AS (SELECT CAST(c_nationkey AS BIGINT) AS nk,
    CAST(count(*) AS BIGINT) AS nh,
    CAST(sum(cents) AS BIGINT) AS s1,
    sum(CAST(cents AS HUGEINT) * cents) AS s2
  FROM o JOIN customer ON o.o_custkey = customer.c_custkey
  GROUP BY 1),
sd AS (SELECT nk, nh,
    CAST(floor(sqrt(
        CASE WHEN nh > 1 AND
          (CAST(s2 AS DOUBLE)
           - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / CAST(nh AS DOUBLE)) / CAST(nh - 1 AS DOUBLE) > 0.0
        THEN (CAST(s2 AS DOUBLE)
           - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / CAST(nh AS DOUBLE)) / CAST(nh - 1 AS DOUBLE)
        ELSE 0.0 END) * 100.0 + 0.5) AS BIGINT) AS sdc
  FROM st),
w AS (SELECT nk, nh, sdc, nh * sdc AS wh,
    CAST(sum(nh * sdc) OVER () AS BIGINT) AS tot
  FROM sd),
a AS (SELECT nk, nh, sdc, wh, tot,
    CASE WHEN tot = 0 THEN 0
      ELSE (1000 * wh) // tot END AS af,
    CASE WHEN tot = 0 THEN 0
      ELSE 1000 * wh - ((1000 * wh) // tot) * tot END AS rem
  FROM w),
rk AS (SELECT nk, nh, sdc, af, rem,
    CAST(row_number() OVER (ORDER BY rem DESC, nk) AS BIGINT) AS rnk,
    CAST(1000 - sum(af) OVER () AS BIGINT) AS deficit
  FROM a)
SELECT n_name, nh AS n_orders,
  CAST(sdc AS DOUBLE) / 100.0 AS sd_cents,
  CAST(af + CASE WHEN rnk <= deficit THEN 1 ELSE 0 END
    AS BIGINT) AS alloc
FROM rk JOIN nation ON nation.n_nationkey = rk.nk
ORDER BY n_name
""",
    description="Neyman-optimal stratified-sample allocation of a "
    "1000-order audit budget across nation strata (n_h proportional "
    "to N_h * S_h — the variance-minimizing design a data-quality "
    "team uses to size per-slice review quotas): ONE fact scan "
    "aggregates order totals to the nation grain with exact int64 "
    "cent sums and DECIMAL(38)/HUGEINT sums of squares (cents^2 "
    "passes 2^63 at 10x), the per-stratum stddev snaps to the 0.01-"
    "cent grid so every downstream weight is an exact integer, and "
    "the largest-remainder apportionment (floor quotas + top-"
    "remainder top-up, exact integer remainders, nationkey tie-"
    "break) runs as windows over the nations-sized frame and sums "
    "to the budget EXACTLY; the 100 TB path widens weights to "
    "DECIMAL",
)
def q222(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cust = T(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("nk")
    )
    st = (
        o.join(cust, o["o_custkey"] == cust["c_custkey"])
        .groupBy("nk")
        .agg(
            F.count("*").cast("long").alias("nh"),
            F.sum("cents").cast("long").alias("s1"),
            F.sum(
                F.col("cents").cast("decimal(19,0)")
                * F.col("cents").cast("decimal(19,0)")
            ).alias("s2"),
        )
    )
    dbl = lambda c_: c_.cast("double")
    var = (
        dbl(F.col("s2"))
        - (dbl(F.col("s1")) * dbl(F.col("s1"))) / dbl(F.col("nh"))
    ) / dbl(F.col("nh") - 1)
    sd = st.select(
        "nk",
        "nh",
        F.floor(
            F.sqrt(
                F.when((F.col("nh") > 1) & (var > 0.0), var).otherwise(
                    F.lit(0.0)
                )
            )
            * F.lit(100.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sdc"),
    )
    whole = Window.partitionBy()
    w = sd.select(
        "nk",
        "nh",
        "sdc",
        (F.col("nh") * F.col("sdc")).alias("wh"),
        F.sum(F.col("nh") * F.col("sdc"))
        .over(whole)
        .cast("long")
        .alias("tot"),
    )
    af = F.when(F.col("tot") == 0, F.lit(0)).otherwise(
        F.expr("(1000 * wh) DIV tot")
    )
    rem = F.when(F.col("tot") == 0, F.lit(0)).otherwise(
        F.lit(1000) * F.col("wh")
        - F.expr("(1000 * wh) DIV tot") * F.col("tot")
    )
    a = w.select(
        "nk", "nh", "sdc", af.alias("af"), rem.alias("rem")
    )
    rk = a.select(
        "nk",
        "nh",
        "sdc",
        "af",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.asc("nk")))
        .cast("long")
        .alias("rnk"),
        (F.lit(1000) - F.sum("af").over(whole))
        .cast("long")
        .alias("deficit"),
    )
    nat = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("nk"), "n_name"
    )
    return (
        rk.join(F.broadcast(nat), "nk")
        .select(
            "n_name",
            F.col("nh").alias("n_orders"),
            (F.col("sdc").cast("double") / F.lit(100.0)).alias(
                "sd_cents"
            ),
            (
                F.col("af")
                + F.when(F.col("rnk") <= F.col("deficit"), F.lit(1))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("alloc"),
        )
        .orderBy("n_name")
    )


@q(
    "q223_welch_ttest",
    oracle="""
WITH g AS (SELECT o_orderpriority AS grp,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      AS BIGINT) AS s1,
    sum(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        AS HUGEINT)
      * CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS s2
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY 1),
m AS (SELECT grp, n,
    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
    (CAST(s2 AS DOUBLE)
     - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n AS DOUBLE))
    / CAST(n - 1 AS DOUBLE) AS var
  FROM g),
w AS (SELECT
    a.n AS n1, b.n AS n2, a.mean AS m1, b.mean AS m2,
    a.var / CAST(a.n AS DOUBLE) AS se1,
    b.var / CAST(b.n AS DOUBLE) AS se2
  FROM m a CROSS JOIN m b
  WHERE a.grp = '1-URGENT' AND b.grp = '5-LOW')
SELECT n1, n2,
  floor(m1 * 1000000.0 + 0.5) / 1000000.0 AS mean1_cents,
  floor(m2 * 1000000.0 + 0.5) / 1000000.0 AS mean2_cents,
  floor((m1 - m2) / sqrt(se1 + se2) * 1000000.0 + 0.5)
    / 1000000.0 AS t_stat,
  floor(((se1 + se2) * (se1 + se2))
    / ((se1 * se1) / CAST(n1 - 1 AS DOUBLE)
       + (se2 * se2) / CAST(n2 - 1 AS DOUBLE))
    * 1000000.0 + 0.5) / 1000000.0 AS welch_df
FROM w
""",
    description="Welch's unequal-variance t-test comparing mean "
    "order value between URGENT and LOW priority orders — the "
    "default two-sample test an experimenter runs on skewed spend "
    "metrics (Welch 1947; no equal-variance assumption), with the "
    "Welch-Satterthwaite effective degrees of freedom: ONE filtered "
    "fact scan aggregates both groups' exact moments (int64 cent "
    "sums, DECIMAL(38)/HUGEINT sums of squares that pass 2^63 at "
    "10x), and every downstream double derives from those exact "
    "integers through IEEE +,*,/,sqrt only — deterministic across "
    "engines before the 1e-6 snap",
)
def q223(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.floor(
        F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    low = F.col("o_orderpriority") == "5-LOW"
    zl = F.lit(0).cast("long")
    zd = F.lit(0).cast("decimal(19,0)")
    csq = cents.cast("decimal(19,0)") * cents.cast("decimal(19,0)")
    # ONE filtered fact scan, ONE conditional aggregation for both
    # groups' exact moments (the q190 two-scan shape collapsed)
    g = (
        T(spark, sf_dir, "orders")
        .filter(urgent | low)
        .agg(
            F.sum(F.when(urgent, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n1"),
            F.sum(F.when(low, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n2"),
            F.sum(F.when(urgent, cents).otherwise(zl))
            .cast("long")
            .alias("s1a"),
            F.sum(F.when(low, cents).otherwise(zl))
            .cast("long")
            .alias("s1b"),
            F.sum(F.when(urgent, csq).otherwise(zd)).alias("s2a"),
            F.sum(F.when(low, csq).otherwise(zd)).alias("s2b"),
        )
    )
    dbl = lambda c_: c_.cast("double")
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = dbl(F.col("s1a")) / dbl(n1)
    m2 = dbl(F.col("s1b")) / dbl(n2)
    v1 = (
        dbl(F.col("s2a")) - (dbl(F.col("s1a")) * dbl(F.col("s1a"))) / dbl(n1)
    ) / dbl(n1 - 1)
    v2 = (
        dbl(F.col("s2b")) - (dbl(F.col("s1b")) * dbl(F.col("s1b"))) / dbl(n2)
    ) / dbl(n2 - 1)
    w = g.select(
        "n1",
        "n2",
        m1.alias("m1"),
        m2.alias("m2"),
        (v1 / dbl(n1)).alias("se1"),
        (v2 / dbl(n2)).alias("se2"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    se1, se2 = F.col("se1"), F.col("se2")
    return w.select(
        "n1",
        "n2",
        fl6(F.col("m1")).alias("mean1_cents"),
        fl6(F.col("m2")).alias("mean2_cents"),
        fl6(
            (F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)
        ).alias("t_stat"),
        fl6(
            ((se1 + se2) * (se1 + se2))
            / (
                (se1 * se1) / dbl(F.col("n1") - 1)
                + (se2 * se2) / dbl(F.col("n2") - 1)
            )
        ).alias("welch_df"),
    )


@q(
    "q224_runs_test",
    oracle=f"""
WITH {_MONTH_CTE},
o AS (SELECT mi, rev,
    CAST(row_number() OVER (ORDER BY rev, mi) AS BIGINT) AS rr,
    CAST(count(*) OVER () AS BIGINT) AS n FROM m),
med AS (SELECT rev AS medv FROM o
  WHERE rr = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)),
s AS (SELECT mi, CASE WHEN rev > medv THEN 1 ELSE -1 END AS sgn
  FROM m CROSS JOIN med WHERE rev <> medv),
r AS (SELECT sgn,
    CASE WHEN lag(sgn) OVER (ORDER BY mi) IS NULL
      OR lag(sgn) OVER (ORDER BY mi) <> sgn THEN 1 ELSE 0 END
      AS newrun
  FROM s),
c AS (SELECT
    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(newrun) AS BIGINT) AS runs
  FROM r)
SELECT n1, n2, runs,
  floor((CAST(runs AS DOUBLE)
    - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
       / CAST(n1 + n2 AS DOUBLE) + 1.0))
    / sqrt((2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
           - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE)))
      / ((CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
         * CAST(n1 + n2 - 1 AS DOUBLE)))
    * 1000000.0 + 0.5) / 1000000.0 AS z_stat
FROM c
""",
    description="Wald-Wolfowitz runs test for randomness of monthly "
    "revenue around its median — the is-this-series-random check "
    "that catches both trend AND oscillation (too few runs = "
    "momentum, too many = mean reversion; complements q199's "
    "monotone-trend-only Mann-Kendall): the nearest-rank median, "
    "the above/below signs (ties dropped, the classic convention), "
    "the lag-based run counter, and the normal approximation all "
    "run on the calendar-bounded month literal — ONE fact scan, "
    "exact integer run counts, IEEE-only doubles",
)
def q224(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _monthly_revenue_local(spark, sf_dir)
    wr = Window.orderBy("rev", "mi")
    whole = Window.partitionBy()
    o = m.select(
        "mi",
        "rev",
        F.row_number().over(wr).cast("long").alias("rr"),
        F.count("*").over(whole).cast("long").alias("n"),
    )
    med = o.filter(
        F.col("rr")
        == F.ceil(F.col("n").cast("double") / F.lit(2.0)).cast("long")
    ).select(F.col("rev").alias("medv"))
    s = (
        m.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("medv"))
        .select(
            "mi",
            F.when(F.col("rev") > F.col("medv"), F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
    )
    lg = F.lag("sgn").over(Window.orderBy("mi"))
    r = s.select(
        "sgn",
        F.when(lg.isNull() | (lg != F.col("sgn")), F.lit(1))
        .otherwise(F.lit(0))
        .alias("newrun"),
    )
    c = r.agg(
        F.sum(F.when(F.col("sgn") == 1, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("sgn") == -1, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n2"),
        F.sum("newrun").cast("long").alias("runs"),
    )
    dbl = lambda c_: c_.cast("double")
    n1, n2 = F.col("n1"), F.col("n2")
    mu = (
        F.lit(2.0) * dbl(n1) * dbl(n2) / dbl(n1 + n2) + F.lit(1.0)
    )
    var = (
        F.lit(2.0)
        * dbl(n1)
        * dbl(n2)
        * (F.lit(2.0) * dbl(n1) * dbl(n2) - dbl(n1) - dbl(n2))
    ) / ((dbl(n1 + n2) * dbl(n1 + n2)) * dbl(n1 + n2 - 1))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return c.select(
        "n1",
        "n2",
        "runs",
        fl6((dbl(F.col("runs")) - mu) / F.sqrt(var)).alias("z_stat"),
    )


@q(
    "q225_hhi_concentration",
    oracle="""
WITH li AS (SELECT l_suppkey,
    CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5)
      AS BIGINT) AS cents
  FROM lineitem),
sup AS (SELECT l.l_suppkey,
    CAST(s.s_nationkey AS BIGINT) AS nk,
    CAST(sum(l.cents) AS BIGINT) AS srev
  FROM li l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2),
agg AS (SELECT nk,
    CAST(count(*) AS BIGINT) AS n_suppliers,
    CAST(sum(srev) AS BIGINT) AS tot,
    sum(CAST(srev AS HUGEINT) * srev) AS sumsq
  FROM sup GROUP BY 1)
SELECT n.n_name, a.n_suppliers,
  a.tot AS revenue_cents,
  floor(CAST(a.sumsq AS DOUBLE)
    / (CAST(a.tot AS DOUBLE) * CAST(a.tot AS DOUBLE))
    * 1000000.0 + 0.5) / 1000000.0 AS hhi,
  floor((CAST(a.tot AS DOUBLE) * CAST(a.tot AS DOUBLE))
    / CAST(a.sumsq AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
    AS effective_suppliers
FROM agg a JOIN nation n ON n.n_nationkey = a.nk
ORDER BY n.n_name
""",
    description="Herfindahl-Hirschman supply concentration per "
    "nation — sum of squared revenue shares across each nation's "
    "suppliers, plus the inverse-Simpson 'effective supplier count' "
    "(the antitrust/market-structure number; for a data pipeline, "
    "the how-concentrated-is-this-slice-on-few-providers audit): "
    "per-line revenue snaps to exact cents at the scan, aggregates "
    "to supplier grain then nation grain, and HHI evaluates as ONE "
    "division of exact integer moments — sum(s_i^2)/S^2 with "
    "DECIMAL(38)/HUGEINT squares — so no per-share double ever "
    "enters a data-sized sum; supplier dim joins broadcast",
)
def q225(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.floor(
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    li = T(spark, sf_dir, "lineitem").select(
        "l_suppkey", cents.alias("cents")
    )
    sup = T(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").cast("long").alias("nk")
    )
    srev = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("l_suppkey", "nk")
        .agg(F.sum("cents").cast("long").alias("srev"))
    )
    agg = srev.groupBy("nk").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("srev").cast("long").alias("tot"),
        F.sum(
            F.col("srev").cast("decimal(19,0)")
            * F.col("srev").cast("decimal(19,0)")
        ).alias("sumsq"),
    )
    nat = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("nk"), "n_name"
    )
    dbl = lambda c_: c_.cast("double")
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        agg.join(F.broadcast(nat), "nk")
        .select(
            "n_name",
            "n_suppliers",
            F.col("tot").alias("revenue_cents"),
            fl6(
                dbl(F.col("sumsq"))
                / (dbl(F.col("tot")) * dbl(F.col("tot")))
            ).alias("hhi"),
            fl6(
                (dbl(F.col("tot")) * dbl(F.col("tot")))
                / dbl(F.col("sumsq"))
            ).alias("effective_suppliers"),
        )
        .orderBy("n_name")
    )


@q(
    "q226_durbin_watson",
    oracle=f"""
WITH {_MONTH_CTE},
s AS (SELECT
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(mi) AS BIGINT) AS sx,
    CAST(sum(rev) AS BIGINT) AS sy,
    CAST(sum(mi * mi) AS BIGINT) AS sxx,
    CAST(sum(mi * rev) AS BIGINT) AS sxy
  FROM m),
fit AS (SELECT n,
    CAST(CAST(n AS HUGEINT) * sxy
         - CAST(sx AS HUGEINT) * sy AS DOUBLE)
    / CAST(CAST(n AS HUGEINT) * sxx
           - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS slope,
    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
  FROM s),
e AS (SELECT mi,
    CAST(floor((CAST(rev AS DOUBLE)
      - (ybar + slope * (CAST(mi AS DOUBLE) - xbar))) + 0.5)
      AS BIGINT) AS eic
  FROM m CROSS JOIN fit),
t AS (SELECT
    CAST(eic AS HUGEINT) * eic AS den_i,
    CASE WHEN lag(eic) OVER (ORDER BY mi) IS NULL
      THEN CAST(0 AS HUGEINT)
      ELSE CAST(eic - lag(eic) OVER (ORDER BY mi) AS HUGEINT)
        * (eic - lag(eic) OVER (ORDER BY mi))
      END AS num_i
  FROM e),
c AS (SELECT sum(num_i) AS num, sum(den_i) AS den FROM t)
SELECT (SELECT n FROM fit) AS n_months,
  floor((SELECT slope FROM fit) * 1000000.0 + 0.5) / 1000000.0
    AS ols_slope,
  CASE WHEN CAST(den AS DOUBLE) <= 0.0 THEN 0.0
    ELSE floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
      * 1000000.0 + 0.5) / 1000000.0 END AS dw_stat
FROM c
""",
    description="Durbin-Watson serial-correlation statistic of the "
    "residuals around the OLS monthly-revenue trend — the "
    "regression diagnostic that says whether a fitted growth line "
    "can be trusted (DW near 2 = independent residuals, near 0 = "
    "momentum the line missed, near 4 = oscillation): the OLS fit "
    "is closed-form with its numerator and denominator held as "
    "EXACT integers (the double-chain form diverges between engines "
    "at the 11th digit once n*sxy passes 2^53 — measured), "
    "residuals snap to the integer cent grid on the month literal, "
    "and the quadratic forms are exact integer squares in "
    "DECIMAL(38)/HUGEINT (ei^2 passes 2^63 at sf0.01 already, where "
    "Spark's floor(double) silently SATURATES at long max) — the "
    "80-row sums are order-free by construction",
)
def q226(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _monthly_revenue_local(spark, sf_dir)
    s = m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("mi").cast("long").alias("sx"),
        F.sum("rev").cast("long").alias("sy"),
        F.sum(F.col("mi") * F.col("mi")).cast("long").alias("sxx"),
        F.sum(F.col("mi") * F.col("rev")).cast("long").alias("sxy"),
    )
    dbl = lambda c_: c_.cast("double")
    dec = lambda c_: c_.cast("decimal(19,0)")
    # slope numerator/denominator stay EXACT integers (n*sxy passes
    # 2^53, where the double-chain forms diverge between engines at
    # the 11th digit — measured); one division of exact ints is the
    # only rounding
    fit = s.select(
        "n",
        (
            (dec(F.col("n")) * dec(F.col("sxy"))
             - dec(F.col("sx")) * dec(F.col("sy"))).cast("double")
            / (dec(F.col("n")) * dec(F.col("sxx"))
               - dec(F.col("sx")) * dec(F.col("sx"))).cast("double")
        ).alias("slope"),
        (dbl(F.col("sy")) / dbl(F.col("n"))).alias("ybar"),
        (dbl(F.col("sx")) / dbl(F.col("n"))).alias("xbar"),
    )
    # residuals snap to the integer cent grid BEFORE the quadratic
    # forms: ei^2 passes 2^63 at sf0.01 already, and Spark's
    # floor(double) SATURATES at long max rather than erroring —
    # exact integer squares in DECIMAL/HUGEINT sidestep both that
    # and any big-double floor disagreement
    eic = F.floor(
        dbl(F.col("rev"))
        - (
            F.col("ybar")
            + F.col("slope") * (dbl(F.col("mi")) - F.col("xbar"))
        )
        + F.lit(0.5)
    ).cast("long")
    e = m.crossJoin(F.broadcast(fit)).select(
        "mi", "n", "slope", eic.alias("eic")
    )
    lg = F.lag("eic").over(Window.orderBy("mi"))
    dec38 = lambda c_: c_.cast("decimal(19,0)")
    t = e.select(
        "n",
        "slope",
        (dec38(F.col("eic")) * dec38(F.col("eic"))).alias("den_i"),
        F.when(lg.isNull(), F.lit(0).cast("decimal(38,0)"))
        .otherwise(
            dec38(F.col("eic") - lg) * dec38(F.col("eic") - lg)
        )
        .alias("num_i"),
    )
    c = t.agg(
        F.max("n").alias("n"),
        F.max("slope").alias("slope"),
        F.sum("num_i").alias("num"),
        F.sum("den_i").alias("den"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return c.select(
        F.col("n").alias("n_months"),
        fl6(F.col("slope")).alias("ols_slope"),
        F.when(dbl(F.col("den")) <= 0.0, F.lit(0.0))
        .otherwise(fl6(dbl(F.col("num")) / dbl(F.col("den"))))
        .alias("dw_stat"),
    )


@q(
    "q227_source_profile_cosine",
    oracle=r"""
WITH wx AS (SELECT source,
    unnest(string_split_regex(trim(text), '\s+')) AS w
  FROM documents),
wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM wx WHERE w <> '' GROUP BY 1, 2),
nrm AS (SELECT source, sum(CAST(c AS HUGEINT) * c) AS n2
  FROM wc GROUP BY 1),
dots AS (SELECT a.source AS s1, b.source AS s2,
    sum(CAST(a.c AS HUGEINT) * b.c) AS dot
  FROM wc a JOIN wc b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2)
SELECT d.s1, d.s2,
  floor(CAST(d.dot AS DOUBLE)
    / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
    * 1000000.0 + 0.5) / 1000000.0 AS cosine
FROM dots d
JOIN nrm x ON x.source = d.s1
JOIN nrm y ON y.source = d.s2
ORDER BY d.s1, d.s2
""",
    description="pairwise cosine similarity between source unigram "
    "profiles — which crawl slices speak the same language, the "
    "mixture-design complement to q217's source-vs-corpus "
    "divergence (pairwise structure finds CLUSTERS of redundant "
    "sources, not just outliers): word counts aggregate once to the "
    "(source, word) vocabulary grain and PERSIST for both consumers "
    "(norms, dot products); dot products come from a vocabulary-"
    "grain self-join on the word key (each word fans out to at most "
    "sources-choose-2 pairs, never doc-sized), with exact integer "
    "count products in DECIMAL(38)/HUGEINT; output is the bounded "
    "sources^2 triangle",
)
def q227(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = (
        T(spark, sf_dir, "documents")
        .select("source", F.explode(tx._words(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
        # vocabulary-grain frame, two consumers (norms, self-join)
        .persist()
    )
    nrm = wc.groupBy("source").agg(
        F.sum(
            F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
        ).alias("n2")
    )
    a = wc.select(
        F.col("source").alias("s1"), "w", F.col("c").alias("ca")
    )
    b = wc.select(
        F.col("source").alias("s2"), "w", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, ["w"])
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.sum(
                F.col("ca").cast("decimal(19,0)")
                * F.col("cb").cast("decimal(19,0)")
            ).alias("dot")
        )
    )
    dbl = lambda c_: c_.cast("double")
    x = nrm.select(F.col("source").alias("s1"), F.col("n2").alias("n2a"))
    y = nrm.select(F.col("source").alias("s2"), F.col("n2").alias("n2b"))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        dots.join(F.broadcast(x), "s1")
        .join(F.broadcast(y), "s2")
        .select(
            "s1",
            "s2",
            fl6(
                dbl(F.col("dot"))
                / (F.sqrt(dbl(F.col("n2a"))) * F.sqrt(dbl(F.col("n2b"))))
            ).alias("cosine"),
        )
        .orderBy("s1", "s2")
    )


# =====================================================================
# round-10 cohort: forensic / drift / time-series / profiling
# operators (q216, q229+) — the audit layer a training-data pipeline runs
# over its fact and document tables. Exactness follows the house
# conventions: integer grids before any data-sized sum, literal
# constants embedded from ONE python computation into both engines,
# one double expression tree at the end, 1e-6 floor-rounded outputs.
# =====================================================================

@q(
    "q229_psi_drift",
    oracle=f"""
WITH ev AS ({_EV}),
v AS (SELECT CAST(least(floor(value / 60.0), 9) AS BIGINT) AS bin,
             CAST(ts AS DATE) <= DATE '2024-01-15' AS first_half
      FROM ev WHERE value IS NOT NULL),
ca AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_a FROM v
       WHERE first_half GROUP BY 1),
cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_b FROM v
       WHERE NOT first_half GROUP BY 1),
bins AS (SELECT CAST(b AS BIGINT) AS bin
         FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)) t(b)),
j AS (SELECT bin, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
      FROM bins LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)),
t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
             CAST(sum(n_b) AS BIGINT) AS tb FROM j)
SELECT bin, n_a, n_b,
  floor(((CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE))
         - (CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE)))
        * ln((CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE))
             / (CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE)))
        * 1000000.0 + 0.5) / 1000000.0 AS psi_contrib
FROM j CROSS JOIN t ORDER BY bin
""",
    description="population stability index (PSI) drift audit — the "
    "standard production monitor for NUMERIC feature/score drift (the "
    "value-binned form; q116 is the categorical-mix PSI) between a "
    "reference and a current window (PSI > 0.2 is the conventional "
    "retrain trigger): events split at a fixed mid-month cut, values "
    "binned on a FIXED literal grid (width-60 over [0,600], so bins "
    "are data-independent and mergeable across runs), add-1 smoothed "
    "so empty cells stay finite, one (p-q)ln(p/q) term per bin from "
    "exact integer counts in one double tree. Zero-count bins are "
    "rebuilt from a 10-row literal roster (the q194 zero-cell "
    "discipline); per-bin rows out, total PSI = their sum",
)
def q229(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        F.least(F.floor(F.col("value") / F.lit(60.0)), F.lit(9))
        .cast("long")
        .alias("bin"),
        (F.to_date("ts") <= F.lit("2024-01-15")).alias("first_half"),
    )
    ca = (
        v.filter("first_half")
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_a"))
    )
    cb = (
        v.filter(~F.col("first_half"))
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_b"))
    )
    bins = spark.sql(
        "SELECT CAST(b AS BIGINT) AS bin FROM (VALUES "
        + ",".join(f"({i})" for i in range(10))
        + ") t(b)"
    )
    j = (
        bins.join(ca, "bin", "left")
        .join(cb, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    t = j.agg(
        F.sum("n_a").cast("long").alias("ta"),
        F.sum("n_b").cast("long").alias("tb"),
    )
    pa = (F.col("n_a") + F.lit(1)).cast("double") / (
        F.col("ta") + F.lit(10)
    ).cast("double")
    pb = (F.col("n_b") + F.lit(1)).cast("double") / (
        F.col("tb") + F.lit(10)
    ).cast("double")
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        j.crossJoin(F.broadcast(t))
        .select(
            "bin", "n_a", "n_b",
            fl6((pa - pb) * F.log(pa / pb)).alias("psi_contrib"),
        )
        .orderBy("bin")
    )


@q(
    "q230_ohlc_bars",
    oracle=f"""
WITH ev AS ({_EV}),
g AS (SELECT CAST(ts AS DATE) AS day, event_type,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS gv,
        ts, event_id
      FROM ev WHERE value IS NOT NULL),
r AS (SELECT day, event_type, gv,
        row_number() OVER (PARTITION BY day, event_type
                           ORDER BY ts, event_id) AS ra,
        row_number() OVER (PARTITION BY day, event_type
                           ORDER BY ts DESC, event_id DESC) AS rd
      FROM g)
SELECT day, event_type,
  CAST(max(CASE WHEN ra = 1 THEN gv END) AS DOUBLE) / 100.0 AS open,
  CAST(max(gv) AS DOUBLE) / 100.0 AS high,
  CAST(min(gv) AS DOUBLE) / 100.0 AS low,
  CAST(max(CASE WHEN rd = 1 THEN gv END) AS DOUBLE) / 100.0 AS close,
  CAST(count(*) AS BIGINT) AS n_events
FROM r GROUP BY 1, 2 ORDER BY 1, 2
""",
    description="OHLC bars (open/high/low/close + volume) per "
    "(day, event_type) — the standard downsampling shape for any "
    "metric stream (the reference's TSDB role aggregated to bar "
    "granularity): open/close via (ts, event_id)-ordered "
    "row_number windows PARTITIONED by the bar key "
    "(hash-partitioned, parallel — never a global sort), values on "
    "the exact cent grid, the total (ts, event_id) order making "
    "equal-timestamp bars deterministic cross-engine",
)
def q230(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("gv"),
        "ts",
        "event_id",
    )
    wa = Window.partitionBy("day", "event_type").orderBy("ts", "event_id")
    wd = Window.partitionBy("day", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    r = g.select(
        "day", "event_type", "gv",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
    )
    dbl = lambda c_: c_.cast("double") / F.lit(100.0)
    return (
        r.groupBy("day", "event_type")
        .agg(
            dbl(F.max(F.when(F.col("ra") == 1, F.col("gv")))).alias("open"),
            dbl(F.max("gv")).alias("high"),
            dbl(F.min("gv")).alias("low"),
            dbl(F.max(F.when(F.col("rd") == 1, F.col("gv")))).alias("close"),
            F.count("*").cast("long").alias("n_events"),
        )
        .orderBy("day", "event_type")
    )


@q(
    "q232_anova_f",
    oracle="""
WITH g AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
pg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(x) AS BIGINT) AS s_g
       FROM g GROUP BY 1),
tg AS (SELECT source, n_g, s_g,
         CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                    / CAST(n_g AS DOUBLE) + 0.5) AS BIGINT) AS t_g
       FROM pg),
tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(sum(n_g) AS BIGINT) AS n,
          CAST(sum(s_g) AS BIGINT) AS s,
          CAST(sum(t_g) AS BIGINT) AS st FROM tg),
ss AS (SELECT CAST(sum(x * x) AS HUGEINT) AS ssq FROM g)
SELECT k AS k_groups, n AS n_docs,
  floor(((CAST(st AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         / CAST(k - 1 AS DOUBLE))
        / ((CAST(ssq AS DOUBLE) - CAST(st AS DOUBLE))
           / CAST(n - k AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS f_stat
FROM tot CROSS JOIN ss
""",
    description="one-way ANOVA F-statistic of document length across "
    "sources — does source explain length variance? (the quick "
    "homogeneity screen before mixing corpora). Sufficient-statistic "
    "shape: one aggregation to (source) grain for counts and exact "
    "integer sums, per-group s_g^2/n_g terms floor-snapped to "
    "integers (group-count-bounded, so the between-group sum is "
    "order-free), the global sum of squares kept in DECIMAL/HUGEINT, "
    "one double F evaluation at the end — never a second data pass",
)
def q232(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = T(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("x")
    )
    pg = g.groupBy("source").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("s_g"),
    )
    tg = pg.select(
        "n_g",
        "s_g",
        F.floor(
            F.col("s_g").cast("double")
            * F.col("s_g").cast("double")
            / F.col("n_g").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("t_g"),
    )
    tot = tg.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("t_g").cast("long").alias("st"),
    )
    ss = g.agg(
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("ssq")
    )
    d = lambda c_: F.col(c_).cast("double")
    ssb = d("st") - d("s") * d("s") / d("n")
    ssw = F.col("ssq").cast("double") - d("st")
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return tot.crossJoin(F.broadcast(ss)).select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_docs"),
        fl6(
            (ssb / (F.col("k") - F.lit(1)).cast("double"))
            / (ssw / (F.col("n") - F.col("k")).cast("double"))
        ).alias("f_stat"),
    )


@q(
    "q234_ccf_lagged",
    oracle=f"""
WITH ev AS ({_EV}),
dx AS (SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS x
       FROM ev WHERE event_type = 'click' AND value IS NOT NULL
       GROUP BY 1),
dy AS (SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
       FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL
       GROUP BY 1),
lg AS (SELECT CAST(l AS BIGINT) AS lag
       FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(l)),
p AS (SELECT lag, dx.x, dy.y
      FROM lg CROSS JOIN dx JOIN dy ON dy.day = dx.day + CAST(lag AS INT)),
m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * y) AS HUGEINT) AS sxy,
        CAST(sum(x * x) AS HUGEINT) AS sxx,
        CAST(sum(y * y) AS HUGEINT) AS syy
      FROM p GROUP BY 1)
SELECT lag, n AS n_pairs,
  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / nullif(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0)
        * 1000000.0 + 0.5) / 1000000.0 AS ccf
FROM m ORDER BY lag
""",
    description="lagged cross-correlation (CCF) between the click and "
    "purchase daily revenue series at lags 0..7 — does click volume "
    "LEAD purchases? (q178's autocorrelation shape crossed between "
    "two series). Day-grain alignment via a literal lag roster and a "
    "date-shift equi-join (calendar-bounded pairs), Pearson moments "
    "as exact integer/HUGEINT sums, one double correlation tree per "
    "lag, 1e-6 floor-rounded",
)
def q234(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())

    def daily(et: str, out: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == et)
            .groupBy(F.to_date("ts").alias("day"))
            .agg(
                F.sum(
                    F.floor(
                        F.col("value") * F.lit(100.0) + F.lit(0.5)
                    ).cast("long")
                )
                .cast("long")
                .alias(out)
            )
        )

    dx = daily("click", "x")
    dy = daily("purchase", "y")
    lg = spark.sql(
        "SELECT CAST(l AS BIGINT) AS lag FROM (VALUES "
        + ",".join(f"({i})" for i in range(8))
        + ") t(l)"
    )
    p = (
        dx.crossJoin(F.broadcast(lg))
        .join(
            dy.withColumnRenamed("day", "dy_day"),
            F.col("dy_day")
            == F.date_add(F.col("day"), F.col("lag").cast("int")),
        )
        .select("lag", "x", "y")
    )
    dec = lambda c_: F.sum(c_.cast("decimal(38,0)"))
    m = p.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("y") * F.col("y")).alias("syy"),
    )
    d = lambda c_: F.col(c_).cast("double")
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    # a degenerate lag (single pair / zero variance) yields NULL, not
    # an ANSI divide-by-zero — nullif in both engines
    return m.select(
        "lag",
        F.col("n").alias("n_pairs"),
        fl6(num / F.nullif(den, F.lit(0.0))).alias("ccf"),
    ).orderBy("lag")


@q(
    "q236_info_gain",
    oracle="""
WITH d AS (SELECT source, CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS y
           FROM documents),
pg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s,
         CAST(sum(y) AS BIGINT) AS p_s
       FROM d GROUP BY 1),
hg AS (SELECT source, n_s, p_s,
         CAST(floor((CASE WHEN p_s = 0 OR p_s = n_s THEN 0.0
           ELSE -(CAST(p_s AS DOUBLE) / CAST(n_s AS DOUBLE))
                  * ln(CAST(p_s AS DOUBLE) / CAST(n_s AS DOUBLE))
                - (CAST(n_s - p_s AS DOUBLE) / CAST(n_s AS DOUBLE))
                  * ln(CAST(n_s - p_s AS DOUBLE) / CAST(n_s AS DOUBLE))
           END) * 1000000.0 + 0.5) AS BIGINT) AS h6
       FROM pg),
tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(sum(n_s) AS BIGINT) AS n,
          CAST(sum(p_s) AS BIGINT) AS p,
          CAST(sum(n_s * h6) AS HUGEINT) AS wh6 FROM hg)
SELECT n AS n_docs, k AS n_sources,
  floor((CASE WHEN p = 0 OR p = n THEN 0.0
    ELSE -(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
         - (CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE)) END)
    * 1000000.0 + 0.5) / 1000000.0 AS h_parent,
  floor(CAST(wh6 AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) / 1000000.0
    AS h_conditional,
  floor((CASE WHEN p = 0 OR p = n THEN 0.0
    ELSE -(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
         - (CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE)) END)
    * 1000000.0 + 0.5) / 1000000.0
  - floor(CAST(wh6 AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) / 1000000.0
    AS info_gain
FROM tot
""",
    description="information gain of the source split on a length "
    "label (n_chars > 500) — the categorical/entropy counterpart of "
    "q192's numeric-threshold Gini stump: the split-quality audit a "
    "feature pipeline runs to rank metadata columns: parent binary "
    "entropy minus source-conditional entropy. Per-source entropies "
    "computed from exact counts and floor-snapped to 1e-6 integers "
    "(source-count-bounded, so the n_s-weighted sum is an exact "
    "HUGEINT/DECIMAL fold — order-free); 0ln0 guarded to 0 in both "
    "engines; both output terms on the same snapped grid so the "
    "difference is exactly reproducible",
)
def q236(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select(
        "source",
        F.when(F.col("n_chars") > 500, 1).otherwise(0).alias("y"),
    )
    pg = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_s"),
        F.sum("y").cast("long").alias("p_s"),
    )

    def hbin(p: F.Column, n: F.Column) -> F.Column:
        pd_ = p.cast("double") / n.cast("double")
        qd_ = (n - p).cast("double") / n.cast("double")
        return F.when(
            (p == 0) | (p == n), F.lit(0.0)
        ).otherwise(-pd_ * F.log(pd_) - qd_ * F.log(qd_))

    hg = pg.select(
        "n_s",
        "p_s",
        F.floor(hbin(F.col("p_s"), F.col("n_s")) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("h6"),
    )
    tot = hg.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_s").cast("long").alias("n"),
        F.sum("p_s").cast("long").alias("p"),
        F.sum((F.col("n_s") * F.col("h6")).cast("decimal(38,0)")).alias(
            "wh6"
        ),
    )
    hp6 = F.floor(
        hbin(F.col("p"), F.col("n")) * F.lit(1e6) + F.lit(0.5)
    )
    hc6 = F.floor(
        F.col("wh6").cast("double") / F.col("n").cast("double") + F.lit(0.5)
    )
    return tot.select(
        F.col("n").alias("n_docs"),
        F.col("k").alias("n_sources"),
        (hp6 / F.lit(1e6)).alias("h_parent"),
        (hc6 / F.lit(1e6)).alias("h_conditional"),
        ((hp6 / F.lit(1e6)) - (hc6 / F.lit(1e6))).alias("info_gain"),
    )


@q(
    "q239_bootstrap_ci",
    oracle=f"""
WITH ev AS ({_EV}),
dly AS (SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
       FROM ev WHERE value IS NOT NULL GROUP BY 1),
ix AS (SELECT y, row_number() OVER (ORDER BY day) AS idx FROM dly),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dly),
grid AS (SELECT b, unnest(range(1, n + 1)) AS i
         FROM generate_series(1, 200) g1(b) CROSS JOIN nd),
pick AS (SELECT b,
    (('0x' || substr(md5('bs-' || b || '-' || i), 1, 15))::BIGINT % n)
      + 1 AS idx
  FROM grid CROSS JOIN nd),
bm AS (SELECT b,
    CAST(floor(CAST(sum(y) AS DOUBLE)
      / (CAST(count(*) AS DOUBLE) * 100.0) * 1000000.0 + 0.5)
      AS BIGINT) AS m6
  FROM pick JOIN ix USING (idx) GROUP BY b),
rk AS (SELECT m6, row_number() OVER (ORDER BY m6, b) AS rn FROM bm),
pt AS (SELECT CAST(floor(CAST(sum(y) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 100.0) * 1000000.0 + 0.5)
         AS BIGINT) AS p6 FROM dly)
SELECT CAST(200 AS BIGINT) AS b_resamples,
  (SELECT n FROM nd) AS n_days,
  (SELECT CAST(m6 AS DOUBLE) / 1000000.0 FROM rk WHERE rn = 5)
    AS mean_lo,
  (SELECT CAST(m6 AS DOUBLE) / 1000000.0 FROM rk WHERE rn = 195)
    AS mean_hi,
  CAST(p6 AS DOUBLE) / 1000000.0 AS point_mean
FROM pt
""",
    description="percentile-bootstrap 95% CI of the mean daily "
    "revenue — the uncertainty band a metrics pipeline attaches to "
    "small-sample aggregates: 200 resamples of the day-grain series "
    "with REPLACEMENT, the resample index drawn from the shared "
    "md5-uniform device (deterministic in both engines — the "
    "'randomness' is a pure function of (resample, position)), CI = "
    "nearest-rank 2.5/97.5 percentiles of the 200 resample means. "
    "Every stage is day- or B-grain (calendar-bounded, data-size-"
    "free after the one daily aggregation); means snapped to the "
    "1e-6 dollar grid",
)
def q239(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dly = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("y")
        )
        .persist()  # consumers: index frame, day count, point mean
    )
    wix = Window.orderBy("day")
    ix = dly.select("y", F.row_number().over(wix).cast("long").alias("idx"))
    nd = dly.agg(F.count("*").cast("long").alias("n"))
    # draw count derives from the day count (a true n-out-of-n
    # bootstrap at ANY span — a literal cap would silently under-draw
    # on longer series while both engines kept agreeing)
    grid = (
        spark.sql("SELECT explode(sequence(1, 200)) AS b")
        .crossJoin(F.broadcast(nd))
        .select(
            "b",
            "n",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("n"))).alias(
                "i"
            ),
        )
    )
    hv = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("bs-"),
                    F.col("b").cast("string"),
                    F.lit("-"),
                    F.col("i").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    pick = grid.select("b", (hv % F.col("n") + F.lit(1)).alias("idx"))
    m6 = F.floor(
        F.sum("y").cast("double")
        / (F.count("*").cast("double") * F.lit(100.0))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    bm = pick.join(F.broadcast(ix), "idx").groupBy("b").agg(m6.alias("m6"))
    wr = Window.orderBy("m6", "b")
    rk = bm.select("m6", F.row_number().over(wr).alias("rn"))
    lo = rk.filter(F.col("rn") == 5).select(
        (F.col("m6").cast("double") / F.lit(1e6)).alias("mean_lo")
    )
    hi = rk.filter(F.col("rn") == 195).select(
        (F.col("m6").cast("double") / F.lit(1e6)).alias("mean_hi")
    )
    pt = dly.agg(
        (m6.cast("double") / F.lit(1e6)).alias("point_mean")
    )
    return (
        nd.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(pt))
        .select(
            F.lit(200).cast("long").alias("b_resamples"),
            F.col("n").alias("n_days"),
            "mean_lo",
            "mean_hi",
            "point_mean",
        )
    )


@q(
    "q242_source_vocab_jaccard",
    oracle=r"""
WITH sw AS (SELECT DISTINCT source,
              unnest(string_split_regex(trim(text), '\s+')) AS word
            FROM documents),
swf AS (SELECT source, word FROM sw WHERE word <> ''),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM swf GROUP BY 1),
pr AS (SELECT a.source AS s1, b.source AS s2,
         CAST(count(*) AS BIGINT) AS n_inter
       FROM swf a JOIN swf b
         ON a.word = b.word AND a.source < b.source
       GROUP BY 1, 2)
SELECT s1, s2, n_inter,
  za.n AS n_vocab_1, zb.n AS n_vocab_2,
  floor(CAST(n_inter AS DOUBLE)
        / CAST(za.n + zb.n - n_inter AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS jaccard
FROM pr JOIN sz za ON za.source = pr.s1
        JOIN sz zb ON zb.source = pr.s2
ORDER BY s1, s2
""",
    description="pairwise vocabulary Jaccard between sources — the "
    "set-overlap counterpart of q227's tf-profile cosine (cosine "
    "sees frequency shape, Jaccard sees lexicon sharing; both feed "
    "mixture design). Distinct (source, word) grain first, then a "
    "word-keyed equi-join for intersections — per-word fan-out is "
    "bounded by sources^2 (a constant), never corpus-quadratic; "
    "sizes join back source-grain; exact integer set algebra, "
    "ratios 1e-6 floor-rounded",
)
def q242(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    swf = (
        docs.select(
            "source", F.explode(tx._words(F.col("text"))).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
        .persist()  # three consumers: sizes + both sides of the pair join
    )
    sz = swf.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = swf.select(F.col("source").alias("s1"), "word")
    b = swf.select(F.col("source").alias("s2"), "word")
    pr = (
        a.join(b, "word")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    za = sz.select(F.col("source").alias("s1"), F.col("n").alias("n_vocab_1"))
    zb = sz.select(F.col("source").alias("s2"), F.col("n").alias("n_vocab_2"))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        pr.join(F.broadcast(za), "s1")
        .join(F.broadcast(zb), "s2")
        .select(
            "s1", "s2", "n_inter", "n_vocab_1", "n_vocab_2",
            fl6(
                F.col("n_inter").cast("double")
                / (
                    F.col("n_vocab_1") + F.col("n_vocab_2") - F.col("n_inter")
                ).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


@q(
    "q243_heaps_law",
    oracle=r"""
WITH w AS (SELECT source,
             unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM documents),
wf AS (SELECT source, word FROM w WHERE word <> ''),
pg AS (SELECT source, CAST(count(*) AS BIGINT) AS toks,
         CAST(count(DISTINCT word) AS BIGINT) AS vocab
       FROM wf GROUP BY 1),
pt AS (SELECT CAST(floor(ln(CAST(toks AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT) AS x6,
              CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT) AS y6
       FROM pg),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
    CAST(sum(x6 * x6) AS HUGEINT) AS sxx,
    CAST(sum(x6 * y6) AS HUGEINT) AS sxy
  FROM pt)
SELECT n AS n_sources,
  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS heaps_beta,
  floor((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
         - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        + 0.5) / 1000000.0 AS heaps_ln_k
FROM s
""",
    description="Heaps'-law fit — vocabulary growth V = K*n^beta "
    "across sources (natural text sits near beta ~ 0.5; beta near 1 "
    "flags id-like/synthetic tokens, near 0 flags template text): "
    "one (source) aggregation for exact token and distinct-type "
    "counts, OLS of ln(vocab) on ln(tokens) over the source-count-"
    "bounded points with the q212 snapped-ln discipline (1e-6 "
    "integer grid before the sums, one double tree after; the "
    "intercept de-scales by 1e6 inside the same tree). Companion of "
    "the Zipf fit (q212) — together the two standard lexical "
    "power-law diagnostics",
)
def q243(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    wf = docs.select(
        "source", F.explode(tx._words(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    pg = wf.groupBy("source").agg(
        F.count("*").cast("long").alias("toks"),
        F.count_distinct("word").cast("long").alias("vocab"),
    )
    grid = lambda c_: F.floor(
        F.log(c_.cast("double")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    pt = pg.select(
        grid(F.col("toks")).alias("x6"), grid(F.col("vocab")).alias("y6")
    )
    dec = lambda c_: F.sum(c_.cast("decimal(38,0)"))
    s = pt.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x6").cast("long").alias("sx"),
        F.sum("y6").cast("long").alias("sy"),
        dec(F.col("x6") * F.col("x6")).alias("sxx"),
        dec(F.col("x6") * F.col("y6")).alias("sxy"),
    )
    d = lambda c_: F.col(c_).cast("double")
    slope = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    )
    # x6/y6 are ln*1e6, slope is dimensionless, so the raw intercept
    # is 1e6*ln(K): snap it as an integer and de-scale once
    intercept = d("sy") / d("n") - slope * (d("sx") / d("n"))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return s.select(
        F.col("n").alias("n_sources"),
        fl6(slope).alias("heaps_beta"),
        (F.floor(intercept + F.lit(0.5)) / F.lit(1e6)).alias("heaps_ln_k"),
    )


@q(
    "q244_seasonal_decompose",
    oracle=f"""
WITH ev AS ({_EV}),
dly AS (SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
       FROM ev WHERE value IS NOT NULL GROUP BY 1),
tr AS (SELECT day, y,
         CASE WHEN count(*) OVER w = 7 THEN
           floor(CAST(sum(y) OVER w AS DOUBLE) / 7.0 * 10000.0 + 0.5)
         END AS t4
       FROM dly
       WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                    AND 3 FOLLOWING)),
dt AS (SELECT day, y, t4,
         CAST(y AS BIGINT) * 10000 - CAST(t4 AS BIGINT) AS d4,
         isodow(day) AS wd
       FROM tr WHERE t4 IS NOT NULL),
sn AS (SELECT wd,
         floor(CAST(sum(d4) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5)
           AS s4
       FROM dt GROUP BY 1)
SELECT day,
  CAST(y AS DOUBLE) / 100.0 AS revenue,
  CAST(t4 AS DOUBLE) / 1000000.0 AS trend,
  CAST(s4 AS DOUBLE) / 1000000.0 AS seasonal,
  CAST(d4 - s4 AS DOUBLE) / 1000000.0 AS residual
FROM dt JOIN sn USING (wd)
ORDER BY day
""",
    description="additive seasonal decomposition of daily revenue "
    "(q211 profiles the weekly cycle; this extracts the full "
    "trend + seasonal + residual triple) — "
    "trend = centered 7-day moving average (full-window days only), "
    "seasonal = mean detrended value per ISO weekday, residual = "
    "the rest (the classic decompose() shape a metrics pipeline "
    "runs before anomaly thresholds). Everything lives at DAY grain "
    "after one fact aggregation; the trend is an exact integer sum "
    "/7 snapped to a 1e-4 cent grid, detrended values stay on that "
    "integer grid so the per-weekday means and residuals are "
    "order-free; the full-window gate makes edge handling explicit "
    "rather than engine-default",
)
def q244(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dly = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("y")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = dly.select(
        "day",
        "y",
        F.when(
            F.count("*").over(w) == 7,
            F.floor(
                F.sum("y").over(w).cast("double") / F.lit(7.0) * F.lit(1e4)
                + F.lit(0.5)
            ),
        ).alias("t4"),
    )
    dt = tr.filter(F.col("t4").isNotNull()).select(
        "day",
        "y",
        "t4",
        (F.col("y").cast("long") * F.lit(10000) - F.col("t4").cast("long")).alias(
            "d4"
        ),
        (F.weekday(F.col("day")) + F.lit(1)).alias("wd"),
    )
    sn = dt.groupBy("wd").agg(
        F.floor(
            F.sum("d4").cast("double") / F.count("*").cast("double")
            + F.lit(0.5)
        ).alias("s4")
    )
    return (
        dt.join(F.broadcast(sn), "wd")
        .select(
            "day",
            (F.col("y").cast("double") / F.lit(100.0)).alias("revenue"),
            (F.col("t4").cast("double") / F.lit(1e6)).alias("trend"),
            (F.col("s4").cast("double") / F.lit(1e6)).alias("seasonal"),
            ((F.col("d4") - F.col("s4")).cast("double") / F.lit(1e6)).alias(
                "residual"
            ),
        )
        .orderBy("day")
    )


# =====================================================================
# round-11 cohort: nonparametric / distributional test batteries, the
# A/B experimentation readout, graph-topology audits, decorrelated
# TPC-H-Q21-style blame analysis, interval-overlap joins, a leakage
# audit, and a distributed power-iteration PCA — each an operator
# family the registry did not have (checked against the README
# registry section and a keyword grep of REGISTRY descriptions, the
# r10 dedup-before-landing lesson)
# =====================================================================


@q(
    "q245_mann_whitney_u",
    oracle="""
WITH d AS (SELECT CAST(n_chars AS BIGINT) AS x,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g
  FROM documents),
h AS (SELECT x, CAST(count(*) AS BIGINT) AS c,
    CAST(sum(g) AS BIGINT) AS c1
  FROM d GROUP BY x),
mr AS (SELECT x, c, c1,
    CAST(2 * COALESCE(sum(c) OVER (ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
    AS BIGINT) AS u2
  FROM h),
s AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
    CAST(sum(c) AS BIGINT) AS n,
    CAST(sum(c1 * u2) AS HUGEINT) AS r1_2,
    CAST(sum(c * c * c - c) AS HUGEINT) AS ties
  FROM mr)
SELECT n1 AS n_en, n - n1 AS n_other,
  CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_statistic,
  floor((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE)
         - CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE))
    / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
        * (CAST(n + 1 AS DOUBLE) * CAST(n AS DOUBLE)
             * CAST(n - 1 AS DOUBLE)
           - CAST(ties AS DOUBLE))
        / (12.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))
    * 1000000.0 + 0.5) / 1000000.0 AS z
FROM s
""",
    description="Mann-Whitney U rank-sum test: do English documents "
    "have a different length distribution than the rest of the "
    "corpus? The nonparametric two-sample location test the battery "
    "lacked (q204/q117 are KS, q223 is Welch on means). Ranks are "
    "never per-row: the doubled-midrank closed form runs on the "
    "VALUE-grain length histogram (q209's device), so the only "
    "data-sized pass is one aggregation to the bounded n_chars "
    "domain; U, the tie term sum(c^3-c) and the variance are exact "
    "integers (DECIMAL(38)/HUGEINT past 2^63 at corpus scale) "
    "feeding ONE identically-parenthesized double z evaluation; "
    "normal approximation without continuity correction",
)
def q245(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("long").alias("x"),
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("g"),
    )
    h = d.groupBy("x").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("g").cast("long").alias("c1"),
    )
    # domain-bounded window (n_chars value grain), the q209 midrank
    # convention — never a per-row rank
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    mr = h.select(
        "c",
        "c1",
        (
            F.lit(2) * F.coalesce(F.sum("c").over(w), F.lit(0))
            + F.col("c")
            + F.lit(1)
        )
        .cast("long")
        .alias("u2"),
    )
    s = mr.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c").cast("long").alias("n"),
        F.sum((F.col("c1") * F.col("u2")).cast("decimal(38,0)")).alias(
            "r1_2"
        ),
        F.sum(
            (
                F.col("c") * F.col("c") * F.col("c") - F.col("c")
            ).cast("decimal(38,0)")
        ).alias("ties"),
    )
    n1, n = F.col("n1"), F.col("n")
    two_u1 = (F.col("r1_2") - n1 * (n1 + F.lit(1))).cast("double")
    n1d = n1.cast("double")
    n2d = (n - n1).cast("double")
    var_core = (
        (n + F.lit(1)).cast("double")
        * n.cast("double")
        * (n - F.lit(1)).cast("double")
        - F.col("ties").cast("double")
    )
    z = F.floor(
        (two_u1 - n1d * n2d)
        / (
            F.lit(2.0)
            * F.sqrt(
                n1d
                * n2d
                * var_core
                / (
                    F.lit(12.0)
                    * n.cast("double")
                    * (n - F.lit(1)).cast("double")
                )
            )
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return s.select(
        n1.alias("n_en"),
        (n - n1).alias("n_other"),
        (two_u1 / F.lit(2.0)).alias("u_statistic"),
        z.alias("z"),
    )


@q(
    "q246_jarque_bera",
    oracle=f"""
WITH ev AS ({_EV}),
d AS (SELECT event_type,
    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
  FROM ev WHERE value IS NOT NULL),
d2 AS (SELECT event_type, v, v * v AS v2 FROM d),
s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(v) AS HUGEINT) AS s1,
    CAST(sum(CAST(v2 AS HUGEINT)) AS HUGEINT) AS s2,
    CAST(sum(CAST(v2 AS HUGEINT) * v) AS HUGEINT) AS s3,
    CAST(sum(CAST(v2 AS HUGEINT) * v2) AS HUGEINT) AS s4
  FROM d2 GROUP BY event_type),
m AS (SELECT event_type, n,
    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
  FROM s),
c AS (SELECT event_type, n,
    r2 - mu * mu AS m2,
    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu
      AS m4
  FROM m),
k AS (SELECT event_type, n,
    m3 / (m2 * sqrt(m2)) AS skew,
    m4 / (m2 * m2) - 3.0 AS exkurt
  FROM c)
SELECT event_type, n AS n_events,
  floor(skew * 1000000.0 + 0.5) / 1000000.0 AS skewness,
  floor(exkurt * 1000000.0 + 0.5) / 1000000.0 AS ex_kurtosis,
  floor(CAST(n AS DOUBLE) / 6.0
        * (skew * skew + exkurt * exkurt / 4.0)
        * 1000000.0 + 0.5) / 1000000.0 AS jb_stat
FROM k
""",
    description="Jarque-Bera normality audit of the event-value "
    "distribution per event type: skewness, excess kurtosis and the "
    "JB statistic n/6*(S^2 + K^2/4) — the moments-only normality "
    "test (one aggregation, no order statistics, unlike the "
    "rank/ECDF battery q204/q117/q224). Values quantize to integer "
    "cents; the four raw power sums are exact "
    "DECIMAL(38)/HUGEINT integers (v^4 alone is ~6e18 per row), so "
    "both engines derive the central moments from identical exact "
    "integers through identically-parenthesized double arithmetic",
)
def q246(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    d = ev.select("event_type", v.alias("v")).withColumn(
        "v2", F.col("v") * F.col("v")
    )
    dec = "decimal(38,0)"
    s = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("v").cast(dec)).alias("s1"),
        F.sum(F.col("v2").cast(dec)).alias("s2"),
        F.sum((F.col("v2").cast(dec) * F.col("v"))).alias("s3"),
        F.sum((F.col("v2").cast(dec) * F.col("v2"))).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m = s.select(
        "event_type",
        "n",
        (F.col("s1").cast("double") / nd).alias("mu"),
        (F.col("s2").cast("double") / nd).alias("r2"),
        (F.col("s3").cast("double") / nd).alias("r3"),
        (F.col("s4").cast("double") / nd).alias("r4"),
    )
    mu, r2, r3, r4 = (F.col(c) for c in ("mu", "r2", "r3", "r4"))
    c = m.select(
        "event_type",
        "n",
        (r2 - mu * mu).alias("m2"),
        (r3 - F.lit(3.0) * mu * r2 + F.lit(2.0) * mu * mu * mu).alias(
            "m3"
        ),
        (
            r4
            - F.lit(4.0) * mu * r3
            + F.lit(6.0) * mu * mu * r2
            - F.lit(3.0) * mu * mu * mu * mu
        ).alias("m4"),
    )
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    k = c.select(
        "event_type",
        "n",
        (m3 / (m2 * F.sqrt(m2))).alias("skew"),
        (m4 / (m2 * m2) - F.lit(3.0)).alias("exkurt"),
    )
    sk, ek = F.col("skew"), F.col("exkurt")

    def snap6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return k.select(
        "event_type",
        F.col("n").alias("n_events"),
        snap6(sk).alias("skewness"),
        snap6(ek).alias("ex_kurtosis"),
        snap6(
            F.col("n").cast("double")
            / F.lit(6.0)
            * (sk * sk + ek * ek / F.lit(4.0))
        ).alias("jb_stat"),
    )


@q(
    "q249_ab_test_lift",
    oracle=f"""
WITH ev AS ({_EV}),
u AS (SELECT user_id,
    CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END) >= 14
         THEN 1 ELSE 0 END AS BIGINT) AS conv
  FROM ev GROUP BY user_id),
uv AS (SELECT
    ('0x' || substr(md5('ab-' || user_id), 1, 15))::BIGINT % 2
      AS variant,
    conv
  FROM u),
g AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
    CAST(sum(conv) AS BIGINT) AS n_conv
  FROM uv GROUP BY variant),
w AS (SELECT
    max(CASE WHEN variant = 0 THEN n_users END) AS n0,
    max(CASE WHEN variant = 1 THEN n_users END) AS n1,
    max(CASE WHEN variant = 0 THEN n_conv END) AS c0,
    max(CASE WHEN variant = 1 THEN n_conv END) AS c1
  FROM g),
p AS (SELECT n0, n1, c0, c1,
    CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
    CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
    CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS pp
  FROM w)
SELECT n0 AS n_control, n1 AS n_treatment,
  c0 AS conv_control, c1 AS conv_treatment,
  floor(p0 * 1000000.0 + 0.5) / 1000000.0 AS p_control,
  floor(p1 * 1000000.0 + 0.5) / 1000000.0 AS p_treatment,
  floor((p1 - p0)
    / nullif(sqrt(pp * (1.0 - pp)
           * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE))), 0.0)
    * 1000000.0 + 0.5) / 1000000.0 AS z,
  floor((p1 / nullif(p0, 0.0) - 1.0) * 1000000.0 + 0.5) / 1000000.0
    AS lift,
  floor(((p1 - p0) - 1.96
      * sqrt(p1 * (1.0 - p1) / CAST(n1 AS DOUBLE)
             + p0 * (1.0 - p0) / CAST(n0 AS DOUBLE)))
    * 1000000.0 + 0.5) / 1000000.0 AS diff_ci_lo,
  floor(((p1 - p0) + 1.96
      * sqrt(p1 * (1.0 - p1) / CAST(n1 AS DOUBLE)
             + p0 * (1.0 - p0) / CAST(n0 AS DOUBLE)))
    * 1000000.0 + 0.5) / 1000000.0 AS diff_ci_hi
FROM p
""",
    description="two-proportion A/B test readout: users "
    "deterministically split 50/50 by the shared md5-uniform device "
    "(variant is a pure function of user_id — byte-identical in both "
    "engines), conversion = at least 14 'purchase' events (the per-user event volume is SF-invariant in this dataset, so the split is informative at every SF); zero-variance and zero-baseline guarded by NULLIF on both sides; pooled z statistic "
    "for the conversion-rate difference, relative lift, and the Wald "
    "95% CI on the difference. Completes the experimentation corner "
    "of the test battery (q201 Wilson is a one-sample interval; "
    "q223 Welch tests means, not proportions). One user-grain "
    "aggregation is the only data-sized pass; everything above the "
    "2-row variant frame is scalar",
)
def q249(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.lit(1)
                ).otherwise(F.lit(0))
            )
            >= 14,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("conv")
    )
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab-"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    g = u.select(variant.alias("variant"), "conv").groupBy("variant").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
    )
    w = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv"))).alias("c1"),
    )
    n0d, n1d = F.col("n0").cast("double"), F.col("n1").cast("double")
    p = w.select(
        "n0",
        "n1",
        "c0",
        "c1",
        (F.col("c0").cast("double") / n0d).alias("p0"),
        (F.col("c1").cast("double") / n1d).alias("p1"),
        (
            (F.col("c0") + F.col("c1")).cast("double")
            / (F.col("n0") + F.col("n1")).cast("double")
        ).alias("pp"),
    )
    p0, p1, pp = F.col("p0"), F.col("p1"), F.col("pp")

    def snap6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    se_diff = F.sqrt(
        p1 * (F.lit(1.0) - p1) / F.col("n1").cast("double")
        + p0 * (F.lit(1.0) - p0) / F.col("n0").cast("double")
    )
    return p.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        F.col("c0").alias("conv_control"),
        F.col("c1").alias("conv_treatment"),
        snap6(p0).alias("p_control"),
        snap6(p1).alias("p_treatment"),
        snap6(
            (p1 - p0)
            / F.nullif(
                F.sqrt(
                    pp
                    * (F.lit(1.0) - pp)
                    * (
                        F.lit(1.0) / F.col("n1").cast("double")
                        + F.lit(1.0) / F.col("n0").cast("double")
                    )
                ),
                F.lit(0.0),
            )
        ).alias("z"),
        snap6(p1 / F.nullif(p0, F.lit(0.0)) - F.lit(1.0)).alias("lift"),
        snap6((p1 - p0) - F.lit(1.96) * se_diff).alias("diff_ci_lo"),
        snap6((p1 - p0) + F.lit(1.96) * se_diff).alias("diff_ci_hi"),
    )


def _assortativity_oracle() -> str:
    """q252 oracle: the q83 kNN-graph CTEs feeding reciprocity (a
    directed-edge self-join) and in-degree assortativity (Pearson r
    over edges of endpoint in-degrees, exact integer moments)."""
    base = _knn_graph_oracle(5)
    ctes = base[: base.rindex("SELECT src, nbr")]
    return (
        ctes
        + """, g AS (SELECT src, nbr FROM ranked WHERE rnk <= 5),
ind AS (SELECT nbr AS node, CAST(count(*) AS BIGINT) AS indeg
        FROM g GROUP BY nbr),
rec AS (SELECT CAST(count(*) AS BIGINT) AS n_rec
        FROM g a JOIN g b ON a.src = b.nbr AND a.nbr = b.src),
tg AS (SELECT COALESCE(sa.indeg, 0) AS x, COALESCE(sb.indeg, 0) AS y
       FROM g LEFT JOIN ind sa ON sa.node = g.src
              LEFT JOIN ind sb ON sb.node = g.nbr),
mo AS (SELECT CAST(count(*) AS BIGINT) AS ne,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS HUGEINT) AS sxx,
    CAST(sum(y * y) AS HUGEINT) AS syy,
    CAST(sum(x * y) AS HUGEINT) AS sxy
  FROM tg)
SELECT ne AS n_edges, n_rec AS n_reciprocal,
  floor(CAST(n_rec AS DOUBLE) / CAST(ne AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS reciprocity,
  floor((CAST(ne AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / sqrt((CAST(ne AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(ne AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        * 1000000.0 + 0.5) / 1000000.0 AS assortativity
FROM mo CROSS JOIN rec
"""
    )


@q(
    "q252_knn_assortativity",
    oracle=_assortativity_oracle(),
    description="kNN-graph topology audit: edge reciprocity (the "
    "fraction of directed kNN edges whose reverse edge also exists — "
    "the symmetry rate that predicts ANN recall quality and "
    "hubness) and in-degree assortativity (Pearson correlation of "
    "endpoint in-degrees over directed edges, Newman 2002) — "
    "negative assortativity + low reciprocity flags hub-dominated "
    "embedding spaces where a few prototype vectors absorb "
    "everyone's neighbor lists. Out-degree is constant k by "
    "construction, so in-degree carries all the signal. The edge "
    "frame (built once by the q83 machinery, persisted for its "
    "three consumers) is the only corpus-sized frame; moments are "
    "exact BIGINT/HUGEINT sums, Pearson is one identically-"
    "parenthesized double evaluation (the q209 convention)",
)
def q252(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = (
        sim.knn_graph(emb, "vec_id", "embedding", k=5)
        .select("src", "nbr")
        .persist()  # three consumers: in-degree, reciprocity, moments
    )
    ind = edges.groupBy(F.col("nbr").alias("node")).agg(
        F.count("*").cast("long").alias("indeg")
    )
    rev = edges.select(
        F.col("nbr").alias("src"), F.col("src").alias("nbr")
    )
    n_rec = (
        edges.join(rev, ["src", "nbr"], "semi")
        .agg(F.count("*").cast("long").alias("n_rec"))
    )
    sa = ind.withColumnRenamed("node", "src").withColumnRenamed(
        "indeg", "x"
    )
    sb = ind.withColumnRenamed("node", "nbr").withColumnRenamed(
        "indeg", "y"
    )
    tg = (
        edges.join(sa, "src", "left")
        .join(sb, "nbr", "left")
        .select(
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    mo = tg.agg(
        F.count("*").cast("long").alias("ne"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
    )
    ned = F.col("ne").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    r = (ned * F.col("sxy").cast("double") - sxd * syd) / F.sqrt(
        (ned * F.col("sxx").cast("double") - sxd * sxd)
        * (ned * F.col("syy").cast("double") - syd * syd)
    )
    return (
        mo.crossJoin(F.broadcast(n_rec))
        .select(
            F.col("ne").alias("n_edges"),
            F.col("n_rec").alias("n_reciprocal"),
            (
                F.floor(
                    F.col("n_rec").cast("double") / ned * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("reciprocity"),
            (F.floor(r * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                "assortativity"
            ),
        )
    )


@q(
    "q254_waiting_orders",
    oracle="""
WITH oa AS (
  SELECT l.l_orderkey,
    CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_supp,
    CAST(count(DISTINCT CASE
      WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                     CAST(l.l_shipdate AS DATE)) > 90
      THEN l.l_suppkey END) AS BIGINT) AS n_late,
    CAST(max(CASE
      WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                     CAST(l.l_shipdate AS DATE)) > 90
      THEN l.l_suppkey END) AS BIGINT) AS blame
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY l.l_orderkey),
b AS (SELECT blame AS suppkey, CAST(count(*) AS BIGINT) AS n_blamed
      FROM oa WHERE n_supp >= 2 AND n_late = 1 GROUP BY blame)
SELECT s.s_name, b.n_blamed
FROM b JOIN supplier s ON s.s_suppkey = b.suppkey
ORDER BY n_blamed DESC, s_name
LIMIT 10
""",
    description="suppliers who kept multi-supplier orders waiting "
    "(the TPC-H Q21 shape: reference delegates it to DataFusion; "
    "/root/reference/src/lynx.rs:141): orders with >= 2 distinct "
    "suppliers where EXACTLY ONE supplier shipped > 90 days after "
    "the order date — that supplier takes the blame; top-10 by blame "
    "count. Q21's textbook EXISTS / NOT-EXISTS pair decorrelates "
    "into ONE order-grain aggregation (distinct-supplier and "
    "distinct-late-supplier counts plus a MAX over the late "
    "suppkeys, which IS the blamed supplier when the late count is "
    "1) — one fact-fact equi-join shuffle instead of three "
    "correlated lineitem self-probes; the supplier dim broadcasts "
    "and the top-10 is TakeOrderedAndProject, never a global sort",
)
def q254(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.to_date("l_shipdate").alias("ship")
    )
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("odate")
    )
    late = F.datediff(F.col("ship"), F.col("odate")) > 90
    oa = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").cast("long").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey")))
            .cast("long")
            .alias("n_late"),
            F.max(F.when(late, F.col("l_suppkey")))
            .cast("long")
            .alias("blame"),
        )
    )
    b = (
        oa.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy(F.col("blame").alias("suppkey"))
        .agg(F.count("*").cast("long").alias("n_blamed"))
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        b.join(F.broadcast(s), b["suppkey"] == s["s_suppkey"])
        .select("s_name", "n_blamed")
        .orderBy(F.desc("n_blamed"), "s_name")
        .limit(10)
    )


@q(
    "q247_brown_forsythe",
    oracle=f"""
WITH ev AS ({_EV}),
d AS (SELECT event_type,
    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
  FROM ev WHERE value IS NOT NULL),
hist AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
  FROM d GROUP BY 1, 2),
cum AS (SELECT event_type, v, c,
    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT)
      AS cm,
    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS ng
  FROM hist),
med AS (SELECT event_type, CAST(min(v) AS BIGINT) AS med
  FROM cum WHERE cm >= (ng + 1) // 2 GROUP BY event_type),
zm AS (SELECT h.event_type, abs(h.v - m.med) AS z, h.c
  FROM hist h JOIN med m USING (event_type)),
pg AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_g,
    CAST(sum(z * c) AS BIGINT) AS s_g,
    CAST(sum(CAST(z * z AS HUGEINT) * c) AS HUGEINT) AS ss_g
  FROM zm GROUP BY event_type),
tg AS (SELECT n_g, s_g, ss_g,
    CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
               / CAST(n_g AS DOUBLE) + 0.5) AS BIGINT) AS t_g
  FROM pg),
tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
    CAST(sum(n_g) AS BIGINT) AS n,
    CAST(sum(s_g) AS BIGINT) AS s,
    CAST(sum(t_g) AS BIGINT) AS st,
    CAST(sum(ss_g) AS HUGEINT) AS ssq
  FROM tg)
SELECT k AS k_groups, n AS n_events,
  floor(((CAST(st AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         / CAST(k - 1 AS DOUBLE))
        / ((CAST(ssq AS DOUBLE) - CAST(st AS DOUBLE))
           / CAST(n - k AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS bf_stat
FROM tot
""",
    description="Brown-Forsythe variance-homogeneity test of event "
    "values across event types (the robust Levene variant: a one-way "
    "F on absolute deviations from the GROUP MEDIAN) — the "
    "equal-variance gate q232's ANOVA formally assumes and the "
    "battery lacked. Medians are nearest-rank (lower median, rank "
    "(n+1) div 2) read off the VALUE-grain histogram's per-group "
    "cumulative counts — the one data-sized pass is the histogram "
    "aggregation; |v - med| moments run on the histogram (value "
    "grain, weighted by c), per-group s_g^2/n_g terms floor-snap to "
    "integers (q232's order-free device) and the F evaluates once "
    "in identically-parenthesized doubles",
)
def q247(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    hist = (
        ev.select("event_type", v.alias("v"))
        .groupBy("event_type", "v")
        .agg(F.count("*").cast("long").alias("c"))
        .persist()  # two consumers: the median path and the moments
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "v",
        F.sum("c").over(wcum).cast("long").alias("cm"),
        F.sum("c").over(wall).cast("long").alias("ng"),
    )
    med = (
        cum.filter(
            F.col("cm")
            >= F.floor((F.col("ng") + F.lit(1)) / F.lit(2)).cast("long")
        )
        .groupBy("event_type")
        .agg(F.min("v").cast("long").alias("med"))
    )
    zm = hist.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("v") - F.col("med")).alias("z"),
        "c",
    )
    pg = zm.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(F.col("z") * F.col("c")).cast("long").alias("s_g"),
        F.sum(
            (F.col("z") * F.col("z")).cast("decimal(38,0)") * F.col("c")
        ).alias("ss_g"),
    )
    tg = pg.select(
        "n_g",
        "s_g",
        "ss_g",
        F.floor(
            F.col("s_g").cast("double")
            * F.col("s_g").cast("double")
            / F.col("n_g").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("t_g"),
    )
    tot = tg.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("t_g").cast("long").alias("st"),
        F.sum("ss_g").alias("ssq"),
    )
    std, sd, nd = (
        F.col("st").cast("double"),
        F.col("s").cast("double"),
        F.col("n").cast("double"),
    )
    return tot.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_events"),
        (
            F.floor(
                (
                    (std - sd * sd / nd)
                    / (F.col("k") - F.lit(1)).cast("double")
                )
                / (
                    (F.col("ssq").cast("double") - std)
                    / (F.col("n") - F.col("k")).cast("double")
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("bf_stat"),
    )


@q(
    "q248_pacf",
    oracle=f"""
WITH ev AS ({_EV}),
d AS (SELECT CAST(ts AS DATE) AS day,
    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
      AS y2
  FROM ev GROUP BY 1),
st AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(y2) AS BIGINT) AS s FROM d),
m AS (SELECT CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
        AS BIGINT) AS m2 FROM st),
dv AS (SELECT day, y2 - (SELECT m2 FROM m) AS dev FROM d),
den AS (SELECT CAST(sum(dev * dev) AS BIGINT) AS den FROM dv),
num AS (SELECT CAST(date_diff('day', b.day, a.day) AS BIGINT)
          AS lag_days,
        CAST(sum(a.dev * b.dev) AS BIGINT) AS num
  FROM dv a JOIN dv b
    ON date_diff('day', b.day, a.day) BETWEEN 1 AND 3
  GROUP BY 1),
acf AS (SELECT lag_days,
    floor(CAST(num AS DOUBLE) / CAST((SELECT den FROM den) AS DOUBLE)
          * 1000000.0 + 0.5) / 1000000.0 AS r
  FROM num),
rr AS (SELECT
    max(CASE WHEN lag_days = 1 THEN r END) AS r1,
    max(CASE WHEN lag_days = 2 THEN r END) AS r2,
    max(CASE WHEN lag_days = 3 THEN r END) AS r3
  FROM acf),
ph AS (SELECT r1, r2, r3,
    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
  FROM rr),
ph2 AS (SELECT r1, r2, r3, p22,
    r1 - p22 * r1 AS p21
  FROM ph),
out AS (
  SELECT CAST(1 AS BIGINT) AS lag_days, r1 AS acf,
    floor(r1 * 1000000.0 + 0.5) / 1000000.0 AS pacf FROM ph2
  UNION ALL
  SELECT CAST(2 AS BIGINT), r2,
    floor(p22 * 1000000.0 + 0.5) / 1000000.0 FROM ph2
  UNION ALL
  SELECT CAST(3 AS BIGINT), r3,
    floor((r3 - p21 * r2 - p22 * r1)
          / (1.0 - p21 * r1 - p22 * r2)
          * 1000000.0 + 0.5) / 1000000.0 FROM ph2)
SELECT lag_days, acf, pacf FROM out
""",
    description="partial autocorrelation of the daily event-value "
    "series at lags 1-3 via the Durbin-Levinson closed forms "
    "(phi11 = r1; phi22 = (r2-r1^2)/(1-r1^2); phi33 from the "
    "level-2 coefficients) — the AR-order diagnostic that q178's "
    "raw ACF cannot give (ACF tails off under AR(1); PACF cuts "
    "off). ACF values are computed exactly as q178 does (one "
    "events scan to the calendar-bounded day frame, collected once "
    "as a VALUES literal; cent-rounded mean, exact integer "
    "deviation products) and SNAPPED to the 1e-6 grid BEFORE the "
    "recursion, so both engines run the identical double "
    "arithmetic on identical snapped inputs",
)
def q248(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("y2")
    )
    # calendar-bounded day frame, 4 consumers -> VALUES literal (the
    # q178 convention: one fact scan, LocalTableScan thereafter)
    vals = ", ".join(
        f"(DATE '{r['day'].isoformat()}', {r['y2']})" for r in d.collect()
    )
    d = spark.sql(f"SELECT * FROM VALUES {vals} AS t(day, y2)")
    st = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y2").cast("long").alias("s"),
    )
    m = st.select(
        F.floor(
            F.col("s").cast("double") / F.col("n").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("m2")
    )
    dv = d.crossJoin(F.broadcast(m)).select(
        "day", (F.col("y2") - F.col("m2")).alias("dev")
    )
    den = dv.agg(
        F.sum(F.col("dev") * F.col("dev")).cast("long").alias("den")
    )
    a, b = dv.alias("a"), dv.alias("b")
    num = (
        a.join(
            F.broadcast(b),
            F.datediff(F.col("a.day"), F.col("b.day")).between(1, 3),
        )
        .groupBy(
            F.datediff(F.col("a.day"), F.col("b.day"))
            .cast("long")
            .alias("lag_days")
        )
        .agg(
            F.sum(F.col("a.dev") * F.col("b.dev"))
            .cast("long")
            .alias("num")
        )
    )
    acf = num.crossJoin(F.broadcast(den)).select(
        "lag_days",
        (
            F.floor(
                F.col("num").cast("double") / F.col("den").cast("double")
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("r"),
    )
    rr = acf.agg(
        F.max(F.when(F.col("lag_days") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag_days") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag_days") == 3, F.col("r"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    ph = rr.select(
        "r1",
        "r2",
        "r3",
        ((r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)).alias("p22"),
    )
    p22 = F.col("p22")
    ph2 = ph.select("r1", "r2", "r3", "p22", (r1 - p22 * r1).alias("p21"))
    p21 = F.col("p21")

    def snap6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    out = ph2.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("lag_days"),
                    r1.alias("acf"),
                    snap6(r1).alias("pacf"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("lag_days"),
                    r2.alias("acf"),
                    snap6(p22).alias("pacf"),
                ),
                F.struct(
                    F.lit(3).cast("long").alias("lag_days"),
                    r3.alias("acf"),
                    snap6(
                        (r3 - p21 * r2 - p22 * r1)
                        / (F.lit(1.0) - p21 * r1 - p22 * r2)
                    ).alias("pacf"),
                ),
            )
        ).alias("o")
    )
    return out.select("o.lag_days", "o.acf", "o.pacf")


@q(
    "q253_interval_overlap_join",
    oracle=f"""
WITH ev AS ({_EV}),
e AS (SELECT user_id, event_type,
    epoch_us(CAST(ts AS TIMESTAMP)) AS t
  FROM ev WHERE event_type IN ('purchase', 'error')),
lg AS (SELECT user_id, event_type, t,
    lag(t) OVER (PARTITION BY user_id, event_type ORDER BY t) AS pt
  FROM e),
br AS (SELECT user_id, event_type, t,
    CASE WHEN pt IS NULL OR t - pt > 172800000000 THEN 1 ELSE 0 END
      AS brk
  FROM lg),
isl AS (SELECT user_id, event_type, t,
    CAST(sum(brk) OVER (PARTITION BY user_id, event_type ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS island
  FROM br),
iv AS (SELECT user_id, event_type, island,
    CAST(min(t) AS BIGINT) AS s, CAST(max(t) AS BIGINT) AS e
  FROM isl GROUP BY 1, 2, 3),
p AS (SELECT user_id, s, e FROM iv WHERE event_type = 'purchase'),
r AS (SELECT user_id, s, e FROM iv WHERE event_type = 'error')
SELECT p.user_id,
  CAST(count(*) AS BIGINT) AS n_overlaps,
  CAST(sum(least(p.e, r.e) - greatest(p.s, r.s)) AS BIGINT)
    AS overlap_us
FROM p JOIN r ON p.user_id = r.user_id
  AND p.s <= r.e AND r.s <= p.e
GROUP BY p.user_id
""",
    description="interval-overlap JOIN between two per-user island "
    "sets: purchase activity bursts vs error bursts (bursts = "
    "gap-based islands, gap > 48 h splits; q214 merges ONE interval "
    "set — this is the two-set overlap join a sessionized incident "
    "analysis needs). Per user: how many (purchase-burst, "
    "error-burst) pairs overlap and for how many microseconds "
    "(closed intervals, exact int64 time arithmetic throughout). "
    "Islands come from user+type-partitioned lag/cumsum windows "
    "(hash-partitioned, never global); the overlap join is "
    "EQUI-keyed on user_id with the range conditions as residual "
    "filters — co-partitioned and linear, never a cross join; both "
    "island sets derive from ONE persisted island frame",
)
def q253(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    e = ev.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    wlag = Window.partitionBy("user_id", "event_type").orderBy("t")
    br = e.select(
        "user_id",
        "event_type",
        "t",
        F.when(
            F.lag("t").over(wlag).isNull()
            | (F.col("t") - F.lag("t").over(wlag) > F.lit(172800000000)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("brk"),
    )
    wcum = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = br.select(
        "user_id",
        "event_type",
        "t",
        F.sum("brk").over(wcum).cast("long").alias("island"),
    )
    iv = (
        isl.groupBy("user_id", "event_type", "island")
        .agg(
            F.min("t").cast("long").alias("s"),
            F.max("t").cast("long").alias("e"),
        )
        .persist()  # two consumers: the purchase and error sides
    )
    p = iv.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("s").alias("ps"), F.col("e").alias("pe")
    )
    r = iv.filter(F.col("event_type") == "error").select(
        "user_id", F.col("s").alias("rs"), F.col("e").alias("re")
    )
    return (
        p.join(
            r,
            (p["user_id"] == r["user_id"])
            & (F.col("ps") <= F.col("re"))
            & (F.col("rs") <= F.col("pe")),
        )
        .groupBy(p["user_id"].alias("user_id"))
        .agg(
            F.count("*").cast("long").alias("n_overlaps"),
            F.sum(
                F.least("pe", "re") - F.greatest("ps", "rs")
            )
            .cast("long")
            .alias("overlap_us"),
        )
    )


@q(
    "q250_embedding_leakage",
    oracle="""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
    md5('leak-' || vec_id) AS h
  FROM embeddings),
sp AS (SELECT vec_id, e, h,
    (('0x' || substr(h, 1, 15))::BIGINT % 5 = 0) AS is_test
  FROM v),
probes AS (SELECT vec_id AS qid, e AS qe FROM sp WHERE is_test
           ORDER BY h, vec_id LIMIT 64),
train AS (SELECT vec_id AS nid, e AS ne FROM sp WHERE NOT is_test),
elems AS (SELECT qid, nid, unnest(qe) AS x, unnest(ne) AS y
          FROM probes CROSS JOIN train),
sums AS (SELECT qid, nid,
    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 5)
      AS cos_sim
  FROM elems GROUP BY qid, nid),
best AS (SELECT qid, nid, cos_sim,
    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid)
      AS rn
  FROM sums)
SELECT qid, CAST(nid AS BIGINT) AS train_nid, cos_sim AS max_cos,
  CAST(CASE WHEN cos_sim >= 0.95 THEN 1 ELSE 0 END AS BIGINT)
    AS is_leak
FROM best WHERE rn = 1
""",
    description="embedding-space split-leakage audit: a deterministic "
    "md5 split holds out ~20% of vectors as 'test'; a fixed "
    "md5-ordered 64-probe sample of the test split is scored for "
    "max cosine against the WHOLE train split — semantic near-dups "
    "across the split that n-gram decontamination (q67/q91/q187) "
    "cannot see. Probe cap keeps the scored frame linear in the "
    "corpus (never test x train quadratic); probes broadcast, the "
    "per-probe argmax is a map-side max(struct) aggregation, ties "
    "break to the smallest train id; cosine rounds to 5dp (q24's "
    "convention)",
)
def q250(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.embedding_split_leakage(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


def _pca_oracle(n_iters: int = 3) -> str:
    """q251 oracle: the identical integer-grid power iteration,
    unrolled — per iteration one doc-grain dot aggregate, one
    dim-grain weighted sum, then the same two-step driver
    renormalization written as scalar CTEs (CAST(.. AS DOUBLE)
    operand-for-operand where the operator calls float())."""
    sql = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
x6 AS (SELECT vec_id, unnest(range(1, len(e) + 1)) AS i,
    CAST(floor(unnest(e) * 1000000.0 + 0.5) AS BIGINT) AS x6
  FROM v),
dm AS (SELECT CAST(max(len(e)) AS BIGINT) AS d FROM v),
v0 AS (SELECT unnest(range(1, d + 1)) AS i,
    CAST(floor(1000000.0 / sqrt(CAST(d AS DOUBLE)) + 0.5) AS BIGINT)
      AS v6
  FROM dm)"""
    prev = "v0"
    for t in range(1, n_iters + 1):
        sql += f""",
d{t} AS (SELECT vec_id, CAST(sum(x6 * v6) AS BIGINT) AS d
  FROM x6 JOIN {prev} USING (i) GROUP BY vec_id),
w{t} AS (SELECT i, CAST(sum(CAST(x6 AS HUGEINT) * d) AS HUGEINT) AS w
  FROM x6 JOIN d{t} USING (vec_id) GROUP BY i),
wm{t} AS (SELECT max(abs(w)) AS wmax FROM w{t}),
u{t} AS (SELECT i, CAST(floor(CAST(w AS DOUBLE) / CAST(wmax AS DOUBLE)
           * 1000000.0 + 0.5) AS BIGINT) AS u6
  FROM w{t} CROSS JOIN wm{t}),
n{t} AS (SELECT CAST(sum(u6 * u6) AS BIGINT) AS n2 FROM u{t}),
v{t} AS (SELECT i, CAST(floor(CAST(u6 AS DOUBLE) * 1000000.0
           / sqrt(CAST(n2 AS DOUBLE)) + 0.5) AS BIGINT) AS v6
  FROM u{t} CROSS JOIN n{t})"""
        prev = f"v{t}"
    return sql + f""",
df AS (SELECT vec_id, CAST(sum(x6 * v6) AS BIGINT) AS d
  FROM x6 JOIN {prev} USING (i) GROUP BY vec_id),
en AS (SELECT
    (SELECT CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) FROM df)
      AS num,
    (SELECT CAST(sum(CAST(x6 AS HUGEINT) * x6) AS HUGEINT) FROM x6)
      AS den)
SELECT CAST(i AS BIGINT) AS dim,
  CAST(v6 AS DOUBLE) / 1000000.0 AS loading,
  floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000000000000.0
        * 1000000.0 + 0.5)
    / 1000000.0 AS explained_ratio
FROM {prev} CROSS JOIN en
"""


@q(
    "q251_pca_power_iteration",
    oracle=_pca_oracle(3),
    description="top principal direction of the embedding second-"
    "moment matrix by distributed power iteration (3 iterations, "
    "v <- X^T(X v)) plus the explained-energy ratio — the anisotropy "
    "audit for embedding quality. Never materializes the d x d Gram "
    "matrix: per iteration ONE pass over the persisted 1e-6-grid "
    "integer embeddings (per-doc dot fold + posexplode aggregation "
    "to d rows, map-side combinable), O(n*d) work and a d-row "
    "shuffle; the d-row renormalization is the bounded-aggregate "
    "collect device with float() casts mirroring the oracle's "
    "CAST AS DOUBLE operand by operand, re-snapped to the integer "
    "grid so every data-sized sum stays exact and order-free",
)
def q251(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.power_iteration_pca(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding", n_iters=3
    )


# =====================================================================
# round-11 second batch: isotonic recalibration (the PAV fit q202's
# description promises but nothing computed), WOE/IV feature
# screening, split-conformal prediction-interval calibration, and —
# in batch B/C — two-NN intrinsic dimension, DFT periodogram
# seasonality, BFS reachability, TextRank keywords, and group-aware
# k-fold assignment. Checked against the registry list + a keyword
# grep before landing (the r10 dedup-before-landing lesson).
# =====================================================================


@q(
    "q256_isotonic_calibration",
    oracle=_pred_cte()
    + """,
b AS (SELECT least(CAST(floor(p * 100.0 + 0.5) AS BIGINT), 100) AS s, y
  FROM pred),
g AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS pos
  FROM b GROUP BY s),
cu AS (SELECT s, n, pos,
    CAST(sum(n) OVER (ORDER BY s) AS BIGINT) AS cn,
    CAST(sum(pos) OVER (ORDER BY s) AS BIGINT) AS cp
  FROM g),
pr AS (SELECT a.s AS j, b.s AS k,
    CAST(b.cp - a.cp + a.pos AS DOUBLE)
      / CAST(b.cn - a.cn + a.n AS DOUBLE) AS avg_jk
  FROM cu a JOIN cu b ON a.s <= b.s),
sm AS (SELECT j, k,
    min(avg_jk) OVER (PARTITION BY j ORDER BY k DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_ji
  FROM pr),
fit AS (SELECT k AS s, max(b_ji) AS fitted FROM sm GROUP BY k)
SELECT g.s AS score_bin, g.n AS n_docs, g.pos AS n_pos,
  floor(CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS raw_rate,
  floor(fit.fitted * 1000000.0 + 0.5) / 1000000.0 AS fitted_rate
FROM g JOIN fit ON fit.s = g.s ORDER BY score_bin
""",
    description="isotonic (PAV) recalibration of the q84 quality "
    "classifier against the q119 length label — the monotone fit "
    "q202's reliability diagram motivates but never computes: "
    "exact pool-adjacent-violators via the minimax identity "
    "fitted(i) = max_{j<=i} min_{k>=i} mean(y_j..y_k), evaluated "
    "entirely on the <=101-row 1e-2 SCORE-GRAIN frame (one corpus "
    "aggregation, then a bounded self-join of ~5k (j,k) pairs, one "
    "suffix-min window per start, one max per level — never a "
    "per-row pass); interval means are single divisions of exact "
    "int64 cumulative counts so min/max selection is bit-stable, "
    "output snapped to 1e-6 on both engines",
)
def q256(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _pred_frame(spark, sf_dir)
    b = pred.select(
        F.least(
            F.floor(F.col("p") * F.lit(100.0) + F.lit(0.5)).cast("long"),
            F.lit(100).cast("long"),
        ).alias("s"),
        "y",
    )
    g = b.groupBy("s").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    ).persist()  # one corpus scan: cu/a/bb/fit all read this
    return _isotonic_fit_rates(g)


def _isotonic_fit_rates(g: DataFrame) -> DataFrame:
    """Isotonic (PAV) fit over a binned score grain ``(s, n, pos)``
    via the max-min closed form fitted(k) = max_{j<=k} min_{l>=j}
    avg(rates over [j,l]) — factored out of q256 so the randomized
    property suite can drive it with synthetic histograms (VERDICT
    r11 task 7). Caller persists g; everything below is score-grain
    (<= ~101 rows) work."""
    # score grain <= 101 rows from here on: the single-partition
    # windows and the (j,k) self-join are all model-sized
    wcum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    cu = g.select(
        "s",
        "n",
        "pos",
        F.sum("n").over(wcum).cast("long").alias("cn"),
        F.sum("pos").over(wcum).cast("long").alias("cp"),
    )
    a = cu.select(
        F.col("s").alias("j"),
        F.col("n").alias("an"),
        F.col("pos").alias("apos"),
        F.col("cn").alias("acn"),
        F.col("cp").alias("acp"),
    )
    bb = cu.select(
        F.col("s").alias("k"),
        F.col("cn").alias("bcn"),
        F.col("cp").alias("bcp"),
    )
    # both sides are the <=101-row score grain: hint the inequality
    # join to BNLJ (unhinted it plans a CartesianProduct when
    # size-based broadcast is off)
    pr = a.join(F.broadcast(bb), F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("bcp") - F.col("acp") + F.col("apos")).cast("double")
            / (F.col("bcn") - F.col("acn") + F.col("an")).cast("double")
        ).alias("avg_jk"),
    )
    wsuf = (
        Window.partitionBy("j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sm = pr.select(
        "k", F.min("avg_jk").over(wsuf).alias("b_ji")
    )
    fit = sm.groupBy("k").agg(F.max("b_ji").alias("fitted"))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        g.join(fit, g["s"] == fit["k"])
        .select(
            F.col("s").alias("score_bin"),
            F.col("n").alias("n_docs"),
            F.col("pos").alias("n_pos"),
            fl6(F.col("pos").cast("double") / F.col("n").cast("double")).alias(
                "raw_rate"
            ),
            fl6(F.col("fitted")).alias("fitted_rate"),
        )
        .orderBy("score_bin")
    )


def _woe_feature_sql(feat_name: str, bucket_expr: str) -> str:
    """One WOE/IV feature block: bucket counts -> smoothed WOE on the
    1e-6 integer grid -> the exact-integer IV fold
    (p_b*Q - q_b*P) * w6 summed as HUGEINT, divided once."""
    return f"""(
WITH d AS (SELECT {bucket_expr} AS bucket,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_b,
    CAST(sum(y) AS BIGINT) AS p_b
  FROM d GROUP BY bucket),
t AS (SELECT CAST(sum(p_b) AS BIGINT) AS pt,
    CAST(sum(n_b - p_b) AS BIGINT) AS qt
  FROM g),
w AS (SELECT bucket, n_b, p_b, pt, qt,
    CAST(floor((ln((CAST(p_b AS DOUBLE) + 0.5) / CAST(pt AS DOUBLE))
      - ln((CAST(n_b - p_b AS DOUBLE) + 0.5) / CAST(qt AS DOUBLE)))
      * 1000000.0 + 0.5) AS BIGINT) AS w6
  FROM g CROSS JOIN t),
iv AS (SELECT CAST(sum(CAST(p_b * qt - (n_b - p_b) * pt AS HUGEINT)
      * w6) AS HUGEINT) AS t6,
    CAST(min(pt) AS BIGINT) AS pt, CAST(min(qt) AS BIGINT) AS qt
  FROM w)
SELECT '{feat_name}' AS feature, w.bucket, w.n_b AS n_docs,
  w.p_b AS n_pos,
  CAST(w.w6 AS DOUBLE) / 1000000.0 AS woe,
  floor(CAST(iv.t6 AS DOUBLE)
        / (CAST(iv.pt AS DOUBLE) * CAST(iv.qt AS DOUBLE) * 1000000.0)
        * 1000000.0 + 0.5) / 1000000.0 AS iv
FROM w CROSS JOIN iv)"""


@q(
    "q257_woe_iv",
    oracle=_woe_feature_sql("source", "source")
    + "\nUNION ALL\n"
    + _woe_feature_sql(
        "len_bucket",
        "CAST(least(CAST(floor(n_chars / 100.0) AS BIGINT), 9) "
        "AS VARCHAR)",
    ),
    description="weight-of-evidence / information-value feature "
    "screening: which metadata column separates English from "
    "non-English documents — the credit-scoring-style ranking a "
    "feature pipeline runs before training a gate classifier "
    "(q236's info gain is the entropy cousin; WOE/IV is the "
    "industry readout with per-bucket direction). Two features "
    "(source, 100-char length bucket), each ONE aggregation to a "
    "<=20-row bucket frame; WOE = ln((p_b+.5)/P) - ln((q_b+.5)/Q) "
    "(0.5-smoothed so empty cells stay finite) snapped to the 1e-6 "
    "integer grid, and IV folds exactly: sum((p_b*Q - q_b*P)*w6) "
    "as a HUGEINT/DECIMAL(38) — order-free — with ONE final "
    "division by P*Q*1e6",
)
def q257(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")

    def one(feat_name: str, bucket: F.Column) -> DataFrame:
        d = docs.select(
            bucket.alias("bucket"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
        g = d.groupBy("bucket").agg(
            F.count("*").cast("long").alias("n_b"),
            F.sum("y").cast("long").alias("p_b"),
        ).persist()  # one corpus scan per feature: t/w/iv read this
        t = g.agg(
            F.sum("p_b").cast("long").alias("pt"),
            F.sum(F.col("n_b") - F.col("p_b")).cast("long").alias("qt"),
        )
        w = g.crossJoin(F.broadcast(t)).select(
            "bucket",
            "n_b",
            "p_b",
            "pt",
            "qt",
            F.floor(
                (
                    F.log(
                        (F.col("p_b").cast("double") + F.lit(0.5))
                        / F.col("pt").cast("double")
                    )
                    - F.log(
                        (
                            (F.col("n_b") - F.col("p_b")).cast("double")
                            + F.lit(0.5)
                        )
                        / F.col("qt").cast("double")
                    )
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("w6"),
        )
        iv = w.agg(
            F.sum(
                (
                    F.col("p_b") * F.col("qt")
                    - (F.col("n_b") - F.col("p_b")) * F.col("pt")
                ).cast("decimal(38,0)")
                * F.col("w6")
            ).alias("t6"),
            F.min("pt").alias("pt2"),
            F.min("qt").alias("qt2"),
        )
        return w.crossJoin(F.broadcast(iv)).select(
            F.lit(feat_name).alias("feature"),
            "bucket",
            F.col("n_b").alias("n_docs"),
            F.col("p_b").alias("n_pos"),
            (F.col("w6").cast("double") / F.lit(1e6)).alias("woe"),
            (
                F.floor(
                    F.col("t6").cast("double")
                    / (
                        F.col("pt2").cast("double")
                        * F.col("qt2").cast("double")
                        * F.lit(1e6)
                    )
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("iv"),
        )

    return one("source", F.col("source")).unionByName(
        one(
            "len_bucket",
            F.least(
                F.floor(F.col("n_chars") / F.lit(100.0)).cast("long"),
                F.lit(9).cast("long"),
            ).cast("string"),
        )
    )


@q(
    "q259_conformal_coverage",
    oracle=f"""
WITH ev AS ({_EV}),
e2 AS (SELECT event_type,
    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v2,
    ('0x' || substr(md5('conf-' || event_id), 1, 15))::BIGINT % 5
      AS bucket
  FROM ev WHERE value IS NOT NULL),
tr AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_train,
    CAST(sum(v2) AS HUGEINT) AS s
  FROM e2 WHERE bucket <= 2 GROUP BY event_type),
md AS (SELECT event_type, n_train,
    CAST(s AS DOUBLE) / CAST(n_train AS DOUBLE) AS pred
  FROM tr),
cal AS (SELECT e2.event_type, abs(CAST(v2 AS DOUBLE) - md.pred) AS r
  FROM e2 JOIN md USING (event_type) WHERE bucket = 3),
cg AS (SELECT event_type, r, CAST(count(*) AS BIGINT) AS c
  FROM cal GROUP BY event_type, r),
cn AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_cal
  FROM cg GROUP BY event_type),
ck AS (SELECT event_type, n_cal,
    least(CAST(ceil(0.9 * CAST(n_cal + 1 AS DOUBLE)) AS BIGINT), n_cal)
      AS k
  FROM cn),
cc AS (SELECT cg.event_type, cg.r,
    CAST(sum(c) OVER (PARTITION BY cg.event_type ORDER BY cg.r)
      AS BIGINT) AS cum
  FROM cg),
qh AS (SELECT cc.event_type, min(cc.r) AS q_hat
  FROM cc JOIN ck USING (event_type) WHERE cc.cum >= ck.k
  GROUP BY cc.event_type),
te AS (SELECT e2.event_type,
    CAST(count(*) AS BIGINT) AS n_test,
    CAST(sum(CASE WHEN abs(CAST(v2 AS DOUBLE) - md.pred) <= qh.q_hat
             THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
  FROM e2 JOIN md USING (event_type) JOIN qh USING (event_type)
  WHERE bucket = 4 GROUP BY e2.event_type)
SELECT md.event_type, md.n_train, ck.n_cal, te.n_test,
  floor(md.pred * 1000000.0 + 0.5) / 1000000.0 AS pred_mean,
  floor(qh.q_hat * 1000000.0 + 0.5) / 1000000.0 AS q_hat,
  floor(CAST(te.n_cov AS DOUBLE) / CAST(te.n_test AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS coverage
FROM md JOIN ck USING (event_type) JOIN qh USING (event_type)
JOIN te USING (event_type)
""",
    description="split-conformal prediction-interval calibration per "
    "event type: deterministic md5 60/20/20 train/calibration/test "
    "split, a per-type mean model on train, the nearest-rank "
    "ceil(0.9*(n+1)) conformal quantile of absolute calibration "
    "residuals, and the empirical holdout coverage (should "
    "concentrate near 0.9 — the distribution-free guarantee). "
    "Values quantize to the 1e-2 integer grid (q246's device) so "
    "the train mean is an exact HUGEINT/DECIMAL ratio and every "
    "residual is the same IEEE double on both engines; the "
    "quantile is a selection (cumulative counts over the bounded "
    "residual-VALUE grain, q182's nearest-rank device), never a "
    "data-sized sort; coverage is one comparison-aggregate over "
    "the test split",
)
def q259(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    e2 = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("v2"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("conf-"), F.col("event_id").cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % F.lit(5)
        ).alias("bucket"),
    ).persist()  # three split passes (train/cal/test) read this
    tr = (
        e2.filter(F.col("bucket") <= 2)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_train"),
            F.sum(F.col("v2").cast("decimal(38,0)")).alias("s"),
        )
    )
    md = tr.select(
        "event_type",
        "n_train",
        (F.col("s").cast("double") / F.col("n_train").cast("double")).alias(
            "pred"
        ),
    )
    # md is event-type-grain (bounded): broadcast through every join
    cal = (
        e2.filter(F.col("bucket") == 3)
        .join(F.broadcast(md), "event_type")
        .select(
            "event_type",
            F.abs(F.col("v2").cast("double") - F.col("pred")).alias("r"),
        )
    )
    cg = cal.groupBy("event_type", "r").agg(
        F.count("*").cast("long").alias("c")
    )
    cn = cg.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_cal")
    )
    ck = cn.select(
        "event_type",
        "n_cal",
        F.least(
            F.ceil(F.lit(0.9) * (F.col("n_cal") + 1).cast("double")).cast(
                "long"
            ),
            F.col("n_cal"),
        ).alias("k"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("r")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    cc = cg.select(
        "event_type", "r", F.sum("c").over(wcum).cast("long").alias("cum")
    )
    qh = (
        cc.join(F.broadcast(ck), "event_type")
        .filter(F.col("cum") >= F.col("k"))
        .groupBy("event_type")
        .agg(F.min("r").alias("q_hat"))
    )
    te = (
        e2.filter(F.col("bucket") == 4)
        .join(F.broadcast(md.select("event_type", "pred")), "event_type")
        .join(F.broadcast(qh), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("v2").cast("double") - F.col("pred"))
                    <= F.col("q_hat"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_cov"),
        )
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        md.join(F.broadcast(ck.select("event_type", "n_cal")), "event_type")
        .join(F.broadcast(qh), "event_type")
        .join(F.broadcast(te), "event_type")
        .select(
            "event_type",
            "n_train",
            "n_cal",
            "n_test",
            fl6(F.col("pred")).alias("pred_mean"),
            fl6(F.col("q_hat")).alias("q_hat"),
            fl6(
                F.col("n_cov").cast("double") / F.col("n_test").cast("double")
            ).alias("coverage"),
        )
    )


@q(
    "q260_intrinsic_dimension",
    oracle="""
WITH v AS (SELECT vec_id AS nid,
    list_transform(embedding::DOUBLE[],
      x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS x6
  FROM embeddings),
pr AS (SELECT nid AS qid, x6 AS q6 FROM v
  ORDER BY md5('id-' || nid), nid LIMIT 64),
el AS (SELECT qid, nid, unnest(q6) AS a, unnest(x6) AS b
  FROM pr CROSS JOIN v),
sc AS (SELECT qid, nid, CAST(sum((a - b) * (a - b)) AS BIGINT) AS d2
  FROM el GROUP BY qid, nid HAVING sum((a - b) * (a - b)) > 0),
rk AS (SELECT qid, d2,
    row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
  FROM sc),
tw AS (SELECT qid,
    min(CASE WHEN rn = 1 THEN d2 END) AS d1,
    min(CASE WHEN rn = 2 THEN d2 END) AS d2b
  FROM rk WHERE rn <= 2 GROUP BY qid),
t AS (SELECT CAST(round(0.5 * ln(CAST(d2b AS DOUBLE)
      / CAST(d1 AS DOUBLE)), 9) AS DECIMAL(38,9)) AS t9
  FROM tw)
SELECT CAST(count(*) AS BIGINT) AS n_probes,
  floor(CAST(sum(t9) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
    AS sum_ln_mu,
  floor(CAST(count(*) AS DOUBLE)
        / nullif(CAST(sum(t9) AS DOUBLE), 0.0)
        * 1000000.0 + 0.5) / 1000000.0 AS id_hat
FROM t
""",
    description="two-NN intrinsic-dimension estimate of the embedding "
    "manifold (Facco et al. 2017): the MLE id_hat = n / sum(ln d2/d1) "
    "over a fixed md5-ordered 64-probe sample — the diagnostic that "
    "says whether distance-based curation (SemDeDup q70, kNN "
    "selection q83/q127) still has contrast or is operating in a "
    "concentration-of-measure regime. Probe cap keeps the scored "
    "frame LINEAR in the corpus (q250's recipe, never all-pairs); "
    "the two nearest neighbors come from two map-side min(struct) "
    "aggregations, not a window over the scored stream; squared "
    "distances are exact int64 on the 1e-6 embedding grid (q251's "
    "device) so every selection is bit-stable, ln(mu) terms snap to "
    "1e-9 and sum as DECIMAL(38,9) (q128's order-free fold)",
)
def q260(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.two_nn_intrinsic_dim(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


@q(
    "q261_periodogram",
    oracle=f"""
WITH ev AS ({_EV}),
dly AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
    CAST(count(*) AS BIGINT) AS x
  FROM ev GROUP BY 1),
idx AS (SELECT x,
    CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS t
  FROM dly),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS s
  FROM dly),
kf AS (SELECT CAST(k AS BIGINT) AS k
  FROM (SELECT unnest(range(1, 11)) AS k) CROSS JOIN nn
  WHERE 2 * k <= n - 1),
tr AS (SELECT kf.k, idx.t,
    CAST(floor(cos(2.0 * pi() * CAST(kf.k * idx.t AS DOUBLE)
        / CAST(nn.n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS c6,
    CAST(floor(sin(2.0 * pi() * CAST(kf.k * idx.t AS DOUBLE)
        / CAST(nn.n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS s6,
    CAST(nn.n * idx.x - nn.s AS BIGINT) AS y
  FROM kf CROSS JOIN idx CROSS JOIN nn),
ag AS (SELECT k,
    CAST(sum(CAST(c6 AS HUGEINT) * y) AS HUGEINT) AS ak,
    CAST(sum(CAST(s6 AS HUGEINT) * y) AS HUGEINT) AS bk
  FROM tr GROUP BY k),
pw AS (SELECT k,
    (CAST(ak AS DOUBLE) / (1000000.0 * CAST(nn.n AS DOUBLE)))
      * (CAST(ak AS DOUBLE) / (1000000.0 * CAST(nn.n AS DOUBLE)))
    + (CAST(bk AS DOUBLE) / (1000000.0 * CAST(nn.n AS DOUBLE)))
      * (CAST(bk AS DOUBLE) / (1000000.0 * CAST(nn.n AS DOUBLE)))
      AS power, nn.n
  FROM ag CROSS JOIN nn)
SELECT k, n AS n_days,
  floor(CAST(n AS DOUBLE) / CAST(k AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS period_days,
  floor(power * 1000000.0 + 0.5) / 1000000.0 AS power,
  power = max(power) OVER () AS is_peak
FROM pw ORDER BY k
""",
    description="exact DFT periodogram of the daily event-count "
    "series at integer frequencies k=1..10 (k <= (n-1)/2): spectral "
    "power |sum (x_t - mean) e^(-2 pi i k t / n)|^2 per candidate "
    "period, peak flagged — the seasonality DETECTOR upstream of "
    "q244's fixed weekly decomposition and q211's day-of-week "
    "profile (those assume period 7; this finds it). Centering "
    "folds into integers: y_t = n*x_t - S is exact, cos/sin "
    "coefficients snap once to the 1e-6 integer grid, so every "
    "data-sized sum is an exact HUGEINT/DECIMAL(38) fold "
    "(order-free) and the only doubles are the final identically-"
    "parenthesized power expression; day-grain frame is calendar-"
    "bounded, the k roster is a 10-row literal. The snap is the "
    "ONE cross-libm point (JVM vs DuckDB cos/sin can differ ~1 "
    "ULP); a driver-side literal table can't replace it because "
    "the angles depend on data-sized n while the oracle SQL is "
    "static, so the grid is 1e-6 (not 1e-9): the arg error a ULP "
    "induces is ~1e-10 of a grid cell, making a boundary flip "
    "~1000x less likely than the former 1e-9 grid",
)
def q261(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    dly = ev.groupBy(
        F.col("ts").cast("date").cast("string").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    dly = dly.persist()  # one corpus scan: idx, nn and kf read this
    # calendar-bounded frame: the single-partition window and the
    # k-roster cross joins below all run on <= a few thousand rows
    idx = dly.select(
        "x",
        (F.row_number().over(Window.orderBy("day")) - 1)
        .cast("long")
        .alias("t"),
    )
    nn = dly.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    kf = (
        spark.range(1, 11)
        .select(F.col("id").cast("long").alias("k"))
        .crossJoin(F.broadcast(nn))
        .filter(F.lit(2) * F.col("k") <= F.col("n") - 1)
        .select("k")
    )
    ang = (
        F.lit(2.0 * __import__("math").pi)
        * (F.col("k") * F.col("t")).cast("double")
        / F.col("n").cast("double")
    )
    fl6i = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)).cast("long")
    tr = (
        F.broadcast(kf)
        .crossJoin(idx)
        .crossJoin(F.broadcast(nn))
        .select(
            "k",
            fl6i(F.cos(ang)).alias("c6"),
            fl6i(F.sin(ang)).alias("s6"),
            (F.col("n") * F.col("x") - F.col("s"))
            .cast("long")
            .alias("y"),
            "n",
        )
    )
    ag = tr.groupBy("k", "n").agg(
        F.sum(F.col("c6").cast("decimal(38,0)") * F.col("y")).alias("ak"),
        F.sum(F.col("s6").cast("decimal(38,0)") * F.col("y")).alias("bk"),
    )
    pa = F.col("ak").cast("double") / (
        F.lit(1e6) * F.col("n").cast("double")
    )
    pb = F.col("bk").cast("double") / (
        F.lit(1e6) * F.col("n").cast("double")
    )
    pw = ag.select("k", "n", (pa * pa + pb * pb).alias("power"))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return pw.select(
        "k",
        F.col("n").alias("n_days"),
        fl6(F.col("n").cast("double") / F.col("k").cast("double")).alias(
            "period_days"
        ),
        fl6(F.col("power")).alias("power"),
        (F.col("power") == F.max("power").over(wall)).alias("is_peak"),
    ).orderBy("k")


def _bfs_oracle(n_seeds: int = 4, max_hops: int = 4) -> str:
    """q255 oracle: the q83 kNN-graph CTEs + unrolled cumulative
    reach sets r_t = r_{t-1} UNION N(r_{t-1}); the BFS hop is the
    first round a (seed, node) pair appears (min over the tagged
    union) — set semantics, so no floating point anywhere."""
    base = _knn_graph_oracle(5)
    ctes = base[: base.rindex("SELECT src, nbr")]
    sql = (
        ctes
        + f""", g AS (SELECT src, nbr FROM ranked WHERE rnk <= 5),
seeds AS (SELECT vec_id AS seed FROM embeddings
          ORDER BY vec_id LIMIT {n_seeds}),
r0 AS (SELECT seed, seed AS node FROM seeds)"""
    )
    prev = "r0"
    for t in range(1, max_hops + 1):
        sql += f""",
r{t} AS (SELECT seed, node FROM {prev}
  UNION
  SELECT p.seed, g.nbr AS node FROM {prev} p JOIN g ON g.src = p.node)"""
        prev = f"r{t}"
    tags = "\n  UNION ALL ".join(
        f"SELECT seed, node, {t} AS hop FROM r{t}"
        for t in range(0, max_hops + 1)
    )
    return (
        sql
        + f""",
tag AS ({tags}),
mh AS (SELECT seed, node, CAST(min(hop) AS BIGINT) AS hop
  FROM tag GROUP BY seed, node)
SELECT seed AS seed_id, hop, CAST(count(*) AS BIGINT) AS n_nodes
FROM mh GROUP BY seed, hop ORDER BY seed_id, hop
"""
    )


@q(
    "q255_bfs_reachability",
    oracle=_bfs_oracle(4, 4),
    description="multi-source BFS over the q83 kNN embedding graph: "
    "exact hop distance (<=4) from each of 4 anchor vectors to "
    "everything reachable, summarized as the per-(seed, hop) "
    "frontier-size histogram — the neighborhood-expansion profile "
    "graph-walk selection runs on, and the registry's first "
    "TRAVERSAL operator (q127/q138/q164 iterate on values; this "
    "iterates on the frontier SET). Per hop ONE frontier-keyed "
    "shuffle join + DISTINCT + an anti-join against the visited set "
    "(first-visit = min hop, so set semantics replace all "
    "arithmetic); one pass covers all seeds; per-round frames are "
    "checkpointed, the seeds x hops histogram collapses to a "
    "literal frame, and only then are the checkpoints released, so "
    "no consumer rides the iterative lineage",
)
def q255(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    edges = sim.knn_graph(emb, "vec_id", "embedding", k=5).select(
        "src", "nbr"
    )
    seeds = emb.select("vec_id").orderBy("vec_id").limit(4)
    return gr.bfs_hops(edges, seeds, "vec_id", max_hops=4)


def _textrank_oracle(
    n_iters: int = 3, damping: float = 0.85, top_k: int = 20
) -> str:
    """q258 oracle: tokenize -> adjacent content-word bigrams ->
    symmetric weighted edge list -> the exact q137 weighted-PageRank
    recurrence on vocab-grain integer ids, unrolled."""
    sql = r"""
WITH d AS (SELECT
    list_filter(string_split_regex(trim(text), '\s+'),
                x -> len(x) >= 4) AS fw
  FROM documents),
bg AS (SELECT unnest(list_transform(generate_series(1, len(fw) - 1),
    i -> {'u': least(fw[i], fw[i+1]),
          'v': greatest(fw[i], fw[i+1])})) AS p
  FROM d WHERE len(fw) >= 2),
ew AS (SELECT p.u AS u, p.v AS v, CAST(count(*) AS BIGINT) AS w
  FROM bg WHERE p.u <> p.v GROUP BY p.u, p.v),
vocab AS (SELECT DISTINCT word FROM
    (SELECT unnest(fw) AS word FROM d)),
ids AS (SELECT word,
    CAST(row_number() OVER (ORDER BY word) AS BIGINT) AS wid
  FROM vocab),
ge AS (SELECT a.wid AS src, b.wid AS nbr, CAST(ew.w AS DOUBLE) AS w
  FROM ew JOIN ids a ON a.word = ew.u JOIN ids b ON b.word = ew.v
  UNION ALL
  SELECT b.wid, a.wid, CAST(ew.w AS DOUBLE)
  FROM ew JOIN ids a ON a.word = ew.u JOIN ids b ON b.word = ew.v),
nodes AS (SELECT wid FROM ids),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS (SELECT src,
    CAST(sum(CAST(w AS DECIMAL(18,5))) AS DOUBLE) AS w_out
  FROM ge GROUP BY src),
r0 AS (SELECT wid, 1.0 / n AS r FROM nodes, nn)"""
    prev = "r0"
    for t in range(1, n_iters + 1):
        sql += f""",
c{t} AS (SELECT ge.nbr AS wid,
    {_sql_q12sum(
        "CASE WHEN o.w_out <> 0 THEN p.r * ge.w / o.w_out "
        "ELSE 0.0 END"
    )} AS s
  FROM ge JOIN outw o USING (src) JOIN {prev} p ON p.wid = ge.src
  GROUP BY ge.nbr),
r{t} AS (SELECT nodes.wid,
    (CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE)) / n
      + CAST({damping} AS DOUBLE) * coalesce(c{t}.s, 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN c{t} ON c{t}.wid = nodes.wid)"""
        prev = f"r{t}"
    return (
        sql
        + f""",
sc AS (SELECT ids.word, {_sql_round8("r")} AS score
  FROM {prev} JOIN ids USING (wid)),
rk AS (SELECT word, score,
    CAST(row_number() OVER (ORDER BY score DESC, word) AS BIGINT)
      AS rank
  FROM sc)
SELECT word, score, rank FROM rk WHERE rank <= {top_k} ORDER BY rank
"""
    )


@q(
    "q258_textrank_keywords",
    oracle=_textrank_oracle(),
    description="TextRank keyword extraction (Mihalcea & Tarau 2004): "
    "weighted PageRank over the corpus word co-occurrence graph — "
    "nodes are content words (len >= 4, which excludes every "
    "STOPWORDS entry), edges connect ADJACENT content words with "
    "co-occurrence-count weight, undirected; 3 exact q137-recurrence "
    "iterations, top-20 by 8dp-snapped score. The graph-centrality "
    "counterpart of q76's TF-IDF ranking. One corpus tokenize + "
    "bigram explode, then everything runs at VOCABULARY grain "
    "(vocab-bounded id window, vocab-keyed joins, decimal-summed "
    "contributions bit-stable across partitionings)",
)
def q258(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.textrank_keywords(
        T(spark, sf_dir, "documents"), "doc_id", "text", top_k=20
    )


@q(
    "q262_group_kfold",
    oracle=f"""
WITH RECURSIVE {_dedup_cluster_ctes()},
cf AS (SELECT c.doc_id, c.cluster_id,
    ('0x' || substr(md5('fold-' || c.cluster_id), 1, 15))::BIGINT % 5
      AS fold
  FROM clusters c),
pf AS (SELECT
    CAST(sum(CASE WHEN
      ('0x' || substr(md5('fold-' || p.a_id), 1, 15))::BIGINT % 5
      <> ('0x' || substr(md5('fold-' || p.b_id), 1, 15))::BIGINT % 5
      THEN 1 ELSE 0 END) AS BIGINT) AS naive_split_pairs,
    CAST(sum(CASE WHEN ca.fold <> cb.fold THEN 1 ELSE 0 END)
      AS BIGINT) AS group_split_pairs
  FROM pairs p
  JOIN cf ca ON ca.doc_id = p.a_id
  JOIN cf cb ON cb.doc_id = p.b_id),
agg AS (SELECT cf.fold,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(count(DISTINCT cf.cluster_id) AS BIGINT) AS n_clusters,
    CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
  FROM cf JOIN documents d ON d.doc_id = cf.doc_id
  GROUP BY cf.fold)
SELECT agg.fold, agg.n_docs, agg.n_clusters, agg.sum_chars,
  pf.naive_split_pairs, pf.group_split_pairs
FROM agg CROSS JOIN pf ORDER BY agg.fold
""",
    description="leakage-safe GROUP k-fold assignment: folds are "
    "hashed from the q58 near-dup CLUSTER id (md5-uniform, k=5), so "
    "every near-duplicate lands in the same fold and cross-fold "
    "contamination from the duplicate graph is 0 BY CONSTRUCTION — "
    "vs the naive per-doc hash split, whose split-pair count is "
    "reported alongside as the leakage the group split prevents "
    "(the q187/q250 audits DETECT leakage; this op PREVENTS it, the "
    "GroupKFold discipline of training-data splits). One near-dup "
    "pair pass (q23's banded LSH machinery), min-label components "
    "(q58), then fold stats at fold grain; the two split-pair "
    "counters are one aggregation over the pair stream joined to "
    "the cluster map",
)
def q262(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    prs = dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    clusters = gr.dedup_clusters(docs, prs, "doc_id")

    def fold_of(c: F.Column) -> F.Column:
        return (
            dd.base_hash_expr(
                F.concat(F.lit("fold-"), c.cast("string"))
            )
            % F.lit(5)
        ).cast("long")

    cf = clusters.select(
        "doc_id", "cluster_id", fold_of(F.col("cluster_id")).alias("fold")
    ).persist()  # read by the fold aggregate and both pair joins
    pf = (
        prs.select("a_id", "b_id")
        .join(
            cf.select(F.col("doc_id").alias("a_id"), F.col("fold").alias("fa")),
            "a_id",
        )
        .join(
            cf.select(F.col("doc_id").alias("b_id"), F.col("fold").alias("fb")),
            "b_id",
        )
        .agg(
            F.sum(
                F.when(
                    fold_of(F.col("a_id")) != fold_of(F.col("b_id")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("naive_split_pairs"),
            F.sum(F.when(F.col("fa") != F.col("fb"), 1).otherwise(0))
            .cast("long")
            .alias("group_split_pairs"),
        )
    )
    agg = (
        cf.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("fold")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    return agg.crossJoin(F.broadcast(pf)).orderBy("fold")


def _bucket0_sql(vec_expr: str = "embedding::DOUBLE[]") -> str:
    """The table-0 LSH bucket id as a SQL expression (the
    _knn_graph_oracle bit device, one table only)."""
    plane_dots = [
        f"list_dot_product({vec_expr}, [{', '.join(repr(v) for v in p)}])"
        for p in sim.HYPERPLANES[0]
    ]
    bits = " + ".join(
        f"(CASE WHEN {d} > 0 THEN {1 << i} ELSE 0 END)"
        for i, d in enumerate(plane_dots)
    )
    return f"CAST({bits} AS BIGINT)"


@q(
    "q263_clustering_agreement",
    oracle=f"""
WITH cells AS (SELECT {_bucket0_sql()} AS cl,
    CAST(label AS BIGINT) AS lb, CAST(count(*) AS BIGINT) AS nij
  FROM embeddings GROUP BY 1, 2),
a AS (SELECT cl, CAST(sum(nij) AS BIGINT) AS ai FROM cells GROUP BY cl),
b AS (SELECT lb, CAST(sum(nij) AS BIGINT) AS bj FROM cells GROUP BY lb),
nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM cells),
s AS (SELECT
    (SELECT CAST(sum(CAST(nij AS HUGEINT) * (nij - 1) / 2) AS HUGEINT)
     FROM cells) AS s_ij,
    (SELECT CAST(sum(CAST(ai AS HUGEINT) * (ai - 1) / 2) AS HUGEINT)
     FROM a) AS s_a,
    (SELECT CAST(sum(CAST(bj AS HUGEINT) * (bj - 1) / 2) AS HUGEINT)
     FROM b) AS s_b,
    (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_cl,
    (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_lb,
    (SELECT CAST(sum(mx) AS BIGINT) FROM
       (SELECT max(nij) AS mx FROM cells GROUP BY cl)) AS pur_num,
    (SELECT n FROM nn) AS n),
mi AS (SELECT CAST(sum(CAST(round(
      (CAST(nij AS DOUBLE) / CAST(nn.n AS DOUBLE))
      * ln(CAST(CAST(nn.n AS HUGEINT) * nij AS DOUBLE)
           / CAST(CAST(ai AS HUGEINT) * bj AS DOUBLE)), 9)
    AS DECIMAL(38,9))) AS DOUBLE) AS i_uv
  FROM cells JOIN a USING (cl) JOIN b USING (lb) CROSS JOIN nn),
hu AS (SELECT CAST(sum(CAST(round(
      -(CAST(ai AS DOUBLE) / CAST(nn.n AS DOUBLE))
      * ln(CAST(ai AS DOUBLE) / CAST(nn.n AS DOUBLE)), 9)
    AS DECIMAL(38,9))) AS DOUBLE) AS h_u
  FROM a CROSS JOIN nn),
hv AS (SELECT CAST(sum(CAST(round(
      -(CAST(bj AS DOUBLE) / CAST(nn.n AS DOUBLE))
      * ln(CAST(bj AS DOUBLE) / CAST(nn.n AS DOUBLE)), 9)
    AS DECIMAL(38,9))) AS DOUBLE) AS h_v
  FROM b CROSS JOIN nn)
SELECT s.n AS n_vectors, s.n_cl AS n_clusters, s.n_lb AS n_labels,
  floor(CAST(s.pur_num AS DOUBLE) / CAST(s.n AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS purity,
  floor((CAST(s.s_ij AS DOUBLE)
         - CAST(s.s_a AS DOUBLE) * CAST(s.s_b AS DOUBLE)
           / (CAST(s.n AS DOUBLE) * CAST(s.n - 1 AS DOUBLE) / 2.0))
        / nullif((CAST(s.s_a AS DOUBLE) + CAST(s.s_b AS DOUBLE)) / 2.0
           - CAST(s.s_a AS DOUBLE) * CAST(s.s_b AS DOUBLE)
             / (CAST(s.n AS DOUBLE) * CAST(s.n - 1 AS DOUBLE) / 2.0),
           0.0)
        * 1000000.0 + 0.5) / 1000000.0 AS ari,
  floor(mi.i_uv / nullif(sqrt(hu.h_u * hv.h_v), 0.0)
    * 1000000.0 + 0.5) / 1000000.0 AS nmi
FROM s CROSS JOIN mi CROSS JOIN hu CROSS JOIN hv
""",
    description="external clustering-agreement metrics of the LSH "
    "table-0 bucket clustering against the embedding labels: purity, "
    "Adjusted Rand Index, and NMI in one pass — the evaluation an "
    "embedding pipeline runs to decide whether unsupervised buckets "
    "(SemDeDup cells q70, IVF cells q25b) track semantic classes. "
    "ONE corpus aggregation to the <=16x10 contingency grain; ARI is "
    "pure integer combinatorics (C(n,2) sums as HUGEINT/DECIMAL(38), "
    "exact and order-free) with one identically-parenthesized double "
    "expression; the MI/entropy terms follow q236's snap-to-1e-9 "
    "decimal-fold; purity is an exact max-per-cluster sum",
)
def q263(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    cells = (
        emb.select(
            sim.bucket_expr(
                F.col("embedding").cast("array<double>"), 0
            ).alias("cl"),
            F.col("label").cast("long").alias("lb"),
        )
        .groupBy("cl", "lb")
        .agg(F.count("*").cast("long").alias("nij"))
        .persist()  # one corpus scan; a/b/s/mi all read this
    )
    a = cells.groupBy("cl").agg(F.sum("nij").cast("long").alias("ai"))
    b = cells.groupBy("lb").agg(F.sum("nij").cast("long").alias("bj"))
    dec = "decimal(38,0)"

    def comb2(c_: F.Column) -> F.Column:
        return (c_.cast(dec) * (c_ - 1) / 2).cast(dec)

    s_ij = cells.agg(
        F.sum(comb2(F.col("nij"))).alias("s_ij"),
        F.sum("nij").cast("long").alias("n"),
    )
    s_a = a.agg(
        F.sum(comb2(F.col("ai"))).alias("s_a"),
        F.count("*").cast("long").alias("n_cl"),
    )
    s_b = b.agg(
        F.sum(comb2(F.col("bj"))).alias("s_b"),
        F.count("*").cast("long").alias("n_lb"),
    )
    pur = (
        cells.groupBy("cl")
        .agg(F.max("nij").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("pur_num"))
    )
    nn = s_ij.select("n")
    mi = (
        cells.join(F.broadcast(a), "cl")
        .join(F.broadcast(b), "lb")
        .crossJoin(F.broadcast(nn))
        .select(
            F.round(
                (F.col("nij").cast("double") / F.col("n").cast("double"))
                * F.log(
                    (F.col("n").cast(dec) * F.col("nij")).cast("double")
                    / (F.col("ai").cast(dec) * F.col("bj")).cast("double")
                ),
                9,
            )
            .cast("decimal(38,9)")
            .alias("t9")
        )
        .agg(F.sum("t9").cast("double").alias("i_uv"))
    )

    def ent(df: DataFrame, col: str, out: str) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(nn))
            .select(
                F.round(
                    -(F.col(col).cast("double") / F.col("n").cast("double"))
                    * F.log(
                        F.col(col).cast("double") / F.col("n").cast("double")
                    ),
                    9,
                )
                .cast("decimal(38,9)")
                .alias("t9")
            )
            .agg(F.sum("t9").cast("double").alias(out))
        )

    hu = ent(a, "ai", "h_u")
    hv = ent(b, "bj", "h_v")
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    sd = lambda c_: F.col(c_).cast("double")
    nc2 = sd("n") * (F.col("n") - 1).cast("double") / F.lit(2.0)
    exp_idx = sd("s_a") * sd("s_b") / nc2
    return (
        s_ij.crossJoin(F.broadcast(s_a))
        .crossJoin(F.broadcast(s_b))
        .crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hu))
        .crossJoin(F.broadcast(hv))
        .select(
            F.col("n").alias("n_vectors"),
            F.col("n_cl").alias("n_clusters"),
            F.col("n_lb").alias("n_labels"),
            fl6(sd("pur_num") / sd("n")).alias("purity"),
            # degenerate guards (r12 ADVICE): a single cluster or a
            # single label zeroes an entropy / the ARI denominator;
            # NULLIF on both engines so neither emits inf/NaN
            fl6(
                (sd("s_ij") - exp_idx)
                / F.nullif(
                    (sd("s_a") + sd("s_b")) / F.lit(2.0) - exp_idx,
                    F.lit(0.0),
                )
            ).alias("ari"),
            fl6(
                F.col("i_uv")
                / F.nullif(
                    F.sqrt(F.col("h_u") * F.col("h_v")), F.lit(0.0)
                )
            ).alias("nmi"),
        )
    )


@q(
    "q264_hodges_lehmann",
    oracle=f"""
WITH ev AS ({_EV}),
d AS (SELECT event_type, CAST(floor(value + 0.5) AS BIGINT) AS v
  FROM ev WHERE value IS NOT NULL),
h AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
  FROM d GROUP BY 1, 2),
pr AS (SELECT a.event_type, a.v + b.v AS s,
    CAST(CASE WHEN a.v = b.v THEN a.c * (a.c + 1) / 2
         ELSE a.c * b.c END AS HUGEINT) AS w
  FROM h a JOIN h b ON a.event_type = b.event_type AND a.v <= b.v),
wt AS (SELECT event_type, CAST(sum(w) AS HUGEINT) AS tot
  FROM pr GROUP BY event_type),
cu AS (SELECT pr.event_type, pr.s,
    CAST(sum(pr.w) OVER (PARTITION BY pr.event_type ORDER BY pr.s)
      AS HUGEINT) AS cum
  FROM pr),
hl AS (SELECT cu.event_type, min(cu.s) AS s2
  FROM cu JOIN wt USING (event_type)
  WHERE CAST(cu.cum AS HUGEINT) * 2 >= wt.tot + (wt.tot % 2)
  GROUP BY cu.event_type),
st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(v) AS HUGEINT) AS sv
  FROM d GROUP BY event_type)
SELECT st.event_type, st.n AS n_events,
  CAST(hl.s2 AS DOUBLE) / 2.0 AS hl_estimate,
  floor(CAST(st.sv AS DOUBLE) / CAST(st.n AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS mean_value
FROM st JOIN hl USING (event_type)
""",
    description="Hodges-Lehmann robust location estimate per event "
    "type: the median of all Walsh averages (x_i+x_j)/2 over i<=j — "
    "the rank-based location estimator paired with q245's "
    "Mann-Whitney (it inverts the same statistic), reported beside "
    "the plain mean so the gap reads as skew/outlier influence. "
    "Never touches the O(n^2) pair space at row grain: values "
    "quantize to the integer grid, so Walsh pairs live on the "
    "bounded VALUE-DOMAIN^2 grain with exact multiplicity weights "
    "(c_i*c_j off-diagonal, c(c+1)/2 on it, HUGEINT/DECIMAL sums); "
    "the weighted median is a cumulative-count selection per type "
    "(lower nearest-rank via 2*cum >= W+(W%2), all-integer "
    "comparisons)",
)
def q264(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    d = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("v"),
    )
    h = d.groupBy("event_type", "v").agg(
        F.count("*").cast("long").alias("c")
    ).persist()  # value-domain grain: pair join reads it twice
    dec = "decimal(38,0)"
    a = h.select(
        "event_type",
        F.col("v").alias("av"),
        F.col("c").alias("ac"),
    )
    b = h.select(
        F.col("event_type").alias("event_type_b"),
        F.col("v").alias("bv"),
        F.col("c").alias("bc"),
    )
    pr = a.join(
        b,
        (F.col("event_type") == F.col("event_type_b"))
        & (F.col("av") <= F.col("bv")),
    ).select(
        "event_type",
        (F.col("av") + F.col("bv")).alias("s"),
        F.when(
            F.col("av") == F.col("bv"),
            (F.col("ac").cast(dec) * (F.col("ac") + 1) / 2).cast(dec),
        )
        .otherwise((F.col("ac").cast(dec) * F.col("bc")).cast(dec))
        .alias("w"),
    )
    wt = pr.groupBy("event_type").agg(F.sum("w").alias("tot"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("s")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    cu = pr.select(
        "event_type", "s", F.sum("w").over(wc).alias("cum")
    )
    hl = (
        cu.join(F.broadcast(wt), "event_type")
        .filter(
            F.col("cum") * 2
            >= F.col("tot") + (F.col("tot") % 2)
        )
        .groupBy("event_type")
        .agg(F.min("s").alias("s2"))
    )
    st = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("v").cast(dec)).alias("sv"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return st.join(F.broadcast(hl), "event_type").select(
        "event_type",
        F.col("n").alias("n_events"),
        (F.col("s2").cast("double") / F.lit(2.0)).alias("hl_estimate"),
        fl6(F.col("sv").cast("double") / F.col("n").cast("double")).alias(
            "mean_value"
        ),
    )


@q(
    "q266_nelson_aalen",
    oracle=f"""
WITH ev AS ({_EV}),
su AS (SELECT user_id, min(ts) AS t0 FROM ev
  WHERE event_type = 'signup' GROUP BY user_id),
pu AS (SELECT e.user_id, min(e.ts) AS t1
  FROM ev e JOIN su ON su.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= su.t0
  GROUP BY e.user_id),
mx AS (SELECT max(ts) AS maxt FROM ev),
dur AS (SELECT CAST(CASE WHEN pu.t1 IS NOT NULL
      THEN date_diff('day', CAST(su.t0 AS DATE), CAST(pu.t1 AS DATE))
      ELSE date_diff('day', CAST(su.t0 AS DATE), CAST(mx.maxt AS DATE))
      END AS BIGINT) AS t,
    CASE WHEN pu.t1 IS NOT NULL THEN 1 ELSE 0 END AS evt
  FROM su LEFT JOIN pu ON pu.user_id = su.user_id CROSS JOIN mx),
g AS (SELECT t, CAST(count(*) AS BIGINT) AS c_all,
    CAST(sum(evt) AS BIGINT) AS d_i FROM dur GROUP BY t),
k AS (SELECT t, d_i,
    CAST(sum(c_all) OVER ()
      - COALESCE(sum(c_all) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS n_risk
  FROM g),
k2 AS (SELECT t, n_risk, d_i,
    CAST(sum(CASE WHEN d_i > 0
        THEN CAST(floor(CAST(d_i AS DOUBLE) / CAST(n_risk AS DOUBLE)
            * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END)
      OVER (ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS BIGINT) AS hcum
  FROM k)
SELECT t AS t_days, n_risk AS n_at_risk, d_i AS n_events,
  floor(CAST(hcum AS DOUBLE) / 1000.0 + 0.5) / 1000000.0
    AS cum_hazard,
  floor(exp(-(CAST(hcum AS DOUBLE) / 1000000000.0)) * 1000000.0
        + 0.5) / 1000000.0 AS na_survival
FROM k2 WHERE d_i > 0 ORDER BY t_days
""",
    description="Nelson-Aalen cumulative-hazard estimator of "
    "signup-to-first-purchase time, right-censored at the corpus "
    "horizon for users who never convert — the hazard-scale "
    "companion of q218's Kaplan-Meier (KM multiplies survival "
    "factors; NA SUMS hazard increments d_i/n_i, the quantity "
    "additive models and hazard-ratio eyeballing want), on a "
    "DIFFERENT time-to-event path (events signup->purchase, not "
    "order repeats). Same 100 TB shape as q218: user-keyed "
    "min-aggregations, ONE aggregation to the calendar-bounded "
    "duration grain, at-risk counts from a prefix-sum complement; "
    "each hazard increment is an exact rational snapped to the 1e-9 "
    "integer grid, so the cumulative sum is exact int64 arithmetic "
    "and exp(-H) is one identical double at the end",
)
def q266(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .persist()  # user grain; read by the purchase join AND dur
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    mx = ev.agg(F.max("ts").alias("maxt"))
    dur = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("t1").isNotNull(),
                F.datediff(F.col("t1").cast("date"), F.col("t0").cast("date")),
            )
            .otherwise(
                F.datediff(
                    F.col("maxt").cast("date"), F.col("t0").cast("date")
                )
            )
            .cast("long")
            .alias("t"),
            F.when(F.col("t1").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("evt"),
        )
    )
    g = dur.groupBy("t").agg(
        F.count("*").cast("long").alias("c_all"),
        F.sum("evt").cast("long").alias("d_i"),
    )
    wt = Window.orderBy("t")
    whole = Window.partitionBy()
    prev = F.coalesce(
        F.sum("c_all").over(wt.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    k = g.select(
        "t",
        "d_i",
        (F.sum("c_all").over(whole) - prev).cast("long").alias("n_risk"),
    )
    hterm = F.when(
        F.col("d_i") > 0,
        F.floor(
            F.col("d_i").cast("double")
            / F.col("n_risk").cast("double")
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0))
    k2 = k.select(
        "t",
        "n_risk",
        "d_i",
        F.sum(hterm)
        .over(wt.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("hcum"),
    )
    return (
        k2.filter(F.col("d_i") > 0)
        .select(
            F.col("t").alias("t_days"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d_i").alias("n_events"),
            (
                F.floor(F.col("hcum").cast("double") / F.lit(1e3) + F.lit(0.5))
                / F.lit(1e6)
            ).alias("cum_hazard"),
            (
                F.floor(
                    F.exp(-(F.col("hcum").cast("double") / F.lit(1e9)))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("na_survival"),
        )
        .orderBy("t_days")
    )


@q(
    "q265_bh_fdr",
    oracle="""
WITH d AS (SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s,
    CAST(sum(y) AS BIGINT) AS p_s
  FROM d GROUP BY source),
t AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn,
    CAST(sum(p_s) AS BIGINT) AS pp,
    CAST(count(*) AS BIGINT) AS m
  FROM g),
zz AS (SELECT source, n_s, p_s, m,
    (CAST(p_s AS DOUBLE) / CAST(n_s AS DOUBLE)
     - CAST(pp - p_s AS DOUBLE) / CAST(nn - n_s AS DOUBLE))
    / sqrt((CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))
           * (1.0 - CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE))
           * (1.0 / CAST(n_s AS DOUBLE)
              + 1.0 / CAST(nn - n_s AS DOUBLE))) AS z
  FROM g CROSS JOIN t),
pv AS (SELECT source, n_s, p_s, m, z,
    CAST(floor(2.0 * (exp(-(abs(z) * abs(z)) / 2.0)
        / sqrt(2.0 * pi())
        * ((1.0 / (1.0 + 0.2316419 * abs(z)))
           * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
             * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
               * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                 * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                   * 1.330274429))))))
      * 1000000000.0 + 0.5) AS BIGINT) AS p9
  FROM zz),
rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p9, source)
    AS BIGINT) AS bh_rank FROM pv),
ks AS (SELECT CAST(max(CASE WHEN p9 * m * 10 <= bh_rank * 1000000000
    THEN bh_rank ELSE 0 END) AS BIGINT) AS kstar FROM rk)
SELECT rk.source, rk.n_s AS n_docs,
  floor(CAST(rk.p_s AS DOUBLE) / CAST(rk.n_s AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS en_share,
  floor(rk.z * 1000000.0 + 0.5) / 1000000.0 AS z,
  CAST(rk.p9 AS DOUBLE) / 1000000000.0 AS p_value,
  rk.bh_rank, rk.bh_rank <= ks.kstar AS rejected
FROM rk CROSS JOIN ks ORDER BY rk.bh_rank
""",
    description="Benjamini-Hochberg FDR control over the per-source "
    "'is this source's English share different from the rest of the "
    "corpus' two-proportion z tests — the multiple-testing step "
    "q249's single A/B readout skips, and exactly what a curation "
    "pipeline needs when it screens 20+ sources at once (per-test "
    "alpha would flag noise). z from exact integer counts; the "
    "normal tail probability is the Abramowitz-Stegun 7.1.26 "
    "polynomial written operand-for-operand identically on both "
    "engines and snapped to a 1e-9 integer grid; the BH step-up "
    "p_(k) <= k/m * 0.10 is then the EXACT integer comparison "
    "p9*10m <= k*1e9 (alpha folded into integers, no float "
    "threshold can split engines); one source-grain aggregation, "
    "windows on the <=#sources-row frame",
)
def q265(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _math

    d = T(spark, sf_dir, "documents").select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    g = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_s"),
        F.sum("y").cast("long").alias("p_s"),
    ).persist()  # one corpus scan: totals and the z frame read this
    t = g.agg(
        F.sum("n_s").cast("long").alias("nn"),
        F.sum("p_s").cast("long").alias("pp"),
        F.count("*").cast("long").alias("m"),
    )
    sd = lambda c_: c_.cast("double")
    zz = g.crossJoin(F.broadcast(t)).select(
        "source",
        "n_s",
        "p_s",
        "m",
        (
            (
                sd(F.col("p_s")) / sd(F.col("n_s"))
                - sd(F.col("pp") - F.col("p_s"))
                / sd(F.col("nn") - F.col("n_s"))
            )
            / F.sqrt(
                (sd(F.col("pp")) / sd(F.col("nn")))
                * (F.lit(1.0) - sd(F.col("pp")) / sd(F.col("nn")))
                * (
                    F.lit(1.0) / sd(F.col("n_s"))
                    + F.lit(1.0) / sd(F.col("nn") - F.col("n_s"))
                )
            )
        ).alias("z"),
    )
    az = F.abs(F.col("z"))
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    poly = tt * (
        F.lit(0.319381530)
        + tt
        * (
            F.lit(-0.356563782)
            + tt
            * (
                F.lit(1.781477937)
                + tt * (F.lit(-1.821255978) + tt * F.lit(1.330274429))
            )
        )
    )
    p = (
        F.lit(2.0)
        * (
            F.exp(-(az * az) / F.lit(2.0))
            / F.sqrt(F.lit(2.0) * F.lit(_math.pi))
            * poly
        )
    )
    pv = zz.select(
        "source",
        "n_s",
        "p_s",
        "m",
        "z",
        F.floor(p * F.lit(1e9) + F.lit(0.5)).cast("long").alias("p9"),
    )
    rk = pv.select(
        "*",
        F.row_number()
        .over(Window.orderBy("p9", "source"))
        .cast("long")
        .alias("bh_rank"),
    )
    ks = rk.agg(
        F.max(
            F.when(
                F.col("p9") * F.col("m") * 10
                <= F.col("bh_rank") * F.lit(1000000000),
                F.col("bh_rank"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("kstar")
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        rk.crossJoin(F.broadcast(ks))
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            fl6(sd(F.col("p_s")) / sd(F.col("n_s"))).alias("en_share"),
            fl6(F.col("z")).alias("z"),
            (F.col("p9").cast("double") / F.lit(1e9)).alias("p_value"),
            "bh_rank",
            (F.col("bh_rank") <= F.col("kstar")).alias("rejected"),
        )
        .orderBy("bh_rank")
    )


@q(
    "q267_idle_balance_blame",
    oracle="""
WITH sel AS (SELECT c_custkey, c_mktsegment,
    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal2
  FROM customer
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')),
cutoff AS (SELECT CAST(sum(bal2) AS HUGEINT) AS s,
    CAST(count(*) AS BIGINT) AS c
  FROM sel WHERE bal2 > 0),
idle AS (SELECT sel.c_custkey, sel.c_mktsegment, sel.bal2
  FROM sel CROSS JOIN cutoff
  WHERE CAST(sel.bal2 AS DOUBLE)
        > CAST(cutoff.s AS DOUBLE) / CAST(cutoff.c AS DOUBLE)
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = sel.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
  floor(CAST(CAST(sum(bal2) AS HUGEINT) AS DOUBLE) / 100.0
        * 100.0 + 0.5) / 100.0 AS total_acctbal
FROM idle GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    description="TPC-H Q22 shape on the available schema: "
    "above-average-balance customers in a 3-segment roster with no "
    "ORDER SINCE 2000-01-01 (this corpus has near-zero never-ordered "
    "customers, so the dormancy cutoff keeps the blame set "
    "non-trivial at every SF) — the 'idle capital' query (global "
    "scalar cutoff subquery + NOT EXISTS anti-join + group), "
    "completing the "
    "correlated-shape battery next to Q21's q254 (EXISTS pair) and "
    "Q4's q04. Balances quantize to exact cents so the positive-"
    "balance average is a HUGEINT/DECIMAL ratio and the cutoff "
    "comparison is the identical double on both engines; the anti "
    "join is key-equality on custkey (shuffle-safe at scale), the "
    "1-row cutoff broadcasts",
)
def q267(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    sel = cust.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY", "AUTOMOBILE")
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("bal2"),
    ).persist()  # read by the cutoff aggregate and the blame join
    cutoff = sel.filter(F.col("bal2") > 0).agg(
        F.sum(F.col("bal2").cast("decimal(38,0)")).alias("s"),
        F.count("*").cast("long").alias("c"),
    )
    idle = (
        sel.crossJoin(F.broadcast(cutoff))
        .filter(
            F.col("bal2").cast("double")
            > F.col("s").cast("double") / F.col("c").cast("double")
        )
        .join(
            orders.filter(
                F.col("o_orderdate")
                >= F.lit("2000-01-01").cast("timestamp")
            ).select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            (
                F.floor(
                    F.sum(F.col("bal2").cast("decimal(38,0)"))
                    .cast("double")
                    / F.lit(100.0)
                    * F.lit(100.0)
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@q(
    "q268_mase_backtest",
    oracle=f"""
WITH ev AS ({_EV}),
dly AS (SELECT event_type, CAST(ts AS DATE) AS d,
    CAST(count(*) AS BIGINT) AS y
  FROM ev GROUP BY 1, 2),
bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM dly),
cal AS (SELECT CAST(unnest(generate_series(d0, d1,
    INTERVAL 1 DAY)) AS DATE) AS d FROM bounds),
grid AS (SELECT et.event_type, cal.d
  FROM (SELECT DISTINCT event_type FROM dly) et CROSS JOIN cal),
dense AS (SELECT grid.event_type,
    CAST(grid.d AS VARCHAR) AS day,
    CAST(coalesce(dly.y, 0) AS BIGINT) AS y
  FROM grid LEFT JOIN dly
    ON dly.event_type = grid.event_type AND dly.d = grid.d),
lag7 AS (SELECT event_type, day, y,
    lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS y7,
    lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS y1
  FROM dense),
er AS (SELECT event_type,
    CAST(count(*) AS BIGINT) AS n_eval,
    CAST(sum(abs(y - y7)) AS BIGINT) AS ae_model,
    CAST(sum(abs(y - y1)) AS BIGINT) AS ae_naive,
    CAST(sum(CASE WHEN y + y7 = 0 THEN CAST(0 AS DECIMAL(38,9))
      ELSE CAST(round(2.0 * CAST(abs(y - y7) AS DOUBLE)
        / CAST(y + y7 AS DOUBLE), 9) AS DECIMAL(38,9)) END) AS DOUBLE)
      AS smape_sum
  FROM lag7 WHERE y7 IS NOT NULL GROUP BY event_type)
SELECT event_type, n_eval,
  floor(CAST(ae_model AS DOUBLE) / CAST(n_eval AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS mae_model,
  floor(CAST(ae_naive AS DOUBLE) / CAST(n_eval AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS mae_naive,
  floor(CAST(ae_model AS DOUBLE)
        / CAST(nullif(ae_naive, 0) AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS mase,
  floor(smape_sum / CAST(n_eval AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS smape
FROM er ORDER BY event_type
""",
    description="rolling-origin backtest of the seasonal-naive "
    "forecaster (y_hat_t = y_{t-7}) on the per-type daily series: "
    "MASE (seasonal-naive MAE over one-step-naive MAE — the "
    "scale-free forecast metric, <1 beats drift) and sMAPE — the "
    "evaluation harness q163's Holt and q244's decomposition lack "
    "(they fit; nothing scored them). The per-type series is "
    "DENSIFIED first (min..max calendar grid, zero-filled) so "
    "lag(7) is calendar t-7 even with missing days (r12 ADVICE "
    "fix); sMAPE terms with y + y7 = 0 are defined 0 and the MASE "
    "denominator is NULLIF-guarded (constant series -> NULL on "
    "both engines, not a NULL-vs-inf split). Absolute errors are "
    "exact integers at the day grain (calendar-bounded, one corpus "
    "aggregation), so MASE is one exact-int ratio; sMAPE terms snap "
    "to 1e-9 and decimal-fold (q128's device); lags are event_type-"
    "partitioned windows — never a global sort",
)
def q268(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    dly = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").cast("long").alias("y"))
    dly = dly.persist()  # one corpus scan: bounds, types, grid read it
    # calendar densification: the grid is (distinct types) x (calendar
    # days) — both calendar-bounded, so the cross join and the left
    # join back to the day counts are broadcast-sized
    bounds = dly.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    grid = dly.select("event_type").distinct().crossJoin(F.broadcast(cal))
    dense = (
        grid.join(dly, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.col("d").cast("string").alias("day"),
            F.coalesce("y", F.lit(0)).cast("long").alias("y"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lag7 = dense.select(
        "event_type",
        "y",
        F.lag("y", 7).over(w).alias("y7"),
        F.lag("y", 1).over(w).alias("y1"),
    ).filter(F.col("y7").isNotNull())
    er = lag7.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_eval"),
        F.sum(F.abs(F.col("y") - F.col("y7"))).cast("long").alias("ae_model"),
        F.sum(F.abs(F.col("y") - F.col("y1"))).cast("long").alias("ae_naive"),
        F.sum(
            F.when(
                F.col("y") + F.col("y7") == 0,
                F.lit(0).cast("decimal(38,9)"),
            ).otherwise(
                F.round(
                    F.lit(2.0)
                    * F.abs(F.col("y") - F.col("y7")).cast("double")
                    / (F.col("y") + F.col("y7")).cast("double"),
                    9,
                ).cast("decimal(38,9)")
            )
        )
        .cast("double")
        .alias("smape_sum"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    sd = lambda c_: F.col(c_).cast("double")
    return er.select(
        "event_type",
        "n_eval",
        fl6(sd("ae_model") / sd("n_eval")).alias("mae_model"),
        fl6(sd("ae_naive") / sd("n_eval")).alias("mae_naive"),
        fl6(
            sd("ae_model")
            / F.nullif(F.col("ae_naive"), F.lit(0)).cast("double")
        ).alias("mase"),
        fl6(F.col("smape_sum") / sd("n_eval")).alias("smape"),
    ).orderBy("event_type")


def _platt_oracle(n_iters: int = 3) -> str:
    """q269 oracle: the identical Newton trajectory, unrolled. Params
    live on a 1e-9 integer grid between iterations; per-grain
    probabilities snap to the same grid, so every data-sized sum is
    an exact HUGEINT fold and the only doubles are the 2x2 solve
    written operand-for-operand as the operator's float() math."""
    sql = (
        _pred_cte()
        + """,
b0 AS (SELECT least(CAST(floor(p * 100.0 + 0.5) AS BIGINT), 100) AS s,
    y FROM pred),
g AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS pos
  FROM b0 GROUP BY s),
par0 AS (SELECT CAST(0 AS BIGINT) AS a9, CAST(0 AS BIGINT) AS b9)"""
    )
    prev = "par0"
    for t in range(1, n_iters + 1):
        sql += f""",
p{t} AS (SELECT s, n, pos,
    CAST(floor(1.0 / (1.0 + exp(-((CAST(a9 AS DOUBLE) / 1000000000.0)
        * CAST(s AS DOUBLE) + CAST(b9 AS DOUBLE) / 1000000000.0)))
      * 1000000000.0 + 0.5) AS BIGINT) AS p9
  FROM g CROSS JOIN {prev}),
s{t} AS (SELECT
    CAST(sum(CAST(s AS HUGEINT) * (CAST(pos AS HUGEINT) * 1000000000
      - CAST(n AS HUGEINT) * p9)) AS HUGEINT) AS g1,
    CAST(sum(CAST(pos AS HUGEINT) * 1000000000
      - CAST(n AS HUGEINT) * p9) AS HUGEINT) AS g0,
    CAST(sum(CAST(n AS HUGEINT) * p9 * (1000000000 - p9) * s * s)
      AS HUGEINT) AS h11,
    CAST(sum(CAST(n AS HUGEINT) * p9 * (1000000000 - p9) * s)
      AS HUGEINT) AS h10,
    CAST(sum(CAST(n AS HUGEINT) * p9 * (1000000000 - p9))
      AS HUGEINT) AS h00
  FROM p{t}),
par{t} AS (SELECT
    CAST(floor((CAST(a9 AS DOUBLE) / 1000000000.0
      + ((CAST(h00 AS DOUBLE) / 1000000000000000000.0)
           * (CAST(g1 AS DOUBLE) / 1000000000.0)
         - (CAST(h10 AS DOUBLE) / 1000000000000000000.0)
           * (CAST(g0 AS DOUBLE) / 1000000000.0))
        / ((CAST(h11 AS DOUBLE) / 1000000000000000000.0)
             * (CAST(h00 AS DOUBLE) / 1000000000000000000.0)
           - (CAST(h10 AS DOUBLE) / 1000000000000000000.0)
             * (CAST(h10 AS DOUBLE) / 1000000000000000000.0)))
      * 1000000000.0 + 0.5) AS BIGINT) AS a9,
    CAST(floor((CAST(b9 AS DOUBLE) / 1000000000.0
      + ((CAST(h11 AS DOUBLE) / 1000000000000000000.0)
           * (CAST(g0 AS DOUBLE) / 1000000000.0)
         - (CAST(h10 AS DOUBLE) / 1000000000000000000.0)
           * (CAST(g1 AS DOUBLE) / 1000000000.0))
        / ((CAST(h11 AS DOUBLE) / 1000000000000000000.0)
             * (CAST(h00 AS DOUBLE) / 1000000000000000000.0)
           - (CAST(h10 AS DOUBLE) / 1000000000000000000.0)
             * (CAST(h10 AS DOUBLE) / 1000000000000000000.0)))
      * 1000000000.0 + 0.5) AS BIGINT) AS b9
  FROM s{t} CROSS JOIN {prev})"""
        prev = f"par{t}"
    return (
        sql
        + f""",
pf AS (SELECT s, n, pos,
    CAST(floor(1.0 / (1.0 + exp(-((CAST(a9 AS DOUBLE) / 1000000000.0)
        * CAST(s AS DOUBLE) + CAST(b9 AS DOUBLE) / 1000000000.0)))
      * 1000000000.0 + 0.5) AS BIGINT) AS p9
  FROM g CROSS JOIN {prev}),
fin AS (SELECT
    CAST(sum(n) AS BIGINT) AS nd,
    CAST(sum(CAST(abs(s * n - 100 * pos) AS HUGEINT)) AS HUGEINT)
      AS eb_num,
    CAST(sum(abs(CAST(n AS HUGEINT) * p9
      - CAST(pos AS HUGEINT) * 1000000000)) AS HUGEINT) AS ea_num
  FROM pf)
SELECT CAST(a9 AS DOUBLE) / 1000000000.0 AS platt_a,
  CAST(b9 AS DOUBLE) / 1000000000.0 AS platt_b,
  fin.nd AS n_docs,
  floor(CAST(eb_num AS DOUBLE) / (100.0 * CAST(nd AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS ece_before,
  floor(CAST(ea_num AS DOUBLE)
        / (1000000000.0 * CAST(nd AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS ece_after
FROM {prev} CROSS JOIN fin
"""
    )


@q(
    "q269_platt_scaling",
    oracle=_platt_oracle(3),
    description="Platt scaling: fit sigma(a*s + b) to the q84 "
    "classifier score against the q119 label by 3 Newton-Raphson "
    "steps on the <=101-row 1e-2 SCORE-GRAIN histogram — the "
    "parametric member of the calibration triad (diagnosis q202, "
    "nonparametric fit q256, parametric fit here), with the "
    "weighted mean-absolute calibration error before vs after as "
    "the payoff readout. The whole fit is the bounded-aggregate "
    "device: per iteration ONE aggregation over the cached grain "
    "produces five exact HUGEINT/DECIMAL gradient-and-Hessian sums "
    "(probabilities and params snapped to the 1e-9 integer grid, so "
    "data-sized arithmetic is exact and order-free), and the 2x2 "
    "Newton solve is a handful of identically-parenthesized doubles "
    "(driver floats in the engine, scalar CTEs in the oracle); both "
    "ECE numerators are exact integers",
)
def q269(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _pred_frame(spark, sf_dir)
    g = (
        pred.select(
            F.least(
                F.floor(F.col("p") * F.lit(100.0) + F.lit(0.5)).cast(
                    "long"
                ),
                F.lit(100).cast("long"),
            ).alias("s"),
            "y",
        )
        .groupBy("s")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
        .persist()  # one corpus scan; every Newton pass reads this
    )
    return _platt_fit(g)


def _platt_fit(g: DataFrame, n_iters: int = 3) -> DataFrame:
    """Platt scaling over a binned score grain ``(s, n, pos)``:
    n_iters Newton-Raphson steps with 1e-9-grid parameter snapping
    between iterations — factored out of q269 so the randomized
    property suite can drive it with synthetic histograms (VERDICT
    r11 task 7). Caller persists g."""
    import math as _math

    dec = "decimal(38,0)"

    def p9_col(a9: int, b9: int) -> F.Column:
        a = float(a9) / 1e9
        b = float(b9) / 1e9
        return F.floor(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        F.lit(a) * F.col("s").cast("double")
                        + F.lit(b)
                    )
                )
            )
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long")

    a9, b9 = 0, 0
    for _t in range(n_iters):
        p9 = p9_col(a9, b9)
        w = (F.col("n").cast(dec) * p9 * (F.lit(1000000000) - p9)).cast(
            dec
        )
        resid = (
            F.col("pos").cast(dec) * F.lit(1000000000)
            - F.col("n").cast(dec) * p9
        ).cast(dec)
        row = g.agg(
            F.sum((F.col("s").cast(dec) * resid).cast(dec)).alias("g1"),
            F.sum(resid).alias("g0"),
            F.sum((w * F.col("s") * F.col("s")).cast(dec)).alias("h11"),
            F.sum((w * F.col("s")).cast(dec)).alias("h10"),
            F.sum(w).alias("h00"),
        ).collect()[0]
        # the bounded-aggregate device: 5 scalars, float() casts
        # mirroring the oracle's CAST(.. AS DOUBLE) operand by
        # operand (q251's convention)
        g1d = float(row["g1"]) / 1e9
        g0d = float(row["g0"]) / 1e9
        h11d = float(row["h11"]) / 1e18
        h10d = float(row["h10"]) / 1e18
        h00d = float(row["h00"]) / 1e18
        det = h11d * h00d - h10d * h10d
        da = (h00d * g1d - h10d * g0d) / det
        db = (h11d * g0d - h10d * g1d) / det
        a9 = int(_math.floor((float(a9) / 1e9 + da) * 1e9 + 0.5))
        b9 = int(_math.floor((float(b9) / 1e9 + db) * 1e9 + 0.5))
    p9f = p9_col(a9, b9)
    fin = g.agg(
        F.sum("n").cast("long").alias("nd"),
        F.sum(
            F.abs(
                F.col("s").cast(dec) * F.col("n")
                - F.lit(100) * F.col("pos")
            ).cast(dec)
        ).alias("eb_num"),
        F.sum(
            F.abs(
                F.col("n").cast(dec) * p9f
                - F.col("pos").cast(dec) * F.lit(1000000000)
            ).cast(dec)
        ).alias("ea_num"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return fin.select(
        F.lit(float(a9) / 1e9).alias("platt_a"),
        F.lit(float(b9) / 1e9).alias("platt_b"),
        F.col("nd").alias("n_docs"),
        fl6(
            F.col("eb_num").cast("double")
            / (F.lit(100.0) * F.col("nd").cast("double"))
        ).alias("ece_before"),
        fl6(
            F.col("ea_num").cast("double")
            / (F.lit(1e9) * F.col("nd").cast("double"))
        ).alias("ece_after"),
    )


@q(
    "q270_matching_att",
    oracle="""
WITH sp AS (SELECT o_custkey,
    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      AS HUGEINT) AS spend,
    CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1),
cu AS (SELECT c.c_custkey,
    c.c_mktsegment = 'BUILDING' AS treated,
    COALESCE(sp.cnt, 0) AS cnt,
    CAST(COALESCE(sp.spend, 0) AS HUGEINT) AS spend
  FROM customer c LEFT JOIN sp ON sp.o_custkey = c.c_custkey),
tg AS (SELECT cnt, CAST(count(*) AS BIGINT) AS t_n,
    CAST(sum(spend) AS HUGEINT) AS t_sp
  FROM cu WHERE treated GROUP BY cnt),
cg AS (SELECT cnt, CAST(count(*) AS BIGINT) AS c_n,
    CAST(sum(spend) AS HUGEINT) AS c_sp
  FROM cu WHERE NOT treated GROUP BY cnt),
mt AS (SELECT tg.cnt, tg.t_n, tg.t_sp, cg.c_n, cg.c_sp,
    row_number() OVER (PARTITION BY tg.cnt
      ORDER BY abs(tg.cnt - cg.cnt), cg.cnt) AS rn
  FROM tg CROSS JOIN cg),
m1 AS (SELECT cnt, t_n, t_sp,
    CAST(floor(CAST(t_n AS DOUBLE)
      * (CAST(c_sp AS DOUBLE) / CAST(c_n AS DOUBLE))
      * 1000000.0 + 0.5) AS HUGEINT) AS ctl6
  FROM mt WHERE rn = 1),
tt AS (SELECT CAST(sum(t_n) AS BIGINT) AS nt,
    CAST(sum(t_sp) AS HUGEINT) AS tsp,
    CAST(sum(ctl6) AS HUGEINT) AS c6
  FROM m1),
cc AS (SELECT CAST(sum(c_n) AS BIGINT) AS nc,
    CAST(sum(c_sp) AS HUGEINT) AS csp
  FROM cg)
SELECT tt.nt AS n_treated, cc.nc AS n_controls,
  floor((CAST(tt.tsp AS DOUBLE) / CAST(tt.nt AS DOUBLE)
         - (CAST(tt.c6 AS DOUBLE) / 1000000.0)
           / CAST(tt.nt AS DOUBLE)) / 100.0
        * 1000000.0 + 0.5) / 1000000.0 AS att_dollars,
  floor((CAST(tt.tsp AS DOUBLE) / CAST(tt.nt AS DOUBLE)
         - CAST(cc.csp AS DOUBLE) / CAST(cc.nc AS DOUBLE)) / 100.0
        * 1000000.0 + 0.5) / 1000000.0 AS naive_diff_dollars
FROM tt CROSS JOIN cc
""",
    description="covariate-matching treatment-effect estimate "
    "(1-NN-on-covariate ATT): does the BUILDING segment spend more "
    "than comparable customers? Each treated customer matches the "
    "control group at the NEAREST order count (the confounder: "
    "heavier orderers spend more regardless of segment), and the "
    "matched control mean replaces the raw control mean — reported "
    "beside the naive difference so the gap reads as selection "
    "bias removed. The causal-inference shape q249's randomized A/B "
    "doesn't need but every OBSERVATIONAL comparison does. Matching "
    "runs entirely on the bounded order-count GRAIN (two "
    "aggregations to count grain, one grain^2 nearest-neighbor rank "
    "— never customer-pair space); spend quantizes to exact cents, "
    "matched-control terms snap to 1e-6 integers and fold exactly",
)
def q270(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    sp = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .cast(dec)
        ).alias("spend"),
        F.count("*").cast("long").alias("cnt"),
    )
    cu = cust.join(
        sp, cust["c_custkey"] == sp["o_custkey"], "left"
    ).select(
        (F.col("c_mktsegment") == "BUILDING").alias("treated"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
        F.coalesce(F.col("spend"), F.lit(0).cast(dec)).alias("spend"),
    ).persist()  # read by the treated and control grain aggregates
    tg = (
        cu.filter(F.col("treated"))
        .groupBy("cnt")
        .agg(
            F.count("*").cast("long").alias("t_n"),
            F.sum("spend").alias("t_sp"),
        )
    )
    cg = (
        cu.filter(~F.col("treated"))
        .groupBy("cnt")
        .agg(
            F.count("*").cast("long").alias("c_n"),
            F.sum("spend").alias("c_sp"),
        )
    )
    mt = tg.crossJoin(
        F.broadcast(
            cg.select(
                F.col("cnt").alias("ccnt"), "c_n", "c_sp"
            )
        )
    ).select(
        "cnt",
        "t_n",
        "t_sp",
        "c_n",
        "c_sp",
        F.row_number()
        .over(
            Window.partitionBy("cnt").orderBy(
                F.abs(F.col("cnt") - F.col("ccnt")), F.col("ccnt")
            )
        )
        .alias("rn"),
    )
    m1 = mt.filter(F.col("rn") == 1).select(
        "t_n",
        "t_sp",
        F.floor(
            F.col("t_n").cast("double")
            * (F.col("c_sp").cast("double") / F.col("c_n").cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast(dec)
        .alias("ctl6"),
    )
    tt = m1.agg(
        F.sum("t_n").cast("long").alias("nt"),
        F.sum("t_sp").alias("tsp"),
        F.sum("ctl6").alias("c6"),
    )
    cc = cg.agg(
        F.sum("c_n").cast("long").alias("nc"),
        F.sum("c_sp").alias("csp"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return tt.crossJoin(F.broadcast(cc)).select(
        F.col("nt").alias("n_treated"),
        F.col("nc").alias("n_controls"),
        fl6(
            (
                F.col("tsp").cast("double") / F.col("nt").cast("double")
                - (F.col("c6").cast("double") / F.lit(1e6))
                / F.col("nt").cast("double")
            )
            / F.lit(100.0)
        ).alias("att_dollars"),
        fl6(
            (
                F.col("tsp").cast("double") / F.col("nt").cast("double")
                - F.col("csp").cast("double") / F.col("nc").cast("double")
            )
            / F.lit(100.0)
        ).alias("naive_diff_dollars"),
    )


@q(
    "q271_kruskal_wallis",
    oracle=f"""
WITH ev AS ({_EV}),
d AS (SELECT event_type AS g,
    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
  FROM ev WHERE value IS NOT NULL),
h AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY x),
mr AS (SELECT x, c,
    CAST(2 * COALESCE(sum(c) OVER (ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
    AS BIGINT) AS u2
  FROM h),
hg AS (SELECT g, x, CAST(count(*) AS BIGINT) AS cg
  FROM d GROUP BY g, x),
rg AS (SELECT hg.g, CAST(sum(hg.cg) AS BIGINT) AS n_g,
    CAST(sum(CAST(hg.cg AS HUGEINT) * mr.u2) AS HUGEINT) AS r2
  FROM hg JOIN mr ON mr.x = hg.x GROUP BY hg.g),
tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
    CAST((SELECT sum(CAST(c AS HUGEINT) * c * c - c) FROM h)
      AS HUGEINT) AS ties
  FROM rg),
hstat AS (SELECT
    12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
    * (SELECT CAST(sum(CAST(round((CAST(r2 AS DOUBLE) / 2.0)
         * (CAST(r2 AS DOUBLE) / 2.0) / CAST(n_g AS DOUBLE), 6)
         AS DECIMAL(38,6))) AS DOUBLE) FROM rg)
    - 3.0 * CAST(n + 1 AS DOUBLE) AS h_raw,
    1.0 - CAST(ties AS DOUBLE)
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         - CAST(n AS DOUBLE)) AS tie_corr
  FROM tot)
SELECT rg.g AS event_type, rg.n_g AS n_events,
  floor(CAST(rg.r2 AS DOUBLE) / 2.0 / CAST(rg.n_g AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS mean_rank,
  floor(hstat.h_raw * 1000000.0 + 0.5) / 1000000.0 AS h_statistic,
  floor(hstat.h_raw / hstat.tie_corr * 1000000.0 + 0.5) / 1000000.0
    AS h_tie_corrected
FROM rg CROSS JOIN hstat ORDER BY event_type
""",
    description="Kruskal-Wallis rank test: do the k event types draw "
    "their values from the same distribution? — the k-group "
    "completion of the nonparametric battery (q245 Mann-Whitney is "
    "its 2-group special case; q232's ANOVA F is the parametric "
    "twin; q247 tests variances). Ranks never materialize per row: "
    "the doubled-midrank device (q245/q209) runs on the pooled "
    "VALUE-grain histogram, per-group rank sums are exact "
    "HUGEINT/DECIMAL folds of (group, value)-grain counts times the "
    "doubled midrank, and the tie term sum(c^3-c) is exact — H and "
    "its tie correction are a handful of identically-parenthesized "
    "doubles; per-group mean ranks reported alongside (the "
    "direction readout the scalar H lacks)",
)
def q271(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    d = ev.filter(F.col("value").isNotNull()).select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("x"),
    ).persist()  # two grain aggregations read this
    dec = "decimal(38,0)"
    h = d.groupBy("x").agg(F.count("*").cast("long").alias("c"))
    wr = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    mr = h.select(
        "x",
        "c",
        (
            F.lit(2) * F.coalesce(F.sum("c").over(wr), F.lit(0))
            + F.col("c")
            + F.lit(1)
        )
        .cast("long")
        .alias("u2"),
    )
    hg = d.groupBy("g", "x").agg(F.count("*").cast("long").alias("cg"))
    rg = (
        hg.join(mr.select("x", "u2"), "x")
        .groupBy("g")
        .agg(
            F.sum("cg").cast("long").alias("n_g"),
            F.sum((F.col("cg").cast(dec) * F.col("u2")).cast(dec)).alias(
                "r2"
            ),
        )
    )
    ties = h.agg(
        F.sum(
            (
                F.col("c").cast(dec) * F.col("c") * F.col("c")
                - F.col("c")
            ).cast(dec)
        ).alias("ties")
    )
    sd = lambda c_: F.col(c_).cast("double")
    # per-group rank-sum terms snap to 1e-6 and fold as DECIMAL (the
    # q86/q128 order-free trick) — a plain double sum over the group
    # roster could flip a ULP between partition orders / engines
    rsum = rg.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum(
            F.round(
                (F.col("r2").cast("double") / F.lit(2.0))
                * (F.col("r2").cast("double") / F.lit(2.0))
                / F.col("n_g").cast("double"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("rss"),
    )
    hstat = rsum.crossJoin(F.broadcast(ties)).select(
        (
            F.lit(12.0)
            / (sd("n") * (F.col("n") + 1).cast("double"))
            * F.col("rss")
            - F.lit(3.0) * (F.col("n") + 1).cast("double")
        ).alias("h_raw"),
        (
            F.lit(1.0)
            - F.col("ties").cast("double")
            / (sd("n") * sd("n") * sd("n") - sd("n"))
        ).alias("tie_corr"),
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        rg.crossJoin(F.broadcast(hstat))
        .select(
            F.col("g").alias("event_type"),
            F.col("n_g").alias("n_events"),
            fl6(
                F.col("r2").cast("double")
                / F.lit(2.0)
                / F.col("n_g").cast("double")
            ).alias("mean_rank"),
            fl6(F.col("h_raw")).alias("h_statistic"),
            fl6(F.col("h_raw") / F.col("tie_corr")).alias(
                "h_tie_corrected"
            ),
        )
        .orderBy("event_type")
    )


@q(
    "q272_cuped_adjustment",
    oracle=f"""
WITH ev AS ({_EV}),
pop AS (SELECT DISTINCT user_id FROM ev
  WHERE ts < TIMESTAMP '2024-01-16'),
px AS (SELECT user_id,
    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
      AS x
  FROM ev WHERE ts < TIMESTAMP '2024-01-16'
    AND event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id),
py AS (SELECT user_id,
    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
      AS y
  FROM ev WHERE ts >= TIMESTAMP '2024-01-16'
    AND event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id),
u AS (SELECT pop.user_id, COALESCE(px.x, 0) AS x,
    COALESCE(py.y, 0) AS y
  FROM pop LEFT JOIN px USING (user_id)
  LEFT JOIN py USING (user_id)),
mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM u),
st AS (SELECT n,
    CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cov,
    CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS varx,
    CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
      - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS vary,
    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
  FROM mo)
SELECT n AS n_users,
  floor(my / 100.0 * 1000000.0 + 0.5) / 1000000.0
    AS mean_post_dollars,
  floor(cov / nullif(varx, 0.0) * 1000000.0 + 0.5) / 1000000.0
    AS theta,
  floor(vary * 1000000.0 + 0.5) / 1000000.0 AS var_post,
  floor((vary - cov * cov / nullif(varx, 0.0)) * 1000000.0 + 0.5)
    / 1000000.0 AS var_cuped,
  floor(100.0 * (cov * cov) / nullif(varx * vary, 0.0)
    * 1000000.0 + 0.5) / 1000000.0 AS var_reduction_pct
FROM st
""",
    description="CUPED covariate adjustment (Deng et al. 2013, the "
    "industry-standard experimentation variance-reduction device): "
    "per-user PRE-period purchase value as the control covariate for "
    "the POST-period metric, theta = cov(X,Y)/var(X), and the "
    "adjusted metric variance var(Y) - cov^2/var(X) in closed form — "
    "the sensitivity multiplier every A/B platform applies before "
    "tests like q249. Population = users active in the pre period "
    "(md5-free, calendar split shared with q229); values quantize "
    "to exact cents so all five moment sums are exact "
    "HUGEINT/DECIMAL folds (order-free) and every output is a "
    "handful of identically-parenthesized doubles; ONE user-grain "
    "pass + one moment aggregation, no second corpus scan for the "
    "adjusted variance",
)
def q272(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    split = F.lit("2024-01-16").cast("timestamp")
    v2 = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    pop = (
        ev.filter(F.col("ts") < split).select("user_id").distinct()
    )
    px = (
        ev.filter(
            (F.col("ts") < split)
            & (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.sum(v2).cast("long").alias("x"))
    )
    py = (
        ev.filter(
            (F.col("ts") >= split)
            & (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.sum(v2).cast("long").alias("y"))
    )
    u = (
        pop.join(px, "user_id", "left")
        .join(py, "user_id", "left")
        .select(
            F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y"),
        )
    )
    mo = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x").cast(dec) * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y").cast(dec) * F.col("y")).cast(dec)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    cov = F.col("sxy").cast("double") / nd - mx * my
    varx = F.col("sxx").cast("double") / nd - mx * mx
    vary = F.col("syy").cast("double") / nd - my * my
    # degenerate-denominator guard (r12 ADVICE): a constant pre- or
    # post-period metric (varx/vary = 0) must yield NULL on BOTH
    # engines — unguarded, Spark non-ANSI /0 is NULL but DuckDB is
    # inf/NaN, splitting the engines instead of failing cleanly
    varx_nz = F.nullif(varx, F.lit(0.0))
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return mo.select(
        F.col("n").alias("n_users"),
        fl6(my / F.lit(100.0)).alias("mean_post_dollars"),
        fl6(cov / varx_nz).alias("theta"),
        fl6(vary).alias("var_post"),
        fl6(vary - cov * cov / varx_nz).alias("var_cuped"),
        fl6(
            F.lit(100.0)
            * (cov * cov)
            / F.nullif(varx * vary, F.lit(0.0))
        ).alias("var_reduction_pct"),
    )
