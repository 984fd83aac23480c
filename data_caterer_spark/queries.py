"""Driver-contract query catalog: every operator family from SURVEY.md §2
expressed over the driver's testdata tables, each paired (where ANSI-SQL
can express it) with a DuckDB oracle in ``ORACLES``.

Conventions (driver compares row-count + schema + order-insensitive
value-hash):
* every computed column is aliased identically in Spark and SQL;
* every double is ``round(x, N)`` on BOTH sides (float-sum nondeterminism);
* DuckDB aggregate types are cast to Spark's (sum(int)->BIGINT etc.);
* timestamps crossing the boundary are formatted to strings.

Each query notes the reference operator it demonstrates (SURVEY.md §2
file:line citations live in the operator modules themselves).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import docs as DOC
from .functions import text as T
from .functions import webfilters as WF
from .functions.scrub import scrub_columns
from .operators import dedup as D
from .operators import sampling as SAMP
from .operators import similarity as SIM
from .operators.rules import RuleSet, expr_rule, field
from .operators.validation import group_by_validation_df, prefix_upstream

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
# values are SQL strings, or zero-arg callables rendering SQL lazily
# (the flagship golden oracle runs the reference labeler to build its
# VALUES literal — too costly for import time)
ORACLES: dict[str, "str | Callable[[], str]"] = {}


def _q(name: str, oracle: "str | Callable[[], str] | None" = None):
    def reg(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return reg


def resolve_oracles() -> dict[str, str]:
    """Materialize every oracle to a plain SQL string (driver contract)."""
    return {k: (v() if callable(v) else v) for k, v in ORACLES.items()}


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _fan_out(df: DataFrame) -> DataFrame:
    """Repartition a narrow input before compute-heavy per-row work.

    The testdata tables are single parquet files -> single-partition scans;
    signature/UDF-heavy operators would otherwise run on ONE core.  A
    round-robin repartition of a small table is a cheap narrow shuffle; at
    production scale the input is many files/buckets and this is a no-op
    (guarded on the actual partition count).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ===========================================================================
# §2.2 rule DSL: per-row predicates -> per-rule violation metrics
# ===========================================================================

_LINEITEM_RULES = RuleSet(
    [
        field("l_quantity").between(1, 50).with_id("qty_in_range"),
        field("l_discount").less_than_or_equal(0.07).with_id("discount_max"),
        field("l_returnflag").is_in(["A", "N", "R"]).with_id("flag_valid"),
        field("l_extendedprice").greater_than(0).with_id("price_positive"),
        expr_rule("tax_lt_discount_plus", "l_tax <= l_discount + 0.05"),
        field("l_linestatus").matches("^[OF]$").with_id("status_re"),
    ]
)


@_q(
    "rule_violation_counts",
    """
    SELECT 'qty_in_range' AS rule_id,
           count(*) FILTER (WHERE NOT (l_quantity BETWEEN 1 AND 50)) AS violations
    FROM lineitem
    UNION ALL SELECT 'discount_max',
           count(*) FILTER (WHERE NOT (l_discount <= 0.07)) FROM lineitem
    UNION ALL SELECT 'flag_valid',
           count(*) FILTER (WHERE NOT (l_returnflag IN ('A','N','R'))) FROM lineitem
    UNION ALL SELECT 'price_positive',
           count(*) FILTER (WHERE NOT (l_extendedprice > 0)) FROM lineitem
    UNION ALL SELECT 'tax_lt_discount_plus',
           count(*) FILTER (WHERE NOT (l_tax <= l_discount + 0.05)) FROM lineitem
    UNION ALL SELECT 'status_re',
           count(*) FILTER (WHERE NOT regexp_matches(l_linestatus, '^[OF]$')) FROM lineitem
    """,
)
def rule_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference kernel `df.where(!(expr)).count()` per rule
    (ValidationOperations.scala:12-17) — evaluated in ONE aggregate pass."""
    df = _read(spark, sf_dir, "lineitem")
    aggs = [
        F.count_if(r.column == F.lit(False)).alias(r.rule_id)
        for r in _LINEITEM_RULES
    ]
    wide = df.agg(*aggs)
    # unpivot to (rule_id, violations) rows
    pairs = F.array(
        *[
            F.struct(F.lit(r.rule_id).alias("rule_id"), F.col(r.rule_id).alias("violations"))
            for r in _LINEITEM_RULES
        ]
    )
    return wide.select(F.explode(pairs).alias("p")).select("p.rule_id", "p.violations")


@_q(
    "rule_keep_per_row",
    """
    SELECT l_orderkey, l_linenumber,
           (COALESCE(l_quantity BETWEEN 1 AND 50, TRUE)
            AND COALESCE(l_discount <= 0.07, TRUE)
            AND COALESCE(l_extendedprice > 0, TRUE)) AS keep
    FROM lineitem
    """,
)
def rule_keep_per_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row keep decision (the target's reframing of dataset validation:
    NULL-valued rules are not failures, WHERE semantics)."""
    df = _read(spark, sf_dir, "lineitem")
    rules = RuleSet(
        [
            field("l_quantity").between(1, 50).with_id("qty"),
            field("l_discount").less_than_or_equal(0.07).with_id("disc"),
            field("l_extendedprice").greater_than(0).with_id("price"),
        ]
    )
    out = rules.apply(df)
    return out.select("l_orderkey", "l_linenumber", "keep")


@_q(
    "rule_string_ops",
    """
    SELECT 'name_prefix' AS rule_id,
           count(*) FILTER (WHERE NOT starts_with(c_name, 'Customer#')) AS violations
    FROM customer
    UNION ALL SELECT 'no_999',
           count(*) FILTER (WHERE NOT (NOT contains(c_name, '999'))) FROM customer
    UNION ALL SELECT 'ends_zero',
           count(*) FILTER (WHERE NOT ends_with(c_name, '0')) FROM customer
    UNION ALL SELECT 'name_len',
           count(*) FILTER (WHERE NOT (length(c_name) BETWEEN 10 AND 18)) FROM customer
    UNION ALL SELECT 'name_parts',
           count(*) FILTER (WHERE NOT (len(string_split(c_name, '#')) = 2)) FROM customer
    UNION ALL SELECT 'key_luhn',
           count(*) FILTER (WHERE NOT (
             list_sum(list_transform(range(1, len(s) + 1), i ->
               CASE WHEN i % 2 = 1 THEN CAST(s[-i] AS INT)
                    ELSE CASE WHEN 2 * CAST(s[-i] AS INT) > 9
                              THEN 2 * CAST(s[-i] AS INT) - 9
                              ELSE 2 * CAST(s[-i] AS INT) END
               END)) % 10 = 0))
    FROM (SELECT CAST(c_custkey AS VARCHAR) AS s FROM customer)
    """,
)
def rule_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/size/Luhn rule emissions (ValidationBuilder.scala:120-178,
    336-338): CONTAINS / STARTSWITH / ENDSWITH / LENGTH BETWEEN / SIZE on
    a split array / LUHN_CHECK, each counted in the same single-pass
    aggregate kernel as rule_violation_counts.  The DuckDB oracle
    re-implements Luhn arithmetically — an independent check that Spark's
    built-in agrees with the spec."""
    df = (
        _read(spark, sf_dir, "customer")
        .withColumn("c_custkey_s", F.col("c_custkey").cast("string"))
        .withColumn("c_name_parts", F.split("c_name", "#"))
    )
    rules = RuleSet(
        [
            field("c_name").starts_with("Customer#").with_id("name_prefix"),
            field("c_name").not_contains("999").with_id("no_999"),
            field("c_name").ends_with("0").with_id("ends_zero"),
            field("c_name").length_between(10, 18).with_id("name_len"),
            field("c_name_parts").size(2).with_id("name_parts"),
            field("c_custkey_s").luhn_check().with_id("key_luhn"),
        ]
    )
    wide = df.agg(
        *[F.count_if(r.column == F.lit(False)).alias(r.rule_id) for r in rules]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(r.rule_id).alias("rule_id"),
                F.col(r.rule_id).alias("violations"),
            )
            for r in rules
        ]
    )
    return wide.select(F.explode(pairs).alias("p")).select(
        "p.rule_id", "p.violations"
    )


@_q(
    "error_threshold_status",
    """
    WITH m AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
             count(*) FILTER (WHERE NOT (l_quantity BETWEEN 1 AND 50)) AS qty_v,
             count(*) FILTER (WHERE NOT (l_discount <= 0.07)) AS disc_v,
             count(*) FILTER (WHERE NOT (l_extendedprice > 0)) AS price_v
      FROM lineitem
    )
    SELECT 'qty_in_range' AS rule_id, qty_v AS violations, total,
           CAST(NULL AS DOUBLE) AS threshold,
           CASE WHEN qty_v = 0 THEN 'pass' ELSE 'fail' END AS status FROM m
    UNION ALL SELECT 'disc_frac', disc_v, total, 0.3,
           CASE WHEN total > 0 AND CAST(disc_v AS DOUBLE) / total <= 0.3
                THEN 'pass' ELSE 'fail' END FROM m
    UNION ALL SELECT 'disc_abs', disc_v, total, 1000.0,
           CASE WHEN disc_v <= 1000 THEN 'pass' ELSE 'fail' END FROM m
    UNION ALL SELECT 'price_positive', price_v, total, 0.0,
           CASE WHEN total > 0 AND CAST(price_v AS DOUBLE) / total <= 0.0
                THEN 'pass' ELSE 'fail' END FROM m
    """,
)
def error_threshold_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """errorThreshold semantics (ValidationBuilder.scala:98-101, evaluated
    in ValidationOperations.scala:20-29): absent ⇒ zero-tolerance; ≥ 1 ⇒
    absolute error budget; < 1 ⇒ allowed error fraction.  All rules share
    ONE aggregate pass; the threshold verdicts are scalar post-processing
    of that single row — at 10^12 rows this stays one scan regardless of
    rule count."""
    df = _read(spark, sf_dir, "lineitem")
    rules = [
        field("l_quantity").between(1, 50).with_id("qty_in_range"),
        field("l_discount").less_than_or_equal(0.07).with_id("disc_frac").threshold(0.3),
        field("l_discount").less_than_or_equal(0.07).with_id("disc_abs").threshold(1000.0),
        field("l_extendedprice").greater_than(0).with_id("price_positive").threshold(0.0),
    ]
    wide = df.agg(
        F.count(F.lit(1)).alias("__total"),
        *[F.count_if(r.column == F.lit(False)).alias(r.rule_id) for r in rules],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(r.rule_id).alias("rule_id"),
                F.col(r.rule_id).alias("violations"),
                F.lit(r.error_threshold).cast("double").alias("threshold"),
            )
            for r in rules
        ]
    )
    long = wide.select(
        F.col("__total").alias("total"), F.explode(pairs).alias("p")
    ).select("p.rule_id", "p.violations", "total", "p.threshold")
    passed = (
        F.when(F.col("threshold").isNull(), F.col("violations") == 0)
        .when(F.col("threshold") >= 1, F.col("violations") <= F.col("threshold"))
        .otherwise(
            (F.col("total") > 0)
            & (F.col("violations") / F.col("total") <= F.col("threshold"))
        )
    )
    return long.withColumn(
        "status", F.when(passed, F.lit("pass")).otherwise(F.lit("fail"))
    )


@_q(
    "groupby_validation",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(max(l_discount), 4) AS max_disc,
           round(min(l_tax), 4) AS min_tax,
           round(stddev(l_quantity), 4) AS sd_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def groupby_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupByValidation agg surface: sum/count/min/max/avg/stddev
    (ValidationOperations.scala:38-51, Constants.scala:332-337)."""
    df = _read(spark, sf_dir, "lineitem")
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.max("l_discount"), 4).alias("max_disc"),
        F.round(F.min("l_tax"), 4).alias("min_tax"),
        F.round(F.stddev("l_quantity"), 4).alias("sd_qty"),
    )


@_q(
    "unique_validation",
    """
    SELECT o_custkey, o_orderdate_s, cnt FROM (
      SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
    ) WHERE cnt != 1
    """,
)
def unique_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unique(cols): duplicate-group detection
    (ValidationBuilder.scala:175-178 -> groupBy.count != 1)."""
    df = _read(spark, sf_dir, "orders").withColumn(
        "o_orderdate_s", F.date_format("o_orderdate", "yyyy-MM-dd")
    )
    agg = group_by_validation_df(df, ["o_custkey", "o_orderdate_s"], "", "unique")
    return agg.where(F.col("count") != 1).select(
        "o_custkey", "o_orderdate_s", F.col("count").alias("cnt")
    )


@_q(
    "dataset_count_rule",
    "SELECT CAST(count(*) AS BIGINT) AS cnt, count(*) >= 1000 AS pass FROM orders",
)
def dataset_count_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-group count rule (ValidationBuilder.scala:165-167)."""
    df = _read(spark, sf_dir, "orders")
    return df.agg(F.count(F.lit(1)).alias("cnt")).select(
        "cnt", (F.col("cnt") >= 1000).alias("pass")
    )


# ===========================================================================
# §2.3 joins: upstream validation, anti-join integrity, theta join
# ===========================================================================


@_q(
    "upstream_join_validation",
    """
    SELECT o.o_orderkey, c.c_name AS customer_c_name,
           c.c_acctbal >= 0 AS acct_ok
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 400000
    """,
)
def upstream_join_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upstream-datasource validation: join other source, prefixed columns
    (ValidationOperations.scala:72-88).  Customer side is broadcast —
    dimension tables never shuffle the fact side."""
    orders = _read(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    customer = prefix_upstream(
        _read(spark, sf_dir, "customer"), "customer", ["c_custkey"]
    )
    joined = orders.join(
        F.broadcast(customer),
        orders["o_custkey"] == customer["c_custkey"],
        "left",
    )
    return joined.select(
        "o_orderkey",
        "customer_c_name",
        (F.col("customer_c_acctbal") >= 0).alias("acct_ok"),
    )


@_q(
    "nested_upstream_validation",
    """
    SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS orders_cnt,
           count(*) FILTER (WHERE NOT (c.c_acctbal >= 0)) AS acct_violations
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def nested_upstream_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upstream validation nested inside upstream validation
    (ValidationOperations.scala:62-67, PlanProcessorTest.scala:247-253):
    customer (itself joined to nation) is folded onto orders via
    apply_upstream_chain, producing the reference's recursive
    ``customer_nation_*`` prefixes; rule metrics aggregate per nation.
    Both dimension levels are broadcast — the orders fact side never
    shuffles for the joins (one exchange for the final groupBy only)."""
    from .operators.validation import UpstreamSpec, apply_upstream_chain

    orders = _read(spark, sf_dir, "orders")
    spec = UpstreamSpec(
        upstream=_read(spark, sf_dir, "customer"),
        name="customer",
        join_expr="o_custkey = customer_c_custkey",
        join_type="inner",
        broadcast=True,
        nested=UpstreamSpec(
            upstream=_read(spark, sf_dir, "nation"),
            name="nation",
            join_expr="c_nationkey = nation_n_nationkey",
            join_type="inner",
            broadcast=True,
        ),
    )
    joined = apply_upstream_chain(orders, spec)
    return joined.groupBy(
        F.col("customer_nation_n_name").alias("nation")
    ).agg(
        F.count(F.lit(1)).alias("orders_cnt"),
        F.count_if(~(F.col("customer_c_acctbal") >= 0)).alias(
            "acct_violations"
        ),
    )


@_q(
    "anti_join_integrity",
    """
    SELECT CAST(count(*) AS BIGINT) AS orphans
    FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def anti_join_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity anti-join existence check
    (ValidationConfigurationBuilderTest.scala:452-467)."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    orphans = orders.join(
        F.broadcast(customer),
        orders["o_custkey"] == customer["c_custkey"],
        "left_anti",
    )
    return orphans.agg(F.count(F.lit(1)).alias("orphans"))


@_q(
    "theta_join_validation",
    """
    SELECT s.s_suppkey, CAST(count(*) AS BIGINT) AS bigger_nation_count
    FROM supplier s JOIN nation n ON n.n_nationkey > s.s_nationkey
    GROUP BY s.s_suppkey
    """,
)
def theta_join_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expr-prefixed theta join (ValidationOperations.scala:75)."""
    sup = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    joined = sup.join(
        F.broadcast(nat), F.expr("n_nationkey > s_nationkey"), "inner"
    )
    return joined.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).alias("bigger_nation_count")
    )


# ===========================================================================
# TPC-H-style plan-quality showcases
# ===========================================================================


@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: predicate pushdown to the scan + one partial-agg
    shuffle.  Filter and all agg inputs stay in whole-stage codegen."""
    df = _read(spark, sf_dir, "lineitem")
    return (
        df.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
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


@_q(
    "q3_top_revenue",
    """
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, orderdate
    ORDER BY revenue DESC, o.o_orderkey ASC LIMIT 10
    """,
)
def q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: small dims broadcast, one shuffle for the agg,
    TakeOrderedAndProject for the top-k (no global sort)."""
    cust = _read(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy(
            "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ===========================================================================
# §2.5 windows (new-build; the reference has none)
# ===========================================================================


@_q(
    "window_turn_order",
    """
    SELECT event_id, user_id,
           row_number() OVER w AS turn_rank,
           lag(event_type) OVER w AS prev_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_turn_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable order + lag features — the conversation-window op
    (operators/windows.py) over the events proxy table."""
    df = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return df.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("turn_rank"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


@_q(
    "window_session_gaps",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps FROM (
      SELECT user_id,
             epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_s
      FROM events
    ) WHERE gap_s > 3600 GROUP BY user_id
    """,
)
def window_session_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag-based gap detection (ts_monotone / contiguity rule family)."""
    df = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = df.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    )
    return (
        gaps.where(F.col("gap_s") > 3600)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


@_q(
    "salted_group_stats",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS conv_len,
           CAST(min(event_id) AS BIGINT) AS conv_min_idx,
           CAST(max(event_id) AS BIGINT) AS conv_max_idx
    FROM events GROUP BY user_id
    """,
)
def salted_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (windows.salted_conversation_stats
    semantics) — algebraically identical to a straight groupBy, verified
    here against the straight-SQL oracle."""
    df = _read(spark, sf_dir, "events")
    partial = df.groupBy(
        F.col("user_id"), F.pmod(F.col("event_id"), F.lit(16)).alias("__salt")
    ).agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min("event_id").alias("__min"),
        F.max("event_id").alias("__max"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("__cnt").alias("conv_len"),
        F.min("__min").alias("conv_min_idx"),
        F.max("__max").alias("conv_max_idx"),
    )


# ===========================================================================
# §2.4 profiling / oneOf detection
# ===========================================================================


@_q(
    "column_profile",
    """
    SELECT 'o_totalprice' AS col,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(*) - count(o_totalprice) AS BIGINT) AS nulls,
           CAST(count(DISTINCT o_totalprice) AS BIGINT) AS distinct_cnt,
           round(min(o_totalprice), 2) AS min_v, round(max(o_totalprice), 2) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           round(min(o_custkey), 2), round(max(o_custkey), 2)
    FROM orders
    """,
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-statistics profiling (MetadataUtil.scala:43-68) in one pass
    per column set."""
    df = _read(spark, sf_dir, "orders")
    outs = []
    for c in ["o_totalprice", "o_custkey"]:
        outs.append(
            df.agg(
                F.count(F.lit(1)).alias("cnt"),
                (F.count(F.lit(1)) - F.count(c)).alias("nulls"),
                F.count_distinct(F.col(c)).alias("distinct_cnt"),
                F.round(F.min(c), 2).alias("min_v"),
                F.round(F.max(c), 2).alias("max_v"),
            ).select(F.lit(c).alias("col"), "cnt", "nulls", "distinct_cnt",
                     F.col("min_v").cast("double"), F.col("max_v").cast("double"))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@_q(
    "oneof_detection",
    """
    SELECT 'event_type' AS col,
           CAST(count(DISTINCT event_type) AS BIGINT) AS distinct_cnt,
           CAST(count(*) AS BIGINT) AS cnt,
           (count(DISTINCT event_type) <= 0.2 * count(*) AND count(*) >= 1000)
             AS is_oneof
    FROM events
    """,
)
def oneof_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-column inference: distinct/count <= 0.2 and count >= 1000
    (MetadataUtil.scala:91-112, thresholds Constants.scala:175-176)."""
    df = _read(spark, sf_dir, "events")
    return df.agg(
        F.count_distinct("event_type").alias("distinct_cnt"),
        F.count(F.lit(1)).alias("cnt"),
    ).select(
        F.lit("event_type").alias("col"),
        "distinct_cnt",
        "cnt",
        (
            (F.col("distinct_cnt") <= 0.2 * F.col("cnt"))
            & (F.col("cnt") >= 1000)
        ).alias("is_oneof"),
    )


# ===========================================================================
# §2.8 scalar functions: JSON extraction (props column)
# ===========================================================================


@_q(
    "json_extract_agg",
    """
    SELECT event_type, CAST(sum(CAST(props::JSON->>'k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction stays JVM-side (get_json_object)."""
    df = _read(spark, sf_dir, "events")
    return df.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k")
    )


# ===========================================================================
# text analysis over documents (token counts, ratios, quality, language)
# ===========================================================================

_WS_SQL = "[ \\t\\n\\r\\f]+"
_TOKS_SQL = (
    "list_filter(string_split_regex(text, '[ \\t\\n\\r\\f]+'), x -> x != '')"
)


@_q(
    "doc_token_counts",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS_SQL}) AS INT) AS n_ws,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]')) AS INT) AS n_bpe
    FROM documents WHERE text IS NOT NULL
    """,
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting (functions/docs.py)."""
    df = _read(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return df.select(
        "doc_id",
        T.token_count("text").alias("n_ws"),
        DOC.bpe_ish_token_count("text").alias("n_bpe"),
    )


@_q(
    "doc_text_ratios",
    f"""
    SELECT doc_id,
           round((length(text) - length(regexp_replace(text,
                 '[^A-Za-z0-9 \\t\\n\\r\\f]', '', 'g')))
                 / CAST(length(text) AS DOUBLE), 6) AS symbol_ratio,
           round(1.0 - CAST(len(list_distinct(list_transform(({_TOKS_SQL})[1:200],
                 x -> lower(x)))) AS DOUBLE)
                 / CAST(len(({_TOKS_SQL})[1:200]) AS DOUBLE), 6) AS rep_ratio,
           round(length(regexp_replace(text, '[^ -~]', '', 'g'))
                 / CAST(length(text) AS DOUBLE), 6) AS ascii_ratio
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
      AND len({_TOKS_SQL}) > 0
    """,
)
def doc_text_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol / repetition / ascii ratios — pure-Catalyst text kernels."""
    df = (
        _read(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.length("text") > 0))
        .where(F.size(T.tokens("text")) > 0)
    )
    return df.select(
        "doc_id",
        F.round(T.symbol_ratio("text"), 6).alias("symbol_ratio"),
        F.round(T.word_repetition_ratio("text"), 6).alias("rep_ratio"),
        F.round(T.ascii_ratio("text"), 6).alias("ascii_ratio"),
    )


def _votes_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in DOC.STOPWORDS[lang])
    return (
        f"len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)), "
        f"x -> list_contains([{words}], x)))"
    )


@_q(
    "doc_language_heuristic",
    f"""
    WITH v AS (
      SELECT doc_id, lang,
             {_votes_sql('de')} AS v_de, {_votes_sql('en')} AS v_en,
             {_votes_sql('es')} AS v_es, {_votes_sql('fr')} AS v_fr,
             {_votes_sql('it')} AS v_it, {_votes_sql('pt')} AS v_pt
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(v_de, v_en, v_es, v_fr, v_it, v_pt) < 1 THEN 'und'
                WHEN v_de = greatest(v_de, v_en, v_es, v_fr, v_it, v_pt) THEN 'de'
                WHEN v_en = greatest(v_de, v_en, v_es, v_fr, v_it, v_pt) THEN 'en'
                WHEN v_es = greatest(v_de, v_en, v_es, v_fr, v_it, v_pt) THEN 'es'
                WHEN v_fr = greatest(v_de, v_en, v_es, v_fr, v_it, v_pt) THEN 'fr'
                WHEN v_it = greatest(v_de, v_en, v_es, v_fr, v_it, v_pt) THEN 'it'
                ELSE 'pt' END AS lang_heur
    FROM v
    """,
)
def doc_language_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side stopword-vote language ID (argmax, alphabetical ties)."""
    df = _read(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return df.select(
        "doc_id", "lang", DOC.heuristic_language("text").alias("lang_heur")
    )


# ===========================================================================
# PII / toxicity scrub (byte-equality core)
# ===========================================================================


def _scrub_sql_chain() -> str:
    from .functions.textcore import SCRUB_BANK

    expr = "text"
    for _rid, pat, rep in SCRUB_BANK:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{rep}', 'g')"
    return expr


@_q(
    "scrub_documents",
    f"SELECT doc_id, {_scrub_sql_chain()} AS scrubbed_text "
    "FROM documents WHERE text IS NOT NULL",
)
def scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential regex scrub chain — byte-equality against the oracle is
    the BASELINE scrub criterion applied to the documents table."""
    df = _fan_out(_read(spark, sf_dir, "documents")).where(F.col("text").isNotNull())
    return scrub_columns(df).select("doc_id", "scrubbed_text")


@_q(
    "pii_match_counts",
    """
    SELECT 'pii_email' AS rule_id, CAST(count(*) FILTER (WHERE regexp_matches(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS BIGINT) AS hits
    FROM documents
    UNION ALL SELECT 'pii_ssn', CAST(count(*) FILTER (WHERE regexp_matches(text,
           '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS BIGINT) FROM documents
    UNION ALL SELECT 'pii_ip', CAST(count(*) FILTER (WHERE regexp_matches(text,
           '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) FROM documents
    """,
)
def pii_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """matches/notMatches rule family (ValidationBuilder.scala:288-294)
    applied as PII detectors."""
    df = _read(spark, sf_dir, "documents")
    pats = {
        "pii_email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
        "pii_ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
        "pii_ip": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    }
    wide = df.agg(
        *[F.count_if(F.col("text").rlike(p)).alias(rid) for rid, p in pats.items()]
    )
    pairs = F.array(
        *[
            F.struct(F.lit(rid).alias("rule_id"), F.col(rid).alias("hits"))
            for rid in pats
        ]
    )
    return wide.select(F.explode(pairs).alias("p")).select("p.rule_id", "p.hits")


# ===========================================================================
# dedup family over documents
# ===========================================================================

_NORM_SQL = (
    "lower(array_to_string(list_filter(string_split_regex(text,"
    " '[ \\t\\n\\r\\f]+'), x -> x != ''), ' '))"
)


@_q(
    "exact_dup_groups",
    f"""
    SELECT CAST(min(doc_id) AS BIGINT) AS rep_id,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY {_NORM_SQL}
    HAVING count(*) > 1
    """,
)
def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-text fingerprint groupBy
    (operators/dedup.py; reference analog UniqueFieldsUtil.scala:17-22)."""
    df = _read(spark, sf_dir, "documents")
    return D.exact_duplicate_groups(df)


@_q(
    "drop_exact_dups_count",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS kept FROM (
      SELECT min(doc_id) FROM documents GROUP BY {_NORM_SQL}
    )
    """,
)
def drop_exact_dups_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "documents")
    return D.drop_exact_duplicates(df).agg(F.count(F.lit(1)).alias("kept"))


@_q(
    "incremental_ingest_decisions",
    f"""
    WITH corpus AS (
      SELECT DISTINCT {_NORM_SQL} AS k FROM documents WHERE doc_id < 250
    ),
    b AS (
      SELECT doc_id, {_NORM_SQL} AS k FROM documents WHERE doc_id >= 250
    ),
    firsts AS (SELECT k, min(doc_id) AS first_id FROM b GROUP BY k)
    SELECT b.doc_id,
           CASE WHEN c.k IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
                ELSE 'new' END AS decision
    FROM b
    JOIN firsts f ON b.k IS NOT DISTINCT FROM f.k
    LEFT JOIN corpus c ON b.k IS NOT DISTINCT FROM c.k
    """,
)
def incremental_ingest_decisions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-snapshot incremental ingestion against a standing corpus:
    classify each incoming doc new / dup_in_batch / dup_of_corpus using
    only 8-byte fingerprints (the corpus side is the persisted DISTINCT
    hash index a production ingest maintains as a bucketed table)."""
    docs = _read(spark, sf_dir, "documents")
    return D.incremental_ingest_decisions(
        docs.where(F.col("doc_id") < 250), docs.where(F.col("doc_id") >= 250)
    )


_SHINGLES_SQL = f"""
  SELECT doc_id,
         CASE WHEN len({_TOKS_SQL}) >= 3 THEN
           list_distinct(list_transform(
             generate_series(1, len({_TOKS_SQL}) - 2),
             i -> concat_ws(' ', lower({_TOKS_SQL}[i]),
                            lower({_TOKS_SQL}[i+1]), lower({_TOKS_SQL}[i+2]))))
         ELSE [lower(array_to_string({_TOKS_SQL}, ' '))] END AS s
  FROM documents WHERE text IS NOT NULL
"""


@_q(
    "ngram_jaccard_dups",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    posts AS (SELECT doc_id, len(s) AS sz, unnest(s) AS shingle FROM sh WHERE len(s) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(count(*) / CAST(any_value(a.sz) + any_value(b.sz) - count(*) AS DOUBLE), 6) AS jaccard
    FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING round(count(*) / CAST(any_value(a.sz) + any_value(b.sz) - count(*) AS DOUBLE), 6) >= 0.6
    """,
)
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs, WITH the web-scale skew guard on:
    candidate blocking caps hot-shingle posting lists (max_block), and
    every candidate is re-verified against the full shingle sets so the
    reported Jaccard is exact — the oracle is the uncapped all-pairs SQL,
    and the outputs match because no fixture pair shares only hot
    shingles (pinned also by tests/test_dedup.py cap-on == cap-off)."""
    df = _fan_out(_read(spark, sf_dir, "documents"))
    return D.ngram_jaccard_pairs(df, k=3, threshold=0.6, max_block=1000)


# ===========================================================================
# embeddings: norms, top-k, exact near-dup pairs
# ===========================================================================


@_q(
    "embedding_norms",
    """
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * x))), 6) AS l2
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read(spark, sf_dir, "embeddings")
    return df.select(
        "vec_id",
        F.round(
            SIM.l2_norm(F.col("embedding").cast("array<double>")), 6
        ).alias("l2"),
    )


@_q(
    "embedding_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
    FROM embeddings e, q
    ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10
    """,
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (scan + TakeOrderedAndProject)."""
    df = _read(spark, sf_dir, "embeddings")
    q = [float(x) for x in df.where(F.col("vec_id") == 0).first()["embedding"]]
    return SIM.cosine_topk(df, q, k=10)


@_q(
    "embedding_neardup_exact",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
             AS cos_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < 300 AND b.vec_id < 300 AND a.vec_id < b.vec_id
      AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
          / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.9
    """,
)
def embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs on a bounded slice (the
    LSH-accelerated variant is the rows-only `lsh_knn_embeddings`)."""
    df = _read(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    a = df.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("__va"),
    ).withColumn("__na", SIM.l2_norm(F.col("__va")))
    b = df.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").cast("array<double>").alias("__vb"),
    ).withColumn("__nb", SIM.l2_norm(F.col("__vb")))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            SIM.cosine_given_norms(
                F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
            ).alias("__cos"),
        )
        .where(F.col("__cos") >= 0.9)
        .select("id_a", "id_b", F.round("__cos", 6).alias("cos_sim"))
    )


# ===========================================================================
# rows-only entries (non-SQL-expressible: pandas-UDF models, LSH, media)
# ===========================================================================


def _langid_golden_oracle() -> str:
    from .golden import langid_golden_sql

    return langid_golden_sql()


def _perplexity_golden_oracle() -> str:
    from .golden import perplexity_golden_sql

    return perplexity_golden_sql()


def _media_golden_oracle() -> str:
    from .golden import media_golden_sql

    return media_golden_sql(n=300)


@_q("langid_documents", _langid_golden_oracle)
def langid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-profile language ID via broadcast-model pandas UDF (the
    fastText deployment shape) — model inference has no SQL oracle."""
    from .functions.langid import with_language

    df = _fan_out(_read(spark, sf_dir, "documents"))
    return with_language(df).select(
        "doc_id", F.col("lang").alias("doc_lang"), F.round("lang_score", 6).alias("lang_score")
    )


@_q("perplexity_documents", _perplexity_golden_oracle)
def perplexity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-trigram LM perplexity via broadcast-table pandas UDF."""
    from .functions.perplexity import with_perplexity

    df = _fan_out(_read(spark, sf_dir, "documents"))
    return with_perplexity(df).select("doc_id", F.round("ppl", 2).alias("ppl"))


def _langid_margin_oracle() -> str:
    from .golden import langid_margin_golden_sql

    return langid_margin_golden_sql()


@_q("langid_confidence_margin", _langid_margin_oracle)
def langid_confidence_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confidence gate: top1-top2 log-prob margin per doc
    (CCNet drops low-margin = mixed/ambiguous text).  Same broadcast-
    model iterator-UDF shape as the langid stage, one Arrow crossing;
    confident at margin >= 0.3."""
    from .functions.langid import with_language_margin

    docs = _fan_out(_read(spark, sf_dir, "documents"))
    out = with_language_margin(docs)
    return out.select(
        "doc_id",
        "lang_pred",
        F.round("lang_margin", 6).alias("lang_margin"),
        (F.col("lang_margin") >= 0.3).alias("confident"),
    )


def _ppl_buckets_oracle() -> str:
    from .golden import perplexity_golden_sql

    return f"""
    WITH p AS ({perplexity_golden_sql()}),
    j AS (
      SELECT d.doc_id, d.lang, p.ppl
      FROM documents d JOIN p ON p.doc_id = d.doc_id
    ),
    b AS (
      SELECT doc_id, lang, ppl,
             ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS t
      FROM j
    )
    SELECT doc_id, lang, ppl,
           CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS ppl_bucket
    FROM b
    """


@_q("perplexity_buckets", _ppl_buckets_oracle)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail data partitioning: per-language perplexity
    terciles (train on head+middle, drop/downsample tail — Wenzek 2020).
    One Arrow crossing for the LM scores, one lang-keyed window; ordering
    uses the ROUNDED ppl + doc_id so both engines cut ties identically.
    Scale swap-point (approx cutpoints, no per-lang sort) documented in
    functions/perplexity.py."""
    from .functions.perplexity import with_ppl_buckets, with_perplexity

    df = _fan_out(_read(spark, sf_dir, "documents"))
    scored = with_perplexity(df).select(
        "doc_id", "lang", F.round("ppl", 2).alias("ppl")
    )
    return with_ppl_buckets(scored).select("doc_id", "lang", "ppl", "ppl_bucket")


#: calibration thresholds: probabilities 0.1..0.9 in nano-unit fixed point
_SWEEP_THRESHOLDS = [i * 100_000_000 for i in range(1, 10)]


def _sweep_oracle() -> str:
    from .golden import quality_classifier_golden_sql

    thr = ", ".join(str(t) for t in _SWEEP_THRESHOLDS)
    return f"""
    WITH s AS ({quality_classifier_golden_sql()}),
    y AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    j AS (SELECT s.score_fixed, y.y FROM s JOIN y USING (doc_id)),
    t AS (SELECT unnest([{thr}]) AS thr_fixed),
    c AS (
      SELECT thr_fixed,
             SUM(CASE WHEN score_fixed >= thr_fixed AND y = 1 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN score_fixed >= thr_fixed AND y = 0 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN score_fixed <  thr_fixed AND y = 1 THEN 1 ELSE 0 END) AS fn,
             SUM(CASE WHEN score_fixed <  thr_fixed AND y = 0 THEN 1 ELSE 0 END) AS tn
      FROM j CROSS JOIN t GROUP BY thr_fixed
    )
    SELECT CAST(thr_fixed AS BIGINT) AS thr_fixed,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CASE WHEN tp + fp > 0
                THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
           CASE WHEN tp + fn > 0
                THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall
    FROM c
    """


@_q("classifier_threshold_sweep", _sweep_oracle)
def classifier_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier calibration: confusion counts + precision/
    recall at nine fixed-point probability thresholds in ONE combinable
    pass (narrow explode, map-side combine to |T| rows).  Integer-exact
    comparisons because scores are nano-unit int64."""
    from .functions import classifier as CLS

    docs = _fan_out(_read(spark, sf_dir, "documents"))
    # featurize ONCE; training iterations and scoring share the cached
    # Arrow features (the text n-gram pass is the expensive one)
    feat = CLS.featurize(docs, F.col("lang") == "en", 1024).persist()
    model = CLS.train(
        docs, F.col("lang") == "en", n_features=1024, iters=6, lr=0.5,
        features=feat,
    )
    scored = CLS.infer_from_features(feat, model).join(
        docs.select("doc_id", (F.col("lang") == "en").alias("__lbl")),
        "doc_id",
    )
    out = CLS.threshold_sweep(
        scored, F.col("__lbl"), _SWEEP_THRESHOLDS
    ).orderBy("thr_fixed")
    # materialize (tiny) so the featurize cache can be released NOW —
    # each invocation builds a fresh plan, so an un-released persist
    # would leak one cache per call for the session lifetime
    out = out.localCheckpoint(eager=True)
    feat.unpersist()
    return out


@_q(
    "hard_negative_mining",
    """
    WITH v AS (
      SELECT vec_id AS id, label AS lbl, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS n
      FROM embeddings WHERE vec_id < 300
    ),
    p AS (
      SELECT a.id AS anchor_id, b.id AS negative_id,
             round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos_sim
      FROM v a JOIN v b ON a.id <> b.id AND a.lbl <> b.lbl
      WHERE a.n > 0 AND b.n > 0
    ),
    r AS (
      SELECT anchor_id, negative_id, cos_sim,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos_sim DESC, negative_id) AS rank
      FROM p
    )
    SELECT anchor_id, negative_id, cos_sim, CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: per anchor, the 5 most-similar
    DIFFERENT-label vectors (exact on a bounded slice; the 100 TB path
    feeds the same scorer from ANN candidate lists — see
    operators/similarity.py hard_negative_pairs)."""
    emb = _read(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    return SIM.hard_negative_pairs(emb, k=5)


def _role_transitions_oracle() -> str:
    from .golden import role_transitions_golden_sql

    return role_transitions_golden_sql()


@_q("role_transition_counts", _role_transitions_oracle)
def role_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue-structure profile of the transcripts corpus: (prev role ->
    role) transition counts via one conv-keyed window + combinable
    groupBy — the corpus-level view of the pipeline's role/tool
    consistency rules (malformed agent traces surface as impossible
    transitions)."""
    from .fixtures import generate_transcripts_df
    from .operators.windows import role_transition_counts as rtc

    df = generate_transcripts_df(spark, n_convs=200, num_partitions=8)
    return rtc(df).orderBy("role_from", "role_to")


def _compression_oracle() -> str:
    from .golden import compression_golden_sql

    return compression_golden_sql()


@_q("compression_ratio_signal", _compression_oracle)
def compression_ratio_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE compression ratio as a repetition/boilerplate quality
    signal (Gopher-style): highly compressible text is looped or
    templated.  One Arrow crossing carries only the compressed byte
    COUNT; byte lengths and the ratio stay JVM-side."""
    docs = _fan_out(
        _read(spark, sf_dir, "documents").where(
            F.col("text").isNotNull() & (F.octet_length("text") > 0)
        )
    )
    return DOC.with_compression_ratio(docs).select(
        "doc_id", "raw_bytes", "comp_bytes", "comp_ratio", "flag_repetitive"
    )


def _chat_export_oracle() -> str:
    from .golden import chat_export_golden_sql

    return chat_export_golden_sql()


@_q("chat_jsonl_export", _chat_export_oracle)
def chat_jsonl_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-export deliverable: run the flagship quality filter,
    keep surviving turns, render each conversation as one chat-format
    JSON document ({"messages":[{role,content},...]}, the chat-jsonl
    convention) — pure Catalyst collect_list/array_sort/to_json, ONE
    groupBy shuffle of kept turns, byte-compared (md5) against the
    sequential Jackson-twin renderer."""
    from .fixtures import generate_transcripts_df
    from .functions.chatfmt import export_chat_jsonl
    from .plans.pipeline import QualityFilterPipeline

    df = generate_transcripts_df(spark, n_convs=200, num_partitions=8)
    out = QualityFilterPipeline().run(df)
    kept = out.where(F.col("keep") & F.col("scrubbed_text").isNotNull())
    return export_chat_jsonl(kept).select(
        "conv_id", "n_msgs", F.md5("chat_json").alias("chat_md5")
    )


def _minhash_golden_oracle() -> str:
    from .golden import minhash_golden_sql

    return minhash_golden_sql()


def _simhash_golden_oracle() -> str:
    from .golden import simhash_golden_sql

    return simhash_golden_sql()


@_q("minhash_lsh_dups", _minhash_golden_oracle)
def minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (recall vs the exact
    `ngram_jaccard_dups` is pinned in tests/test_dedup.py).  Oracle = an
    independent single-process replay of the banding algorithm
    (golden.minhash_golden_sql): same signature kernel, dict-based
    bucketing — value-hash-verifies the distributed band-join plumbing."""
    df = _fan_out(_read(spark, sf_dir, "documents"))
    return D.minhash_lsh_pairs(df, threshold=0.5)


@_q("simhash_dups", _simhash_golden_oracle)
def simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming<=3 near-dup pairs via chunk blocking; oracle = the
    independent chunk-blocking replay (golden.simhash_golden_sql)."""
    df = _fan_out(_read(spark, sf_dir, "documents"))
    return D.simhash_pairs(df, max_hamming=3)


def _lsh_knn_golden_oracle() -> str:
    from .golden import lsh_knn_golden_sql

    return lsh_knn_golden_sql()


def _ivf_knn_golden_oracle() -> str:
    from .golden import ivf_knn_golden_sql

    return ivf_knn_golden_sql()


@_q("ivf_knn_embeddings", _ivf_knn_golden_oracle)
def ivf_knn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate knn join via inverted-file (IVF) coarse quantization —
    the FAISS-style alternative scale path to LSH: k-means centroids from
    a seeded hash-sampled training set, one broadcast-matmul list
    assignment per Arrow batch, candidates equi-joined on the list id
    with query-side multiprobe.  ``n_lists`` derives from the input size
    (constant rows-per-list -> candidate join linear in n) and the
    training sample is md5-threshold hash-sampled on vec_id — unbiased on
    clustered storage layouts.  Oracle = the independent single-process
    replay (golden.ivf_knn_golden_sql, same derivation + sample rule)."""
    df = _read(spark, sf_dir, "embeddings")
    dim = len(df.select("embedding").first()["embedding"])
    # centroids train on a hash sample of the raw scan; fan-out for the
    # assignment/join stages happens inside via persisted projections
    return SIM.ivf_knn_join(df, dim, k=3)


@_q(
    "repeated_span_removal",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    ch AS (
      SELECT doc_id, CAST((i - 1) // 8 AS BIGINT) AS cidx, t[i] AS tok, i
      FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i)
      WHERE i <= len(t)
    ),
    spans AS (
      SELECT doc_id, cidx,
             string_agg(tok, ' ' ORDER BY i) AS span,
             count(*) AS n_toks
      FROM ch GROUP BY doc_id, cidx
    ),
    hot AS (
      SELECT span FROM spans WHERE n_toks = 8
      GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    ),
    kept AS (
      SELECT s.* FROM spans s ANTI JOIN hot h ON s.span = h.span
    ),
    reassembled AS (
      SELECT doc_id,
             string_agg(span, ' ' ORDER BY cidx) AS clean_text,
             count(*) AS kept_n
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS total_n FROM spans GROUP BY doc_id)
    SELECT t.doc_id,
           md5(coalesce(r.clean_text, '')) AS clean_md5,
           CAST(t.total_n - coalesce(r.kept_n, 0) AS INTEGER) AS n_removed
    FROM totals t LEFT JOIN reassembled r ON t.doc_id = r.doc_id
    """,
)
def repeated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-span removal (the C4/RefinedWeb hygiene step:
    exact k-token spans occurring in >= 2 documents are boilerplate and
    get cut).  Repetition counting shuffles span HASHES only; reassembly
    is keyed by the document.  Oracle: the identical split/chunk/count/
    reassemble computation in DuckDB SQL — clean text compared via md5."""
    docs = _read(spark, sf_dir, "documents")
    out = D.drop_repeated_spans(docs, k=8, min_docs=2)
    return out.select(
        "doc_id",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        "n_removed",
    )


@_q(
    "winnowing_overlap",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
      SELECT doc_id, i,
             substr(md5(array_to_string(t[i:i+3], ' ')), 1, 16) AS h
      FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i)
      WHERE i <= len(t) - 3
    ),
    wins AS (
      SELECT doc_id, i, h,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS mh,
             count(*) OVER (PARTITION BY doc_id) AS m
      FROM sh
    ),
    fps AS (
      SELECT DISTINCT doc_id, mh AS fp FROM wins WHERE m >= 5 AND i <= m - 4
      UNION
      SELECT DISTINCT doc_id, min(h) OVER (PARTITION BY doc_id) AS fp
      FROM wins WHERE m < 5
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
)
def winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing copy-detection (the MOSS algorithm, Schleimer et al.
    2003): positional 4-gram hashes -> minimum per 5-window ->
    fingerprint equi-join -> pairs sharing >= 2 fingerprints.  The oracle
    recomputes the identical selection in DuckDB (same md5 gram hash,
    same window minimum, same boundary rule)."""
    docs = _read(spark, sf_dir, "documents")
    return D.winnowing_overlap_pairs(docs, k=4, window=5, min_shared=2)


def _bpe_golden_oracle() -> str:
    from .golden import bpe_golden_sql

    return bpe_golden_sql(n_merges=200, min_freq=2, max_vocab_rows=100_000)


@_q("bpe_token_counts", _bpe_golden_oracle)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenization (Sennrich 2016): merge rules learned from
    the corpus via ONE distributed word-frequency shuffle + a driver
    merge loop over the EXPLICITLY BOUNDED distinct-word table (freq
    floor + deterministic top-N cap pushed into the aggregate — Heaps'
    law keeps clean vocabularies tiny, but a crawl-scale token set is
    not clean), then broadcast-ranks Arrow tokenization.  Oracle = the
    sequential shared-kernel replay with the same caps; token streams
    compared byte-for-byte via md5."""
    from .functions.bpe import train_bpe_on_corpus, with_bpe_tokens

    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe_on_corpus(
        docs, n_merges=200, min_freq=2, max_vocab_rows=100_000
    )
    out = with_bpe_tokens(
        _fan_out(docs), merges, tokens_col="__toks"
    )
    return out.select(
        "doc_id",
        "n_bpe_tokens",
        F.md5(
            F.array_join("__toks", "\x1f").cast("binary")
        ).alias("tokens_md5"),
    )


def _semantic_dedup_golden_oracle() -> str:
    from .golden import semantic_dedup_golden_sql

    return semantic_dedup_golden_sql(eps=0.75)


@_q("semantic_dedup_drops", _semantic_dedup_golden_oracle)
def semantic_dedup_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster the embedding space
    with the shared k-means quantizer, compare pairs only WITHIN a
    cluster, drop all but the min-id representative of each cosine>=1-eps
    component).  eps=0.75 exercises the machinery on this random-vector
    table (true near-dups would use eps~0.05).  Oracle = the independent
    single-process replay (golden.semantic_dedup_golden_sql: same
    derivation/sample/kernels, union-find components)."""
    df = _read(spark, sf_dir, "embeddings")
    dim = len(df.select("embedding").first()["embedding"])
    return SIM.semantic_dedup_drops(df, dim, eps=0.75).orderBy("vec_id")


@_q("lsh_knn_embeddings", _lsh_knn_golden_oracle)
def lsh_knn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate knn join via random-hyperplane LSH; oracle = the
    independent single-process bucketing+rescoring replay
    (golden.lsh_knn_golden_sql, fold-order-exact cosine)."""
    df = _fan_out(_read(spark, sf_dir, "embeddings"))
    dim = len(df.select("embedding").first()["embedding"])
    return SIM.lsh_knn_join(df, dim, k=3)


@_q("media_image_features", _media_golden_oracle)
def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthesized binary media -> mapInPandas decode
    (stubbed kernel, real schema/batching).  Oracle = pure-Python replay
    of the deterministic synth+decode (golden.media_golden_sql), so the
    Arrow batching/schema plumbing is value-hash-verified."""
    from .operators.multimodal import decode_image_features, synthesize_media_df

    media = synthesize_media_df(spark, n=300)
    return decode_image_features(media)


def _real_image_golden_oracle() -> str:
    from .golden import real_image_golden_sql

    return real_image_golden_sql(n=120)


def _real_audio_golden_oracle() -> str:
    from .golden import real_audio_golden_sql

    return real_audio_golden_sql(n=120)


def _video_frames_golden_oracle() -> str:
    from .golden import video_frames_golden_sql

    return video_frames_golden_sql(n=120)


def _media_resize_golden_oracle() -> str:
    from .golden import media_resize_golden_sql

    return media_resize_golden_sql(n=120)


@_q("media_real_image_features", _real_image_golden_oracle)
def media_real_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: distributed synthesis of actual PPM payloads
    (mapInPandas over spark.range) -> real pixel decode + BT.601 luma in
    Arrow batches (operators/mediacodec.py).  Oracle = the same codec
    kernels run single-process and rendered as VALUES — the distributed
    plan must reproduce the sequential decode bit-for-bit."""
    from .operators.multimodal import (
        MODE_REAL,
        decode_image_features,
        synthesize_real_media_df,
    )

    media = synthesize_real_media_df(spark, n=120)
    return decode_image_features(media, mode=MODE_REAL)


@_q("media_real_audio_features", _real_audio_golden_oracle)
def media_real_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: PCM WAV payloads -> sample-rate/duration/RMS
    computed from the actual samples (stdlib wave + numpy; no codec libs
    needed).  Oracle = sequential replay of the same kernels."""
    from .operators.multimodal import (
        MODE_REAL,
        decode_audio_features,
        synthesize_real_media_df,
    )

    media = synthesize_real_media_df(spark, n=120)
    return decode_audio_features(media, mode=MODE_REAL)


@_q("media_video_frame_stats", _video_frames_golden_oracle)
def media_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: Y4M payloads -> every-2nd-frame luma
    stats, one row per sampled frame (flat-map fan-out inside mapInPandas,
    no binary explode through a shuffle)."""
    from .operators.multimodal import synthesize_real_media_df, video_frame_stats

    media = synthesize_real_media_df(spark, n=120)
    return video_frame_stats(media, every_n=2, max_frames=8)


@_q("media_resize_features", _media_resize_golden_oracle)
def media_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize pipeline: decode -> nearest-neighbor resample to 16x12
    -> re-encode PPM -> decode again for features.  Pins the
    payload-in/payload-out composition (resize stages chain with decode
    stages and the bytes-budget repartitioner)."""
    from .operators.multimodal import (
        MODE_REAL,
        decode_image_features,
        resize_images,
        synthesize_real_media_df,
    )

    media = synthesize_real_media_df(spark, n=120)
    resized = resize_images(media, out_w=16, out_h=12)
    feats = decode_image_features(
        resized.withColumn("kind", F.lit("image")), mode=MODE_REAL
    )
    return (
        feats.join(resized.select("media_id", "n_bytes"), "media_id")
        .select("media_id", "n_bytes", "width", "height", "mean_luma")
    )


def _transcript_golden_oracle() -> str:
    from .golden import transcript_golden_sql

    return transcript_golden_sql(n_convs=200, seed=42)


@_q("transcript_quality_filter", _transcript_golden_oracle)
def transcript_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship BASELINE pipeline over the deterministically synthesized
    transcripts fixture: langid + perplexity + heuristic rules + scrub.

    The oracle is the single-threaded reference labeler's output rendered
    as a VALUES literal (``golden.py``) — the driver hash-compares the
    distributed plan against the sequential reference implementation, which
    IS the BASELINE F1/byte-equality criterion.  ``rule_hits`` is emitted
    '|'-joined (hit order is part of the spec: heuristic bank order then
    scrub bank order) and scrubbed text as its md5 so every column is
    hashable and compact.
    """
    from .fixtures import generate_transcripts_df
    from .plans.pipeline import QualityFilterPipeline

    df = generate_transcripts_df(spark, n_convs=200, num_partitions=8)
    out = QualityFilterPipeline().run(df)
    return out.select(
        "conv_id",
        "turn_idx",
        "keep",
        F.array_join("rule_hits", "|").alias("rule_hits"),
        F.md5(F.col("scrubbed_text").cast("binary")).alias("scrub_md5"),
    )


# ===========================================================================
# flagship: full keep/drop + scrub quality filter over documents
# ===========================================================================


@_q(
    "doc_quality_filter",
    f"""
    WITH feat AS (
      SELECT doc_id, text,
             length(text) AS n_chars_f,
             len({_TOKS_SQL}) AS n_tokens_f,
             CASE WHEN len(({_TOKS_SQL})[1:200]) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(list_transform(({_TOKS_SQL})[1:200],
                       x -> lower(x)))) AS DOUBLE)
                       / CAST(len(({_TOKS_SQL})[1:200]) AS DOUBLE)
             END AS rep_f,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE (length(text) - length(regexp_replace(text,
                       '[^A-Za-z0-9 \\t\\n\\r\\f]', '', 'g')))
                       / CAST(length(text) AS DOUBLE)
             END AS sym_f
      FROM documents
    )
    SELECT doc_id,
           COALESCE(text IS NOT NULL, FALSE)
           AND COALESCE(n_chars_f BETWEEN 1 AND 8000, FALSE)
           AND COALESCE(n_tokens_f >= 1, FALSE)
           AND COALESCE(rep_f <= 0.9, FALSE)
           AND COALESCE(sym_f <= 0.3, FALSE) AS keep,
           {_scrub_sql_chain()} AS scrubbed_text
    FROM feat
    """,
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: the BASELINE keep/drop-and-scrub engine applied to the
    documents table — feature projection, rule bank, sequential scrub, all
    inside one Catalyst plan (zero Python, zero shuffles).

    The transcripts-shaped variant (windows + langid + perplexity UDF
    stages) is `transcript_quality_filter`; this one is fully
    oracle-checkable byte-for-byte.
    """
    df = _read(spark, sf_dir, "documents")
    df = df.withColumns(
        {
            "n_chars_f": F.length("text"),
            "n_tokens_f": T.token_count("text"),
            "rep_f": T.word_repetition_ratio("text"),
            "sym_f": T.symbol_ratio("text"),
        }
    )
    rules = RuleSet(
        [
            expr_rule("text_non_null", "ISNOTNULL(text)"),
            expr_rule("len_in_range", "n_chars_f BETWEEN 1 AND 8000"),
            expr_rule("min_tokens", "n_tokens_f >= 1"),
            expr_rule("rep_ratio_max", "rep_f <= 0.9"),
            expr_rule("symbol_ratio_max", "sym_f <= 0.3"),
        ]
    )
    # strict keep: a NULL rule result is NOT a pass here (flagship drops
    # unknowns), matching the COALESCE(..., FALSE) oracle formulation
    keep = F.lit(True)
    for r in rules:
        keep = keep & F.coalesce(r.column, F.lit(False))
    df = scrub_columns(df)
    return df.select("doc_id", keep.alias("keep"), "scrubbed_text")


# ===========================================================================
# published web-corpus rule banks: Gopher (Rae et al. 2021), C4 (Raffel
# et al. 2020) — single-scan pure-Catalyst keep/drop decisions
# ===========================================================================

_DUCK_WS = "' ' || chr(9) || chr(10) || chr(13) || chr(12)"


@_q(
    "gopher_rule_decisions",
    f"""
    WITH f AS (
      SELECT doc_id, text,
             {_TOKS_SQL} AS toks,
             string_split(text, chr(10)) AS lines
      FROM documents
    ), g AS (
      SELECT doc_id, text, len(toks) AS n_words, len(lines) AS n_lines,
             length(translate(text, {_DUCK_WS}, ''))::DOUBLE AS word_chars,
             length(text) - length(translate(text, '#', '')) AS hash_cnt,
             (length(text) - length(replace(text, '...', ''))) / 3 AS ell_cnt,
             len(list_filter(lines,
                 x -> substr(ltrim(x), 1, 1) IN ('-', '*'))) AS bullet_n,
             len(list_filter(lines,
                 x -> right(rtrim(x), 3) = '...')) AS ellline_n,
             len(list_filter(toks,
                 x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_n,
             len(list_intersect(
                 list_distinct(list_transform(toks, x -> lower(x))),
                 ['the','be','to','of','and','that','have','with'])) AS sw_hits
      FROM f
    )
    SELECT doc_id,
      CASE WHEN text IS NULL THEN NULL ELSE n_words END AS n_words,
      COALESCE(n_words BETWEEN 50 AND 100000, FALSE) AS words_in_range,
      COALESCE(n_words > 0
               AND word_chars / n_words BETWEEN 3.0 AND 10.0,
               FALSE) AS mean_word_len_ok,
      COALESCE(n_words > 0
               AND hash_cnt::DOUBLE / n_words <= 0.1
                   AND ell_cnt::DOUBLE / n_words <= 0.1,
               FALSE) AS symbol_ratio_ok,
      COALESCE(n_lines > 0 AND bullet_n::DOUBLE / n_lines <= 0.9,
               FALSE) AS bullet_lines_ok,
      COALESCE(n_lines > 0 AND ellline_n::DOUBLE / n_lines <= 0.3,
               FALSE) AS ellipsis_lines_ok,
      COALESCE(n_words > 0 AND alpha_n::DOUBLE / n_words >= 0.8,
               FALSE) AS alpha_words_ok,
      COALESCE(sw_hits >= 2, FALSE) AS stopwords_ok,
      COALESCE(n_words BETWEEN 50 AND 100000, FALSE)
      AND COALESCE(n_words > 0
                   AND word_chars / n_words BETWEEN 3.0 AND 10.0, FALSE)
      AND COALESCE(n_words > 0
                   AND hash_cnt::DOUBLE / n_words <= 0.1
                   AND ell_cnt::DOUBLE / n_words <= 0.1, FALSE)
      AND COALESCE(n_lines > 0
                   AND bullet_n::DOUBLE / n_lines <= 0.9, FALSE)
      AND COALESCE(n_lines > 0
                   AND ellline_n::DOUBLE / n_lines <= 0.3, FALSE)
      AND COALESCE(n_words > 0
                   AND alpha_n::DOUBLE / n_words >= 0.8, FALSE)
      AND COALESCE(sw_hits >= 2, FALSE) AS keep
    FROM g
    """,
)
def gopher_rule_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveWeb document-filter bank (Rae et al. 2021, App.
    A1.1) over the documents table: seven per-rule booleans + keep in ONE
    scan, zero shuffles, zero Python (see functions/webfilters.py).

    100 TB shape: a pure map stage — composes with any downstream op
    without adding an exchange, and the keep predicate pushes down when
    the output feeds a filter."""
    df = _read(spark, sf_dir, "documents")
    return WF.gopher_flags(df).select(
        "doc_id", "n_words", "words_in_range", "mean_word_len_ok",
        "symbol_ratio_ok", "bullet_lines_ok", "ellipsis_lines_ok",
        "alpha_words_ok", "stopwords_ok", "keep",
    )


@_q(
    "c4_filter_decisions",
    """
    WITH f AS (
      SELECT doc_id, text, lower(text) AS low,
             string_split(text, chr(10)) AS lines,
             list_filter(list_transform(string_split_regex(text, '[.!?]'),
                                        s -> trim(s)),
                         s -> s != '') AS sents
      FROM documents
    ), g AS (
      SELECT doc_id, text, low, len(lines) AS n_lines,
             len(sents) AS n_sentences,
             list_filter(lines, l ->
                 len(list_filter(string_split_regex(l, '[ \\t\\n\\r\\f]+'),
                                 x -> x != '')) >= 5
                 AND right(rtrim(l), 1) IN ('.', '!', '?', '"')) AS kept
      FROM f
    )
    SELECT doc_id,
      CASE WHEN text IS NULL THEN NULL ELSE n_lines END AS n_lines,
      CASE WHEN text IS NULL THEN NULL ELSE len(kept) END AS kept_lines,
      CASE WHEN text IS NULL THEN NULL ELSE n_sentences END AS n_sentences,
      COALESCE(contains(low, '{'), FALSE) AS has_brace,
      COALESCE(contains(low, 'lorem ipsum'), FALSE) AS has_lorem_ipsum,
      COALESCE(contains(low, 'javascript'), FALSE) AS has_javascript,
      COALESCE(n_sentences >= 3 AND text IS NOT NULL, FALSE)
      AND NOT COALESCE(contains(low, '{'), FALSE)
      AND NOT COALESCE(contains(low, 'lorem ipsum'), FALSE)
      AND NOT COALESCE(contains(low, 'javascript'), FALSE) AS keep,
      CASE WHEN text IS NULL THEN NULL
           -- array_to_string([]) is NULL in DuckDB where Spark's
           -- array_join([]) is '' — coalesce to the Spark semantics
           ELSE md5(COALESCE(array_to_string(kept, chr(10)), ''))
      END AS clean_md5
    FROM g
    """,
)
def c4_filter_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristics (Raffel et al. 2020 §2.2): line-level retention
    (terminal punctuation + >=5 words) with in-order document reassembly,
    plus the page-level lorem-ipsum / curly-brace / javascript /
    min-3-sentences drops.  Single scan, no shuffle; the cleaned text is
    emitted as md5 for driver hashability."""
    df = _read(spark, sf_dir, "documents")
    return WF.c4_decisions(df).select(
        "doc_id", "n_lines", "kept_lines", "n_sentences", "has_brace",
        "has_lorem_ipsum", "has_javascript", "keep",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


@_q(
    "web_quality_funnel",
    f"""
    WITH f AS (
      SELECT doc_id, source, text,
             {_TOKS_SQL} AS toks,
             string_split(text, chr(10)) AS lines,
             lower(text) AS low
      FROM documents
    ), g AS (
      SELECT doc_id, source, text, low, lines,
             len(toks) AS n_words, len(lines) AS n_lines,
             length(translate(text, {_DUCK_WS}, ''))::DOUBLE AS word_chars,
             length(text) - length(translate(text, '#', '')) AS hash_cnt,
             (length(text) - length(replace(text, '...', ''))) / 3 AS ell_cnt,
             len(list_filter(lines,
                 x -> substr(ltrim(x), 1, 1) IN ('-', '*'))) AS bullet_n,
             len(list_filter(lines,
                 x -> right(rtrim(x), 3) = '...')) AS ellline_n,
             len(list_filter(toks,
                 x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_n,
             len(list_intersect(
                 list_distinct(list_transform(toks, x -> lower(x))),
                 ['the','be','to','of','and','that','have','with'])) AS sw_hits,
             len(list_filter(list_transform(string_split_regex(text, '[.!?]'),
                                            s -> trim(s)),
                             s -> s != '')) AS n_sentences,
             CASE WHEN len(toks[1:200]) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(list_transform(
                       toks[1:200], x -> lower(x)))) AS DOUBLE)
                       / CAST(len(toks[1:200]) AS DOUBLE)
             END AS rep_f,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE (length(text) - length(regexp_replace(text,
                       '[^A-Za-z0-9 \\t\\n\\r\\f]', '', 'g')))
                       / CAST(length(text) AS DOUBLE)
             END AS sym_f
      FROM f
    ), k AS (
      SELECT doc_id, source,
        COALESCE(n_sentences >= 3 AND text IS NOT NULL, FALSE)
        AND NOT COALESCE(contains(low, '{{'), FALSE)
        AND NOT COALESCE(contains(low, 'lorem ipsum'), FALSE)
        AND NOT COALESCE(contains(low, 'javascript'), FALSE) AS c4_keep,
        COALESCE(n_words BETWEEN 50 AND 100000, FALSE)
        AND COALESCE(n_words > 0
                     AND word_chars / n_words BETWEEN 3.0 AND 10.0, FALSE)
        AND COALESCE(n_words > 0
                     AND hash_cnt::DOUBLE / n_words <= 0.1
                   AND ell_cnt::DOUBLE / n_words <= 0.1, FALSE)
        AND COALESCE(n_lines > 0
                     AND bullet_n::DOUBLE / n_lines <= 0.9, FALSE)
        AND COALESCE(n_lines > 0
                     AND ellline_n::DOUBLE / n_lines <= 0.3, FALSE)
        AND COALESCE(n_words > 0
                     AND alpha_n::DOUBLE / n_words >= 0.8, FALSE)
        AND COALESCE(sw_hits >= 2, FALSE) AS gopher_keep,
        COALESCE(text IS NOT NULL, FALSE)
        AND COALESCE(length(text) BETWEEN 1 AND 8000, FALSE)
        AND COALESCE(n_words >= 1, FALSE)
        AND COALESCE(rep_f <= 0.9, FALSE)
        AND COALESCE(sym_f <= 0.3, FALSE) AS flagship_keep
      FROM g
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE c4_keep) AS BIGINT) AS c4_pass,
           CAST(count(*) FILTER (WHERE c4_keep AND gopher_keep) AS BIGINT)
               AS gopher_pass,
           CAST(count(*) FILTER (WHERE c4_keep AND gopher_keep
                                 AND flagship_keep) AS BIGINT)
               AS flagship_pass
    FROM k GROUP BY source ORDER BY source
    """,
)
def web_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survival through the staged filter funnel
    C4 -> Gopher -> flagship rule bank — the acceptance dashboard a
    curation run reports per crawl source.

    All three banks are zero-shuffle projections over the SAME scan
    (Catalyst collapses them into one projection); the only exchange is
    the final tiny per-source aggregate, which combines map-side.  At
    100 TB this is one pass over the corpus ending in a |sources|-row
    result."""
    base = _read(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    staged = WF.gopher_flags(base).withColumnRenamed("keep", "gopher_keep")
    staged = WF.c4_decisions(staged).withColumnRenamed("keep", "c4_keep")
    staged = staged.withColumns(
        {
            "n_chars_f": F.length("text"),
            "rep_f": T.word_repetition_ratio("text"),
            "sym_f": T.symbol_ratio("text"),
        }
    )
    flagship = (
        F.coalesce(F.col("text").isNotNull(), F.lit(False))
        & F.coalesce(F.col("n_chars_f").between(1, 8000), F.lit(False))
        & F.coalesce(F.col("n_words") >= 1, F.lit(False))
        & F.coalesce(F.col("rep_f") <= 0.9, F.lit(False))
        & F.coalesce(F.col("sym_f") <= 0.3, F.lit(False))
    )
    staged = staged.withColumn("flagship_keep", flagship)
    return (
        staged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("c4_keep")).alias("c4_pass"),
            F.count_if(F.col("c4_keep") & F.col("gopher_keep")).alias(
                "gopher_pass"
            ),
            F.count_if(
                F.col("c4_keep")
                & F.col("gopher_keep")
                & F.col("flagship_keep")
            ).alias("flagship_pass"),
        )
        .orderBy("source")
    )


# ===========================================================================
# §2.7 set operations
# ===========================================================================


@_q(
    "set_ops_orphan_keys",
    """
    SELECT o_orderkey FROM orders
    EXCEPT
    SELECT l_orderkey AS o_orderkey FROM lineitem
    """,
)
def set_ops_orphan_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op: order keys with no lineitems.

    SQL EXCEPT is set difference — distinct + anti-join, NOT
    ``exceptAll().distinct()`` (multiset difference keeps a key that
    merely occurs more often on the left, which EXCEPT must remove)."""
    orders = _read(spark, sf_dir, "orders").select("o_orderkey")
    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return orders.distinct().join(li, "o_orderkey", "left_anti")


@_q(
    "set_ops_shared_keys_count",
    """
    SELECT CAST(count(*) AS BIGINT) AS shared FROM (
      SELECT o_custkey AS k FROM orders INTERSECT SELECT c_custkey FROM customer
    )
    """,
)
def set_ops_shared_keys_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: customers that actually placed orders."""
    a = _read(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    b = _read(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return a.intersect(b).agg(F.count(F.lit(1)).alias("shared"))


# ===========================================================================
# generation surface (rows-only: seeded Spark RAND has no DuckDB analog)
# ===========================================================================


def generate_seeded_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded expression-based generation (DataGeneratorFactory semantics):
    bounded numerics, oneOf, dates, null injection, dependent SQL field —
    deterministic for a fixed seed+partitioning (pinned in
    tests/test_generator.py)."""
    from .operators.generator import FieldSpec, generate

    fields = [
        FieldSpec("acct_id", "long", min=10**9, max=2 * 10**9, seed=42),
        FieldSpec("status", one_of=["open", "closed", "pending"], seed=43),
        FieldSpec("balance", "double", min=0, max=10000, seed=44, null_prob=0.05),
        FieldSpec("opened", "date", min="2015-01-01", max="2024-12-31", seed=45),
        FieldSpec("year", sql="YEAR(opened)"),
        FieldSpec("is_rich", sql="balance > 9000"),
        # typed surface: decimal(p,s), regex id, normal-dist numeric,
        # recursive struct (json-account-task.yaml nesting analog)
        FieldSpec("fee", "decimal", precision=8, scale=2, min=0, max=500, seed=46),
        FieldSpec("ref_code", regex="ACC100[0-9]{5}", seed=47),
        FieldSpec("score", "double", stddev=5.0, mean=100.0, seed=48),
        FieldSpec(
            "details",
            "struct",
            seed=49,
            fields=[
                FieldSpec("tier", one_of=["gold", "silver"]),
                FieldSpec("limits", "struct", fields=[
                    FieldSpec("daily", "int", min=100, max=999),
                ]),
            ],
        ),
    ]
    return generate(spark, fields, 1000, num_partitions=4)


def _seeded_table_golden_oracle() -> str:
    from .golden import seeded_table_golden_sql

    return seeded_table_golden_sql()


@_q("generate_seeded_table", _seeded_table_golden_oracle)
def generate_seeded_table_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing view of :func:`generate_seeded_table`: identical rows,
    with the nested struct serialized via ``to_json`` so the harness's
    pandas canonicalizer (which sorts on every output column) never sees
    an unhashable dict cell.  The typed struct schema itself is asserted
    in pytest and by ``generate_typed_invariants``.

    Oracle: ``golden.seeded_table_golden_sql`` — an independent replay of
    every seeded Spark RAND/RANDN stream via the pure-Python
    ``sparkrng.XORShiftRandom`` (the last rows-only query in the catalog
    becomes value-hash-checked).  Two harness-type normalizations (values
    unchanged): fee DECIMAL(8,2) -> double (DuckDB's pandas bridge turns
    decimals into float64) and the nullable boolean -> 'true'/'false'/
    'null' strings (None vs NaN object cells stringify differently)."""
    df = generate_seeded_table(spark, sf_dir)
    return df.select(
        "acct_id",
        "status",
        "balance",
        "opened",
        "year",
        F.coalesce(F.col("is_rich").cast("string"), F.lit("null")).alias(
            "is_rich"
        ),
        F.col("fee").cast("double").alias("fee"),
        "ref_code",
        "score",
        F.to_json("details").alias("details"),
    )


@_q(
    "generate_typed_invariants",
    """
    SELECT CAST(1000 AS BIGINT) AS total,
           CAST(1000 AS BIGINT) AS acct_ok,
           CAST(1000 AS BIGINT) AS balance_ok,
           CAST(1000 AS BIGINT) AS year_ok,
           CAST(1000 AS BIGINT) AS fee_ok,
           CAST(1000 AS BIGINT) AS ref_ok,
           CAST(1000 AS BIGINT) AS tier_ok,
           CAST(1000 AS BIGINT) AS daily_ok
    """,
)
def generate_typed_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic invariants over the full typed generation surface
    (bounds, regex shape, decimal range, nested-struct members, derived
    columns) — every generated row must satisfy its spec, which is
    checkable even though the seeded values themselves have no SQL
    analog."""
    df = generate_seeded_table(spark, sf_dir)
    return df.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("acct_id").between(10**9, 2 * 10**9)).alias("acct_ok"),
        F.count_if(
            F.col("balance").isNull() | F.col("balance").between(0, 10000)
        ).alias("balance_ok"),
        F.count_if(F.col("year") == F.year("opened")).alias("year_ok"),
        F.count_if(
            F.col("fee").between(F.lit(0), F.lit(500))
        ).alias("fee_ok"),
        F.count_if(F.col("ref_code").rlike("^ACC100[0-9]{5}$")).alias("ref_ok"),
        F.count_if(F.col("details.tier").isin("gold", "silver")).alias("tier_ok"),
        F.count_if(
            F.col("details.limits.daily").between(100, 999)
        ).alias("daily_ok"),
    )


@_q(
    "generation_processor_invariants",
    """
    SELECT CAST(800 AS BIGINT) AS total_orders,
           CAST(0 AS BIGINT) AS orphans,
           CAST(0 AS BIGINT) AS dup_customers,
           TRUE AS has_customers
    """,
)
def generation_processor_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end batch generation orchestration (BatchDataProcessor /
    RecordCountUtil reframing, plans/generation.py): multi-batch, unique
    enforcement across batches, per-column fan-out, FK toposort.  The
    oracle checks the orchestration INVARIANTS — exact fan-out total,
    zero FK orphans, zero duplicate unique keys."""
    from .operators.generator import FieldSpec
    from .plans.generation import GenerationProcessor, GenStep, GenTask

    tasks = [
        GenTask(
            "plan",
            [
                GenStep(
                    "customers",
                    fields=[
                        FieldSpec("cust_id", "long", min=1, max=10**7, seed=7),
                    ],
                    records=250,
                    unique_cols=["cust_id"],
                    num_partitions=4,
                ),
                GenStep(
                    "orders",
                    fields=[
                        FieldSpec("order_id", "long", min=1, max=10**9, seed=9),
                        FieldSpec("cust_id", "long", min=0, max=0),
                    ],
                    records=400,
                    per_column_records=2,
                    num_partitions=4,
                ),
            ],
        )
    ]
    tables, _results = GenerationProcessor(spark, records_per_batch=300).run(
        tasks, foreign_keys=[("customers", "cust_id", "orders", "cust_id")]
    )
    customers, orders = tables["customers"], tables["orders"]
    dups = (
        customers.groupBy("cust_id")
        .count()
        .where(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("dup_customers"))
    )
    return (
        orders.agg(F.count(F.lit(1)).alias("total_orders"))
        .crossJoin(
            orders.join(customers, "cust_id", "left_anti").agg(
                F.count(F.lit(1)).alias("orphans")
            )
        )
        .crossJoin(dups)
        .crossJoin(
            customers.agg(
                (F.count(F.lit(1)) > 0).alias("has_customers")
            )
        )
    )


@_q(
    "generate_regex_fields",
    """
    SELECT CAST(1000 AS BIGINT) AS total,
           CAST(1000 AS BIGINT) AS acct_ok,
           CAST(1000 AS BIGINT) AS code_ok,
           CAST(1000 AS BIGINT) AS iban_ok
    """,
)
def generate_regex_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-driven generation (RegexDataGenerator.scala:27-29 reframed as
    compiled Catalyst SQL, operators/regexgen.py).  The oracle checks the
    generator's INVARIANT — every generated value matches its pattern —
    which is deterministic even though the values are seeded-random."""
    from .operators.generator import FieldSpec, generate

    pats = {
        "acct": "ACC100[0-9]{5}",
        "code": "[A-Z]{2}-[0-9]{4}(A|B|C)?",
        "iban": "DE[0-9]{2} [0-9]{4} [0-9]{4}",
    }
    fields = [
        FieldSpec(name, regex=p, seed=50 + i)
        for i, (name, p) in enumerate(pats.items())
    ]
    df = generate(spark, fields, 1000, num_partitions=4)
    return df.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("acct").rlike(f"^{pats['acct']}$")).alias("acct_ok"),
        F.count_if(F.col("code").rlike(f"^{pats['code']}$")).alias("code_ok"),
        F.count_if(F.col("iban").rlike(f"^{pats['iban']}$")).alias("iban_ok"),
    )


@_q(
    "generate_expression_fields",
    """
    SELECT CAST(1000 AS BIGINT) AS total,
           CAST(1000 AS BIGINT) AS name_ok,
           CAST(1000 AS BIGINT) AS username_ok,
           CAST(1000 AS BIGINT) AS city_ok,
           CAST(1000 AS BIGINT) AS phone_ok,
           CAST(1000 AS BIGINT) AS tier_ok,
           true AS diverse
    """,
)
def generate_expression_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faker-expression generation (RandomDataGenerator.scala:63-66
    ``#{...}`` strings -> GENERATE_FAKER_EXPRESSION UDF) reframed as
    compiled Catalyst SQL over deterministic offline provider lists
    (operators/expressions.py).  The oracle checks the generator's
    INVARIANT: every value lies in its provider vocabulary / matches its
    directive pattern, with real cross-row diversity."""
    from .operators.expressions import CITIES, FIRST_NAMES, LAST_NAMES
    from .operators.generator import FieldSpec, generate

    fields = [
        FieldSpec("full_name", expression="#{Name.name}", seed=60),
        FieldSpec("username", expression="#{Name.username}", seed=61),
        FieldSpec("city", expression="#{Address.city}", seed=62),
        FieldSpec(
            "phone", expression="#{PhoneNumber.phoneNumber}", seed=63
        ),
        FieldSpec(
            "tier",
            expression="#{options.option 'gold','silver','bronze'}",
            seed=64,
        ),
    ]
    df = generate(spark, fields, 1000, num_partitions=4)
    first = F.split(F.col("full_name"), " ").getItem(0)
    last = F.split(F.col("full_name"), " ").getItem(1)
    return df.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(
            first.isin(*FIRST_NAMES) & last.isin(*LAST_NAMES)
        ).alias("name_ok"),
        F.count_if(
            F.col("username").rlike("^[a-z]+\\.[a-z]+$")
        ).alias("username_ok"),
        F.count_if(F.col("city").isin(*CITIES)).alias("city_ok"),
        F.count_if(
            F.col("phone").rlike("^\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}$")
        ).alias("phone_ok"),
        F.count_if(
            F.col("tier").isin("gold", "silver", "bronze")
        ).alias("tier_ok"),
        (F.count_distinct(F.col("full_name")) >= 10).alias("diverse"),
    )


@_q(
    "plan_run_end_to_end",
    """
    SELECT CAST(200 AS BIGINT) AS accounts,
           true AS txn_in_range,
           CAST(0 AS BIGINT) AS fk_orphans,
           CAST(0 AS BIGINT) AS sql_field_errors,
           CAST(3 AS BIGINT) AS validations_passed,
           true AS sink_roundtrip,
           'file_account,transactions' AS insert_order
    """,
)
def plan_run_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified PlanRun front door (PlanRun.scala:11-136 +
    PlanParser.scala:16-31): the ported reference fixtures
    (account-create-plan.yaml + json-account-task.yaml +
    account-checks.yaml — nested structs, array-of-struct, sql fields
    over nested columns, regex + faker expressions, perColumn generator
    counts, cross-step FK, json sinks, read-back validations) parse,
    generate, sink, and validate in one run.  The oracle checks the
    plan's INVARIANTS: exact account count, FK integrity, derived-sql
    correctness, validation verdicts, sink roundtrip, insert order."""
    import os as _os
    import tempfile

    from .plans import planrun as PR

    fixtures = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "tests",
        "fixtures",
    )

    def _load(rel: str, out: str) -> str:
        with open(_os.path.join(fixtures, rel)) as f:
            return f.read().replace("{out}", out)

    out = tempfile.mkdtemp(prefix="dcs_plan_")
    plan = PR.parse_plan(
        _load("plan/account-create-plan.yaml", out),
        [_load("task/json-account-task.yaml", out)],
        [_load("validation/account-checks.yaml", out)],
        connections={"json": PR.Connection("json", "json")},
    )
    res = PR.run_plan(spark, plan)
    accounts = res.tables["file_account"]
    txns = res.tables["transactions"]
    n_accounts = accounts.count()
    n_txn = txns.count()
    orphans = txns.join(
        accounts.select("account_id"), "account_id", "left_anti"
    ).count()
    sql_bad = accounts.where(
        "is_early_customer != (year = 2021) OR "
        "updated_time != details.updated_by.time OR "
        "first_txn_date != element_at(sort_array(transactions.txn_date), 1)"
    ).count()
    checks = res.validation_results["account_checks"]
    n_back = spark.read.json(f"{out}/txn-gen").count()
    return spark.createDataFrame(
        [
            (
                n_accounts,
                100 <= n_txn <= 300,
                orphans,
                sql_bad,
                sum(1 for c in checks if c.is_success),
                n_back == n_txn,
                ",".join(res.insert_order),
            )
        ],
        "accounts bigint, txn_in_range boolean, fk_orphans bigint, "
        "sql_field_errors bigint, validations_passed bigint, "
        "sink_roundtrip boolean, insert_order string",
    )


@_q(
    "generate_fk_consistent_tables",
    """
    SELECT CAST(600 AS BIGINT) AS total_orders,
           CAST(600 AS BIGINT) AS resolved,
           CAST(0 AS BIGINT) AS orphans,
           'customers,orders' AS insert_order
    """,
)
def generate_fk_consistent_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table generation with FK consistency: distributed-ordinal FK
    assignment (no global window — ForeignKeyUtil zipWithIndex semantics),
    toposorted insert order, per-column-count explode, unique enforcement.
    The oracle checks the FK INVARIANT — every order resolves, zero
    orphans — deterministic regardless of the seeded-random key values."""
    from .operators.generator import (
        FieldSpec,
        apply_foreign_keys,
        enforce_unique,
        generate,
        per_column_count,
    )

    customers = enforce_unique(
        generate(
            spark,
            [FieldSpec("cust_id", "long", min=1, max=10**6, seed=7)],
            200,
            num_partitions=2,
        ),
        ["cust_id"],
    )
    orders = generate(
        spark,
        [
            FieldSpec("order_id", "long", min=1, max=10**9, seed=8),
            FieldSpec("cust_id", "long", min=0, max=0),
            FieldSpec("amount", "double", min=1, max=500, seed=9),
        ],
        300,
        num_partitions=2,
    )
    orders = per_column_count(orders, 2)
    tables, order = apply_foreign_keys(
        {"customers": customers, "orders": orders},
        [("customers", "cust_id", "orders", "cust_id")],
    )
    orders = tables["orders"]
    resolved = orders.join(tables["customers"], "cust_id", "left_semi")
    orphans = orders.join(tables["customers"], "cust_id", "left_anti")
    return (
        orders.agg(F.count(F.lit(1)).alias("total_orders"))
        .crossJoin(resolved.agg(F.count(F.lit(1)).alias("resolved")))
        .crossJoin(orphans.agg(F.count(F.lit(1)).alias("orphans")))
        .withColumn("insert_order", F.lit(",".join(order)))
    )


# ===========================================================================
# near-duplicate clustering (connected components over verified pairs)
# ===========================================================================


@_q(
    "neardup_clusters",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
    posts AS (SELECT doc_id, len(s) AS sz, unnest(s) AS shingle FROM sh WHERE len(s) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) / CAST(any_value(a.sz) + any_value(b.sz) - count(*) AS DOUBLE) >= 0.6
    ),
    edges(a, b) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over exact-Jaccard near-dup pairs: the
    clustering step of large-scale dedup (hash-min label propagation;
    oracle = DuckDB recursive-CTE transitive closure)."""
    df = _fan_out(_read(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(df, k=3, threshold=0.6, max_block=1000)
    return D.connected_components(pairs)


@_q(
    "neardup_drop_count",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
    posts AS (SELECT doc_id, len(s) AS sz, unnest(s) AS shingle FROM sh WHERE len(s) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) / CAST(any_value(a.sz) + any_value(b.sz) - count(*) AS DOUBLE) >= 0.6
    ),
    edges(a, b) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
    SELECT CAST((SELECT count(*) FROM documents)
                - (SELECT count(*) FROM labels WHERE id != cluster)
           AS BIGINT) AS kept
    """,
)
def neardup_drop_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dedup: detect (capped Jaccard) -> cluster -> keep
    one representative per cluster.  Oracle = total minus non-representative
    cluster members from the recursive-CTE transitive closure."""
    df = _fan_out(_read(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(df, k=3, threshold=0.6, max_block=1000)
    kept = D.drop_near_duplicates(df, pairs)
    return kept.agg(F.count(F.lit(1)).alias("kept"))


@_q(
    "neardup_quality_reps",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
    posts AS (SELECT doc_id, len(s) AS sz, unnest(s) AS shingle FROM sh WHERE len(s) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM posts a JOIN posts b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) / CAST(any_value(a.sz) + any_value(b.sz) - count(*) AS DOUBLE) >= 0.6
    ),
    edges(a, b) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
    j AS (
      SELECT l.id, l.cluster, d.n_chars
      FROM labels l JOIN documents d ON d.doc_id = l.id
    ),
    r AS (
      SELECT cluster, id, n_chars,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY n_chars DESC, id ASC) AS rn,
             count(*) OVER (PARTITION BY cluster) AS members
      FROM j
    )
    SELECT CAST(cluster AS BIGINT) AS cluster, CAST(id AS BIGINT) AS rep_id,
           CAST(n_chars AS BIGINT) AS rep_quality,
           CAST(members AS BIGINT) AS members
    FROM r WHERE rn = 1
    """,
)
def neardup_quality_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection: per near-dup cluster keep
    the LONGEST member (RefinedWeb keep-best policy) instead of blind
    min-id — one slim join + one combinable struct-max per cluster, no
    window (operators/dedup.py cluster_representatives)."""
    docs = _fan_out(_read(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(docs, k=3, threshold=0.6, max_block=1000)
    labels = D.connected_components(pairs)
    return D.cluster_representatives(labels, docs)


@_q(
    "mix_plan_tokens",
    f"""
    WITH c AS (
      SELECT source, CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    w AS (SELECT count(*) AS total FROM c)
    SELECT source, tokens,
           CAST(30000 // w.total AS BIGINT) AS target_tokens,
           CAST(least(30000 // w.total, 2 * tokens) AS BIGINT)
             AS planned_tokens,
           round(CAST(least(30000 // w.total, 2 * tokens) AS DOUBLE)
                 / CAST(30000 // w.total AS DOUBLE), 6) AS fill_ratio
    FROM c, w
    """,
)
def mix_plan_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix recipe: per-source token allocation against a 30k
    budget with a 2-epoch repeat cap (Chinchilla/LLaMA practice) — one
    tiny combinable aggregate, integer arithmetic throughout
    (operators/sampling.py mix_plan)."""
    docs = _read(spark, sf_dir, "documents")
    return SAMP.mix_plan(docs, budget_tokens=30_000, max_epochs=2)


# --------------------------------------------------------------------------
# streaming (driver-visible): availableNow one-shot over the deterministic
# fixture, memory sink, hash-compared against the sequential labeler
# restricted to the stateless rule bank
# --------------------------------------------------------------------------

_STREAM_SEQ = iter(range(1, 1_000_000))


def _run_available_now(out: DataFrame, checkpoint: str, output_mode: str):
    """One-shot stream -> memory table; returns the batch DataFrame."""
    name = f"dcs_stream_{next(_STREAM_SEQ)}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming query did not finish in 300 s")
    return out.sparkSession.table(name)


def _stream_fixture(spark: SparkSession, n_convs: int = 120):
    """Write the deterministic transcripts fixture once, stream it back."""
    import tempfile

    from .fixtures import generate_transcripts_df

    base = tempfile.mkdtemp(prefix="dcs_stream_")
    inp = f"{base}/in"
    generate_transcripts_df(spark, n_convs=n_convs).write.mode(
        "overwrite"
    ).parquet(inp)
    schema = spark.read.parquet(inp).schema
    return spark.readStream.schema(schema).parquet(inp), base


def _streaming_golden_oracle() -> str:
    from .golden import streaming_golden_sql

    return streaming_golden_sql(n_convs=120)


def _streaming_window_golden_oracle() -> str:
    from .golden import streaming_window_golden_sql

    return streaming_window_golden_sql(n_convs=120)


@_q("streaming_quality_turns", _streaming_golden_oracle)
def streaming_quality_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming quality filter, driver-verified: the fixture
    streamed through a file source with an availableNow trigger, stateless
    keep/drop + scrub per turn (streaming/quality_stream.py — identical
    kernels to the batch plan, cross-turn flag rules excluded as they need
    ordering state).  Oracle = the sequential reference labeler restricted
    to the same stateless bank — stream/batch/sequential all agree."""
    from .streaming.quality_stream import streaming_quality_filter

    stream, base = _stream_fixture(spark, n_convs=120)
    out = streaming_quality_filter(stream).select(
        "conv_id",
        "turn_idx",
        "keep",
        F.array_join("rule_hits", "|").alias("rule_hits"),
        F.md5("scrubbed_text").alias("scrub_md5"),
    )
    return _run_available_now(out, f"{base}/cp", "append")


@_q("streaming_window_metrics", _streaming_window_golden_oracle)
def streaming_window_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window monitoring aggregates over the labeled
    stream (turns/kept/flagged per 5-minute event-time window) — the
    streaming analog of the lineage sidecar rows.  Oracle = windowed
    aggregation of the sequential labeler replay."""
    from .streaming.quality_stream import windowed_conversation_metrics

    stream, base = _stream_fixture(spark, n_convs=120)
    metrics = windowed_conversation_metrics(
        stream, window="5 minutes", watermark="10 minutes"
    ).select(
        F.unix_timestamp("window_start").alias("window_epoch"),
        "turns",
        "kept",
        "flagged",
    )
    return _run_available_now(metrics, f"{base}/cp", "complete")


def _streaming_dedup_golden_oracle() -> str:
    from .golden import streaming_dedup_golden_sql

    return streaming_dedup_golden_sql(n_convs=120)


@_q("streaming_exact_dedup", _streaming_dedup_golden_oracle)
def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: watermarked dropDuplicates on a replayable
    md5 text fingerprint — state bounded by the watermark horizon, so it
    survives an unbounded stream.  Output = the distinct fingerprint set
    (arrival-order-invariant); oracle = the sequential replay over the
    same fixture."""
    from .streaming.quality_stream import streaming_exact_dedup as dedup

    stream, base = _stream_fixture(spark, n_convs=120)
    out = dedup(stream)
    return _run_available_now(out, f"{base}/cp", "append").orderBy("fp")


def _streaming_neardup_oracle() -> str:
    from .golden import streaming_neardup_golden_sql

    return streaming_neardup_golden_sql(n_convs=120)


@_q("streaming_neardup_dedup", _streaming_neardup_oracle)
def streaming_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection over the transcript
    stream: shared signature kernel, (band, bucket)-keyed state holding
    ONE min-key string per occupied bucket, min-md5-wins (arrival-order-
    invariant).  The per-turn OR over bands runs batch-side on the sink
    table — one stateful operator per query.  Oracle = the sequential
    replay with buckets keyed on raw band-slice tuples."""
    from .streaming.quality_stream import streaming_neardup_dedup as neardup

    stream, base = _stream_fixture(spark, n_convs=120)
    out = neardup(stream)
    sink = _run_available_now(out, f"{base}/cp", "append")
    return (
        sink.groupBy("conv_id", "turn_idx")
        .agg(F.max("dup").alias("is_dup"))
        .orderBy("conv_id", "turn_idx")
    )


def _streaming_classifier_oracle() -> str:
    from .golden import streaming_classifier_golden_sql

    return streaming_classifier_golden_sql(n_convs=120)


@_q("streaming_classifier_scores", _streaming_classifier_oracle)
def streaming_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-offline / score-online: the quality classifier trained on
    the BATCH fixture (weak label role=='assistant'), then served on the
    STREAM of the same turns — broadcast weights, one Arrow crossing per
    micro-batch.  Streamed scores are bit-identical to the sequential
    replay (shared kernels + fixed-point training)."""
    from .functions import classifier as CLS
    from .streaming.quality_stream import streaming_classifier_scores as score

    stream, base = _stream_fixture(spark, n_convs=120)
    batch = spark.read.parquet(f"{base}/in").withColumn(
        "doc_id", F.lit(0).cast("long")
    )
    model = CLS.train(
        batch, F.col("role") == "assistant", n_features=512, iters=4, lr=0.5
    )
    out = score(stream, model)
    return _run_available_now(out, f"{base}/cp", "append").orderBy(
        "conv_id", "turn_idx"
    )


# --------------------------------------------------------------------------
# training-set curation: deterministic sampling + decontamination
# --------------------------------------------------------------------------


def _split_sql() -> str:
    from .operators.sampling import fraction_threshold

    thr = fraction_threshold(0.2)
    return f"""
        WITH s AS (
            SELECT o_custkey,
                   CASE WHEN substr(md5(concat_ws(chr(31), '42',
                            CAST(o_custkey AS VARCHAR))), 1, 8) < '{thr}'
                        THEN 'test' ELSE 'train' END AS split
            FROM orders
        )
        SELECT split, COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_custkeys
        FROM s GROUP BY split
    """


@_q("sampling_split_integrity", _split_sql)
def sampling_split_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split keyed by customer: the split is a
    pure function of md5(seed || o_custkey), so all of a customer's orders
    land in one split on any cluster size — the leakage-safety invariant a
    training pipeline needs (operators/sampling.py).  Pure projection +
    filter: no shuffle beyond the reporting aggregate, and the identical
    expression runs as the DuckDB oracle (no golden replay needed)."""
    orders = _read(spark, sf_dir, "orders")
    s = SAMP.with_split(orders, ["o_custkey"], test_fraction=0.2, seed=42)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_distinct("o_custkey").alias("n_custkeys"),
    )


def _temperature_mix_sql() -> str:
    """Lazy oracle: DuckDB computes the same stratum counts, the shared
    Python helpers derive the same fractions/thresholds, and the filter
    expression is identical SQL — no golden replay, fully exact."""
    import duckdb

    from .golden import _oracle_sf_dir
    from .operators.sampling import fraction_threshold, temperature_fractions

    sf = _oracle_sf_dir()
    counts = dict(
        duckdb.sql(
            f"SELECT lang, count(*) FROM read_parquet('{sf}/documents.parquet') "
            "WHERE lang IS NOT NULL GROUP BY lang"
        ).fetchall()
    )
    fracs = temperature_fractions(counts, alpha=0.7)
    case = " ".join(
        f"WHEN '{k}' THEN '{fraction_threshold(v)}'"
        for k, v in sorted(fracs.items())
    )
    return f"""
        SELECT lang, COUNT(*) AS n_docs
        FROM documents
        WHERE substr(md5(concat_ws(chr(31), '42',
                  CAST(doc_id AS VARCHAR))), 1, 8) <
              CASE lang {case} ELSE '00000000' END
        GROUP BY lang
    """


@_q("temperature_mix_counts", _temperature_mix_sql)
def temperature_mix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based training-mix sampling (the multilingual-LM
    n^alpha smoothing recipe, downsample-only): one count aggregate sizes
    the language strata, then one md5-threshold scan keeps each language
    at its n^(alpha-1)-scaled fraction — flattening the en-heavy skew
    deterministically (retry/cluster-size invariant, no RNG).  Oracle:
    DuckDB recomputes counts, the SHARED fraction/threshold helpers
    render the identical filter expression."""
    docs = _read(spark, sf_dir, "documents")
    sampled, _fracs = SAMP.temperature_mix(
        docs, "lang", ["doc_id"], alpha=0.7, seed=42
    )
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


def _dsir_weights_oracle() -> str:
    from .golden import dsir_golden_sql

    return dsir_golden_sql(n_buckets=8192, k=None)


@_q("dsir_log_weights", _dsir_weights_oracle)
def dsir_log_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023): every raw document
    scored by the log-likelihood ratio of two hashed uni+bigram models —
    target = en documents, raw = the whole corpus.  Distributed shape:
    the two models are ONE combinable bucket-count shuffle each (bounded
    by n_buckets, never the corpus), scoring is explode -> broadcast
    ratio join -> int64 fixed-point sum (order-independent, hence exact).
    Oracle: sequential shared-kernel replay."""
    from .operators import selection as SEL

    docs = _fan_out(_read(spark, sf_dir, "documents"))
    t_counts, r_counts = SEL.bucket_counts_with_target(
        docs, F.col("lang") == "en", n_buckets=8192
    )
    ratios = SEL.fixed_log_ratios(t_counts, r_counts, 8192)
    return SEL.dsir_log_weights(docs, ratios, n_buckets=8192)


def _dsir_select_oracle() -> str:
    from .golden import dsir_golden_sql

    return dsir_golden_sql(n_buckets=8192, k=50)


@_q("dsir_selected_docs", _dsir_select_oracle)
def dsir_selected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: deterministic top-50 raw documents by importance
    weight (weight desc, doc_id asc) — TakeOrderedAndProject, no global
    sort.  The quality-targeted axis of training-mix construction beside
    the temperature mix's language axis."""
    from .operators import selection as SEL

    docs = _fan_out(_read(spark, sf_dir, "documents"))
    return SEL.dsir_select(
        docs, None, k=50, n_buckets=8192,
        target_filter=F.col("lang") == "en",
    )


#: DuckDB twin of the shared tokenization (functions.bpe.words_column —
#: lower, trim, ASCII \s+ split, empties dropped) + uni/bigram expansion
_NGRAMS_CTE = r"""
words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     w -> w <> '') AS w
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT unnest(w) AS gram FROM words
  UNION ALL
  SELECT w[i] || ' ' || w[i + 1] AS gram
  FROM words, LATERAL (
    SELECT unnest(generate_series(1, len(w) - 1)) AS i
  ) s
  WHERE len(w) >= 2
)
"""


@_q(
    "top_ngram_heavy_hitters",
    f"""
    WITH {_NGRAMS_CTE}
    SELECT gram, CAST(count(*) AS BIGINT) AS occurrences
    FROM grams GROUP BY gram
    ORDER BY occurrences DESC, gram ASC LIMIT 40
    """,
)
def top_ngram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-40 uni+bigrams — boilerplate discovery
    and the hot-key feed for the dedup skew guards.  One combinable
    wordcount shuffle + TakeOrderedAndProject (no global sort)."""
    from .operators import corpus as C

    return C.top_ngrams(_fan_out(_read(spark, sf_dir, "documents")), k=40)


@_q(
    "ngram_doc_frequency",
    f"""
    WITH {_NGRAMS_CTE},
    df AS (
      SELECT gram, CAST(count(*) AS BIGINT) AS doc_frequency
      FROM (SELECT DISTINCT doc_id, gram
            FROM (SELECT unnest(w) AS gram, doc_id FROM words
                  UNION ALL
                  SELECT w[i] || ' ' || w[i + 1] AS gram, doc_id
                  FROM words, LATERAL (
                    SELECT unnest(generate_series(1, len(w) - 1)) AS i
                  ) s
                  WHERE len(w) >= 2))
      GROUP BY gram
    )
    SELECT gram, doc_frequency FROM df
    WHERE doc_frequency >= 50
    ORDER BY doc_frequency DESC, gram ASC
    """,
)
def ngram_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency per n-gram (boilerplate = high-DF grams):
    within-doc dedup BEFORE the explode keeps the shuffle at one row per
    (doc, gram) — a plain combinable count, no count-distinct two-phase
    aggregate."""
    from .operators import corpus as C

    return (
        C.ngram_doc_frequencies(
            _fan_out(_read(spark, sf_dir, "documents")), min_df=50
        )
        .orderBy(F.desc("doc_frequency"), F.asc("gram"))
    )


@_q(
    "k_anonymity_violations",
    """
    SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS group_size
    FROM customer GROUP BY c_nationkey, c_mktsegment
    HAVING count(*) < 9
    ORDER BY group_size ASC, c_nationkey ASC, c_mktsegment ASC
    """,
)
def k_anonymity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate: quasi-identifier combinations
    (nation, segment) covering < 9 rows — the re-identifiable groups.
    One combinable groupBy; result bounded by group count."""
    from .operators import privacy as P

    return P.k_anonymity_violations(
        _read(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"], 9
    ).orderBy(F.asc("group_size"), F.asc("c_nationkey"), F.asc("c_mktsegment"))


@_q(
    "privacy_anonymity_summary",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(n) AS BIGINT) AS k_anonymity,
           CAST(min(l) AS BIGINT) AS l_diversity
    FROM (
      SELECT count(*) AS n,
             count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    """,
)
def privacy_anonymity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table's actual k (min quasi-group size) and l (min distinct
    sensitive values per group, sensitive = account-balance band) — the
    one-row release-gate headline."""
    from .operators import privacy as P

    df = _read(spark, sf_dir, "customer").withColumn(
        "acct_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    return P.anonymity_summary(
        df, ["c_nationkey", "c_mktsegment"], "acct_band"
    )


#: deterministic URL synthesis from doc_id (same SQL text runs in Spark
#: and DuckDB) with planted violations of every URL rule
_URL_SYNTH_SQL = """
concat(
  'https://',
  CASE WHEN doc_id % 23 = 0 THEN concat('93.184.216.', CAST(doc_id % 200 AS STRING))
       WHEN doc_id % 11 = 0 THEN 'www.badsite.example'
       WHEN doc_id % 7 = 0 THEN concat('files.example.', CASE WHEN doc_id % 2 = 0 THEN 'click' ELSE 'org' END)
       ELSE concat('site', CAST(doc_id % 50 AS STRING), '.example.org') END,
  '/', substr(md5(CAST(doc_id AS STRING)), 1, 8),
  CASE WHEN doc_id % 13 = 0 THEN '.jpg' WHEN doc_id % 19 = 0 THEN '-casino' ELSE '' END,
  CASE WHEN doc_id % 17 = 0 THEN '?a=1&b=2&c=3&d=4&e=5&f=6&g=7' ELSE '' END
)
"""


@_q(
    "url_filter_decisions",
    f"""
    WITH u AS (SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents),
    f AS (
      SELECT doc_id, url,
        regexp_replace(regexp_replace(
            regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
            ':[0-9]+$', ''), '^www\\.', '') AS dom,
        regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path
      FROM u
    ),
    g AS (
      SELECT doc_id, url,
        dom IN ('badsite.example', 'spamhub.example') AS blocked_domain,
        regexp_matches(regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                       '^[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}(:[0-9]+)?$') AS ip_host,
        regexp_extract(dom, '\\.([a-z0-9-]+)$', 1) IN ('xxx','click','loan','top') AS bad_tld,
        regexp_extract(path, '\\.([a-z0-9]+)$', 1)
          IN ('jpg','jpeg','png','gif','mp3','mp4','avi','zip','exe','pdf') AS bad_extension,
        (CASE WHEN position('?' IN lower(url)) > 0
              THEN len(string_split(split_part(lower(url), '?', 2), '&'))
              ELSE 0 END) > 6 AS excess_params,
        (position('casino' IN lower(url)) > 0 OR position('viagra' IN lower(url)) > 0
         OR position('porn' IN lower(url)) > 0 OR position('xvideos' IN lower(url)) > 0)
          AS blocked_word
      FROM f
    )
    SELECT doc_id, url,
      NOT (url IS NULL OR COALESCE(blocked_domain, FALSE)
           OR COALESCE(ip_host, FALSE) OR COALESCE(bad_tld, FALSE)
           OR COALESCE(bad_extension, FALSE)
           OR COALESCE(excess_params, FALSE)
           OR COALESCE(blocked_word, FALSE)) AS url_keep,
      concat_ws('|',
        CASE WHEN url IS NULL THEN 'null_url' END,
        CASE WHEN COALESCE(blocked_domain, FALSE) THEN 'blocked_domain' END,
        CASE WHEN COALESCE(ip_host, FALSE) THEN 'ip_host' END,
        CASE WHEN COALESCE(bad_tld, FALSE) THEN 'bad_tld' END,
        CASE WHEN COALESCE(bad_extension, FALSE) THEN 'bad_extension' END,
        CASE WHEN COALESCE(excess_params, FALSE) THEN 'excess_params' END,
        CASE WHEN COALESCE(blocked_word, FALSE) THEN 'blocked_word' END)
        AS url_drop_reasons
    FROM g ORDER BY doc_id
    """,
)
def url_filter_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain crawl-hygiene filter (C4/RefinedWeb stage zero): every
    rule a pure-Catalyst regexp/locate projection; the domain blocklist
    is a broadcast left join on the registered domain (never an isin
    literal — real blocklists are ~10^5 domains).  URLs are synthesized
    deterministically from doc_id with planted violations of each rule."""
    from .operators import urlfilter as U

    docs = _fan_out(_read(spark, sf_dir, "documents")).selectExpr(
        "doc_id", f"{_URL_SYNTH_SQL} AS url"
    )
    blocklist = spark.createDataFrame(
        [("badsite.example",), ("spamhub.example",)], "domain string"
    )
    return U.filter_urls(docs, "url", domain_blocklist=blocklist).orderBy(
        "doc_id"
    )


def _classifier_oracle() -> str:
    from .golden import quality_classifier_golden_sql

    return quality_classifier_golden_sql()


@_q("quality_classifier_scores", _classifier_oracle)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quality-classifier TRAINING + inference (the
    GPT-3/CCNet-style linear gate over hashed n-grams): 6 batch-GD
    iterations, each ONE shuffle-free mapInPandas pass emitting a dense
    int64 partial gradient per partition; weak label = lang=='en'.
    Fixed-point gradient sums make the weight trajectory identical to
    the sequential golden replay on any cluster size."""
    from .functions import classifier as CLS

    docs = _fan_out(_read(spark, sf_dir, "documents"))
    # featurize ONCE; the 6 GD passes and the scoring pass reuse the
    # cached Arrow features instead of re-running the n-gram text pass
    feat = CLS.featurize(docs, F.col("lang") == "en", 1024).persist()
    model = CLS.train(
        docs, F.col("lang") == "en", n_features=1024, iters=6, lr=0.5,
        features=feat,
    )
    out = CLS.infer_from_features(feat, model).orderBy("doc_id")
    # slim (doc_id, score, keep) rows: materialize, release the cache
    out = out.localCheckpoint(eager=True)
    feat.unpersist()
    return out


@_q(
    "sliding_window_chunks",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS w
      FROM documents WHERE text IS NOT NULL
    ),
    d AS (
      SELECT doc_id, w, len(w) AS n,
             CASE WHEN len(w) <= 32 THEN 1
                  ELSE ((len(w) - 32 + 16 - 1) // 16) + 1 END AS k
      FROM w WHERE len(w) > 0
    ),
    c AS (
      SELECT doc_id, i AS chunk_idx,
             list_slice(w, i * 16 + 1,
                        least(i * 16 + 32, n)) AS chunk
      FROM d, LATERAL (SELECT unnest(generate_series(0, k - 1)) AS i) s
    )
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(len(chunk) AS INTEGER) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM c ORDER BY doc_id, chunk_idx
    """,
)
def sliding_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 32, stride 16) — the
    long-context preprocessing step; shuffle-free explode in the scan
    stage.  Chunk text md5'd for the hash compare (driver convention)."""
    from .operators import windows as W

    return (
        W.sliding_chunks(
            _fan_out(_read(spark, sf_dir, "documents")), window=32, stride=16
        )
        .select(
            "doc_id",
            "chunk_idx",
            "n_tokens",
            F.md5(F.col("chunk_text")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@_q(
    "l_diversity_violations",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS distinct_sensitive
    FROM (
      SELECT DISTINCT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
      FROM customer
      -- NULL sensitive values are absent attributes, not diversity:
      -- the operator filters them pre-dedup, so the oracle must too
      -- (count(DISTINCT) semantics shared by both surfaces)
      WHERE c_acctbal IS NOT NULL
    )
    GROUP BY c_nationkey, c_mktsegment
    HAVING count(*) < 6
    ORDER BY distinct_sensitive ASC, c_nationkey ASC, c_mktsegment ASC
    """,
)
def l_diversity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release gate: quasi-identifier combinations whose rows
    span < 6 distinct sensitive values (account-balance band) — the
    attribute-disclosure groups.  Pre-dedup on (quasi, sensitive), then
    one combinable count (no count-distinct expansion)."""
    from .operators import privacy as P

    df = _read(spark, sf_dir, "customer").withColumn(
        "band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    return P.l_diversity_violations(
        df, ["c_nationkey", "c_mktsegment"], "band", 6
    ).orderBy(
        F.asc("distinct_sensitive"), F.asc("c_nationkey"), F.asc("c_mktsegment")
    )


def _curation_oracle() -> str:
    from .golden import curation_funnel_golden_sql

    return curation_funnel_golden_sql()


@_q("curation_funnel_end_to_end", _curation_oracle)
def curation_funnel_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL training-data funnel in one DAG (plans/curation.py):
    URL hygiene -> classifier quality gate (trained in-pipeline) ->
    exact dedup -> DSIR weighting -> per-source funnel metrics.  Every
    cross-row number is an int64 count or fixed-point sum, so the whole
    composition is exact under any partitioning; oracle = the sequential
    replay chaining the same shared kernels."""
    from .plans.curation import curation_funnel

    docs = _fan_out(_read(spark, sf_dir, "documents")).selectExpr(
        "doc_id", "text", "lang", "source", f"{_URL_SYNTH_SQL} AS url"
    )
    blocklist = spark.createDataFrame(
        [("badsite.example",), ("spamhub.example",)], "domain string"
    )
    return curation_funnel(docs, domain_blocklist=blocklist).orderBy(
        "source"
    )


def _stratified_sql() -> str:
    from .operators.sampling import fraction_threshold

    a, n, r = (
        fraction_threshold(0.2),
        fraction_threshold(0.05),
        fraction_threshold(0.1),
    )
    return f"""
        SELECT l_returnflag, COUNT(*) AS n_rows,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem
        WHERE substr(md5(concat_ws(chr(31), '42',
                  CAST(l_orderkey AS VARCHAR),
                  CAST(l_linenumber AS VARCHAR))), 1, 8) <
              CASE l_returnflag WHEN 'A' THEN '{a}'
                                WHEN 'N' THEN '{n}'
                                WHEN 'R' THEN '{r}'
                                ELSE '00000000' END
        GROUP BY l_returnflag
    """


@_q("stratified_sample_counts", _stratified_sql)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling — the training-mix curator
    ("keep 20% of A, 5% of N, 10% of R").  One scan, no RNG, reproducible
    under retries and repartitioning; the stratum only selects the hash
    threshold.  Oracle = the same md5-threshold expression in plain SQL."""
    li = _read(spark, sf_dir, "lineitem")
    s = SAMP.stratified_hash_sample(
        li,
        "l_returnflag",
        {"A": 0.2, "N": 0.05, "R": 0.1},
        ["l_orderkey", "l_linenumber"],
        seed=42,
    )
    return s.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _decontamination_golden_oracle() -> str:
    from .golden import decontamination_golden_sql

    return decontamination_golden_sql()


@_q("decontamination_overlap", _decontamination_golden_oracle)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing >= 3 distinct
    word-3-shingles with the eval slice (doc_id % 25 == 0).  The eval
    side's shingle hashes broadcast, so the 100 TB corpus is one scan +
    broadcast semi-join — no corpus shuffle (operators/dedup.py
    contamination_overlap).  Oracle = sequential Python-set replay."""
    docs = _read(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 25 == 0)
    corpus = docs.where(F.col("doc_id") % 25 != 0)
    return D.contamination_overlap(corpus, ev, min_overlap=3)


# --------------------------------------------------------------------------
# sink roundtrip (driver-visible write-path verification)
# --------------------------------------------------------------------------


_WRITE_SQL = """
    SELECT 'csv' AS fmt, COUNT(*) AS n_rows,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem WHERE l_returnflag = 'A'
    UNION ALL
    SELECT 'json', COUNT(*), ROUND(SUM(l_extendedprice), 2)
    FROM lineitem WHERE l_returnflag = 'A'
    UNION ALL
    SELECT 'orc', COUNT(*), ROUND(SUM(l_extendedprice), 2)
    FROM lineitem WHERE l_returnflag = 'A'
    UNION ALL
    SELECT 'parquet', COUNT(*), ROUND(SUM(l_extendedprice), 2)
    FROM lineitem WHERE l_returnflag = 'A'
    UNION ALL
    SELECT 'xml', COUNT(*), ROUND(SUM(l_extendedprice), 2)
    FROM lineitem WHERE l_returnflag = 'A'
"""


@_q("write_roundtrip_counts", _WRITE_SQL)
def write_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch write-path verification: one projection of lineitem written
    through write_sink per format (overwrite mode, save-mode surface of
    SinkFactory.scala:24-44; parquet additionally partitionBy + explicit
    repartition, SinkFactory.scala:81-87), read back through read_source,
    and re-aggregated.  The oracle aggregates the ORIGINAL table — the
    roundtrip must be lossless for every format.  CSV/JSON read back with
    an explicit schema (text formats do not carry types)."""
    import tempfile

    from .sources.io import read_source, write_sink

    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "A"
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    schema = (
        "l_orderkey bigint, l_linenumber int, l_returnflag string, "
        "l_extendedprice double"
    )
    base = tempfile.mkdtemp(prefix="dcs_sink_")
    outs = []
    for fmt in ("csv", "json", "orc", "parquet", "xml"):
        path = f"{base}/{fmt}"
        kwargs: dict = {"mode": "overwrite"}
        read_opts: dict = {}
        if fmt == "csv":
            kwargs["options"] = {"header": "true"}
            read_opts = {"header": "true"}
        if fmt == "xml":  # Spark 4 native XML source
            kwargs["options"] = {"rowTag": "row"}
            read_opts = {"rowTag": "row"}
        if fmt == "parquet":
            kwargs["partition_by"] = ["l_returnflag"]
            kwargs["num_partitions"] = 4
        write_sink(li, fmt, path=path, **kwargs)
        back = read_source(
            spark,
            fmt,
            path=path,
            options=read_opts or None,
            schema=None if fmt in ("orc", "parquet") else schema,
        )
        outs.append(
            back.agg(
                F.lit(fmt).alias("fmt"),
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


@_q(
    "jdbc_roundtrip_counts",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    WHERE l_linenumber = 1
    GROUP BY l_returnflag
    """,
)
def jdbc_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC connector verification over embedded Derby (the jar pyspark
    bundles): a lineitem slice written through ``write_jdbc`` (overwrite
    save-mode, bounded connection count, batched inserts —
    SinkFactory.scala:20-44,82-83) then read back through ``read_jdbc``
    as a range-partitioned parallel scan and re-aggregated.  The oracle
    aggregates the ORIGINAL table — the database roundtrip must be
    lossless.  Integer-only aggregates: JDBC roundtrips must not be
    graded on float re-summation order."""
    import tempfile

    from .sources.jdbc import derby_connection, read_jdbc, write_jdbc

    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_linenumber") == 1
    ).select(
        "l_orderkey",
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("l_quantity"),
    )
    bounds = li.agg(
        F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi")
    ).first()
    db = tempfile.mkdtemp(prefix="dcs_derby_") + "/db"
    write_jdbc(
        li,
        derby_connection(db),
        "LINEITEM_RT",
        mode="overwrite",
        batchsize=5_000,
        num_partitions=2,
    )
    back = read_jdbc(
        spark,
        derby_connection(db, create=False),
        table="LINEITEM_RT",
        partition_column="l_orderkey",
        lower_bound=int(bounds["lo"]),
        upper_bound=int(bounds["hi"]) + 1,
        num_partitions=4,
        fetchsize=5_000,
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.count_distinct(F.col("l_orderkey")).alias("n_orders"),
    )


@_q(
    "kafka_frame_payloads",
    """
    SELECT CAST(l_orderkey AS VARCHAR) AS key,
           '{"l_orderkey":' || l_orderkey || ',"l_returnflag":"'
               || l_returnflag || '"}' AS value,
           'lineitem' AS topic,
           CAST(l_orderkey % 8 AS INTEGER) AS "partition",
           'status=' || l_linestatus AS headers_str
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def kafka_frame_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka real-time sink payload construction (the reference's
    value/partition/headers column conventions, app model/Constants.
    scala:19-28; header DDL api Constants.scala:223-224).  The oracle
    re-builds the exact JSON body and header rendering in DuckDB — the
    frame the kafka jar would publish is byte-checked without a broker.
    Headers stringify for the hash (binary/array cells are unhashable in
    the driver's comparator)."""
    from .sources.realtime import to_kafka_frame

    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_linenumber") == 1
    ).withColumn("part_id", (F.col("l_orderkey") % 8).cast("int"))
    frame = to_kafka_frame(
        li,
        topic="lineitem",
        key_col="l_orderkey",
        value_cols=["l_orderkey", "l_returnflag"],
        header_cols=["l_linestatus"],
        partition_col="part_id",
    )
    return frame.select(
        "key",
        "value",
        "topic",
        "partition",
        F.array_join(
            F.transform(
                "headers",
                lambda h: F.concat(
                    F.lit("status="), h["value"].cast("string")
                ),
            ),
            "|",
        ).alias("headers_str"),
    )


@_q(
    "http_frame_requests",
    """
    SELECT 'https://api.example.com/orders/' || l_orderkey
               || '/items?flag=' || l_returnflag AS url,
           'GET' AS method,
           'application/json' AS content_type,
           '{"l_quantity":' || CAST(l_quantity AS BIGINT) || '}' AS value,
           'X-Run=bench' AS headers_str
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def http_frame_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP real-time request construction from the reference's prefixed
    column conventions (pathParam<name> / queryParam<name> substitution,
    HTTP_*_COL_PREFIX constants): one request row per input row, URL and
    JSON body byte-checked by the DuckDB oracle without any server."""
    from .sources.realtime import to_http_frame

    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_linenumber") == 1
    ).select(
        F.col("l_orderkey").alias("pathParamid"),
        F.col("l_returnflag").alias("queryParamflag"),
        F.col("l_quantity").cast("bigint").alias("l_quantity"),
    )
    frame = to_http_frame(
        li,
        url_template="https://api.example.com/orders/{id}/items",
        method="get",
        static_headers={"X-Run": "bench"},
    )
    return frame.select(
        "url",
        "method",
        "content_type",
        "value",
        F.array_join(
            F.transform(
                F.map_entries("headers"),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            ),
            "|",
        ).alias("headers_str"),
    )


def _conversation_rollup_golden_oracle() -> str:
    from .golden import conversation_rollup_golden_sql

    return conversation_rollup_golden_sql(n_convs=200)


@_q("conversation_keep_rollup", _conversation_rollup_golden_oracle)
def conversation_keep_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level curation on top of the flagship pipeline: a
    conversation survives only if >= 50% of its turns pass the per-turn
    filter (the document-level analog of per-turn keep/drop — real
    pipelines drop the whole transcript when most turns are junk).  One
    extra partial aggregation on the already-shuffled conv_id key — no
    new exchange.  Oracle = the same rollup over the reference labeler's
    per-turn golden labels."""
    from .fixtures import generate_transcripts_df
    from .plans.pipeline import QualityFilterPipeline

    df = generate_transcripts_df(spark, n_convs=200, num_partitions=8)
    out = QualityFilterPipeline().run(df)
    return (
        out.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count_if(F.col("keep")).alias("n_kept"),
        )
        .withColumn(
            "conv_keep", F.col("n_kept") >= 0.5 * F.col("n_turns")
        )
    )


_BUDGET_SQL = f"""
    WITH toks AS (
        SELECT doc_id, doc_id % 50 AS shard,
               CAST(len({_TOKS_SQL}) AS INT) AS n_ws
        FROM documents WHERE text IS NOT NULL
    ), cum AS (
        SELECT doc_id, shard, n_ws,
               SUM(n_ws) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_cost
        FROM toks
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_ws,
           CAST(cum_cost AS BIGINT) AS cum_cost
    FROM cum WHERE cum_cost <= 512
"""


@_q("budget_prefix_packing", _BUDGET_SQL)
def budget_prefix_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation for training prep: within each shard
    (ordered stream of documents), keep the longest prefix whose
    cumulative whitespace-token count fits a 512-token budget
    (operators/windows.py budget_prefix — one streaming-frame running-sum
    window + filter, the same shuffle shape as the pipeline's ordering
    window).  Oracle = the identical running-sum window in plain SQL."""
    from .operators.windows import budget_prefix

    docs = _read(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    df = docs.select(
        "doc_id",
        (F.col("doc_id") % 50).alias("shard"),
        T.token_count("text").alias("n_ws"),
    )
    return budget_prefix(
        df, "shard", "doc_id", "n_ws", budget=512
    )


@_q(
    "pretrain_packing_bins",
    """
    WITH s AS (
      SELECT doc_id, n_chars,
             md5(concat_ws(chr(31), '42', CAST(doc_id AS VARCHAR))) AS h
      FROM documents WHERE n_chars IS NOT NULL
    ),
    c AS (
      SELECT doc_id, n_chars,
             CAST(sum(n_chars) OVER (
                 ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) - n_chars AS cumb
      FROM s
    )
    SELECT doc_id, n_chars,
           CAST(cumb // 4096 AS BIGINT) AS bin,
           CAST(cumb % 4096 AS BIGINT) AS bin_offset
    FROM c
    """,
)
def pretrain_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing: every document gets its
    context-window bin and byte offset from a deterministic hash-ordered
    stream (operators/windows.py concat_pack — distributed per-partition-
    offset running sum, NO single-partition global window; cluster-size
    invariant by construction).  Oracle = the equivalent GLOBAL window in
    DuckDB, which a single process can afford — the distributed two-stage
    sum must reproduce it exactly."""
    from .operators.windows import concat_pack

    docs = _read(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull()
    ).select("doc_id", "n_chars")
    return concat_pack(docs, budget=4096, size_col="n_chars", seed=42)


_QUANT_SQL = """
    WITH t AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) / 127.0 AS s
        FROM embeddings
    ), tq AS (
        SELECT vec_id,
               CASE WHEN s > 0
                    THEN list_transform(v, x -> floor(x / s + 0.5))
                    ELSE list_transform(v, x -> 0.0) END AS q
        FROM t
    ), qrow AS (SELECT q FROM tq WHERE vec_id = 0)
    SELECT tq.vec_id,
           round(list_dot_product(tq.q, qrow.q)
                 / (sqrt(list_dot_product(tq.q, tq.q))
                    * sqrt(list_dot_product(qrow.q, qrow.q))), 6) AS cos_sim
    FROM tq, qrow
    WHERE list_dot_product(tq.q, tq.q) > 0
      AND list_dot_product(qrow.q, qrow.q) > 0
    ORDER BY cos_sim DESC, tq.vec_id ASC LIMIT 10
"""


@_q("quantized_embedding_topk", _QUANT_SQL)
def quantized_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized brute-force top-k: symmetric per-vector quantization
    in pure Catalyst (half-up rounding spelled as floor(x/s + 0.5) so
    Spark and SQL agree bit-for-bit), cosine over the quantized values
    (the scale cancels; |q| <= 127 keeps every dot exact in double).  The
    8x vector-width reduction is the storage/shuffle answer for ANN at
    100 TB; same scan -> TakeOrderedAndProject plan as embedding_topk."""
    df = _read(spark, sf_dir, "embeddings")
    q = [float(x) for x in df.where(F.col("vec_id") == 0).first()["embedding"]]
    return SIM.quantized_cosine_topk(df, q, k=10)


def _pq_oracle() -> str:
    from .golden import pq_adc_golden_sql

    return pq_adc_golden_sql()


@_q("pq_adc_topk_embeddings", _pq_oracle)
def pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou 2011 / FAISS IVF-PQ recipe): train
    M=16 per-subspace codebooks on a seeded driver-side sample, encode
    every vector to 16 small codes (dim*4 bytes -> M bytes — at 10^9
    vectors THE storage/shuffle compression), score with a broadcast
    M x K asymmetric-distance LUT (M lookups per row, no vector math),
    exact-cosine re-rank of the top-50 ADC candidates.  Shared numpy
    kernels make the distributed run and the sequential golden replay
    quantize bit-identically."""
    df = _read(spark, sf_dir, "embeddings")
    q = [float(x) for x in df.where(F.col("vec_id") == 0).first()["embedding"]]
    books = SIM.pq_fit_codebooks(
        SIM.pq_training_sample(df, dim=64, n_rows=df.count()),
        m_subspaces=16,
        k_codes=32,
    )
    return SIM.pq_adc_topk(df, books, q, k=10, rerank=50)


_SESSIONIZE_SQL = """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id,
               SUM(s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
"""


@_q("events_sessionize", _SESSIONIZE_SQL)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (new session after a
    30-minute silence): lag flags starts, a running sum numbers them —
    both windows share ONE sort/exchange (operators/windows.py
    sessionize).  Oracle = the identical pair of SQL windows."""
    from .operators.windows import sessionize

    ev = _read(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_s=1800)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


_JSON_INGEST_SQL = """
    WITH raw AS (
        SELECT event_type,
               CASE WHEN event_id % 10 = 0
                    THEN substr(props, 1, length(props) - 1)
                    ELSE props END AS p
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN json_valid(p) THEN 0 ELSE 1 END) AS BIGINT)
               AS n_corrupt,
           CAST(SUM(CASE WHEN json_valid(p)
                         THEN CAST(json_extract(p, '$.k') AS INTEGER)
                         ELSE 0 END) AS BIGINT) AS sum_k
    FROM raw GROUP BY event_type
"""


@_q("json_schema_ingest", _JSON_INGEST_SQL)
def json_schema_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON ingestion with corrupt-record accounting: 10%
    of the payloads are deterministically truncated, ``from_json`` parses
    the rest against an explicit schema, and the aggregate reports
    rows / corrupt / extracted sums per event type — the permissive-mode
    ingestion shape for semi-structured transcript metadata (bad records
    are counted and quarantined, never dropped silently).  Oracle = the
    same mangle + json_valid/json_extract in plain SQL."""
    ev = _read(spark, sf_dir, "events")
    mangled = ev.select(
        "event_type",
        F.when(
            F.col("event_id") % 10 == 0,
            F.expr("substr(props, 1, length(props) - 1)"),
        ).otherwise(F.col("props")).alias("p"),
    )
    parsed = mangled.withColumn("j", F.from_json("p", "k int"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("j").isNull() | F.col("j.k").isNull(), 1).otherwise(0)).alias(
            "n_corrupt"
        ),
        F.sum(F.coalesce(F.col("j.k"), F.lit(0)).cast("long")).alias("sum_k"),
    )


@_q(
    "wait_readiness_probes",
    """
    SELECT 'data_orders_high' AS probe,
           EXISTS(SELECT 1 FROM orders WHERE o_totalprice > 100000) AS met
    UNION ALL SELECT 'data_orders_impossible',
           EXISTS(SELECT 1 FROM orders WHERE o_totalprice < 0)
    UNION ALL SELECT 'file_lineitem', TRUE
    UNION ALL SELECT 'file_missing', FALSE
    UNION ALL SELECT 'pause', TRUE
    """,
)
def wait_readiness_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wait-condition surface (ValidationWaitImplicits.scala:21-95) as a
    driver-verifiable probe table: the data-exists probe (read + where +
    limit(1) short-circuit — pushdown makes it metadata-cheap), the
    file-exists gate, and the pause gate, each evaluated once
    (non-retryable) so the oracle is pure EXISTS logic with no timing."""
    from .operators.waits import (
        DataExistsWaitCondition,
        FileExistsWaitCondition,
        PauseWaitCondition,
    )

    probes = [
        (
            "data_orders_high",
            DataExistsWaitCondition(
                path=f"{sf_dir}/orders.parquet",
                expr="o_totalprice > 100000",
                is_retryable=False,
            ),
        ),
        (
            "data_orders_impossible",
            DataExistsWaitCondition(
                path=f"{sf_dir}/orders.parquet",
                expr="o_totalprice < 0",
                is_retryable=False,
            ),
        ),
        (
            "file_lineitem",
            FileExistsWaitCondition(
                path=f"{sf_dir}/lineitem.parquet", is_retryable=False
            ),
        ),
        (
            "file_missing",
            FileExistsWaitCondition(
                path=f"{sf_dir}/__no_such_table__.parquet",
                is_retryable=False,
            ),
        ),
        ("pause", PauseWaitCondition(pause_in_seconds=0.0)),
    ]
    rows = [(name, bool(cond.wait(spark))) for name, cond in probes]
    return spark.createDataFrame(rows, "probe string, met boolean")


@_q(
    "bucketed_join_revenue",
    """
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) / 100.0, 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via BUCKETED storage: both sides are
    written ``bucketBy``/``sortBy`` on the join key (the layout a 100 TB
    pipeline maintains for its hot fact/dimension keys), so the
    sort-merge join reads pre-partitioned, pre-sorted buckets — the ONLY
    exchange in the whole plan is the final per-nation aggregate's
    (pinned by ``tests/test_bucketing.py``).  Murmur3 bucket placement
    is stable across writes, so incremental appends stay co-located."""
    import tempfile

    from .sources.io import write_bucketed

    base = tempfile.mkdtemp(prefix="dcs-bucketed-")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    write_bucketed(
        orders.select("o_custkey", "o_totalprice"),
        "dcs_orders_bucketed",
        ["o_custkey"],
        n_buckets=8,
        sort_cols=["o_custkey"],
        path=f"{base}/orders",
    )
    write_bucketed(
        customer.select("c_custkey", "c_nationkey"),
        "dcs_customer_bucketed",
        ["c_custkey"],
        n_buckets=8,
        sort_cols=["c_custkey"],
        path=f"{base}/customer",
    )
    o = spark.table("dcs_orders_bucketed")
    c = spark.table("dcs_customer_bucketed")
    joined = o.hint("merge").join(
        c, o["o_custkey"] == c["c_custkey"]
    )
    return (
        joined.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # fixed-point int64 sum: the 2-decimal money doubles feed the
            # driver hash gate, so the cross-partition sum must commute
            F.round(
                F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
                / 100.0,
                2,
            ).alias("revenue"),
        )
        .orderBy("c_nationkey")
    )


@_q(
    "exact_substring_dedup",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    wins AS (
      SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS w
      FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i)
      WHERE i <= len(t) - 7
    ),
    dups AS (
      SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
    ),
    marked AS (SELECT doc_id, pos FROM wins SEMI JOIN dups USING (w)),
    covered AS (
      SELECT DISTINCT doc_id, pos + j AS ti
      FROM marked, (SELECT unnest(generate_series(0, 7)) AS j)
    ),
    tp AS (
      SELECT doc_id, i AS ti, t[i] AS tok
      FROM toks, (SELECT unnest(generate_series(1, 100000)) AS i)
      WHERE i <= len(t)
    ),
    kept AS (
      SELECT tp.doc_id, tp.ti, tp.tok
      FROM tp ANTI JOIN covered USING (doc_id, ti)
    ),
    reass AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS clean,
             count(*) AS keptn
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, len(t) AS n FROM toks)
    SELECT t.doc_id,
           CAST(t.n AS INTEGER) AS n_tokens,
           CAST(t.n - coalesce(r.keptn, 0) AS INTEGER) AS n_dup_tokens,
           md5(coalesce(r.clean, '')) AS clean_md5
    FROM tot t LEFT JOIN reass r ON t.doc_id = r.doc_id
    """,
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022): every token inside a >= 8-
    token substring shared verbatim with another document is removed.
    The suffix-array method re-expressed with OVERLAPPING k-windows —
    exact for the per-token semantics, linear in corpus tokens, and with
    NO document-pair path anywhere (a window duplicated in a million
    docs costs a million marks, not a trillion pairs).  Oracle = the
    identical windows/mark/cover/reassemble computation in DuckDB."""
    docs = _read(spark, sf_dir, "documents")
    out = D.exact_substring_dedup(docs, k=8, min_docs=2)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_dup_tokens",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


def _tokenizer_fertility_oracle() -> str:
    from .golden import tokenizer_fertility_golden_sql

    return tokenizer_fertility_golden_sql()


@_q("tokenizer_fertility_by_lang", _tokenizer_fertility_oracle)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-evaluation fertility: per language, UTF-8 bytes per BPE
    token under the corpus-trained tokenizer — the standard signal for
    how well a vocabulary serves each language in a multilingual mix
    (low-resource languages with poor coverage show inflated fertility,
    i.e. fewer bytes per token).  Reuses the BPE trainer's one bounded
    word-frequency shuffle + broadcast-ranks Arrow tokenization, then
    ONE combinable per-language aggregate."""
    from .functions.bpe import train_bpe_on_corpus, with_bpe_tokens

    docs = _read(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    merges = train_bpe_on_corpus(
        docs, n_merges=200, min_freq=2, max_vocab_rows=100_000
    )
    toks = with_bpe_tokens(_fan_out(docs), merges, tokens_col="__toks")
    return (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum(F.size("__toks")).cast("long").alias("n_tokens"),
            F.sum(F.octet_length("text")).cast("long").alias("n_bytes"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "n_bytes",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("n_bytes") / F.col("n_tokens"), 6),
            ).alias("bytes_per_token"),
        )
        .orderBy("lang")
    )


def _diversity_sample_oracle() -> str:
    from .golden import diversity_sample_golden_sql

    return diversity_sample_golden_sql(per_cluster=2)


@_q("diversity_cluster_sample", _diversity_sample_oracle)
def diversity_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space diversity selection: k-means the corpus (derived
    cluster count, seeded hash-sampled training — the IVF recipe) and
    keep each cluster's 2 most-central members, so the subset covers
    every region of embedding space — the cluster-coverage sampling that
    diversifies instruction-tuning subsets where top-k-by-quality alone
    collapses onto one mode.  Bounded driver-side training + one
    broadcast-matmul assignment + ONE combinable groupBy (cluster sizes
    are capped by the derived list count); no window, no join.  Oracle =
    the sequential shared-kernel replay
    (golden.diversity_sample_golden_sql)."""
    from .operators.selection import diversity_cluster_sample as dcs

    emb = _read(spark, sf_dir, "embeddings")
    return dcs(emb, per_cluster=2).orderBy("cluster", "vec_id")


def _pii_provenance_oracle() -> str:
    from .golden import pii_provenance_golden_sql

    return pii_provenance_golden_sql()


@_q("pii_provenance_profile", _pii_provenance_oracle)
def pii_provenance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(conversation, PII kind) provenance: introducing turn + role,
    turn count, and whether an assistant turn echoes the PII after a
    user introduced it — the leak-propagation gate for transcript
    releases.  One scrub projection + one explode + ONE combinable
    groupBy (no window, no join); oracle = the sequential scrub-kernel
    replay (golden.pii_provenance_golden_sql)."""
    from .fixtures import generate_transcripts_df
    from .operators.privacy import pii_provenance

    df = generate_transcripts_df(spark, n_convs=200, num_partitions=8)
    return pii_provenance(df).orderBy("conv_id", "kind")


def _template_turns_oracle() -> str:
    from .golden import template_turns_golden_sql

    return template_turns_golden_sql()


@_q("template_turn_counts", _template_turns_oracle)
def template_turn_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canned-turn detection: texts verbatim in >= 3 distinct
    conversations are templates (system boilerplate, canned apologies);
    per conversation, total vs template turn counts.  Bank = one
    count-distinct groupBy; marking = one 1:N equi-join (no quadratic
    block: the bank side is distinct texts)."""
    from .fixtures import generate_transcripts_df
    from .operators.dedup import template_turn_counts as ttc

    df = generate_transcripts_df(spark, n_convs=200, num_partitions=8)
    return ttc(df, min_convs=3).orderBy("conv_id")


def _bloom_dedup_golden_oracle() -> str:
    from .golden import bloom_dedup_golden_sql

    return bloom_dedup_golden_sql(k=8, n_bits=1 << 17, n_hashes=5)


@_q("bloom_paragraph_dedup", _bloom_dedup_golden_oracle)
def bloom_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter paragraph dedup (the allenai/dolma deduper's scale
    technique: a fixed-RAM bitmap over paragraph hashes dedupes each
    incoming batch against everything seen so far, without holding or
    re-scanning the corpus).  The seen half of the corpus (seeded md5
    split) builds the bitmap distributed — the collect is bounded at
    m/8 bytes regardless of corpus size — and the query half tests its
    spans against it; positive spans drop as already-seen boilerplate.

    Oracle: a pure-Python sequential replay over the bit-exact xxhash64
    twin (hashing.py) rebuilds the identical bitmap, so every decision —
    including any false positive, the structure's defining behavior — is
    hash-verified, not just row counts."""
    docs = _read(spark, sf_dir, "documents")
    out = D.bloom_paragraph_dedup(docs, k=8, n_bits=1 << 17, n_hashes=5)
    return out.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


# ===========================================================================
# driver registration order
# ===========================================================================

#: queries whose driver-artifact CORRECTNESS row is OLDEST run first: the
#: driver caps a round at 50 checks, so registration order rotates which
#: rows get refreshed; see COVERAGE.md for the rotation rationale.  This
#: reorders only the registration dict — names, callables and oracles are
#: untouched.
@_q(
    "asof_last_click",
    """
    WITH clicks AS (
        SELECT user_id, ts, event_id, value
        FROM events WHERE event_type = 'click'
        QUALIFY row_number() OVER (
            PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ), purchases AS (
        SELECT event_id, user_id, ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id,
           p.user_id,
           c.event_id AS click_id,
           round(c.value, 2) AS click_value,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase is aligned to the user's most
    recent prior (or same-instant) click — attribution / event-alignment,
    the classic temporal join Spark lacks natively.  Implemented with the
    union trick (operators/temporal.py asof_join): ONE exchange, a
    running last(ignorenulls) — NO join operator, so a hot user is a sort,
    never an O(n*m) block.  Oracle = DuckDB's native ASOF LEFT JOIN with
    a deterministic (user, ts) tiebreak mirrored by asof_join's __tie."""
    from .operators.temporal import asof_join, epoch_us

    ev = _read(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        purchases,
        clicks,
        key_cols=["user_id"],
        ts_col="ts",
        payload_cols=["event_id", "value"],
        prefix="asof_",
        tiebreak_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("click_id"),
        F.round("asof_value", 2).alias("click_value"),
        (epoch_us("ts") - epoch_us("asof_ts")).alias("gap_us"),
    )


@_q(
    "interval_incident_counts",
    """
    WITH i AS (
        SELECT event_id AS incident_id,
               ts AS i_start,
               ts + INTERVAL 10 MINUTE AS i_end
        FROM events WHERE event_type = 'error'
    )
    SELECT i.incident_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           round(CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS sum_value
    FROM i JOIN events e ON e.ts >= i.i_start AND e.ts < i.i_end
    GROUP BY i.incident_id
    """,
)
def interval_incident_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × point range join at equi-join cost: every error event
    opens a 10-minute incident window; count the events (and users, and
    fixed-point value sum) landing inside each.  A naive ``ts BETWEEN``
    join is a BroadcastNestedLoopJoin; interval_bin_join
    (operators/temporal.py) derives a time-bin equi key instead — each
    interval explodes into <=2 bins, each event carries exactly ONE, so
    pairs join once and the plan is a plain shuffled equi-join.  Oracle =
    the naive range join, which DuckDB executes natively (IEJoin)."""
    from .operators.temporal import interval_bin_join

    ev = _read(spark, sf_dir, "events")
    incidents = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("i_start"),
        F.expr("ts + INTERVAL 10 MINUTES").alias("i_end"),
    )
    points = ev.select("user_id", "ts", "value")
    joined = interval_bin_join(
        incidents, points, "i_start", "i_end", "ts", bin_width_s=600
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")) / 100.0, 2
        ).alias("sum_value"),
    )


@_q(
    "cdc_latest_state",
    """
    WITH latest AS (
        SELECT user_id, event_id, event_type, value
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_type,
           round(value, 2) AS last_value
    FROM latest WHERE event_type <> 'error'
    """,
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-row-wins compaction (mutable-corpus snapshot): the
    event log is a changelog keyed by user, ordered by (ts, event_id),
    with 'error' rows acting as tombstones — a user whose FINAL row is a
    tombstone leaves the snapshot.  latest_snapshot
    (operators/temporal.py) spells this as one max_by(struct, struct)
    aggregate with map-side partial combine (hot key = one row of state
    per task), not the partition-buffering row_number()=1 window the
    oracle uses."""
    from .operators.temporal import latest_snapshot

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    latest = latest_snapshot(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        delete_predicate=F.col("event_type") == "error",
    )
    return latest.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
    )


@_q(
    "rolling_user_activity",
    """
    SELECT event_id,
           user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
                      AS BIGINT) / 100.0, 2) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def rolling_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 1-hour activity frame (burst / rate-limit
    features): count and fixed-point value sum over a RANGE window ending
    at each event.  time_range_window (operators/temporal.py) orders by
    unix_micros so the Spark frame bound is exact integer microseconds —
    identical to the oracle's INTERVAL RANGE frame; the fixed-point
    int64 sum keeps the rolling double order-independent (memory: always
    fixed-point when a float sum feeds the hash gate)."""
    from .operators.temporal import time_range_window

    ev = _read(spark, sf_dir, "events")
    w = time_range_window(["user_id"], "ts", preceding_s=3600)
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).over(w)
            / 100.0,
            2,
        ).alias("sum_1h"),
    )


@_q(
    "sft_context_assembly",
    """
    SELECT event_id,
           user_id,
           coalesce(array_to_string(
               list(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), '>'), '')
               AS context,
           event_type AS target
    FROM events
    """,
)
def sft_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT training-example assembly: each turn becomes (context, target)
    where the context is the ordered last-k preceding turns of the same
    conversation — the window-frame ``collect_list`` spelling, ONE
    shuffle+sort per conversation key with a bounded k-row frame buffer
    (never the whole partition), which is how context windows stay
    memory-safe on a 10^6-turn hot conversation.  Frame order is pinned
    by the (ts, event_id) sort, so the concatenation is deterministic;
    empty frames coalesce to '' on both sides."""
    ev = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, -1)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.array_join(F.collect_list("event_type").over(w), ">").alias(
            "context"
        ),
        F.col("event_type").alias("target"),
    )


@_q(
    "preference_pair_mining",
    """
    WITH ranked AS (
        SELECT user_id, event_type, event_id, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY value DESC, event_id DESC)
                   AS rmax,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY value ASC, event_id ASC) AS rmin
        FROM events WHERE value IS NOT NULL
    )
    SELECT r1.user_id, r1.event_type,
           r1.event_id AS chosen_id,
           round(r1.value, 2) AS chosen_value,
           r2.event_id AS rejected_id,
           round(r2.value, 2) AS rejected_value,
           round(r1.value - r2.value, 2) AS margin
    FROM ranked r1 JOIN ranked r2 USING (user_id, event_type)
    WHERE r1.rmax = 1 AND r2.rmin = 1
      AND r1.event_id <> r2.event_id
      AND r1.value - r2.value >= 5.0
    """,
)
def preference_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction: per (conversation, action)
    group, pair the best-scored sample against the worst when the margin
    clears a threshold.  ONE ``max_by``/``min_by`` aggregate with
    map-side partial combine — a hot group keeps two rows of state per
    task; the oracle's double row_number window (which buffers and sorts
    whole partitions) is exactly the spelling this avoids at 10^12 rows.
    Ties break on event_id inside the ordering struct, so the pick is
    deterministic on both sides.  Unscored (NULL-value) samples are
    excluded up front: Spark's min_by would otherwise pick a NULL row as
    'rejected' where SQL's ASC ordering puts NULLS LAST — mining only
    scored samples is both the sane semantics and the aligned one."""
    ev = _read(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pairs = ev.groupBy("user_id", "event_type").agg(
        F.max_by(
            F.struct("event_id", "value"), F.struct("value", "event_id")
        ).alias("chosen"),
        F.min_by(
            F.struct("event_id", "value"), F.struct("value", "event_id")
        ).alias("rejected"),
    )
    return pairs.where(
        (F.col("chosen.event_id") != F.col("rejected.event_id"))
        & (F.col("chosen.value") - F.col("rejected.value") >= 5.0)
    ).select(
        "user_id",
        "event_type",
        F.col("chosen.event_id").alias("chosen_id"),
        F.round("chosen.value", 2).alias("chosen_value"),
        F.col("rejected.event_id").alias("rejected_id"),
        F.round("rejected.value", 2).alias("rejected_value"),
        F.round(F.col("chosen.value") - F.col("rejected.value"), 2).alias(
            "margin"
        ),
    )


@_q(
    "resumable_run_recovery",
    """
    WITH g AS (
        SELECT CAST(doc_id % 8 AS INT) AS group_id,
               (n_chars BETWEEN 100 AND 20000
                AND lang IN ('en', 'de', 'fr')) AS keep
        FROM documents
    )
    SELECT group_id,
           CAST(count(*) AS BIGINT) AS rows_in,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS rows_kept,
           group_id >= 4 AS resumed
    FROM g GROUP BY group_id
    """,
)
def resumable_run_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume END-TO-END under an injected mid-run crash (the
    north rule's "resumable from checkpoint with per-partition lineage"):
    run 1 commits groups 0-3 then dies on group 4; run 2 resumes from the
    manifest sidecar and processes ONLY the pending groups.  The returned
    rows come from the MANIFEST (observe-counter lineage riding each
    group's write action), tagged by which run committed them — so the
    driver's hash check covers the group predicate, the crash cut-point,
    the resume skip-set, and the per-group metrics in one query.  Oracle
    = the same rule bank aggregated per group in SQL."""
    import tempfile

    from .sources.manifest import ResumableRunner

    docs = _read(spark, sf_dir, "documents")

    def pipeline_fn(df: DataFrame) -> DataFrame:
        keep = (
            F.col("n_chars").between(100, 20000)
            & F.col("lang").isin("en", "de", "fr")
        )
        return df.select(
            "doc_id",
            keep.alias("keep"),
            F.when(keep, F.array().cast("array<string>"))
            .otherwise(F.array(F.lit("quality_gate")))
            .alias("rule_hits"),
        )

    base = tempfile.mkdtemp(prefix="dcs-resume-")
    runner = ResumableRunner(
        spark,
        out_dir=f"{base}/out",
        manifest_dir=f"{base}/manifest",
        n_groups=8,
        conv_col="doc_id",
        rule_ids=["quality_gate"],
        group_col=F.pmod(F.col("doc_id"), F.lit(8)).cast("int"),
    )
    try:
        runner.run(docs, pipeline_fn, run_id="run1", fail_on_group=4)
    except RuntimeError:
        pass  # the injected crash: groups 0-3 are committed, 4-7 pending
    assert runner.pending_groups() == [4, 5, 6, 7]
    resumed = runner.run(docs, pipeline_fn, run_id="run2")
    assert resumed == [4, 5, 6, 7]
    m = runner.manifest.read()
    return m.select(
        F.col("group_id"),
        F.col("rows_in"),
        F.col("rows_kept"),
        (F.col("run_id") == "run2").alias("resumed"),
    )


@_q(
    "grouped_topk_docs",
    """
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n_chars DESC, doc_id ASC)
                   AS rank
        FROM documents
    )
    SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id, n_chars
    FROM ranked WHERE rank <= 5
    """,
)
def grouped_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (longest 5 documents per language) via the EXACT
    salted two-phase prune (operators/topk.py): phase 1 ranks inside
    (lang, salt) subgroups — a hot language spreads over 16 reducers —
    and keeps local top-5s; phase 2 ranks the <=16x5 survivors per
    language.  The final sort carries ~langs*80 rows, not the corpus;
    the plain one-window spelling (the oracle) sends every row of a
    group to one reducer."""
    from .operators.topk import grouped_topk

    docs = _read(spark, sf_dir, "documents")
    out = grouped_topk(
        docs.select("lang", "doc_id", "n_chars"),
        group_cols=["lang"],
        order_col="n_chars",
        k=5,
        tiebreak_cols=["doc_id"],
    )
    return out.select("lang", "rank", "doc_id", "n_chars")


@_q(
    "length_quantiles_by_lang",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 6) AS q25,
           round(quantile_cont(n_chars, 0.50), 6) AS q50,
           round(quantile_cont(n_chars, 0.75), 6) AS q75,
           round(quantile_cont(n_chars, 0.90), 6) AS q90
    FROM documents GROUP BY lang
    """,
)
def length_quantiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles (the distribution profile a
    corpus report leads with).  Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the (n-1)*p linear-interpolation convention,
    so the oracle is value-exact.  Scale note: exact percentile buffers
    each group's values on its reducer — the 100 TB path swaps in
    ``percentile_approx`` (t-digest-style sketch, combinable partials)
    at the cost of bounded rank error; this query pins the exact
    semantics the sketch is judged against."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("q25"),
        F.round(F.expr("percentile(n_chars, 0.50)"), 6).alias("q50"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 6).alias("q75"),
        F.round(F.expr("percentile(n_chars, 0.90)"), 6).alias("q90"),
    )


@_q(
    "spearman_length_tokens",
    f"""
    WITH base AS (
        SELECT lang, doc_id, n_chars,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_ws
        FROM documents
        -- NULL text must be excluded on BOTH surfaces: Spark's
        -- size(split(NULL)) sorts NULL/-1 FIRST while DuckDB's NULL
        -- len sorts NULLS LAST — ranks would diverge otherwise
        WHERE text IS NOT NULL
    ), ranked AS (
        SELECT lang,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY n_chars, doc_id)
                    AS BIGINT) AS rx,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY n_ws, doc_id)
                    AS BIGINT) AS ry
        FROM base
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CASE WHEN count(*) > 1 THEN
               round(1.0 - 6.0 * CAST(sum((rx - ry) * (rx - ry)) AS BIGINT)
                     / (count(*) * (count(*) * count(*) - 1.0)), 6)
           END AS rho
    FROM ranked GROUP BY lang
    """,
)
def spearman_length_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two quality signals (char
    length vs whitespace-token count) per language — the feature-
    diagnostics statistic a filter-tuning pass reads first.  Exactness
    discipline: ranks are INTEGER permutations (ties broken by doc_id),
    so sum(d^2) is an exact int64 and rho's float formula sees identical
    operands on both sides — no order-dependent float accumulation.
    Scale note: rank windows sort per group (streaming frames); at
    corpus scale you window per (lang, shard) and combine via the
    standard large-n approximation — this query pins the exact
    semantics."""
    ws = F.array_remove(F.split("text", _WS_SQL), "")
    base = (
        _read(spark, sf_dir, "documents")
        # mirror the oracle's NULL-text filter: size(split(NULL)) would
        # rank NULLs FIRST in Spark vs DuckDB's NULLS LAST
        .where(F.col("text").isNotNull())
        .select(
            "lang", "doc_id", "n_chars", F.size(ws).cast("long").alias("n_ws")
        )
    )
    rx = F.row_number().over(
        Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ).cast("long")
    ry = F.row_number().over(
        Window.partitionBy("lang").orderBy("n_ws", "doc_id")
    ).cast("long")
    ranked = base.select("lang", rx.alias("rx"), ry.alias("ry"))
    d2 = (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(d2).alias("__sd2"),
        )
        .select(
            "lang",
            "n_docs",
            # a singleton group has denominator 0: NULL (the SQL answer),
            # never NaN — Spark 0.0/0.0 would yield NaN and hash-diverge
            F.when(
                F.col("n_docs") > 1,
                F.round(
                    F.lit(1.0)
                    - F.lit(6.0) * F.col("__sd2")
                    / (
                        F.col("n_docs")
                        * (F.col("n_docs") * F.col("n_docs") - F.lit(1.0))
                    ),
                    6,
                ),
            ).alias("rho"),
        )
    )


@_q(
    "validation_error_samples",
    """
    WITH t AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN NOT (n_chars >= 0) THEN 1 ELSE 0 END)
                    AS BIGINT) AS e1,
               CAST(sum(CASE WHEN NOT (doc_id <> 3) THEN 1 ELSE 0 END)
                    AS BIGINT) AS e2,
               CAST(sum(CASE WHEN NOT (lang = 'en') THEN 1 ELSE 0 END)
                    AS BIGINT) AS e3
        FROM documents
    )
    SELECT 'nonneg' AS rule_id, e1 AS n_errors,
           CAST(least(5, e1) AS INT) AS n_samples,
           e1 = 0 AS is_success, total FROM t
    UNION ALL
    SELECT 'one_bad', e2, CAST(least(5, e2) AS INT), e2 = 0, total FROM t
    UNION ALL
    SELECT 'lang_en', e3, CAST(least(5, e3) AS INT), e3 = 0, total FROM t
    """,
)
def validation_error_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The error-sample pipeline END-TO-END under the driver gate: three
    rules engineered to fail 0 / exactly-1 / many times, run through
    ``validate_rules``'s bounded sample collection (per-partition capped
    mapInPandas pre-pass -> one tiny groupBy; never a collect_list over
    every failing row).  The hash check pins the cap invariant
    ``n_samples = least(5, n_errors)`` plus the success semantics —
    previously covered only by pytest."""
    from .operators.validation import validate_rules

    docs = _read(spark, sf_dir, "documents")
    rules = [
        field("n_chars").greater_than_or_equal(0).with_id("nonneg"),
        field("doc_id").is_not_equal(3).with_id("one_bad"),
        field("lang").is_equal("en").with_id("lang_en"),
    ]
    res = validate_rules(docs, rules, num_sample_errors=5)
    rows = [
        (r.rule_id, r.num_errors, len(r.sample_errors), r.is_success, r.total)
        for r in res
    ]
    return spark.createDataFrame(
        rows,
        "rule_id string, n_errors long, n_samples int, "
        "is_success boolean, total long",
    )


@_q(
    "rule_literal_quoting",
    """
    SELECT 'after_date' AS rule_id,
           CAST(sum(CASE WHEN NOT (o_orderdate > DATE '1995-06-01')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
    FROM orders
    UNION ALL
    SELECT 'before_ts',
           CAST(sum(CASE WHEN NOT (o_orderdate
                                   < TIMESTAMP '1997-01-01 12:00:00')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'quoted_str',
           CAST(sum(CASE WHEN contains(o_orderpriority, 'd''oh')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'type_ok', CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'type_mismatch', CAST(count(*) AS BIGINT) FROM orders
    """,
)
def rule_literal_quoting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE / TIMESTAMP / escaped-string literal rendering
    (``lit_sql``, the reference's ``colValueToString`` mirror) and
    ``hasType`` checked against REAL data under the driver gate: Python
    date/datetime/quote-bearing-string rule values flow through the SQL
    renderer into violation counts that must match the oracle's typed
    literals; the deliberate type-mismatch rule fails every row."""
    import datetime as _dt

    from .operators.validation import validate_rules

    orders = _read(spark, sf_dir, "orders")
    rules = [
        field("o_orderdate")
        .greater_than(_dt.date(1995, 6, 1))
        .with_id("after_date"),
        field("o_orderdate")
        .less_than(_dt.datetime(1997, 1, 1, 12, 0, 0))
        .with_id("before_ts"),
        field("o_orderpriority").not_contains("d'oh").with_id("quoted_str"),
        field("o_totalprice").has_type("double").with_id("type_ok"),
        field("o_orderkey").has_type("string").with_id("type_mismatch"),
    ]
    res = validate_rules(orders, rules, num_sample_errors=0)
    return spark.createDataFrame(
        [(r.rule_id, r.num_errors) for r in res],
        "rule_id string, n_errors long",
    )


_MARQUEZ_SAMPLE = {
    "name": "transcripts_raw",
    "fields": [
        {"name": "conv_id", "type": "VARCHAR"},
        {"name": "turn_idx", "type": "INTEGER"},
        {"name": "role", "type": "VARCHAR"},
        {"name": "score", "type": "DOUBLE"},
        {"name": "ts", "type": "TIMESTAMP"},
    ],
}

_OPENMETADATA_SAMPLE = {
    "columns": [
        {"name": "doc_id", "dataType": "BIGINT"},
        {"name": "text", "dataType": "STRING"},
        {"name": "flags", "dataType": "ARRAY", "arrayDataType": "STRING"},
    ]
}


@_q(
    "metadata_schema_import",
    """
    SELECT * FROM (VALUES
        ('marquez', 'transcripts_raw', 'conv_id',  'string',    'string'),
        ('marquez', 'transcripts_raw', 'turn_idx', 'int',       'int'),
        ('marquez', 'transcripts_raw', 'role',     'string',    'string'),
        ('marquez', 'transcripts_raw', 'score',    'double',    'double'),
        ('marquez', 'transcripts_raw', 'ts',       'timestamp', 'timestamp'),
        ('openmetadata', 'table', 'doc_id', 'long',   'bigint'),
        ('openmetadata', 'table', 'text',   'string', 'string'),
        ('openmetadata', 'table', 'flags',  'array',  'array<string>')
    ) AS t(source, dataset, field, declared_type, generated_type)
    """,
)
def metadata_schema_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-source schema import END-TO-END under the driver gate:
    Marquez and OpenMetadata documents (the reference's two metadata
    integrations, `MarquezMetadata.scala` / `OpenMetadata.scala`) parse
    into FieldSpecs, the specs GENERATE a table, and the emitted rows
    pair each declared type with the dtype Spark actually produced —
    checking the type mapping, not just the parse."""
    from .operators.generator import generate
    from .operators.metadata import (
        from_marquez,
        from_openmetadata,
        marquez_dataset_name,
    )

    rows = []
    mq = from_marquez(_MARQUEZ_SAMPLE)
    ds = marquez_dataset_name(_MARQUEZ_SAMPLE)
    gen = generate(spark, mq, 4)
    dtypes = dict(gen.dtypes)
    rows.extend(
        ("marquez", ds, s.name, s.type, dtypes[s.name]) for s in mq
    )
    om = from_openmetadata(_OPENMETADATA_SAMPLE)
    for tname, specs in om.items():
        gen2 = generate(spark, specs, 4)
        d2 = dict(gen2.dtypes)
        rows.extend(
            ("openmetadata", tname, s.name, s.type, d2[s.name])
            for s in specs
        )
    return spark.createDataFrame(
        rows,
        "source string, dataset string, field string, "
        "declared_type string, generated_type string",
    )


@_q(
    "skewed_join_aqe_counts",
    """
    WITH f AS (
        SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
                    ELSE l_orderkey % 97 END AS k,
               l_quantity
        FROM lineitem
    ), d AS (
        SELECT range AS k, CAST(range % 7 + 1 AS DOUBLE) AS weight
        FROM range(0, 97)
    )
    SELECT f.k,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity * weight), 2) AS wsum
    FROM f JOIN d ON f.k = d.k
    GROUP BY f.k
    ORDER BY f.k
    """,
)
def skewed_join_aqe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join correctness under planted skew: ~80% of lineitem
    rows collapse onto ONE join key before a fact×dim equi-join and a
    per-key rollup.  The result is plan-independent — whether AQE splits
    the hot partition (pinned at low thresholds by
    `tests/test_plans.py::test_aqe_splits_planted_skewed_join`),
    broadcasts the 97-row dim, or runs a plain SMJ, the numbers must be
    identical.  Exactness: quantities and weights are small integers in
    doubles, so every partial sum is exact regardless of partitioning.
    This is the 100 TB skew story's correctness half; the plan half
    (AQEShuffleRead skewed) lives in the pytest."""
    li = _read(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 8, F.lit(0))
        .otherwise(F.col("l_orderkey") % 97)
        .alias("k"),
        "l_quantity",
    )
    dim = spark.range(0, 97).select(
        F.col("id").alias("k"),
        (F.col("id") % 7 + 1).cast("double").alias("weight"),
    )
    return (
        li.join(dim, "k")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("l_quantity") * F.col("weight")), 2).alias(
                "wsum"
            ),
        )
        .orderBy("k")
    )


_TURN_PROTO_DESC = [
    {
        "name": "turn.proto",
        "package": "dcs.demo",
        "messages": [
            {
                "name": "Turn",
                "fields": [
                    {"name": "conv_id", "number": 1, "type": 9},
                    {"name": "turn_idx", "number": 2, "type": 5},
                    {"name": "score", "number": 3, "type": 1},
                    {"name": "keep", "number": 4, "type": 8},
                    {"name": "payload", "number": 5, "type": 12},
                    {"name": "role", "number": 6, "type": 14,
                     "type_name": ".dcs.demo.Role"},
                    {"name": "meta", "number": 7, "type": 11,
                     "type_name": ".dcs.demo.Meta"},
                    {"name": "tags", "number": 8, "type": 9,
                     "repeated": True},
                ],
            },
            {
                "name": "Meta",
                "fields": [
                    {"name": "lang", "number": 1, "type": 9},
                    {"name": "tokens", "number": 2, "type": 3},
                ],
            },
        ],
        "enums": [{"name": "Role", "values": ["USER", "ASSISTANT", "TOOL"]}],
    }
]


@_q(
    "protobuf_schema_import",
    """
    SELECT * FROM (VALUES
        ('Meta', 'lang',     'string',  'string',  true),
        ('Meta', 'tokens',   'bigint',  'bigint',  true),
        ('Turn', 'conv_id',  'string',  'string',  true),
        ('Turn', 'keep',     'boolean', 'boolean', true),
        ('Turn', 'meta',     'struct<lang:string,tokens:bigint>',
                             'struct<lang:string,tokens:bigint>', true),
        ('Turn', 'payload',  'binary',  'binary',  true),
        ('Turn', 'role',     'string',  'string',  true),
        ('Turn', 'score',    'double',  'double',  true),
        ('Turn', 'tags',     'string',  'string',  true),
        ('Turn', 'turn_idx', 'int',     'int',     true)
    ) AS t(message, field, declared_type, generated_type, enum_valid)
    ORDER BY message, field
    """,
)
def protobuf_schema_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf descriptor → schema import END-TO-END (the reference's
    `ProtobufUtil.scala:14-74` surface): a `FileDescriptorSet` (built by
    the package's own deterministic encoder — `protoc
    --descriptor_set_out` wire format, no protobuf wheel) parses into
    Spark StructTypes AND FieldSpec trees, the specs GENERATE a table,
    and each row pairs the descriptor-declared Spark type with the dtype
    generation actually produced.  `enum_valid` additionally proves the
    generated enum column only emits the descriptor's declared enum
    VALUES (richer than the reference's ENUM→string mapping).  Parity
    quirk kept: the repeated label is ignored (`tags` imports as plain
    string), as in `getSchemaFromFieldsProto`."""
    from .operators.generator import generate
    from .operators.protobuf import (
        encode_file_descriptor_set,
        to_field_specs,
        to_struct_types,
    )

    desc = encode_file_descriptor_set(_TURN_PROTO_DESC)
    structs = to_struct_types(desc)
    specs = to_field_specs(desc)
    rows = []
    for message in sorted(structs):
        gen = generate(spark, specs[message], 40)
        declared = {
            f.name: f.dataType.simpleString() for f in structs[message].fields
        }
        produced = dict(gen.dtypes)
        if message == "Turn":
            bad_enum = gen.where(
                ~F.col("role").isin("USER", "ASSISTANT", "TOOL")
            ).count()
            enum_ok = bad_enum == 0
        else:
            enum_ok = True
        rows.extend(
            (message, name, declared[name], produced[name], enum_ok)
            for name in declared
        )
    return spark.createDataFrame(
        rows,
        "message string, field string, declared_type string, "
        "generated_type string, enum_valid boolean",
    ).orderBy("message", "field")


@_q(
    "write_omit_projection",
    """
    WITH cols AS (
        SELECT * FROM (VALUES ('doc_id'), ('lang'), ('source'), ('n_chars'))
            AS c(column_name)
    )
    SELECT column_name,
           (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows
    FROM cols
    """,
)
def write_omit_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Omit-column sink projection (`SinkFactory.scala:113-120` — debug/
    score columns dropped at the sink unless kept) checked end-to-end:
    documents written with ``omit_cols=['text']``, read back, and the
    read-back SCHEMA (one row per surviving column) plus the row count
    must match the oracle — proving the dropped column never reached
    storage and nothing else was lost."""
    import tempfile

    from .sources.io import write_sink

    docs = _read(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="dcs-omit-") + "/out"
    write_sink(docs, "parquet", path=path, mode="overwrite",
               omit_cols=["text"])
    back = spark.read.parquet(path)
    n = back.count()
    assert "text" not in back.columns
    return spark.createDataFrame(
        [(c, n) for c in back.columns], "column_name string, n_rows long"
    )


@_q(
    "inference_field_specs",
    """
    SELECT 'o_orderkey' AS field, 'long' AS type,
           CAST(min(o_orderkey) AS VARCHAR) || '..'
               || CAST(max(o_orderkey) AS VARCHAR) AS detail
    FROM orders
    UNION ALL
    SELECT 'o_custkey', 'long',
           CAST(min(o_custkey) AS VARCHAR) || '..'
               || CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', 'oneOf',
           (SELECT array_to_string(list_sort(list(DISTINCT o_orderstatus)),
                                   '|') FROM orders)
    UNION ALL
    SELECT 'o_orderpriority', 'oneOf',
           (SELECT array_to_string(list_sort(list(DISTINCT
                                                  o_orderpriority)), '|')
            FROM orders)
    """,
)
def inference_field_specs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile -> FieldSpec inference under the driver gate
    (``MetadataUtil.scala:43-112`` + the oneOf thresholds
    ``Constants.scala:175-176``): ONE aggregate pass profiles orders,
    the oneOf rule (count>=1000, distinct/count<=0.2, distinct<=100)
    fires for the two categorical fields, numeric fields carry min..max
    bounds.  The categorical distinct counts sit deep inside HLL's
    exact sparse range, so the approx profile is value-stable against
    the oracle's exact DISTINCT."""
    from .operators.inference import infer_field_specs

    orders = _read(spark, sf_dir, "orders")
    specs = infer_field_specs(
        orders,
        cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )
    rows = []
    for s in specs:
        if s.type == "oneOf":
            detail = "|".join(str(v) for v in s.one_of)
        else:
            detail = f"{s.min}..{s.max}"
        rows.append((s.name, s.type, detail))
    return spark.createDataFrame(rows, "field string, type string, detail string")


@_q(
    "schema_evolution_merge",
    """
    SELECT 'doc_id' AS column_name,
           CAST(count(doc_id) AS BIGINT) AS n_nonnull
    FROM documents
    UNION ALL SELECT 'text', CAST(count(text) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'lang',
           CAST(count(CASE WHEN doc_id >= 250 THEN lang END) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'n_chars',
           CAST(count(CASE WHEN doc_id >= 250 THEN n_chars END) AS BIGINT)
    FROM documents
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches (the 100 TB reality: a
    corpus written over months gains columns): batch 1 carries
    (doc_id, text), batch 2 adds (lang, n_chars); a ``mergeSchema`` read
    unions the schemas and back-fills nulls for the old batch.  The
    per-column non-null counts prove which batch supplied which columns.
    Scale note: mergeSchema samples footers across ALL files — at real
    scale pin the evolved schema explicitly (``read_source(schema=)``)
    and keep mergeSchema for discovery, not for the hot path."""
    import tempfile

    from .sources.io import read_source, write_sink

    docs = _read(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="dcs-evolve-")
    write_sink(
        docs.where(F.col("doc_id") < 250).select("doc_id", "text"),
        "parquet", path=f"{base}/b1", mode="overwrite",
    )
    write_sink(
        docs.where(F.col("doc_id") >= 250).select(
            "doc_id", "text", "lang", "n_chars"
        ),
        "parquet", path=f"{base}/b2", mode="overwrite",
    )
    back = read_source(
        spark, "parquet", path=f"{base}/b*",
        options={"mergeSchema": "true"},
    )
    aggs = back.agg(
        *[F.count(c).alias(c) for c in ["doc_id", "text", "lang", "n_chars"]]
    ).collect()[0]
    return spark.createDataFrame(
        [(c, aggs[c]) for c in ["doc_id", "text", "lang", "n_chars"]],
        "column_name string, n_nonnull long",
    )


@_q(
    "csv_read_modes",
    """
    SELECT * FROM (VALUES
        ('permissive_rows',   CAST(23 AS BIGINT)),
        ('permissive_corrupt', CAST(3 AS BIGINT)),
        ('dropmalformed_rows', CAST(20 AS BIGINT)),
        ('failfast_raises',    CAST(1 AS BIGINT))
    ) AS t(probe, value)
    """,
)
def csv_read_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV parse-mode semantics end-to-end (``read_source`` options —
    the ingest hygiene a crawl pipeline needs before anything else):
    a file of 20 valid + 3 malformed rows read under PERMISSIVE
    (malformed rows kept, ``_corrupt_record`` populated),
    DROPMALFORMED (silently dropped), and FAILFAST (raises).  All
    three outcomes are asserted by value; corrupt records are counted,
    never silently lost."""
    import tempfile

    from .sources.io import read_source

    d = tempfile.mkdtemp(prefix="dcs-csv-")
    path = f"{d}/rows.csv"
    with open(path, "w") as fh:
        for i in range(20):
            fh.write(f"{i},doc-{i}\n")
        fh.write("not-a-number,malformed-a\n")
        fh.write("also-bad,malformed-b\n")
        fh.write("nan,malformed-c\n")
    # CAUTION (found the hard way): ``count()`` on a CSV scan prunes
    # every column, so the parser never attempts a conversion and NO
    # malformedness is observed in any mode — mode semantics only fire
    # when the read materializes parsed columns.  collect() the rows.
    schema = "id INT, name STRING, _corrupt_record STRING"
    perm_rows = read_source(
        spark, "csv", path=path,
        options={"mode": "PERMISSIVE"}, schema=schema,
    ).collect()
    n_perm = len(perm_rows)
    n_corrupt = sum(1 for r in perm_rows if r._corrupt_record is not None)
    n_drop = len(
        read_source(
            spark, "csv", path=path,
            options={"mode": "DROPMALFORMED"}, schema="id INT, name STRING",
        ).collect()
    )
    try:
        read_source(
            spark, "csv", path=path,
            options={"mode": "FAILFAST"}, schema="id INT, name STRING",
        ).collect()
        raised = 0
    except Exception as exc:  # Py4JJavaError on older gateways,
        # pyspark.errors.SparkException on newer — assert the CLASS of
        # failure rather than the wrapper type
        raised = 1 if "MALFORMED_RECORD_IN_PARSING" in str(exc) else 0
    return spark.createDataFrame(
        [
            ("permissive_rows", n_perm),
            ("permissive_corrupt", n_corrupt),
            ("dropmalformed_rows", n_drop),
            ("failfast_raises", raised),
        ],
        "probe string, value long",
    )


def _streaming_enrich_oracle() -> str:
    from collections import Counter, defaultdict

    from .fixtures import generate_transcripts

    rows = generate_transcripts(n_convs=120, seed=42)
    n = Counter(r["conv_id"] for r in rows)
    has: dict = defaultdict(bool)
    for r in rows:
        has[r["conv_id"]] = has[r["conv_id"]] or r["role"] == "assistant"
    vals = ", ".join(
        f"('{r['conv_id']}', {r['turn_idx']}, {n[r['conv_id']]}, "
        f"{'TRUE' if has[r['conv_id']] else 'FALSE'})"
        for r in rows
    )
    return (
        "SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, "
        "CAST(conv_n_turns AS BIGINT) AS conv_n_turns, conv_has_assistant "
        "FROM (VALUES " + vals + ") AS g(conv_id, turn_idx, conv_n_turns, "
        "conv_has_assistant)"
    )


@_q("streaming_static_enrich", _streaming_enrich_oracle)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join (the remaining Structured-Streaming join
    shape): each streamed turn is enriched against a batch-computed
    per-conversation dimension (turn count, has-assistant flag) —
    the serve-time pattern for joining live turns to precomputed corpus
    statistics.  The static side is broadcast into every micro-batch
    (no stream-side shuffle, no state store); at production scale the
    dim table is bucketed and the join stays broadcast or storage-
    co-located.  Oracle = a sequential replay of the same fixture and
    aggregates."""
    stream, base = _stream_fixture(spark, n_convs=120)
    static_dim = (
        spark.read.parquet(f"{base}/in")
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("conv_n_turns"),
            F.max((F.col("role") == "assistant").cast("int")).alias("__ha"),
        )
        .select(
            "conv_id",
            "conv_n_turns",
            (F.col("__ha") == 1).alias("conv_has_assistant"),
        )
    )
    enriched = stream.join(F.broadcast(static_dim), "conv_id").select(
        "conv_id", "turn_idx", "conv_n_turns", "conv_has_assistant"
    )
    return _run_available_now(enriched, f"{base}/cp", "append").orderBy(
        "conv_id", "turn_idx"
    )


def _stream_stream_join_oracle() -> str:
    from collections import defaultdict

    from .fixtures import generate_transcripts

    rows = generate_transcripts(n_convs=120, seed=42)
    by_conv: dict = defaultdict(lambda: ([], []))
    for r in rows:
        if r["role"] == "user":
            by_conv[r["conv_id"]][0].append(r)
        elif r["role"] == "assistant":
            by_conv[r["conv_id"]][1].append(r)
    vals = []
    for conv, (users, assists) in by_conv.items():
        for u in users:
            for a in assists:
                gap = (a["ts"] - u["ts"]).total_seconds()
                if 0 <= gap <= 600:
                    vals.append(
                        f"('{conv}', {u['turn_idx']}, {a['turn_idx']}, "
                        f"{int(gap)})"
                    )
    return (
        "SELECT conv_id, CAST(u_idx AS INTEGER) AS u_idx, "
        "CAST(a_idx AS INTEGER) AS a_idx, CAST(gap_s AS BIGINT) AS gap_s "
        "FROM (VALUES " + ", ".join(vals)
        + ") AS g(conv_id, u_idx, a_idx, gap_s)"
    )


@_q("streaming_stream_join", _stream_stream_join_oracle)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join (the hardest Structured-
    Streaming join shape): user turns and assistant turns arrive as two
    independent streams; each user turn pairs with the same
    conversation's assistant turns landing within the next 10 minutes.
    Both sides carry watermarks and the join predicate carries the time
    bound, so the state store provably evicts rows older than the
    horizon — the unbounded-stream safety property.  Under availableNow
    the full fixture replays, so the result equals the batch range join
    and the sequential replay oracle is exact."""
    stream, base = _stream_fixture(spark, n_convs=120)
    users = (
        stream.where(F.col("role") == "user")
        .select(
            F.col("conv_id").alias("u_conv"),
            F.col("turn_idx").alias("u_idx"),
            F.col("ts").alias("u_ts"),
        )
        .withWatermark("u_ts", "30 minutes")
    )
    assistants = (
        stream.where(F.col("role") == "assistant")
        .select(
            F.col("conv_id").alias("a_conv"),
            F.col("turn_idx").alias("a_idx"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", "30 minutes")
    )
    joined = users.join(
        assistants,
        F.expr(
            "u_conv = a_conv AND a_ts >= u_ts "
            "AND a_ts <= u_ts + interval 10 minutes"
        ),
    ).select(
        F.col("u_conv").alias("conv_id"),
        "u_idx",
        "a_idx",
        F.floor(
            (F.unix_micros(F.col("a_ts").cast("timestamp"))
             - F.unix_micros(F.col("u_ts").cast("timestamp")))
            / F.lit(1_000_000)
        ).alias("gap_s"),
    )
    return _run_available_now(joined, f"{base}/cp", "append").orderBy(
        "conv_id", "u_idx", "a_idx"
    )


@_q(
    "html_text_extraction",
    r"""
    WITH built AS (
        SELECT doc_id,
               '<html><head><title>T</title><style>p{margin:0}</style>'
               || '</head><body><h1>Doc ' || CAST(doc_id AS VARCHAR)
               || '</h1><p>'
               || replace(replace(replace(text, '&', '&amp;'),
                          '<', '&lt;'), '>', '&gt;')
               || '</p><script>var x=1;</script></body></html>' AS html,
               trim(regexp_replace('T Doc ' || CAST(doc_id AS VARCHAR)
                                   || ' ' || text, '\s+', ' ', 'g'))
                   AS expected
        FROM documents WHERE text IS NOT NULL
    ), extracted AS (
        SELECT doc_id, expected,
               trim(regexp_replace(
                 replace(replace(replace(replace(replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html, '(?s)<script.*?</script>', ' ',
                                      'g'),
                       '(?s)<style.*?</style>', ' ', 'g'),
                     '<[^>]+>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g')) AS text_out
        FROM built
    )
    SELECT doc_id, md5(text_out) AS extract_md5,
           text_out = expected AS ok
    FROM extracted
    """,
)
def html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (the crawl pipeline's stage zero, the
    C4/FineWeb trafilatura step re-expressed as pure Catalyst): strip
    script/style blocks, strip tags, decode entities (amp LAST),
    collapse whitespace — a zero-shuffle projection chain that stays in
    whole-stage codegen.  The query builds deterministic HTML around
    each document (with proper escaping), extracts it back, and the
    ``ok`` flag asserts byte round-trip against the independently
    normalized original — so the driver hash pins both the extractor
    and its escaping inverse."""
    esc = F.col("text")
    esc = F.regexp_replace(esc, "&", "&amp;")
    esc = F.regexp_replace(esc, "<", "&lt;")
    esc = F.regexp_replace(esc, ">", "&gt;")
    docs = _read(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    built = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>T</title><style>p{margin:0}</style>"
                  "</head><body><h1>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            esc,
            F.lit("</p><script>var x=1;</script></body></html>"),
        ).alias("html"),
        F.trim(
            F.regexp_replace(
                F.concat(
                    F.lit("T Doc "),
                    F.col("doc_id").cast("string"),
                    F.lit(" "),
                    F.col("text"),
                ),
                r"\s+",
                " ",
            )
        ).alias("expected"),
    )
    t = F.col("html")
    t = F.regexp_replace(t, r"(?s)<script.*?</script>", " ")
    t = F.regexp_replace(t, r"(?s)<style.*?</style>", " ")
    t = F.regexp_replace(t, r"<[^>]+>", " ")
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'")]:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.replace(t, F.lit("&amp;"), F.lit("&"))
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return built.select(
        "doc_id",
        F.md5(t).alias("extract_md5"),
        (t == F.col("expected")).alias("ok"),
    )


@_q(
    "conversion_funnel_steps",
    """
    WITH stages AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS step_signup,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
    FROM stages
    """,
)
def conversion_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup -> first click after it ->
    first purchase after that): the match_recognize-style sequence
    analytic expressed as ONE conditional-min aggregate per user plus a
    stage-ordering predicate — a single combinable groupBy, no window,
    no self-join, no per-event state.  NULL stage times fall out of the
    ordering comparisons as SQL three-valued logic on BOTH sides."""
    ev = _read(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_signup"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count_if(s1).alias("step_signup"),
        F.count_if(s2).alias("step_click"),
        F.count_if(s3).alias("step_purchase"),
    )


@_q(
    "cohort_weekly_retention",
    """
    WITH firsts AS (
        SELECT user_id,
               CAST(floor(epoch(min(ts)) / 604800) AS BIGINT) AS cohort_w
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_w,
               CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_w
                   AS week_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_w, week_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM activity WHERE week_offset <= 8
    GROUP BY cohort_w, week_offset
    """,
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (the dataset-health analytic every
    corpus/usage dashboard leads with): users cohorted by first-seen
    epoch week, counted once per (cohort, week-offset) they were active
    in.  Shape: one tiny per-user first-seen aggregate broadcast back
    onto the events scan, distinct on (user, offset) with map-side
    partial, capped at 8 offsets.  Epoch-week arithmetic is exact
    integer division on both sides."""
    ev = _read(spark, sf_dir, "events")

    def week(c: str):
        return F.expr(f"unix_micros(CAST({c} AS TIMESTAMP)) div 604800000000")

    # floor is monotone, so min(week) == week(min ts) — one tiny agg
    firsts = ev.groupBy("user_id").agg(F.min(week("ts")).alias("cohort_w"))
    activity = (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_w",
            (week("ts") - F.col("cohort_w")).alias("week_offset"),
        )
        .where(F.col("week_offset") <= 8)
        .dropDuplicates(["user_id", "cohort_w", "week_offset"])
    )
    return activity.groupBy("cohort_w", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@_q(
    "script_lang_consistency",
    r"""
    WITH s AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]'))
                    AS BIGINT) AS n_cjk,
               CAST(len(regexp_extract_all(text, '[A-Za-z]'))
                    AS BIGINT) AS n_latin
        FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN (lang = 'zh'
                               AND n_cjk * 10 < n_cjk + n_latin)
                           OR (lang <> 'zh'
                               AND n_cjk * 2 > n_cjk + n_latin)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
    FROM s GROUP BY lang
    """,
)
def script_lang_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-language vs actual-script consistency (the metadata-lie
    detector: a 'zh' doc with no CJK characters, or a Latin-language doc
    that is mostly CJK, is mislabeled or corrupted — langid inputs and
    routing both depend on catching it).  Pure zero-shuffle regexp
    counting + one combinable aggregate; ratio thresholds expressed as
    INTEGER cross-multiplications (n_cjk*10 < total, n_cjk*2 > total)
    so no float division ever reaches the hash gate."""
    docs = _read(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    n_cjk = F.size(
        F.expr(r"regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0)")
    ).cast("long")
    n_latin = F.size(
        F.expr("regexp_extract_all(text, '[A-Za-z]', 0)")
    ).cast("long")
    s = docs.select(
        "lang", n_cjk.alias("n_cjk"), n_latin.alias("n_latin")
    )
    total = F.col("n_cjk") + F.col("n_latin")
    mismatch = (
        (F.col("lang") == "zh") & (F.col("n_cjk") * 10 < total)
    ) | ((F.col("lang") != "zh") & (F.col("n_cjk") * 2 > total))
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(mismatch).alias("n_mismatch"),
    )


# ===========================================================================
# round 5: SCD2 dimension build, deterministic reservoir sampling,
# agent-trace schema-on-read, cross-turn tool-call integrity
# ===========================================================================


@_q(
    "scd2_dimension_build",
    """
    WITH v AS (
        SELECT user_id, event_id, event_type,
               round(value, 2) AS attr_value,
               epoch_us(ts) AS valid_from_us,
               epoch_us(lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id))
                   AS valid_to_us,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS INT)
                   AS version
        FROM events
    )
    SELECT user_id, version, event_id, event_type, attr_value,
           valid_from_us,
           coalesce(valid_to_us, CAST(-1 AS BIGINT)) AS valid_to_us,
           valid_to_us IS NULL AS is_current
    FROM v
    """,
)
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a changelog: every event is
    an attribute update for its user; scd2_build (operators/temporal.py)
    assigns ``[valid_from, valid_to)`` validity with ``lead`` over the
    key — the keep-all-versions twin of cdc_latest_state.  ONE exchange
    on the key, per-key sort only (no global ordering); validity bounds
    cross the driver as epoch micros (-1 = open) so the hash is
    format-free."""
    from .operators.temporal import epoch_us, scd2_build

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.round("value", 2).alias("attr_value"),
        "ts",
    )
    dim = scd2_build(
        ev, key_cols=["user_id"], order_cols=["ts", "event_id"], ts_col="ts"
    )
    return dim.select(
        "user_id",
        "version",
        "event_id",
        "event_type",
        "attr_value",
        epoch_us("valid_from").alias("valid_from_us"),
        F.coalesce(
            epoch_us("valid_to"), F.lit(-1).cast("bigint")
        ).alias("valid_to_us"),
        "is_current",
    )


@_q(
    "reservoir_sample_stats",
    """
    WITH drawn AS (
        SELECT lang, n_chars
        FROM documents
        ORDER BY substr(md5(concat_ws(chr(31), '42',
                     CAST(doc_id AS VARCHAR))), 1, 8), doc_id
        LIMIT 100
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM drawn GROUP BY lang
    """,
)
def reservoir_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform sample via the bottom-k hash sketch
    (operators/sampling.py bottom_k_sample) — the distributed,
    rerun-stable equivalent of reservoir sampling: Vitter's Algorithm R
    is sequential state, the k-smallest-hash spelling commutes across
    partitions and plans as TakeOrderedAndProject (each task forwards
    only its local k).  Stats over the drawn sample per language."""
    docs = _read(spark, sf_dir, "documents")
    sample = SAMP.bottom_k_sample(docs, ["doc_id"], k=100)
    return sample.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_chars").alias("sum_chars"),
    )


_TRACE_LINE_SQL = """
    '{"conv":"C' || CAST(user_id AS VARCHAR)
    || '","step":' || CAST(event_id AS VARCHAR)
    || ',"action":{"tool":"' || event_type
    || '","latency_ms":' || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
    || '},"ok":' || CAST(value > 10.0 AS VARCHAR)
    || ',"props":' || props || '}'
"""


@_q(
    "jsonl_agent_trace_parse",
    f"""
    WITH lines AS (SELECT {_TRACE_LINE_SQL} AS line FROM events),
    parsed AS (
        SELECT json_extract_string(line, '$.action.tool') AS tool,
               CAST(json_extract(line, '$.action.latency_ms') AS BIGINT)
                   AS latency_ms,
               CAST(json_extract(line, '$.ok') AS BOOLEAN) AS ok,
               CAST(json_extract(line, '$.props.k') AS BIGINT) AS k
        FROM lines
    )
    SELECT tool,
           CAST(count(*) AS BIGINT) AS n_steps,
           count(*) FILTER (WHERE ok) AS n_ok,
           CAST(sum(latency_ms) AS BIGINT) AS sum_latency_ms,
           CAST(sum(k) AS BIGINT) AS sum_k
    FROM parsed GROUP BY tool
    """,
)
def jsonl_agent_trace_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL agent-trace ingest (schema-on-read): trace lines are built
    byte-identically on both sides (concat, nested object, raw-JSON
    embed of the ``props`` column), then Spark parses with ONE
    ``from_json`` into a typed struct and aggregates — the exact ingest
    shape of an agent-log lake where the lake holds strings and the
    schema lives in the reader.  Zero-shuffle until the final combinable
    groupBy; from_json stays in codegen (no Python)."""
    ev = _read(spark, sf_dir, "events")
    line = F.concat(
        F.lit('{"conv":"C'),
        F.col("user_id").cast("string"),
        F.lit('","step":'),
        F.col("event_id").cast("string"),
        F.lit(',"action":{"tool":"'),
        F.col("event_type"),
        F.lit('","latency_ms":'),
        F.round(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit('},"ok":'),
        (F.col("value") > 10.0).cast("string"),
        F.lit(',"props":'),
        F.col("props"),
        F.lit("}"),
    )
    schema = (
        "conv string, step bigint, "
        "action struct<tool:string, latency_ms:bigint>, "
        "ok boolean, props struct<k:bigint>"
    )
    parsed = ev.select(
        F.from_json(line, schema).alias("t")
    ).select(
        F.col("t.action.tool").alias("tool"),
        F.col("t.action.latency_ms").alias("latency_ms"),
        F.col("t.ok").alias("ok"),
        F.col("t.props.k").alias("k"),
    )
    return parsed.groupBy("tool").agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.count_if("ok").alias("n_ok"),
        F.sum("latency_ms").alias("sum_latency_ms"),
        F.sum("k").alias("sum_k"),
    )


_ROLE_SQL = """
    CASE event_type WHEN 'click' THEN 'user' WHEN 'signup' THEN 'user'
         WHEN 'view' THEN 'assistant' WHEN 'purchase' THEN 'assistant'
         WHEN 'error' THEN 'tool' END
"""

_TOOL_SQL = """
    CASE WHEN event_type = 'error' THEN
              CASE WHEN value >= 8.0 THEN 'search'
                   WHEN value >= 4.0 THEN 'code' END
         WHEN event_type = 'purchase' AND value > 45.0 THEN 'browser'
    END
"""


@_q(
    "tool_call_integrity",
    f"""
    WITH turns AS (
        SELECT user_id, {_ROLE_SQL} AS role, {_TOOL_SQL} AS tool,
               ts, event_id
        FROM events
    ), flagged AS (
        SELECT role, tool,
               lag(role) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_role
        FROM turns
    )
    SELECT role,
           CAST(count(*) AS BIGINT) AS n_turns,
           count(*) FILTER (WHERE role = 'tool' AND tool IS NULL)
               AS n_missing_name,
           count(*) FILTER (WHERE role <> 'tool' AND tool IS NOT NULL)
               AS n_wrong_role,
           count(*) FILTER (WHERE role = 'tool' AND
                  (prev_role IS NULL OR prev_role <> 'assistant'))
               AS n_no_request
    FROM flagged GROUP BY role
    """,
)
def tool_call_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-turn tool-call protocol integrity (the north-star
    "role/tool consistency" heuristic's ordered half): tool turns must
    carry a tool name, non-tool turns must not, and every tool result
    must directly answer an assistant call — flagged per turn by
    tool_call_integrity_flags (operators/windows.py) over ONE
    conversation-keyed window, then a combinable per-role rollup.  The
    conversation frame is derived deterministically from the events
    table so the oracle is plain SQL over a shared view."""
    from .operators.windows import tool_call_integrity_flags

    ev = _read(spark, sf_dir, "events")
    role = (
        F.when(F.col("event_type").isin("click", "signup"), "user")
        .when(F.col("event_type").isin("view", "purchase"), "assistant")
        .when(F.col("event_type") == "error", "tool")
    )
    tool = F.when(
        F.col("event_type") == "error",
        F.when(F.col("value") >= 8.0, "search").when(
            F.col("value") >= 4.0, "code"
        ),
    ).when(
        (F.col("event_type") == "purchase") & (F.col("value") > 45.0),
        "browser",
    )
    turns = ev.select(
        F.col("user_id"),
        role.alias("role"),
        tool.alias("tool"),
        "ts",
        "event_id",
    )
    flagged = tool_call_integrity_flags(
        turns,
        conv_col="user_id",
        order_cols=["ts", "event_id"],
    )
    return flagged.groupBy("role").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count_if("tool_missing_name").alias("n_missing_name"),
        F.count_if("tool_on_wrong_role").alias("n_wrong_role"),
        F.count_if("tool_no_request").alias("n_no_request"),
    )


_META_SQL = """
    CASE doc_id % 5
      WHEN 0 THEN '<meta name="robots" content="noindex, nofollow">'
      WHEN 1 THEN '<meta name="robots" content="noindex">'
      WHEN 2 THEN '<meta name="robots" content="nofollow, noarchive">'
      WHEN 3 THEN '<meta name="ROBOTS" content="ALL">'
      ELSE ''
    END
"""


@_q(
    "robots_meta_compliance",
    f"""
    WITH built AS (
        SELECT doc_id,
               '<html><head><title>T</title>' || {_META_SQL}
               || '</head><body><p>robots noindex mentioned in prose</p>'
               || '</body></html>' AS html
        FROM documents
    ), parsed AS (
        SELECT doc_id,
               lower(regexp_extract(
                   regexp_extract(html, '(?s)<head>(.*?)</head>', 1),
                   '(?is)<meta\\s+name="robots"\\s+content="([^"]*)"', 1))
                   AS robots_content
        FROM built
    ), flags AS (
        SELECT doc_id, robots_content,
               NOT (regexp_matches(robots_content,
                        '(^|[,\\s])noindex([,\\s]|$)')
                    OR regexp_matches(robots_content,
                        '(^|[,\\s])none([,\\s]|$)')) AS indexable,
               NOT (regexp_matches(robots_content,
                        '(^|[,\\s])nofollow([,\\s]|$)')
                    OR regexp_matches(robots_content,
                        '(^|[,\\s])none([,\\s]|$)')) AS followable,
               NOT (regexp_matches(robots_content,
                        '(^|[,\\s])noarchive([,\\s]|$)')
                    OR regexp_matches(robots_content,
                        '(^|[,\\s])none([,\\s]|$)')) AS archivable
        FROM parsed
    )
    SELECT robots_content,
           CAST(count(*) AS BIGINT) AS n_docs,
           count(*) FILTER (WHERE indexable) AS n_indexable,
           count(*) FILTER (WHERE followable) AS n_followable,
           count(*) FILTER (WHERE archivable) AS n_archivable
    FROM flags GROUP BY robots_content
    """,
)
def robots_meta_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-exclusion compliance over crawled pages:
    robots_meta_directives (functions/webfilters.py) parses the
    page-level ``<meta name="robots">`` (head-scoped — a directive
    quoted in body prose is content, not policy; tag + tokens
    case-insensitive; ``none`` ≡ noindex+nofollow) and derives the three
    verdicts a corpus builder must honor before a page may enter the
    index / seed the frontier / be cached.  Pure Catalyst regexp scan +
    one combinable rollup."""
    from .functions.webfilters import robots_meta_directives

    docs = _read(spark, sf_dir, "documents")
    meta = (
        F.when(
            F.col("doc_id") % 5 == 0,
            '<meta name="robots" content="noindex, nofollow">',
        )
        .when(
            F.col("doc_id") % 5 == 1,
            '<meta name="robots" content="noindex">',
        )
        .when(
            F.col("doc_id") % 5 == 2,
            '<meta name="robots" content="nofollow, noarchive">',
        )
        .when(F.col("doc_id") % 5 == 3, '<meta name="ROBOTS" content="ALL">')
        .otherwise("")
    )
    built = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>T</title>"),
            meta,
            F.lit(
                "</head><body><p>robots noindex mentioned in prose</p>"
                "</body></html>"
            ),
        ).alias("html"),
    )
    flags = robots_meta_directives(built)
    return flags.groupBy("robots_content").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if("indexable").alias("n_indexable"),
        F.count_if("followable").alias("n_followable"),
        F.count_if("archivable").alias("n_archivable"),
    )


@_q(
    "dom_boilerplate_ratio",
    """
    WITH built AS (
        SELECT doc_id,
               '<nav>' || repeat('Home About Contact ', doc_id % 7 + 1)
               || '</nav><article>' || coalesce(text, '')
               || '</article><footer>'
               || repeat('Copyright Legal Privacy ', doc_id % 3 + 1)
               || '</footer>' AS html
        FROM documents
    ), lens AS (
        SELECT doc_id,
               len(regexp_extract(html, '(?s)<nav>(.*?)</nav>', 1))
               + len(regexp_extract(html, '(?s)<footer>(.*?)</footer>', 1))
                   AS boiler_chars,
               len(regexp_extract(html, '(?s)<article>(.*?)</article>', 1))
                   AS content_chars
        FROM built
    )
    SELECT CAST(boiler_chars * 10 // (boiler_chars + content_chars) AS INT)
               AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(boiler_chars) AS BIGINT) AS sum_boiler,
           CAST(sum(content_chars) AS BIGINT) AS sum_content
    FROM lens
    WHERE boiler_chars + content_chars > 0
    GROUP BY decile
    """,
)
def dom_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-density profile (the readability/jusText signal that
    feeds main-content extraction): chars inside chrome containers
    (nav/footer) vs the article body, bucketed into integer-exact
    deciles (``(b*10) div total`` — no float boundary wobble).
    Zero-shuffle Catalyst regexp scan + one combinable rollup; at crawl
    scale this is the pre-extraction quality gate that drops
    chrome-dominated pages before the heavy extractor runs."""
    docs = _read(spark, sf_dir, "documents")
    built = docs.select(
        "doc_id",
        F.concat(
            F.lit("<nav>"),
            F.repeat(F.lit("Home About Contact "), F.col("doc_id") % 7 + 1),
            F.lit("</nav><article>"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("</article><footer>"),
            F.repeat(
                F.lit("Copyright Legal Privacy "), F.col("doc_id") % 3 + 1
            ),
            F.lit("</footer>"),
        ).alias("html"),
    )
    lens = built.select(
        "doc_id",
        (
            F.length(F.regexp_extract("html", r"(?s)<nav>(.*?)</nav>", 1))
            + F.length(
                F.regexp_extract("html", r"(?s)<footer>(.*?)</footer>", 1)
            )
        ).alias("boiler_chars"),
        F.length(
            F.regexp_extract("html", r"(?s)<article>(.*?)</article>", 1)
        ).alias("content_chars"),
    )
    total = F.col("boiler_chars") + F.col("content_chars")
    return (
        lens.where(total > 0)
        .select(
            F.expr("CAST(boiler_chars * 10 div "
                   "(boiler_chars + content_chars) AS INT)").alias("decile"),
            "boiler_chars",
            "content_chars",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("boiler_chars").cast("bigint").alias("sum_boiler"),
            F.sum("content_chars").cast("bigint").alias("sum_content"),
        )
    )


@_q(
    "shingle_containment_pairs",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    posts AS (SELECT doc_id, len(s) AS sz, unnest(s) AS shingle
              FROM sh WHERE len(s) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(count(*) / CAST(any_value(a.sz) AS DOUBLE), 6)
               AS containment_a_in_b,
           round(count(*) / CAST(any_value(b.sz) AS DOUBLE), 6)
               AS containment_b_in_a
    FROM posts a JOIN posts b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING round(count(*) / CAST(any_value(a.sz) AS DOUBLE), 6) >= 0.9
        OR round(count(*) / CAST(any_value(b.sz) AS DOUBLE), 6) >= 0.9
    """,
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (Broder's resemblance/containment
    pair): a short document quoted inside a long one has near-1
    containment but arbitrarily low Jaccard, so the Jaccard-only pass
    keeps both copies.  Same capped-blocking + exact-reverify plan as
    ngram_jaccard_dups (operators/dedup.py _shingle_pair_stats); oracle
    is the uncapped all-pairs SQL."""
    df = _fan_out(_read(spark, sf_dir, "documents"))
    return D.shingle_containment_pairs(
        df, k=3, threshold=0.9, max_block=1000
    )


@_q(
    "edit_distance_neardups",
    f"""
    WITH norm AS (
        SELECT doc_id, lang, substr({_NORM_SQL}, 1, 120) AS t
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.t, b.t) AS INT) AS distance
    FROM norm a JOIN norm b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(len(a.t) - len(b.t)) <= 15
    WHERE levenshtein(a.t, b.t) <= 15
    """,
)
def edit_distance_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dups within 15 edits on the normalized
    120-char prefix, language-blocked: edit distance is bounded below by
    the length difference, so ``len div d`` bucketing is a LOSSLESS
    blocker (each left row probes its own and the next bucket); the
    refilter is Spark's thresholded ``levenshtein(a, b, d)`` — banded
    O(d·n) DP — after candidate dedup (operators/dedup.py
    edit_distance_neardup_pairs).  Oracle = the naive quadratic join
    DuckDB can afford at sf0.01."""
    df = _fan_out(_read(spark, sf_dir, "documents"))
    return D.edit_distance_neardup_pairs(
        df,
        max_distance=15,
        prefix_chars=120,
        block_cols=("lang",),
    )


@_q(
    "iceberg_snapshot_reads",
    """
    SELECT 1 AS snapshot_id, 'append' AS operation,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 2, 'append', CAST(count(*) AS BIGINT),
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    UNION ALL
    SELECT 3, 'overwrite', CAST(count(*) AS BIGINT),
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey % 3 = 2
    """,
)
def iceberg_snapshot_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel (the Iceberg read semantics the
    north_rule's table layer requires, via sources/snapshots.py — the
    jar-free twin of sources/iceberg.py): two append commits then an
    overwrite commit, each snapshot read back AS OF its id.  Snapshot 2
    still sees both appends after the overwrite flipped the current file
    set; metadata is O(#files) and the reader scans exactly the
    snapshot's file list (dead files invisible to planning).  Oracle =
    the three file-set definitions recomputed from the source table."""
    import tempfile

    from .sources.snapshots import SnapshotTable

    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="dcs_snap_"))
    t.append(orders.where(F.col("o_orderkey") % 3 == 0))
    t.append(orders.where(F.col("o_orderkey") % 3 == 1))
    t.overwrite(orders.where(F.col("o_orderkey") % 3 == 2))
    parts = []
    for sid, op in [(1, "append"), (2, "append"), (3, "overwrite")]:
        parts.append(
            t.read(sid)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(
                F.lit(sid).alias("snapshot_id"),
                F.lit(op).alias("operation"),
                "n_rows",
                "sum_cents",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _rate_limited_sink_oracle() -> str:
    from .golden import rate_limited_sink_golden_sql

    return rate_limited_sink_golden_sql(n_convs=80, cap=120, n_groups=4)


@_q("streaming_rate_limited_sink", _rate_limited_sink_oracle)
def streaming_rate_limited_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sink-side rate limiting (streaming/quality_stream.py
    rate_limited_sink): the fixture is written group-partitioned
    (pmod(xxhash64(conv_id), 4), one file per group) and streamed back
    with maxFilesPerTrigger=1 so each micro-batch is exactly one group;
    the foreachBatch sink admits the 120 lowest-(conv_id, turn_idx)
    rows per batch and spills the overflow to a durable deferred
    output — explicit, auditable backpressure for a quota-bound
    downstream.  Output: per-group admitted/deferred tallies plus a
    which-rows checksum; oracle = the pure-Python sequential replay
    (bit-exact xxhash64 twin in hashing.py)."""
    import tempfile

    from .fixtures import generate_transcripts_df
    from .streaming.quality_stream import rate_limited_sink

    base = tempfile.mkdtemp(prefix="dcs_ratelim_")
    inp, out = f"{base}/in", f"{base}/out"
    fixture = generate_transcripts_df(spark, n_convs=80).withColumn(
        "grp", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")
    )
    fixture.repartition("grp").write.partitionBy("grp").parquet(inp)
    schema = spark.read.parquet(inp).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    q = (
        rate_limited_sink(
            stream.select("conv_id", "turn_idx", "grp"),
            out,
            cap=120,
            checkpoint=f"{base}/cp",
        )
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("rate-limited sink did not finish in 300 s")
    cols = "conv_id string, turn_idx int, grp int"
    written = spark.read.schema(cols).parquet(f"{out}/written")
    deferred = spark.read.schema(cols).parquet(f"{out}/deferred")
    w = written.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_written"),
        F.sum("turn_idx").alias("sum_turn_written"),
    )
    d = deferred.groupBy("grp").agg(F.count(F.lit(1)).alias("n_deferred"))
    return (
        w.join(d, "grp", "left")
        .select(
            "grp",
            "n_written",
            F.coalesce("n_deferred", F.lit(0).cast("bigint")).alias(
                "n_deferred"
            ),
            "sum_turn_written",
        )
    )


# ===========================================================================
# round 5 batch 2: multi-level aggregation surfaces (rollup / pivot),
# behavior-sequence dedup, distribution drift
# ===========================================================================


@_q(
    "rollup_source_lang_counts",
    """
    SELECT coalesce(source, '(all)') AS source,
           coalesce(lang, '(all)') AS lang,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY ROLLUP(source, lang)
    """,
)
def rollup_source_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotal aggregation (ROLLUP) — corpus accounting at
    every level (per source+lang, per source, grand total) in ONE pass:
    Spark expands the grouping sets map-side, so the shuffle carries one
    partial per (set, key) and the plan stays a single combinable
    aggregate — vs the 3-scan UNION a naive report runs.  grouping_id
    disambiguates real NULL keys from subtotal rows."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.rollup("source", "lang")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "gid",
            "n_docs",
            "sum_chars",
        )
    )


_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


@_q(
    "pivot_lang_by_source",
    f"""
    SELECT source,
           {", ".join(
               f"count(*) FILTER (WHERE lang = '{lg}') AS n_{lg}"
               for lg in _PIVOT_LANGS
           )}
    FROM documents GROUP BY source
    """,
)
def pivot_lang_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide) over an EXPLICIT value list, compiled to
    conditional aggregation: ONE combinable aggregate whose map-side
    partials hold |values| counters per key — one exchange total — the
    corpus-composition matrix (source × language) at any scale.

    Native ``.pivot(col, values)`` is NOT this plan even with the
    domain declared: Spark first aggregates on (key, pivot) then runs a
    second PivotFirst aggregate on key — two exchanges, the wider one
    keyed on the full (key, pivot) combination.  ``count(CASE WHEN ..)``
    per declared value is the single-exchange form (and what the SQL
    ``FILTER`` oracle spells).  An unlisted-domain pivot would
    additionally scan for distinct values first; never do that at
    100 TB."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        *[
            F.count(F.when(F.col("lang") == lg, 1)).alias(f"n_{lg}")
            for lg in _PIVOT_LANGS
        ]
    )


@_q(
    "behavior_sequence_dups",
    """
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), seq AS (
        SELECT user_id,
               md5(string_agg(event_type, '|' ORDER BY rn)
                   FILTER (WHERE rn <= 4)) AS fingerprint
        FROM ranked GROUP BY user_id
    )
    SELECT fingerprint,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(user_id) AS BIGINT) AS rep_user
    FROM seq GROUP BY fingerprint HAVING count(*) > 1
    """,
)
def behavior_sequence_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opening-sequence dedup: conversations whose first 4 ordered
    events are identical — the transcript-native canned-opening /
    bot-replay detector (full-sequence equality is the degenerate
    prefix=∞ case of the same plan).  The per-key prefix folds to ONE
    md5 inside the aggregate (slice(array_sort(collect_list(struct)))
    -> join -> hash), so only 16-byte fingerprints reach the
    dup-grouping shuffle; the collect_list bound is the per-conversation
    turn count, and an order-free incremental hash swaps in where
    single conversations exceed task memory."""
    ev = _read(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        1,
                        4,
                    ),
                    lambda s: s["event_type"],
                ),
                "|",
            )
        ).alias("fingerprint"),
    )
    return (
        seq.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("user_id").alias("rep_user"),
        )
        .where(F.col("n_users") > 1)
    )


@_q(
    "quality_drift_psi",
    """
    WITH bucketed AS (
        SELECT CAST(least(n_chars // 100, 5) AS INT) AS bucket,
               doc_id % 2 = 0 AS is_ref
        FROM documents
    ), counts AS (
        SELECT bucket,
               count(*) FILTER (WHERE is_ref) AS n_ref,
               count(*) FILTER (WHERE NOT is_ref) AS n_new
        FROM bucketed GROUP BY bucket
    ), tot AS (
        SELECT sum(n_ref) AS t_ref, sum(n_new) AS t_new FROM counts
    )
    SELECT bucket,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_new AS BIGINT) AS n_new,
           round((n_new / t.t_new - n_ref / t.t_ref)
                 * ln((n_new / t.t_new) / (n_ref / t.t_ref)), 4)
               AS psi_term
    FROM counts, tot t
    WHERE n_ref > 0 AND n_new > 0
    """,
)
def quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two corpus snapshots (population
    stability index over length buckets — the monitoring gate that
    catches a silently-shifted ingest before it trains): reference =
    even doc_ids, candidate = odd.  TWO tiny combinable aggregates and a
    broadcast of the 2-row totals; per-bucket PSI terms (rounded) so the
    alert threshold composes downstream.  Zero-count buckets are
    excluded (standard PSI practice is epsilon-smoothing; exclusion
    keeps the oracle exact)."""
    docs = _read(spark, sf_dir, "documents")
    bucketed = docs.select(
        F.least(F.expr("n_chars div 100"), F.lit(5))
        .cast("int")
        .alias("bucket"),
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count_if("is_ref").alias("n_ref"),
        F.count_if(~F.col("is_ref")).alias("n_new"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_new").alias("t_new")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p_new = F.col("n_new") / F.col("t_new")
    p_ref = F.col("n_ref") / F.col("t_ref")
    return (
        j.where((F.col("n_ref") > 0) & (F.col("n_new") > 0))
        .select(
            "bucket",
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_new").cast("bigint").alias("n_new"),
            F.round((p_new - p_ref) * F.log(p_new / p_ref), 4).alias(
                "psi_term"
            ),
        )
    )


# ===========================================================================
# round 5 batch 3: CUBE grouping sets + exact deterministic stratified
# sampling (registered below the round-5 driver cap — see _DRIVER_PRIORITY)
# ===========================================================================


@_q(
    "cube_source_lang_matrix",
    """
    SELECT coalesce(source, '(all)') AS source,
           coalesce(lang, '(all)') AS lang,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY CUBE(source, lang)
    """,
)
def cube_source_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cross-tab accounting (CUBE) — every marginal of the
    (source, lang) matrix in ONE pass: per-cell, per-source, per-lang,
    and grand total.  Same single-exchange Expand plan as ROLLUP
    (grouping sets expand map-side; one combinable aggregate), but CUBE
    adds the column marginals ROLLUP's hierarchy drops — the view a
    corpus-mix dashboard reads.  grouping_id (source=MSB) disambiguates
    real NULL keys from subtotal rows."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "gid",
            "n_docs",
            "sum_chars",
        )
    )


@_q(
    "stratified_sample_exact",
    """
    SELECT source, doc_id, lang, n_chars, rank FROM (
        SELECT source, doc_id, lang, n_chars,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)),
                            doc_id
               ) AS INT) AS rank
        FROM documents
    )
    WHERE rank <= 5
    """,
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified sampling: precisely k docs per stratum, chosen
    by a content-derived hash order (md5 over a salted doc_id) — unlike
    ``df.sampleBy``, whose Bernoulli draw only hits the target count in
    expectation and varies with partitioning.  The hash IS the sampling
    randomness: uniform, deterministic, cluster-size invariant, and
    reproducible by any engine (the oracle spells the identical md5), so
    audits can re-derive the sample without the original run.  Executes
    as the salted two-phase grouped top-k (operators/topk.py) — a hot
    stratum spreads over 16 reducers in phase 1, the final shuffle
    carries ~strata×16×k rows, never the corpus."""
    from .operators.topk import grouped_topk

    docs = _read(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))).alias(
            "__key"
        ),
    )
    return grouped_topk(
        docs,
        ["source"],
        "__key",
        5,
        tiebreak_cols=["doc_id"],
        descending=False,
    ).select("source", "doc_id", "lang", "n_chars", "rank")


_DRIVER_PRIORITY = [
    # ---- round-5 cap (50): the 8 queries never in ANY driver artifact
    # (union r1-r4) run FIRST — VERDICT r4 next-steps item #3
    "script_lang_consistency",
    "l_diversity_violations",
    "write_omit_projection",
    "metadata_schema_import",
    "csv_read_modes",
    "schema_evolution_merge",
    "length_quantiles_by_lang",
    "rolling_user_activity",
    # new this round (round 5)
    "protobuf_schema_import",
    "iceberg_snapshot_reads",
    "scd2_dimension_build",
    "skewed_join_aqe_counts",
    "reservoir_sample_stats",
    "shingle_containment_pairs",
    "robots_meta_compliance",
    "dom_boilerplate_ratio",
    "edit_distance_neardups",
    "jsonl_agent_trace_parse",
    "tool_call_integrity",
    "streaming_rate_limited_sink",
    # behavior changed THIS round (NULL-semantics fixes + classifier
    # sparse gradient path + streaming neardup state expiry): re-check
    # outranks staleness
    "spearman_length_tokens",
    "asof_last_click",
    "quality_classifier_scores",
    "streaming_neardup_dedup",
    # one slack slot under the 50-cap (8 never-checked + 12 new + 4
    # behavior-changed + 25 r02-stale = 49): promote the most
    # behavior-rich r03-stale query
    "bpe_token_counts",
    # last driver row is r02 (3 rounds stale) — all 25 re-enter the cap
    "doc_quality_filter",
    "transcript_quality_filter",
    "ngram_jaccard_dups",
    "minhash_lsh_dups",
    "simhash_dups",
    "drop_exact_dups_count",
    "embedding_topk",
    "embedding_neardup_exact",
    "lsh_knn_embeddings",
    "ivf_knn_embeddings",
    "langid_documents",
    "perplexity_documents",
    "generate_seeded_table",
    "generate_regex_fields",
    "generate_fk_consistent_tables",
    "generation_processor_invariants",
    "media_real_image_features",
    "media_real_audio_features",
    "media_video_frame_stats",
    "media_image_features",
    "media_resize_features",
    "embedding_norms",
    "generate_typed_invariants",
    "set_ops_orphan_keys",
    "set_ops_shared_keys_count",
    # ---- the 50-cap ends just above.  Round-5 LATE additions
    # (cube_source_lang_matrix, stratified_sample_exact) are registered
    # after the cap was frozen and sit below it deliberately: they ship
    # driver-unchecked this round but value-hash-verified by the full
    # driver_sim sweep at sf0.01 and the pytest oracle gate at sf0.001.
    # Below: last driver row r03 —
    # after this round every such query is exactly 2 rounds stale, the
    # rotation's documented bound; all are re-verified every round by
    # the full driver_sim sweep and the sf0.001 pytest gate.  Behavior-
    # rich pipelines first so any cap slack reaches them before the
    # golden-replayed generator/codec entries at the tail.
    "semantic_dedup_drops",
    "winnowing_overlap",
    "pretrain_packing_bins",
    "plan_run_end_to_end",
    "rule_violation_counts",
    "rule_keep_per_row",
    "q1_pricing_summary",
    "q3_top_revenue",
    "window_turn_order",
    "events_sessionize",
    "scrub_documents",
    "streaming_quality_turns",
    "upstream_join_validation",
    "column_profile",
]


def _prioritize_driver_order() -> None:
    ordered = {n: QUERIES[n] for n in _DRIVER_PRIORITY if n in QUERIES}
    for n, fn in QUERIES.items():
        ordered.setdefault(n, fn)
    QUERIES.clear()
    QUERIES.update(ordered)


_prioritize_driver_order()
