"""Skew-mitigation query surface: the salted-join and widened-shuffle
operators (operators/skew.py) under oracle gates.

The oracles are the PLAIN formulations (ordinary join / COUNT DISTINCT):
the point of the gate is that the skew-safe physical shape is
semantically invisible — identical rows, identical values — while its
shuffle routing survives a Zipf-hot key that would stall the plain plan's
single reducer at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stripe_sync_engine_spark.operators.export import _shard_col, shard_sql
from stripe_sync_engine_spark.operators.skew import salted_join, two_level_count_distinct
from stripe_sync_engine_spark.plans.analytics import SQL_REVENUE_EXPR, as_double, revenue_expr
from stripe_sync_engine_spark.plans.registry import register
from stripe_sync_engine_spark.session import local_frame
from stripe_sync_engine_spark.tables import load_table

N_SALT = 8


@register(
    "q26_count_distinct_skew",
    oracle="""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
    """,
    operators="A4,TDP-skew",
)
def q26_count_distinct_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type — 5 hot key values over the
    whole table, the classic skewed distinct. Routed through the widened
    first shuffle (dedupe on (event_type, user_id)) so no reducer owns a
    whole event_type."""
    events = load_table(spark, sf_dir, "events")
    return two_level_count_distinct(events, "event_type", "user_id", alias="n_users")


@register(
    "q27_salted_join",
    oracle=f"""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_items,
               CAST(SUM({SQL_REVENUE_EXPR}) AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    operators="J6,TDP-skew",
)
def q27_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim revenue rollup through ``salted_join``: lineitem rows
    salt on (orderkey, linenumber) — varying within each join key — and
    orders replicate 8×, so a pathological hot orderkey would spread over
    8 reducers. The oracle is the ordinary join: the salt must not change
    a single output value."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        on="o_orderkey",
        salt_on=F.concat_ws("|", F.col("o_orderkey"), F.col("l_linenumber")),
        n_salt=N_SALT,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"), as_double(F.sum(revenue_expr())).alias("revenue")
    )


@register(
    "q28_hll_distinct",
    oracle=None,  # sketch estimates are engine-specific: Spark's Datasketches
    # HLL and DuckDB's HLL disagree by design, so there is no value oracle.
    # The driver records a rows-only check; the ACCURACY gate is
    # tests/test_operators.py::test_hll_estimate_within_bound (±5% of the
    # exact count from q26, which IS value-oracled).
    operators="A4,TDP-sketch",
)
def q28_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event_type via an HLL sketch
    aggregation (Datasketches under Spark's hll_sketch_agg). The sketch is
    the 100 TB path q26's exact rewrite trades off against: fixed ~KB state
    per key regardless of cardinality, map-side combinable, and sketches
    are MERGEABLE — partial sketches from per-partition / per-day runs
    union losslessly (hll_union_agg), which exact distinct cannot do
    without re-scanning."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg(F.col("user_id").cast("string"))).alias(
                "n_users_approx"
            )
        )
    )


@register(
    "q31_table_profile",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               COUNT(o_custkey) AS nn_custkey,
               COUNT(DISTINCT o_custkey) AS nd_custkey,
               MIN(o_custkey) AS min_custkey,
               MAX(o_custkey) AS max_custkey,
               COUNT(o_orderstatus) AS nn_status,
               COUNT(DISTINCT o_orderstatus) AS nd_status,
               CAST(MIN(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS min_price,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS max_price,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders
    """,
    operators="A4,TDP-profile",
)
def q31_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiling in ONE scan: row count, per-column null-aware
    counts, exact distincts, min/max, and a decimal-exact sum, all as
    parallel aggregates of a single pass (Spark plans the multiple
    DISTINCT aggregates with one Expand — still one scan of the table).
    The profile every curation pipeline runs before training; at 100 TB
    the exact distincts swap for q28's HLL sketches column-wise."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("nn_custkey"),
        F.count_distinct(F.col("o_custkey")).alias("nd_custkey"),
        F.min("o_custkey").alias("min_custkey"),
        F.max("o_custkey").alias("max_custkey"),
        F.count("o_orderstatus").alias("nn_status"),
        F.count_distinct(F.col("o_orderstatus")).alias("nd_status"),
        as_double(F.min(F.col("o_totalprice").cast("decimal(18,4)"))).alias("min_price"),
        as_double(F.max(F.col("o_totalprice").cast("decimal(18,4)"))).alias("max_price"),
        as_double(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))).alias("sum_price"),
    )


SAMPLE_PCT = 20  # default keep-rate: id-hash bucket (0..99) below this

# Stratified mixture weights — per-source keep-rates, the way training
# mixes are rebalanced (upsample rare high-value strata, downsample bulk
# telemetry). Strata absent from the map fall back to SAMPLE_PCT.
MIXTURE_PCT = {"purchase": 80, "signup": 50, "click": 10, "view": 10}


@register(
    "q32_deterministic_sample",
    oracle=f"""
        WITH weights(event_type, pct) AS (
            VALUES {", ".join(f"('{k}', {v})" for k, v in sorted(MIXTURE_PCT.items()))}
        )
        SELECT e.event_id, e.event_type, e.user_id
        FROM events e LEFT JOIN weights w USING (event_type)
        WHERE {shard_sql("CAST(e.event_id AS VARCHAR)", 100)}
              < COALESCE(w.pct, {SAMPLE_PCT})
    """,
    operators="P2,TDP-sample,TDP-mixture",
)
def q32_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified mixture sample: keep rows whose md5(id)
    bucket (0..99) falls below their stratum's keep-rate — per-source
    mixture weighting (MIXTURE_PCT, default SAMPLE_PCT) the way training
    corpora are rebalanced. Unlike ``df.sample()`` (seeded per-partition
    RNG — resplitting the input changes the sample), the hash sample is a
    pure row predicate: reproducible across runs, cluster layouts, and
    engines, and membership is stable under weight changes (raising a
    stratum's rate strictly grows its sample — buckets nest). The weights
    ride a BROADCAST dim join (the production shape for a weights table
    maintained outside the code), so the plan stays a map-side filter —
    no shuffle on the 100 TB fact side."""
    events = load_table(spark, sf_dir, "events")
    weights = local_frame(spark, sorted(MIXTURE_PCT.items()), "event_type string, pct int")
    bucket = _shard_col("event_id", 100)
    return (
        events.join(F.broadcast(weights), "event_type", "left")
        .where(bucket < F.coalesce(F.col("pct"), F.lit(SAMPLE_PCT)))
        .select("event_id", "event_type", "user_id")
    )
