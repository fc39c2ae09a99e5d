"""Aggregation operators (SURVEY.md §2.4).

All aggregations are expressed declaratively so Spark plans them as
partial (map-side) + final hash aggregates automatically — at 100 TB the
partial agg is what keeps the shuffle small (bytes shuffled scale with
group cardinality, not input rows).

Floating-point note: double sums are not associative, and Spark and the
DuckDB oracle reduce in different orders. Every money/measure aggregate
is therefore rounded at 6dp — true decimal precision of the inputs is <=4dp, so 6dp rounding is an identity on the true value and only scrubs float-order noise (2dp rounding hit decimal-tie divergence: Spark rounds the shortest string repr HALF_UP, DuckDB rounds the raw double) in BOTH the Spark
query and the oracle SQL, which makes the value-hash comparison stable
without weakening it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..shared import shared
from ..tables import load


@query(
    "q_agg_group",
    oracle="""
        SELECT
            l_returnflag,
            l_linestatus,
            sum(l_quantity)                                                  AS sum_qty,
            CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 AS DOUBLE) / 100.0                                          AS sum_base_price,
            CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                     * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                 AS DOUBLE) / 10000.0                                        AS sum_disc_price,
            CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                     * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                     * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT)))
                 AS DOUBLE) / 1000000.0                                      AS sum_charge,
            sum(l_quantity) / count(*)                                       AS avg_qty,
            CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 AS DOUBLE) / 100.0 / count(*)                               AS avg_price,
            CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                 AS DOUBLE) / 100.0 / count(*)                               AS avg_disc,
            count(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    description="Flagship TPC-H Q1 pricing summary: filter -> hash agg -> 8 aggregates",
    tags=("agg", "flagship"),
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan, sargable filter (pushed to parquet), grouped
    aggregation with map-side combine. The workhorse OLAP pattern.

    Determinism contract (round 10): the money sums accumulate EXACT
    integer units — per-row floor-scaled cents for price, percent
    points for discount/tax, their integer products for the disc/charge
    terms — so every sum is order-INDEPENDENT (no float summation-order
    noise across partitionings, retries, or engines), and the reported
    doubles divide those exact integers back with an identical op
    sequence on both sides. Quantity is integer-valued, so its double
    sum is already exact. No round() anywhere: rounding identical
    doubles is the one step Spark (shortest-decimal HALF_UP) and
    DuckDB (raw binary) can still disagree on; dividing identical
    integers cannot. This is also the 100 TB-correct posture: results
    are bit-stable under AQE re-partitioning and task retries. At
    extreme scale the charge term's 1e-6-unit BIGINT bounds ~9e18, i.e.
    ~1e12 rows at these magnitudes — beyond that the production answer
    is DECIMAL(38,6) (q_agg_decimal_exact's regime).
    """
    li = load(spark, sf_dir, "lineitem")
    price_c = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc_c = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    tax_c = F.floor(F.col("l_tax") * 100 + F.lit(0.5)).cast("long")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(price_c).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(price_c * (100 - disc_c)).cast("double") / 10000.0).alias(
                "sum_disc_price"
            ),
            (
                F.sum(price_c * (100 - disc_c) * (100 + tax_c)).cast("double")
                / 1000000.0
            ).alias("sum_charge"),
            (F.sum("l_quantity") / n).alias("avg_qty"),
            (F.sum(price_c).cast("double") / 100.0 / n).alias("avg_price"),
            (F.sum(disc_c).cast("double") / 100.0 / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q_agg_global",
    oracle="""
        SELECT count(*)                         AS n_rows,
               round(sum(l_quantity), 6)        AS total_qty,
               round(avg(l_extendedprice), 6)   AS avg_price,
               round(min(l_extendedprice), 6)   AS min_price,
               round(max(l_extendedprice), 6)   AS max_price,
               round(sum(l_extendedprice * (1 - l_discount)), 6) AS total_revenue
        FROM lineitem
    """,
    description="Ungrouped (global) aggregation -> single row",
    tags=("agg",),
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 6).alias("total_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 6).alias("min_price"),
        F.round(F.max("l_extendedprice"), 6).alias("max_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
        ).alias("total_revenue"),
    )


@query(
    "q_agg_count_distinct",
    oracle="""
        SELECT l_returnflag,
               count(DISTINCT l_partkey)                    AS nd_parts,
               count(DISTINCT l_suppkey)                    AS nd_supps,
               round(CAST(sum(DISTINCT l_quantity) AS DOUBLE), 6) AS sum_distinct_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    description="Exact distinct aggregation (expand + two-phase agg in Spark)",
    tags=("agg", "distinct"),
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("nd_parts"),
        F.count_distinct("l_suppkey").alias("nd_supps"),
        F.round(F.sum_distinct(F.col("l_quantity")), 6).alias("sum_distinct_qty"),
    )


@query(
    "q_agg_approx_distinct",
    # The HLL++ estimate itself is engine-specific, but the CLAIM the
    # operator makes — "the estimate lands within the configured error
    # of the exact cardinality" — is relational: Spark emits the bound
    # check as a boolean next to the exact count, and the oracle
    # asserts the same rows with the boolean literally true. A sketch
    # drifting outside 3x its rsd now breaks the hash compare instead
    # of hiding behind a rows-only verdict (VERDICT r7 item 2).
    oracle="""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS exact_parts,
               TRUE                      AS within_bound
        FROM lineitem
        GROUP BY l_returnflag
    """,
    description="HyperLogLog++ approximate distinct (sketch, mergeable at scale), bound-asserted vs exact",
    tags=("agg", "approx"),
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct is the 100 TB path: fixed-size sketch per
    partition merged at the driver vs a full shuffle for exact distinct.
    rsd=0.02; the emitted check allows 3x that (|est-exact|/exact <=
    0.06), comfortably above HLL++'s observed error at every fixture SF
    while still catching a broken sketch by orders of magnitude."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", 0.02)
                - F.count_distinct("l_partkey")
            )
            / F.count_distinct("l_partkey")
            <= F.lit(0.06)
        ).alias("within_bound"),
    )


@query(
    "q_agg_stats",
    oracle="""
        SELECT l_returnflag,
               round(sd_qty, 6)                                AS sd_qty,
               round(var_price, 4)                             AS var_price,
               round(cqp / nullif(sdq * sdp, 0), 6)            AS corr_qty_price,
               round(cov_qty_disc, 6)                          AS cov_qty_disc
        FROM (
            SELECT l_returnflag,
                   stddev_samp(l_quantity)                  AS sd_qty,
                   var_samp(l_extendedprice)                AS var_price,
                   covar_pop(l_quantity, l_extendedprice)   AS cqp,
                   stddev_pop(l_quantity)                   AS sdq,
                   stddev_pop(l_extendedprice)              AS sdp,
                   covar_samp(l_quantity, l_discount)       AS cov_qty_disc
            FROM lineitem
            GROUP BY l_returnflag
        )
    """,
    description="Statistical aggregates: stddev/variance/corr/covar",
    tags=("agg", "stats"),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation is derived from co-moments (covar_pop over the
    stddev product, try_divide) instead of the built-in corr final:
    on a zero-variance group Spark's corr RAISES under ANSI mode where
    DuckDB returns NULL — the explicit ratio makes "undefined -> NULL"
    the stated semantics on both sides. stddev/var/covar themselves
    have no division hazard (their n-1 finals are engine-special-cased
    to NULL on single-row groups, identically)."""
    li = load(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_extendedprice"), 4).alias("var_price"),
        F.covar_pop("l_quantity", "l_extendedprice").alias("cqp"),
        F.stddev_pop("l_quantity").alias("sdq"),
        F.stddev_pop("l_extendedprice").alias("sdp"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qty_disc"),
    )
    return m.select(
        "l_returnflag",
        "sd_qty",
        "var_price",
        F.round(
            F.try_divide("cqp", F.nullif(F.col("sdq") * F.col("sdp"), F.lit(0.0))), 6
        ).alias("corr_qty_price"),
        "cov_qty_disc",
    )


@query(
    "q_agg_percentile",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
               round(quantile_cont(l_extendedprice, 0.50), 6) AS p50_price,
               round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price,
               round(median(l_quantity), 6)                   AS med_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    description="Exact interpolated percentiles + median",
    tags=("agg", "percentile"),
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile matches DuckDB's quantile_cont (linear
    interpolation). At 100 TB, swap to percentile_approx (t-digest
    sketch, mergeable) — kept exact here because it is oracle-checkable.

    The three price percentiles go through ONE array-argument
    `percentile` call: the aggregate buffers the column once instead of
    three times (3x less agg memory, ~3x faster than three scalar
    percentile aggregates — measured at sf0.1).
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
            ).alias("ps"),
            F.round(F.median("l_quantity"), 6).alias("med_qty"),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("ps", 1), 6).alias("p25_price"),
            F.round(F.element_at("ps", 2), 6).alias("p50_price"),
            F.round(F.element_at("ps", 3), 6).alias("p75_price"),
            "med_qty",
        )
    )


@query(
    "q_agg_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
               round(sum(l_quantity), 6) AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="Hierarchical subtotals via ROLLUP + grouping_id",
    tags=("agg", "rollup"),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    ).select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")


@query(
    "q_agg_cube",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS sum_price,
               count(*) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    description="All grouping-set combinations via CUBE",
    tags=("agg", "cube"),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grand-total cells sum the WHOLE table, where a double sum's
    last digit rides summation order — so the price rolls up as exact
    integer cents divided back (q_agg_group's determinism contract)."""
    li = load(spark, sf_dir, "lineitem")
    price_c = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        (F.sum(price_c).cast("double") / 100.0).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    ).select("l_returnflag", "l_linestatus", "gid", "sum_price", "n")


EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


@query(
    "q_agg_pivot",
    oracle="""
        SELECT user_id,
               round(sum(CASE WHEN event_type = 'click'    THEN value END), 6) AS click,
               round(sum(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
               round(sum(CASE WHEN event_type = 'error'    THEN value END), 6) AS error,
               round(sum(CASE WHEN event_type = 'signup'   THEN value END), 6) AS signup,
               round(sum(CASE WHEN event_type = 'view'     THEN value END), 6) AS view
        FROM events
        GROUP BY user_id
    """,
    description="Pivot (rows -> typed columns); explicit value list avoids a discovery pass",
    tags=("agg", "pivot"),
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passing the pivot values explicitly matters at scale: without
    them Spark runs an extra distinct-scan job just to learn the
    column set."""
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.round(F.sum("value"), 6))
    )
    return piv


@query(
    "q_agg_collect",
    oracle="""
        SELECT o_orderkey,
               (SELECT string_agg(x.l_linenumber::VARCHAR, ',' ORDER BY x.l_linenumber)
                  FROM lineitem x WHERE x.l_orderkey = o_orderkey)   AS line_numbers,
               (SELECT string_agg(DISTINCT y.l_returnflag, ',' ORDER BY y.l_returnflag)
                  FROM lineitem y WHERE y.l_orderkey = o_orderkey)   AS flags
        FROM (SELECT DISTINCT l_orderkey AS o_orderkey FROM lineitem WHERE l_orderkey % 100 = 7) t
    """,
    description="List/set aggregation, rendered as sorted CSV strings for determinism",
    tags=("agg", "collect"),
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # collect_list order is nondeterministic in a distributed shuffle ->
    # numeric-sort the array first, cast to string after, then join.
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 7)
    return li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("l_linenumber")),
                lambda x: x.cast("string"),
            ),
        ).alias("line_numbers"),
        F.concat_ws(",", F.array_sort(F.collect_set("l_returnflag"))).alias("flags"),
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
        SELECT l_returnflag, o_orderpriority,
               GROUPING(l_returnflag) * 2 + GROUPING(o_orderpriority) AS gid,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY GROUPING SETS ((l_returnflag, o_orderpriority), (l_returnflag), ())
    """,
    description="Explicit GROUPING SETS (subtotal lattice subset) via Dataset.groupingSets",
    tags=("agg", "grouping_sets"),
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unlike rollup/cube this computes only the requested lattice nodes.

    Spark expands grouping sets with a single Expand + one hash
    aggregate, so the fact table is scanned once no matter how many
    sets are requested — at 100 TB that one-scan property is the whole
    point versus unioning per-set aggregates.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return (
        j.groupingSets(
            [["l_returnflag", "o_orderpriority"], ["l_returnflag"], []],
            "l_returnflag",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "o_orderpriority", "gid", "revenue", "n")
    )


@query(
    "q_agg_hll_union",
    # Same conversion as q_agg_approx_distinct: the Datasketches
    # estimate is engine-specific, the error-bound CLAIM is not. Each
    # tier (per-segment sketch, union-of-sketches global) emits
    # |est-exact|/exact <= 0.05 as a boolean; the oracle computes the
    # exact side relationally and asserts the boolean true, so both
    # the sketch AND the union path are hash-gated (VERDICT r7 item 2).
    oracle="""
        SELECT c_mktsegment              AS level,
               count(DISTINCT c_custkey) AS exact,
               TRUE                      AS within_bound
        FROM customer
        GROUP BY c_mktsegment
        UNION ALL
        SELECT '_global'                 AS level,
               count(DISTINCT c_custkey) AS exact,
               TRUE                      AS within_bound
        FROM customer
    """,
    description="Mergeable HLL sketches: per-segment customer sketches unioned to a global estimate, bound-asserted vs exact",
    tags=("agg", "approx", "sketch"),
)
def q_agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches the 100 TB cardinality answer is
    MERGEABILITY: per-partition/per-day/per-segment sketches are tiny
    fixed-size binaries that union losslessly, so "distinct users this
    quarter" is a re-aggregation of stored daily sketches — no rescan
    of the raw data. Here: one Datasketches-HLL sketch of the customer
    set per market segment, then a single union row estimating the
    global cardinality from the five sketches alone. Both tiers emit
    their error-bound check (|est-exact|/exact <= 0.05, ~3x the lgK=12
    rse of ~1.6%) as a hash-gated boolean; tests/test_similarity.py
    asserts the same rows carry within_bound=True."""
    cust = load(spark, sf_dir, "customer")
    per_seg = cust.groupBy("c_mktsegment").agg(
        F.hll_sketch_agg("c_custkey", F.lit(12)).alias("sk"),
        F.count_distinct("c_custkey").alias("exact"),
    )
    bound = F.abs(F.col("estimate") - F.col("exact")) / F.col("exact") <= F.lit(0.05)
    seg_rows = per_seg.select(
        F.col("c_mktsegment").alias("level"),
        F.hll_sketch_estimate("sk").alias("estimate"),
        "exact",
    )
    global_row = per_seg.agg(
        F.lit("_global").alias("level"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("estimate"),
        F.sum("exact").alias("exact"),  # segments partition the customers
    )
    return (
        seg_rows.unionByName(global_row)
        .select("level", "exact", bound.alias("within_bound"))
    )


@query(
    "q_agg_corr",
    oracle="""
        SELECT l_returnflag,
               CAST(n AS BIGINT)                               AS n,
               round(cp / nullif(sdp * sdq, 0), 6)             AS price_qty_corr,
               round(cs, 2)                                    AS cov_samp,
               round(cp, 2)                                    AS cov_pop,
               round(cp / nullif(vq, 0), 5)                    AS slope,
               round(mp - (cp / nullif(vq, 0)) * mq, 2)        AS intercept,
               round(CASE WHEN vq = 0 THEN NULL
                          WHEN vp = 0 THEN 1.0
                          ELSE pow(cp / (sdp * sdq), 2) END, 6) AS r2
        FROM (
            SELECT l_returnflag,
                   count(*)                              AS n,
                   covar_pop(l_extendedprice, l_quantity)  AS cp,
                   covar_samp(l_extendedprice, l_quantity) AS cs,
                   var_pop(l_quantity)                     AS vq,
                   var_pop(l_extendedprice)                AS vp,
                   stddev_pop(l_extendedprice)             AS sdp,
                   stddev_pop(l_quantity)                  AS sdq,
                   avg(l_extendedprice)                    AS mp,
                   avg(l_quantity)                         AS mq
            FROM lineitem
            GROUP BY l_returnflag
        )
    """,
    description="Bivariate statistics family: corr / covariance / linear-regression aggregates",
    tags=("aggregate", "stats"),
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics: correlation, sample/population covariance,
    and the linear-regression family (price regressed on quantity) —
    aggregated as co-moments (covar/var/avg: single-pass, map-side
    partial, one tuple per group), with every RATIO derived row-level
    AFTER the aggregation. The built-in corr/regr_* finals divide by
    the (co)variance, and on a zero-variance group Spark under ANSI
    mode RAISES where DuckDB returns NULL — deriving the ratios from
    co-moments with try_divide/nullif gives one explicit semantics on
    both sides: NULL when the independent variance is 0, r2 = 1 when
    only the dependent is degenerate.

    Rounding is magnitude-aware: corr/r2 are O(1) (6 dp), covariance
    and intercept carry price magnitudes where engine summation-order
    differences reach ~1e-8 absolute (2 dp), slope sits between
    (5 dp) — each grid keeps the fp disagreement far below the
    rounding step.
    """
    li = load(spark, sf_dir, "lineitem")
    x, y = F.col("l_extendedprice"), F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.covar_pop(x, y).alias("cp"),
        F.covar_samp(x, y).alias("cs"),
        F.var_pop(y).alias("vq"),
        F.var_pop(x).alias("vp"),
        F.stddev_pop(x).alias("sdp"),
        F.stddev_pop(y).alias("sdq"),
        F.avg(x).alias("mp"),
        F.avg(y).alias("mq"),
    )
    slope = F.try_divide("cp", F.nullif(F.col("vq"), F.lit(0.0)))
    return m.select(
        "l_returnflag",
        "n",
        F.round(
            F.try_divide("cp", F.nullif(F.col("sdp") * F.col("sdq"), F.lit(0.0))), 6
        ).alias("price_qty_corr"),
        F.round("cs", 2).alias("cov_samp"),
        F.round("cp", 2).alias("cov_pop"),
        F.round(slope, 5).alias("slope"),
        F.round(F.col("mp") - slope * F.col("mq"), 2).alias("intercept"),
        F.round(
            F.when(F.col("vq") == 0, F.lit(None).cast("double"))
            .when(F.col("vp") == 0, F.lit(1.0))
            .otherwise(F.pow(F.col("cp") / (F.col("sdp") * F.col("sdq")), 2)),
            6,
        ).alias("r2"),
    )


HIST_BINS = 16


@query(
    "q_agg_histogram",
    oracle=f"""
        WITH b AS (
            SELECT min(value) AS v0, max(value) AS v1 FROM events
        )
        SELECT CASE WHEN v1 > v0
                    THEN least(CAST(floor((value - v0) / (v1 - v0) * {HIST_BINS})
                               AS BIGINT), {HIST_BINS - 1})
                    ELSE 0 END                          AS bin,
               CAST(count(*) AS BIGINT)                 AS n,
               round(min(value), 2)                     AS lo,
               round(max(value), 2)                     AS hi
        FROM events, b
        GROUP BY 1
    """,
    description="Equi-width numeric histogram with lazy data-driven bounds (no driver action)",
    tags=("aggregate", "histogram"),
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram whose bounds come from the data: the 1-row
    min/max aggregate is crossJoined (broadcast) into the binning
    expression, so the whole thing is one lazy plan — no driver-side
    collect of the bounds, the q_ts_gapfill pattern applied to numeric
    binning. Bin assignment is pure per-row arithmetic on identical
    doubles, hence engine-deterministic; the final groupBy has at most
    HIST_BINS keys. The v1 > v0 guard makes the degenerate all-equal
    table one bin 0: unguarded, the 0/0 bin expression raises under
    ANSI mode (and DuckDB's NaN-to-BIGINT cast likewise errors).
    """
    ev = load(spark, sf_dir, "events").select("value")
    bounds = ev.agg(F.min("value").alias("v0"), F.max("value").alias("v1"))
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.when(
            F.col("v1") > F.col("v0"),
            F.least(
                F.floor(
                    (F.col("value") - F.col("v0"))
                    / (F.col("v1") - F.col("v0"))
                    * HIST_BINS
                ).cast("long"),
                F.lit(HIST_BINS - 1).cast("long"),
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("bin"),
        "value",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


@query(
    "q_agg_mode",
    oracle="""
        SELECT l_returnflag,
               l_quantity AS mode_qty,
               CAST(c AS BIGINT) AS mode_count
        FROM (
            SELECT l_returnflag, l_quantity, count(*) AS c,
                   row_number() OVER (
                       PARTITION BY l_returnflag
                       ORDER BY count(*) DESC, l_quantity ASC) AS rk
            FROM lineitem
            GROUP BY l_returnflag, l_quantity
        )
        WHERE rk = 1
    """,
    description="Mode (most frequent value) per group with a deterministic tie-break",
    tags=("agg", "mode"),
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode per group — spelled as count-then-rank instead of the
    engines' native mode() because mode's TIE semantics are
    engine-defined (Spark returns an arbitrary tied value, DuckDB its
    own pick): the explicit row_number over (count DESC, value ASC)
    pins one deterministic winner on both sides, which is the only
    form an oracle can check and the only form a reproducible pipeline
    should ship anyway.

    Scale shape: the heavy reduction is the map-side-combined
    (group, value) count — bytes shuffled scale with distinct (group,
    value) pairs; the rank window then runs per group over already-
    aggregated rows (|values| per group, not |rows|)."""
    li = load(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window

    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("c").desc(), F.col("l_quantity").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("c").alias("mode_count"),
        )
    )


@query(
    "q_agg_bitmap_distinct",
    # The bitmap bytes are engine-internal, but the COUNT they encode
    # is exact — the oracle computes the same distinct counts
    # relationally, so this is a full hash-gated check (unlike the HLL
    # keys, no error bound is needed: bitmaps are exact).
    oracle="""
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS nd_custs,
               count(DISTINCT o_custkey) AS nd_custs_rollup
        FROM orders
        GROUP BY o_orderpriority
    """,
    description="Exact mergeable distinct via bitmap aggregates: per-bucket bitmaps OR-merged, counts summed",
    tags=("agg", "distinct", "bitmap", "sketch"),
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-mergeable cousin of the HLL keys: RoaringBitmap-style
    distinct counting (Spark's bitmap_* aggregate family). Each
    (group, 32k-bucket) pair reduces to one fixed-width bitmap;
    bitmaps OR-merge losslessly, so — like HLL sketches but EXACT —
    per-partition/per-day bitmaps are stored once and re-aggregated
    forever without rescanning raw data. The query computes each
    group's distinct-customer count twice: directly, and through a
    store-then-merge round trip (per-bucket bitmaps OR-merged back
    together), and emits both — the oracle asserts they equal the
    relational COUNT(DISTINCT), so the merge path's losslessness is
    hash-gated, not assumed.

    At 100 TB: the shuffle carries one bitmap per (group, bucket) —
    bounded by key-space/32768 per group, independent of row count —
    and the OR-merge tree is associative, so AQE/partial aggregation
    apply as usual. The key-space-bounded bucket count is the one
    sizing caveat vs HLL's fixed sketch.

    The stored grain here is (group, bucket, order-YEAR) — the shape a
    yearly-partitioned rollup table would persist — so the OR-merge
    genuinely combines bitmaps a single aggregation never co-saw.
    The two paths re-join NULL-SAFELY: a NULL group key (hostile
    fixture) is a legitimate group, and a plain inner join would
    silently drop it (NULL != NULL)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_custkey").cast("long").alias("k"),
        F.year("o_orderdate").alias("yr"),
    )
    direct = o.groupBy("o_orderpriority").agg(
        F.count_distinct("k").alias("nd_custs")
    )
    fine = o.groupBy(
        "o_orderpriority",
        F.expr("bitmap_bucket_number(k)").alias("bucket"),
        "yr",
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(k))").alias("bm"))
    merged = (
        fine.groupBy("o_orderpriority", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm2"))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.expr("bitmap_count(bm2)")).alias("nd_custs_rollup"))
    )
    return (
        direct.alias("d")
        .join(
            merged.alias("m"),
            F.col("d.o_orderpriority").eqNullSafe(F.col("m.o_orderpriority")),
        )
        .select("d.o_orderpriority", "nd_custs", "nd_custs_rollup")
    )


_UNPIVOT_CELLS = ",\n".join(
    f"""               coalesce(sum(CASE WHEN event_type = '{t}' THEN value END), 0) AS {t}"""
    for t in EVENT_TYPES
)
_UNPIVOT_ARMS = "\n        UNION ALL ".join(
    f"SELECT user_id, '{t}' AS event_type, round({t}, 6) AS total FROM wide"
    for t in EVENT_TYPES
)


@query(
    "q_unpivot",
    oracle=f"""
        WITH wide AS (
            SELECT user_id,
{_UNPIVOT_CELLS}
            FROM events
            GROUP BY user_id
        )
        {_UNPIVOT_ARMS}
    """,
    description="UNPIVOT/melt: wide conditional-agg matrix back to long (generator expand, no shuffle)",
    tags=("agg", "unpivot"),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long is the inverse of q_agg_pivot: each input row fans
    out to one row per value column. Spark plans ``DataFrame.unpivot``
    as a local generator (Expand) — a row-local fan-out with NO shuffle
    and no Python, so at 100 TB it is a pure map stage whose output is
    exactly |value columns| x |rows|. The wide matrix is built with
    dense conditional aggregation (coalesce to 0) so the unpivot has no
    NULL cells — Spark's EXCLUDE-NULLS default and the SQL mirror then
    cannot diverge on missingness."""
    ev = load(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("event_type") == t, F.col("value"))), F.lit(0.0)
            ).alias(t)
            for t in EVENT_TYPES
        ]
    )
    return wide.unpivot(
        ids="user_id", values=EVENT_TYPES, variableColumnName="event_type", valueColumnName="raw_total"
    ).select(
        "user_id", "event_type", F.round("raw_total", 6).alias("total")
    )


@query(
    "q_agg_weighted_median",
    oracle="""
        WITH ranked AS (
            SELECT l_returnflag AS grp,
                   l_extendedprice AS v,
                   sum(CAST(l_quantity AS BIGINT)) OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING
                   ) AS cum,
                   sum(CAST(l_quantity AS BIGINT)) OVER (
                       PARTITION BY l_returnflag
                   ) AS tot
            FROM lineitem
        )
        SELECT grp,
               min(CASE WHEN 2 * cum >= tot THEN v END)      AS w_median,
               min(CASE WHEN 10 * cum >= 9 * tot THEN v END) AS w_p90,
               CAST(min(tot) AS BIGINT)                      AS total_weight
        FROM ranked
        GROUP BY grp
    """,
    description="Weighted median / weighted p90 per group via cumulative-weight crossing",
    tags=("agg", "percentile", "weighted"),
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted quantiles have no Spark builtin; the scalable shape is
    the textbook one: ONE shuffle on the group key, a running weight sum
    in sorted order, and the answer is the first value whose cumulative
    weight crosses q*total. Weights are cast to BIGINT so the crossing
    predicate (2*cum >= tot) is exact integer arithmetic — a float
    cumsum would make the boundary row engine-dependent (sum order).
    Tie order (v, l_orderkey, l_linenumber) is total, so the running
    sum is reproducible row-for-row. Both quantiles fall out of the
    same pass via conditional min — no second filter/scan."""
    li = load(spark, sf_dir, "lineitem")
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    wt = F.col("l_quantity").cast("long")
    ranked = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
        F.sum(wt).over(w_cum).alias("cum"),
        F.sum(wt).over(w_tot).alias("tot"),
    )
    return ranked.groupBy("grp").agg(
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("v"))).alias("w_median"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("tot"), F.col("v"))
        ).alias("w_p90"),
        F.min("tot").cast("long").alias("total_weight"),
    )


_HQ_BINS = 32


@query(
    "q_agg_histogram_quantile",
    oracle=f"""
        WITH b AS (
            SELECT min(l_extendedprice) AS lo,
                   greatest((max(l_extendedprice) - min(l_extendedprice))
                            / {_HQ_BINS}.0, 1e-9) AS w
            FROM lineitem
        ),
        sketch AS (
            SELECT l_returnflag AS grp, month(l_shipdate) AS mo,
                   least({_HQ_BINS - 1},
                         CAST(floor((l_extendedprice - lo) / w) AS INT)) AS bin,
                   count(*) AS c
            FROM lineitem CROSS JOIN b
            GROUP BY 1, 2, 3
        ),
        merged AS (
            SELECT grp, bin, CAST(sum(c) AS BIGINT) AS c
            FROM sketch GROUP BY grp, bin
        ),
        cum AS (
            SELECT grp, bin, c,
                   sum(c) OVER (PARTITION BY grp ORDER BY bin
                                ROWS UNBOUNDED PRECEDING) AS cumc,
                   sum(c) OVER (PARTITION BY grp) AS n
            FROM merged
        ),
        est AS (
            SELECT grp,
                   min(CASE WHEN 2 * cumc >= n THEN bin END)      AS bin50,
                   min(CASE WHEN 10 * cumc >= 9 * n THEN bin END) AS bin90
            FROM cum GROUP BY grp
        ),
        exact AS (
            SELECT l_returnflag AS grp,
                   quantile_cont(l_extendedprice, 0.5) AS x50,
                   quantile_cont(l_extendedprice, 0.9) AS x90
            FROM lineitem GROUP BY 1
        )
        SELECT est.grp AS grp,
               round(lo + (bin50 + 0.5) * w, 6) AS p50_est,
               round(lo + (bin90 + 0.5) * w, 6) AS p90_est,
               (abs(lo + (bin50 + 0.5) * w - x50) <= w) AS ok50,
               (abs(lo + (bin90 + 0.5) * w - x90) <= w) AS ok90
        FROM est CROSS JOIN b JOIN exact ON exact.grp = est.grp
    """,
    description="Mergeable histogram quantile: per-(group, month) sketch tier re-aggregated, one-bin error bound asserted vs exact",
    tags=("agg", "sketch", "percentile"),
)
def q_agg_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t-digest/KLL deployment pattern without the opaque binary
    state: store a tiny equi-width histogram per (group, month)
    partition, answer later quantile queries by MERGING sketches (sum
    counts per bin — associative, re-aggregation never rescans raw
    rows), and read the quantile off the cumulative bin walk. Bin
    membership and both crossings (2*cum >= n) are exact integer
    arithmetic; bounds ride a 1-row broadcast (the q_agg_histogram
    pattern), so the only wide deps are the sketch aggregation and the
    O(groups x bins) merge. The midpoint estimate is asserted within
    one bin width of each engine's own exact quantile — the same
    hash-gated-bound convention as q_agg_hll_union."""
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    b = li.agg(
        F.min(price).alias("lo"),
        F.greatest(
            (F.max(price) - F.min(price)) / float(_HQ_BINS), F.lit(1e-9)
        ).alias("w"),
    )
    sketch = (
        li.crossJoin(F.broadcast(b))
        .select(
            F.col("l_returnflag").alias("grp"),
            F.month("l_shipdate").alias("mo"),
            F.least(
                F.lit(_HQ_BINS - 1),
                F.floor((price - F.col("lo")) / F.col("w")).cast("int"),
            ).alias("bin"),
        )
        .groupBy("grp", "mo", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merged = sketch.groupBy("grp", "bin").agg(F.sum("c").cast("long").alias("c"))
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("grp")
    cum = merged.select(
        "grp",
        "bin",
        F.sum("c").over(w_cum).alias("cumc"),
        F.sum("c").over(w_tot).alias("n"),
    )
    est = cum.groupBy("grp").agg(
        F.min(F.when(2 * F.col("cumc") >= F.col("n"), F.col("bin"))).alias("bin50"),
        F.min(F.when(10 * F.col("cumc") >= 9 * F.col("n"), F.col("bin"))).alias(
            "bin90"
        ),
    )
    exact = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("x50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("x90"),
    )
    e50 = F.col("lo") + (F.col("bin50") + 0.5) * F.col("w")
    e90 = F.col("lo") + (F.col("bin90") + 0.5) * F.col("w")
    return (
        est.crossJoin(F.broadcast(b))
        .join(exact, "grp")
        .select(
            "grp",
            F.round(e50, 6).alias("p50_est"),
            F.round(e90, 6).alias("p90_est"),
            (F.abs(e50 - F.col("x50")) <= F.col("w")).alias("ok50"),
            (F.abs(e90 - F.col("x90")) <= F.col("w")).alias("ok90"),
        )
    )


# --- Heavy hitters: Misra-Gries candidates + exact recount ------------------
#
# The stream is the union of word unigrams (Zipf head: ~31 words with
# counts in the hundreds-to-thousands) and word trigrams (long tail:
# tens of thousands of grams with single-digit counts) over documents —
# together a realistically Zipfian frequency problem whose exact
# groupBy at 100 TB would shuffle the full gram cardinality.
MG_CAPACITY = 512
HEAVY_HITTERS_K = 25


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-only document stream for the heavy-hitters passes. The
    fixture ships documents as ONE parquet file, so without the
    repartition both Arrow passes run on a single core — 16 s at sf0.1
    on a 32-core box. Repartitioning at the DOCUMENT level (hash on
    doc_id, deterministic) restores the parallelism a real multi-file
    corpus has natively. The MG superset guarantee is
    partitioning-independent (pigeonhole per partition), so the exact
    recount output is unchanged."""
    from ..tables import load as _load

    docs = _load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select("text")


def _gram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM spelling of the gram stream (unigrams + word trigrams) —
    since r17 the RETAINED EXECUTABLE SPEC, not the production path
    (the _simhash_df_sql precedent): the trigram builder is a
    higher-order-function lambda tree, which is CodegenFallback —
    interpreted per element — and interpreted expression trees are
    exactly the JIT-deopt-storm surface r16 root-caused on the simhash
    fold (this key read 203 executor-CPU-s on one r17 bench run vs a
    9.7 s quiet-host floor, with an identical plan). The production
    passes (_mg_candidates_text / the recount kernel in
    q_agg_heavy_hitters) generate the same grams inside the Arrow
    kernel; tests/test_similarity.py pins this spelling against the
    kernel's gram generation and the MG superset guarantee."""
    docs = _docs_stream(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    tri = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(F.explode(F.concat(toks, tri)).alias("gram"))


def _count_grams_into(counts: dict, texts, want=None) -> None:
    """Fold one Arrow batch of texts into ``counts``: unigrams + word
    trigrams, the exact gram set `_gram_stream` spells in JVM
    expressions (``tx.split(" ")`` keeps empty tokens exactly like
    ``F.split(text, ' ')`` / DuckDB ``string_split``; pinned by
    test_gram_kernel_matches_jvm_spelling). With ``want`` (a set),
    only member grams are counted — the recount pass."""
    for tx in texts:
        toks = tx.split(" ")
        if want is None:
            for g in toks:
                counts[g] = counts.get(g, 0) + 1
            for i in range(len(toks) - 2):
                g = f"{toks[i]} {toks[i + 1]} {toks[i + 2]}"
                counts[g] = counts.get(g, 0) + 1
        else:
            for g in toks:
                if g in want:
                    counts[g] = counts.get(g, 0) + 1
            for i in range(len(toks) - 2):
                g = f"{toks[i]} {toks[i + 1]} {toks[i + 2]}"
                if g in want:
                    counts[g] = counts.get(g, 0) + 1


def _mg_candidates_text(batches):
    """Pass 1 (r17): per-partition Misra-Gries sketch straight off the
    text column — tokenization, trigram build, and the MG merge/prune
    all inside the Arrow kernel, emitting <= MG_CAPACITY candidate
    gram STRINGS per partition.

    r17 rationale (guide §4.2, the r16 simhash-playbook): the JVM gram
    stream's trigram builder is a higher-order-function lambda tree —
    CodegenFallback, interpreted per element, and the documented
    JIT-deopt-storm surface (this key spiked to 203 executor-CPU-s on
    an r17 bench run at an identical plan; quiet-host floor 9.7).
    Generating the grams in the kernel removes the interpreted tree,
    the 500k-row explode, the xxhash projection, and pass 2's
    broadcast join outright; the sketch guarantee is unchanged (the
    string domain drops even the hash-collision caveat). MG merge
    semantics are identical to _mg_candidates: merge a batch's counts,
    then subtract the (capacity+1)-th largest and drop non-positives
    when over capacity."""
    import pyarrow as pa

    counters: dict[str, int] = {}
    for batch in batches:
        fresh: dict[str, int] = {}
        _count_grams_into(fresh, batch.column(0).to_pylist())
        for g, c in fresh.items():
            counters[g] = counters.get(g, 0) + c
        if len(counters) > MG_CAPACITY:
            vals = sorted(counters.values(), reverse=True)
            d = vals[MG_CAPACITY]
            counters = {g: c - d for g, c in counters.items() if c > d}
    yield pa.RecordBatch.from_arrays(
        [pa.array(list(counters.keys()), type=pa.string())], ["gram"]
    )


def _candidate_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pass 1: the union of every partition's Misra-Gries sketch,
    deduplicated in the JVM. A true heavy hitter survives in most
    partitions' sketches, so without the ``distinct`` the driver would
    collect up to capacity x partitions rows; with it, one row per
    distinct candidate."""
    return (
        _docs_stream(spark, sf_dir)
        .mapInArrow(_mg_candidates_text, "gram string")
        .distinct()
    )


@shared("heavy_hitters.candidates", payer="q_agg_heavy_hitters")
def _heavy_hitter_candidates(spark: SparkSession, sf_dir: str):
    """Pass 1's candidate set as a Spark broadcast of sorted gram
    strings, collected once per (session, fixture). A shared
    intermediate with the key itself as payer, so repeated calls in one
    session reuse ONE broadcast instead of leaking a new one per call."""
    cand_rows = _candidate_grams(spark, sf_dir).collect()
    return spark.sparkContext.broadcast(sorted(r.gram for r in cand_rows))


@query(
    "q_agg_heavy_hitters",
    oracle=f"""
        WITH tok AS (
            SELECT string_split(text, ' ') AS ts
            FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
            SELECT unnest(ts) AS gram FROM tok
            UNION ALL
            SELECT unnest(list_transform(
                       generate_series(1, len(ts) - 2),
                       i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))
            FROM tok WHERE len(ts) >= 3
        )
        SELECT gram, count(*) AS freq
        FROM grams
        GROUP BY gram
        ORDER BY freq DESC, gram
        LIMIT {HEAVY_HITTERS_K}
    """,
    description="Heavy hitters: per-partition Misra-Gries candidate sketch + exact recount of candidates only",
    tags=("agg", "sketch", "llm"),
)
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most frequent n-grams via the two-pass frequent-items
    pattern: (1) a per-partition Misra-Gries sketch (capacity 512,
    Arrow kernel over the text column) emits a small candidate set
    with the guarantee that every gram of global frequency > N/513
    survives; (2) ONLY the candidates are exactly recounted — a second
    Arrow pass emits per-partition partial counts for the candidate
    set, summed by one gram-keyed exchange — so the final answer is
    exact: equal to the full groupBy's top-k whenever the k-th count
    clears the sketch floor (asserted at every fixture SF; min top-25
    count is ~17x the floor at sf0.01).

    r17 rewrite (guide §4.2; see _mg_candidates_text): gram generation
    moved inside the Arrow kernels, removing the interpreted-HOF
    trigram builder (the JIT-storm surface — 203 CPU-s on one bench
    run), both 500k-row explodes, the xxhash projection, and the
    pass-2 broadcast hash join. The candidate set rides a Spark
    broadcast variable into the recount kernel (same driver posture as
    the old F.broadcast(cands): bounded by capacity x partitions,
    small because true heavies repeat across partitions).

    Scale shape: pass 1 shuffles nothing (sketch rides the scan,
    emitting <= 512 rows per partition); pass 2's one exchange carries
    <= |candidates| partial-count rows per partition instead of the
    full gram cardinality — at 100 TB that is the difference between
    exchanging ~10^2 candidate keys and ~10^9 distinct trigrams. A
    production run fuses the two passes by caching the tokenized
    stream; here each pass re-derives it from the scan, and only the
    small candidate broadcast is kept per (session, fixture)."""
    docs = _docs_stream(spark, sf_dir)
    bc = _heavy_hitter_candidates(spark, sf_dir)

    def recount(batches):
        import pyarrow as pa

        want = frozenset(bc.value)
        counts: dict[str, int] = {}
        for batch in batches:
            _count_grams_into(counts, batch.column(0).to_pylist(), want)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(list(counts.keys()), type=pa.string()),
                pa.array(list(counts.values()), type=pa.int64()),
            ],
            ["gram", "cnt"],
        )

    return (
        docs.mapInArrow(recount, "gram string, cnt long")
        .groupBy("gram")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.col("freq").desc(), "gram")
        .limit(HEAVY_HITTERS_K)
    )


SALT_BUCKETS = 16


@query(
    "q_agg_skew_salted",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT)          AS n,
               round(sum(l_quantity), 2)         AS sum_qty,
               round(sum(l_extendedprice), 2)    AS sum_price,
               round(avg(l_extendedprice), 4)    AS avg_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
    description="Two-phase salted aggregation over a pathologically skewed key",
    tags=("agg", "skew", "salt"),
)
def q_agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation for a pathologically skewed group
    key: l_returnflag has 3 distinct values over the whole fact table,
    so a naive groupBy funnels ~1/3 of 100 TB through 3 reducers. The
    salted form aggregates on (key, salt) first — SALT_BUCKETS
    deterministic buckets derived from l_orderkey, NOT rand(), so the
    plan is replayable and the oracle bit-equal — then re-aggregates
    the <= 3 x SALT_BUCKETS partials on the bare key. Every aggregate
    is algebraic (count/sum re-aggregate as sums; avg is derived from
    the re-aggregated sums at the end), which is exactly the property
    that makes the decomposition legal.

    Scale shape: shuffle 1 spreads each hot key over SALT_BUCKETS
    reducers (map-side partials still apply, so bytes exchanged scale
    with keys x salt x partitions, not rows); shuffle 2 carries at
    most |keys| x SALT_BUCKETS tiny partial rows. Spark's AQE
    skew-join handling covers the JOIN case (q_join_skew_salted); this
    is the AGGREGATION analogue, which AQE does not rewrite for you.

    The ratio (avg) is derived AFTER the final reduce from the exact
    sums — deriving it per-salt and averaging would weight buckets
    equally and be wrong for uneven bucket sizes.
    """
    li = load(spark, sf_dir, "lineitem")
    salted = li.select(
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
        F.pmod(F.col("l_orderkey"), F.lit(SALT_BUCKETS)).alias("salt"),
    )
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        # avg's denominator must count NON-NULL prices (SQL avg
        # semantics, mirrored by the oracle's avg()), not rows — the
        # two differ the moment a price is NULL (review s3).
        F.count("l_extendedprice").alias("pp_n"),
        F.sum("l_quantity").alias("pq"),
        F.sum("l_extendedprice").alias("pp"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("pq"), 2).alias("sum_qty"),
        F.round(F.sum("pp"), 2).alias("sum_price"),
        F.round(F.sum("pp") / F.sum("pp_n"), 4).alias("avg_price"),
    )


@query(
    "q_agg_decimal_exact",
    oracle="""
        SELECT l_returnflag,
               CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18, 2))
                                   AS DECIMAL(38, 2))) * 100)
                    AS BIGINT)                                  AS gross_cents,
               CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18, 2))
                                   AS DECIMAL(38, 2))
                              * CAST(CAST(l_discount AS DECIMAL(18, 2))
                                     AS DECIMAL(38, 2))) * 10000)
                    AS BIGINT)                                  AS discount_amt_e4,
               CAST(count(*) AS BIGINT)                         AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
    description="Exact decimal money aggregation: DECIMAL sums are order-independent and bit-equal",
    tags=("agg", "decimal", "money"),
)
def q_agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money math the way a ledger demands it: cast prices to
    DECIMAL(18,2) at the scan and aggregate in decimal the whole way.
    Unlike every double-summing key in this repo (which must round
    because engines sum floats in different orders), decimal addition
    is EXACT and associative — the sums here are bit-equal across
    engines, partitionings, and retry orders with NO rounding anywhere.
    This is the arithmetic regime a financial pipeline runs in, and the
    reason it tolerates reshuffles that would twitch a float sum's low
    bits.

    The discount product widens to DECIMAL(38,4)-ish intermediate on
    both engines before the sum; both sides pin the scale by casting
    the operands identically, so the products (exact 4-dp rationals)
    and their sums agree digit for digit.

    Output contract: the decimal math stays internal, but the REPORTED
    columns are BIGINT integer units (cents for the scale-2 sum, 1e-4
    units for the scale-4 sum) — a DECIMAL column crossing the
    comparison boundary is representation-fragile (engines disagree on
    overflow coercion — some DuckDB builds widen the (38,2)x(38,2)
    product to DECIMAL(38,4), others coerce to DOUBLE — and hashers
    disagree on Decimal-vs-float rendering), whereas the integer units
    are the same 64-bit value everywhere. Exactness is preserved: the
    scale-up multiply is exact on a decimal, and the cast truncates an
    exact integer.

    Scale shape: one map-side-combined aggregation — decimal partials
    are 128-bit values, so combine/merge cost is flat; the exchange
    carries |keys| x partitions partial rows exactly like the double
    path, just with exactness for free.
    """
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)").cast("decimal(38,2)")
    disc = F.col("l_discount").cast("decimal(18,2)").cast("decimal(38,2)")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(price) * 100, 0).cast("bigint").alias("gross_cents"),
        F.round(F.sum(price * disc) * 10000, 0)
        .cast("bigint")
        .alias("discount_amt_e4"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_string_agg",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
                   AS statuses,
               string_agg(CAST(o_orderkey AS VARCHAR), ','
                          ORDER BY o_totalprice DESC, o_orderkey) FILTER (
                   WHERE o_totalprice > 490000)              AS top_orders
        FROM orders
        GROUP BY o_orderpriority
    """,
    description="Ordered string aggregation (Spark 4 listagg WITHIN GROUP) with DISTINCT and FILTER forms",
    tags=("agg", "listagg", "string"),
)
def q_agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG, the SQL:2016 ordered string aggregation Spark gained in
    4.0 — the report-facing aggregate every warehouse migration asks
    about first. Three production forms in one key: DISTINCT + ORDER
    BY (the canonical tag list), and a FILTERed ordered form (top
    expensive orders, price-desc) — the one whose ORDER BY determinism
    people get wrong: the sort key must be made total (price DESC,
    THEN the unique key) or the concatenated string is
    partition-order-dependent and unreproducible on any engine.

    Scale shape: map-side combine still applies (Spark plans listagg
    partials as ordered buffers); the FILTER prunes the buffered rows
    before they're carried. The concatenated payload scales with group
    row count, so a production query always bounds it (the FILTER
    here) — an unbounded listagg over a hot group is the string
    version of collect_list-on-the-driver.
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "listagg(DISTINCT o_orderstatus, ',')"
            " WITHIN GROUP (ORDER BY o_orderstatus)"
        ).alias("statuses"),
        F.expr(
            "listagg(CAST(o_orderkey AS STRING), ',')"
            " WITHIN GROUP (ORDER BY o_totalprice DESC, o_orderkey)"
            " FILTER (WHERE o_totalprice > 490000)"
        ).alias("top_orders"),
    )


@query(
    "q_agg_linear_regr",
    oracle="""
        SELECT event_type,
               CAST(regr_count(value, hour(ts)) AS BIGINT)       AS n,
               round(regr_slope(value, hour(ts)), 6)             AS slope,
               round(regr_intercept(value, hour(ts)), 6)         AS intercept,
               round(regr_r2(value, hour(ts)), 6)                AS r2,
               round(regr_avgx(value, hour(ts)), 6)              AS avg_x,
               round(regr_avgy(value, hour(ts)), 6)              AS avg_y
        FROM events
        GROUP BY event_type
    """,
    description="OLS regression aggregate family (regr_slope/intercept/r2/avgx/avgy/count) per event type",
    tags=("aggregate", "stats"),
)
def q_agg_linear_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL:2003 linear-regression aggregate family — value
    regressed on hour-of-day per event type (does the metric drift
    through the day?). Every regr_* member is ALGEBRAIC: partials are
    (n, sum x, sum y, sum xy, sum x2, sum y2), so the whole family
    map-side combines like a sum — one scan, one exchange on the
    5-value group key, no window, no second pass. The same moments
    power q_agg_corr and q_llm_zipf_slope; this key pins the complete
    family surface. Hour-of-day is extracted above microsecond
    precision, so the ns-fixture truncation boundary (tables.
    _normalize_ts) cannot split the engines."""
    ev = load(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    y = F.col("value")
    return ev.groupBy("event_type").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_x"),
        F.round(F.regr_avgy(y, x), 6).alias("avg_y"),
    )


@query(
    "q_agg_moments",
    oracle="""
        WITH pw AS (
            SELECT event_type,
                   count(*)      AS n,
                   avg(value)    AS m1,
                   avg(value * value) AS e2,
                   avg(value * value * value) AS e3,
                   avg(value * value * value * value) AS e4
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        ),
        cm AS (
            SELECT event_type, n, m1,
                   e2 - m1 * m1                              AS m2,
                   e3 - 3 * m1 * e2 + 2 * m1 * m1 * m1       AS m3,
                   e4 - 4 * m1 * e3 + 6 * m1 * m1 * e2
                      - 3 * m1 * m1 * m1 * m1                AS m4
            FROM pw
        )
        SELECT event_type,
               CAST(n AS BIGINT)                             AS n,
               round(m1, 4)                                  AS mean,
               round(CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END, 4)
                                                             AS skewness,
               round(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 END, 4)
                                                             AS kurtosis
        FROM cm
    """,
    description="Higher central moments per group: population skewness + excess kurtosis (Spark built-ins vs power-sum oracle)",
    tags=("aggregate", "stats"),
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape diagnostics: population skewness
    (m3/m2^1.5) and excess kurtosis (m4/m2^2 - 3) per event type —
    Spark's built-in `skewness`/`kurtosis` use exactly these
    population definitions, while DuckDB's built-ins apply SAMPLE
    bias corrections, so the oracle spells the population formulas
    from raw power sums instead of calling them. Rounding is 4dp,
    coarser than the usual 6dp: the power-sum expansion the oracle uses
    cancels catastrophically compared to Spark's streaming central-
    moment updates, and value^4 sums amplify the float-order spread.

    Scale shape: one scan, algebraic partials (Spark maintains
    central moments incrementally per partition and merges), one
    5-row exchange. The zero-variance guard (CASE WHEN m2 > 0)
    matches Spark's NULL-on-constant behavior so degenerate groups
    agree."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("mean"),
        F.round(F.skewness("value"), 4).alias("skewness"),
        F.round(F.kurtosis("value"), 4).alias("kurtosis"),
    )


@query(
    "q_agg_bool",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT)                          AS n,
               bool_and(o_totalprice > 1000)                     AS all_over_1k,
               bool_or(o_orderpriority = '1-URGENT')             AS any_urgent,
               CAST(count(*) FILTER (o_totalprice > 100000)
                    AS BIGINT)                                   AS n_big,
               max_by(o_orderkey, o_totalprice)                  AS max_price_key,
               min_by(o_orderkey, o_totalprice)                  AS min_price_key
        FROM orders
        GROUP BY o_orderstatus
    """,
    description="Boolean + selection aggregate family: every/some, count_if, max_by/min_by per status",
    tags=("aggregate", "bool"),
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The predicate-aggregate surface: `every`/`some` (ANSI
    BOOL_AND/BOOL_OR), `count_if`, and the argmax/argmin selection
    pair `max_by`/`min_by` — the aggregates that turn per-row checks
    into per-group verdicts without a self-join (the q_tpch_q15
    argmax-by-join is what these REPLACE when the payload is a single
    column). All algebraic; count_if combines as a conditional sum;
    max_by carries (key, ordering-value) partials. The fixture's
    o_totalprice is unique per order (verified by the min_by/max_by
    determinism this oracle requires), so the selection pair is
    tie-free on both engines."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.max_by("o_orderkey", "o_totalprice").alias("max_price_key"),
        F.min_by("o_orderkey", "o_totalprice").alias("min_price_key"),
    )


GINI_CHUNK_CENTS = 10_000_000  # spend-rank chunk width: 100k currency units


@query(
    "q_agg_gini",
    oracle=f"""
        WITH spend AS (
            SELECT c.c_mktsegment, c.c_custkey,
                   CAST(coalesce(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                                          AS BIGINT)), 0) AS BIGINT)
                       AS spend_cents
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT c_mktsegment, spend_cents,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY spend_cents, c_custkey) AS i
            FROM spend
        ),
        agg AS (
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT)             AS n_cust,
                   CAST(sum(spend_cents) AS BIGINT)     AS s0,
                   CAST(sum(i * spend_cents) AS BIGINT) AS s1
            FROM ranked GROUP BY 1
        )
        SELECT c_mktsegment, n_cust,
               s0 AS spend_cents_total,
               CASE WHEN n_cust * s0 = 0 THEN NULL
                    ELSE CAST(floor((CAST(2 * s1 AS DOUBLE)
                                     / CAST(n_cust * s0 AS DOUBLE)
                                     - CAST(n_cust + 1 AS DOUBLE)
                                       / CAST(n_cust AS DOUBLE))
                                    * 1000000 + 0.5) AS BIGINT)
               END                                      AS gini_micros
        FROM agg
    """,
    description="Gini coefficient of customer spend per market segment via distributed two-level ranking",
    tags=("agg", "window", "stats"),
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer spend per market segment — the
    inequality statistic every marketplace-health dashboard carries
    (how much of the segment's revenue sits with its top customers).
    Uses the rank formulation G = 2*Σ(i·x_i)/(n·Σx) − (n+1)/n over
    ascending-sorted spend.

    Determinism contract: spend is EXACT integer cents (per-order
    floor(price*100+0.5), summed as BIGINT — order-independent), the
    rank tiebreak is the unique custkey, and the final statistic is
    computed from three BIGINTs with an identical double-op sequence
    on both engines, then floor-scaled to micros — no float sums, no
    rounding ambiguity anywhere.

    Scale shape: ranking within a segment is the classic
    few-huge-partitions trap (5 segments = 5 sort partitions at any
    scale), so the rank is TWO-LEVEL exactly like q_llm_vocab_growth's
    prefix sums: rows rank locally within (segment, spend-range chunk)
    — a partitioned, bounded window — and each chunk's rank offset is
    the exclusive count-prefix over the tiny aggregated (segment,
    chunk) table, broadcast back. The i·x products and the three sums
    then map-side combine. A 10^8-customer segment never sorts in one
    partition."""
    cust = load(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey")
    spend = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("spend_cents")
        )
    )
    from .ranking import chunked_row_number

    per_cust = cust.join(spend, cust.c_custkey == spend.o_custkey, "left").select(
        "c_mktsegment",
        "c_custkey",
        F.coalesce("spend_cents", F.lit(0)).cast("long").alias("spend_cents"),
    )
    ranked = chunked_row_number(
        per_cust,
        ["spend_cents", "c_custkey"],
        [(F.floor(F.col("spend_cents") / GINI_CHUNK_CENTS)).cast("long")],
        part_cols=["c_mktsegment"],
        rank_name="i",
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("spend_cents").alias("s0"),
        F.sum(F.col("i") * F.col("spend_cents")).alias("s1"),
    )
    gini = (
        (2 * F.col("s1")).cast("double") / (F.col("n_cust") * F.col("s0")).cast("double")
        - (F.col("n_cust") + 1).cast("double") / F.col("n_cust").cast("double")
    )
    # zero total spend (possible on hostile data: all-negative/NULL
    # prices cancel to 0 cents) leaves Gini undefined — NULL, never a
    # divide-by-zero (ANSI) or an inf (DuckDB)
    return agg.select(
        "c_mktsegment",
        "n_cust",
        F.col("s0").alias("spend_cents_total"),
        F.when(
            (F.col("n_cust") * F.col("s0")) != 0,
            F.floor(gini * 1000000 + F.lit(0.5)).cast("long"),
        ).alias("gini_micros"),
    )


@query(
    "q_agg_pareto",
    oracle="""
        WITH spend AS (
            SELECT c.c_mktsegment, c.c_custkey,
                   CAST(coalesce(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                                          AS BIGINT)), 0) AS BIGINT)
                       AS spend_cents
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT c_mktsegment, spend_cents,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY spend_cents DESC, c_custkey)
                       AS i,
                   sum(spend_cents) OVER (PARTITION BY c_mktsegment
                                          ORDER BY spend_cents DESC, c_custkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND CURRENT ROW)
                       AS cum_cents,
                   sum(spend_cents) OVER (PARTITION BY c_mktsegment)
                       AS total_cents,
                   count(*) OVER (PARTITION BY c_mktsegment) AS n_cust
            FROM spend
        )
        SELECT c_mktsegment,
               CAST(max(n_cust) AS BIGINT)                     AS n_cust,
               CAST(max(total_cents) AS BIGINT)                AS total_cents,
               CAST(min(CASE WHEN cum_cents * 2 >= total_cents
                             THEN i END) AS BIGINT)            AS n_for_half,
               CAST(min(CASE WHEN cum_cents * 5 >= total_cents * 4
                             THEN i END) AS BIGINT)            AS n_for_p80
        FROM ranked
        GROUP BY c_mktsegment
    """,
    description="Pareto revenue concentration: customers needed to cover 50% / 80% of segment spend (top-down cumulative rank)",
    tags=("agg", "window", "stats"),
)
def q_agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto/80-20) readout: ranking a
    segment's customers by spend descending, how many cover half and
    80% of the segment's revenue? The marketplace-health twin of
    q_agg_gini — Gini is the integral summary, this is the operating
    number an account team staffs against.

    Determinism contract: spend is exact integer cents; the coverage
    thresholds compare INTEGER cross-products (cum*2 >= total,
    cum*5 >= total*4) — no division, no floats anywhere in the
    predicate, so the cut index cannot flip on an ulp.

    Scale shape: the descending rank + running sum within a segment is
    the identical few-huge-partitions trap as q_agg_gini, solved the
    same way — rank and prefix-sum locally within (segment,
    spend-range chunk), add broadcast exclusive chunk offsets (count
    AND cents). One pass, no per-segment single-partition sort.
    """
    cust = load(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey")
    spend = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("spend_cents")
        )
    )
    from .ranking import chunked_row_number

    # descending spend chunks: NEGATE spend so ascending chunk/rank
    # order equals descending spend order and the chunk ids stay
    # monotone with the rank direction
    per_cust = (
        cust.join(spend, cust.c_custkey == spend.o_custkey, "left")
        .select(
            "c_mktsegment",
            "c_custkey",
            F.coalesce("spend_cents", F.lit(0)).cast("long").alias("spend_cents"),
        )
        .withColumn("neg_spend", -F.col("spend_cents"))
    )
    ranked = chunked_row_number(
        per_cust,
        ["neg_spend", "c_custkey"],
        [(F.floor(F.col("neg_spend") / GINI_CHUNK_CENTS)).cast("long")],
        part_cols=["c_mktsegment"],
        rank_name="i",
        prefix_sums={"spend_cents": "cum_cents"},
    ).select("c_mktsegment", "i", "cum_cents")
    totals = per_cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("spend_cents").alias("total_cents"),
    )
    return (
        ranked.join(F.broadcast(totals), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.max("n_cust").alias("n_cust"),
            F.max("total_cents").alias("total_cents"),
            F.min(
                F.when(
                    F.col("cum_cents") * 2 >= F.col("total_cents"), F.col("i")
                )
            ).alias("n_for_half"),
            F.min(
                F.when(
                    F.col("cum_cents") * 5 >= F.col("total_cents") * 4,
                    F.col("i"),
                )
            ).alias("n_for_p80"),
        )
    )


RFM_TB_CHUNK = 4096  # custkey-range split width for tied metric values


@query(
    "q_agg_rfm",
    oracle=f"""
        WITH base AS (
            SELECT o_custkey AS ck,
                   coalesce(date_diff('day', max(o_orderdate),
                                      (SELECT max(o_orderdate) FROM orders)),
                            999999)                       AS rec_days,
                   count(*)                               AS freq,
                   CAST(coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                          AS BIGINT)), 0) AS BIGINT)
                                                          AS spend_cents
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT spend_cents,
                   row_number() OVER (ORDER BY rec_days, ck)    AS r_rank,
                   row_number() OVER (ORDER BY freq, ck)        AS f_rank,
                   row_number() OVER (ORDER BY spend_cents, ck) AS m_rank,
                   count(*) OVER ()                             AS n
            FROM base
        )
        SELECT CAST((r_rank - 1) * 5 // n + 1 AS BIGINT) AS r_q,
               CAST((f_rank - 1) * 5 // n + 1 AS BIGINT) AS f_q,
               CAST((m_rank - 1) * 5 // n + 1 AS BIGINT) AS m_q,
               CAST(count(*) AS BIGINT)                  AS n_cust,
               CAST(sum(spend_cents) AS BIGINT)          AS spend_cents
        FROM ranked
        GROUP BY 1, 2, 3
    """,
    description="RFM segmentation: recency/frequency/monetary quintiles per customer (quintile 1 = most recent / fewest / lowest), cell sizes + spend",
    tags=("agg", "window", "stats"),
)
def q_agg_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the marketing-analytics staple: every
    ordering customer scored into recency / frequency / monetary
    quintiles (quintile 1 = most recent, fewest orders, lowest spend —
    orientation documented, not baked into magic reversals), then the
    5x5x5 cell census with per-cell spend. Campaign targeting reads
    exactly this table.

    Determinism contract: quintile = ((rank-1)*5)//n + 1 with BIGINT
    floor-division over an exactly-tiebroken rank (metric, custkey) —
    no percent_rank doubles, no ntile ambiguity. Recency coalesces
    NULL order dates to a sentinel on BOTH engines (the engines
    default NULL sort order differently). Spend is exact cents.

    Scale shape: three global rankings, each the few-huge-partitions
    trap — all three ride operators/ranking.chunked_row_number. The
    low-cardinality metrics (day ages, order counts) chunk as
    (value, custkey-range) so metric ties split across bounded
    partitions; the near-continuous spend chunks by value range. The
    quintile math and the cell rollup are map-side combined.
    """
    from .ranking import chunked_row_number

    orders = load(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("corpus_max"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            F.coalesce(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                ),
                F.lit(0),
            ).alias("spend_cents"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "ck",
            F.coalesce(
                F.datediff("corpus_max", "last_order"), F.lit(999999)
            ).alias("rec_days"),
            "freq",
            "spend_cents",
        )
    )
    tb = (F.floor(F.col("ck") / RFM_TB_CHUNK)).cast("long")
    ranked = chunked_row_number(
        base, ["rec_days", "ck"], [F.col("rec_days"), tb], rank_name="r_rank"
    )
    ranked = chunked_row_number(
        ranked, ["freq", "ck"], [F.col("freq"), tb], rank_name="f_rank"
    )
    ranked = chunked_row_number(
        ranked,
        ["spend_cents", "ck"],
        [(F.floor(F.col("spend_cents") / GINI_CHUNK_CENTS)).cast("long")],
        rank_name="m_rank",
    )
    n_df = base.agg(F.count(F.lit(1)).alias("n"))
    cells = ranked.crossJoin(F.broadcast(n_df)).select(
        F.expr("(r_rank - 1) * 5 div n + 1").cast("long").alias("r_q"),
        F.expr("(f_rank - 1) * 5 div n + 1").cast("long").alias("f_q"),
        F.expr("(m_rank - 1) * 5 div n + 1").cast("long").alias("m_q"),
        "spend_cents",
    )
    return cells.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("spend_cents").alias("spend_cents"),
    )


SKETCH_ACCURACY = 1000  # percentile_approx GK accuracy (rank err <= n/this)


@query(
    "q_agg_sketch_audit",
    oracle="""
        WITH ev AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   event_id
            FROM events
        ),
        ranked AS (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents, event_id) AS rk,
                   count(*) OVER (PARTITION BY event_type)      AS n
            FROM ev
        )
        SELECT event_type,
               CAST(max(n) AS BIGINT)                         AS n,
               CAST(max(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT)
                             THEN cents END) AS BIGINT)       AS exact_p50_cents,
               CAST(max(CASE WHEN rk = CAST(ceil(0.95 * n) AS BIGINT)
                             THEN cents END) AS BIGINT)       AS exact_p95_cents,
               TRUE                                           AS p50_within_bound,
               TRUE                                           AS p95_within_bound
        FROM ranked
        GROUP BY event_type
    """,
    description="GK-sketch audit: percentile_approx estimates checked against their rank-error guarantee, beside exact rank-selected percentiles",
    tags=("agg", "sketch", "audit"),
)
def q_agg_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit, the q_llm_lsh_audit pattern applied to
    Spark's GK quantile sketch: percentile_approx(accuracy=1000)
    guarantees its estimate's RANK sits within n/accuracy of the
    target rank — this key measures the realized rank of each estimate
    (count of values <= est) and asserts the guarantee as a boolean
    the oracle expects to be TRUE; a Spark upgrade that broke the
    sketch would flip the hash. The integer-cents exact percentiles
    (discrete: the element at rank ceil(q*n), tiebroken by event_id)
    ride alongside as the ground truth, rank-selected so NO
    interpolation arithmetic crosses the engine boundary.

    The bound check is pure integers: |1000*r - q*1000*n| <= n + 1000
    (the guarantee scaled by 1000, +1000 ceil slack) — no float
    thresholds to flip.

    Scale shape: the per-type exact rank rides
    operators/ranking.chunked_row_number (value-range chunks), never a
    5-partition global sort; the estimate and audit passes are
    map-side-combined aggregates plus one broadcast of the 5-row
    estimate table. percentile_approx itself is the 100 TB tool here —
    mergeable sketches, bounded memory; the exact side exists to audit
    it (and is itself shuffle-bounded via the chunked rank)."""
    from .ranking import chunked_row_number

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "event_id",
    )
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    est = ev.groupBy("event_type").agg(
        F.percentile_approx("cents", 0.5, SKETCH_ACCURACY).alias("est50"),
        F.percentile_approx("cents", 0.95, SKETCH_ACCURACY).alias("est95"),
    )
    ranked = chunked_row_number(
        ev,
        ["cents", "event_id"],
        [(F.floor(F.col("cents") / 500)).cast("long")],
        part_cols=["event_type"],
        rank_name="rk",
    )
    exact = (
        ranked.join(F.broadcast(counts), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max(
                F.when(
                    F.col("rk") == F.ceil(0.5 * F.col("n")).cast("long"),
                    F.col("cents"),
                )
            ).alias("exact_p50_cents"),
            F.max(
                F.when(
                    F.col("rk") == F.ceil(0.95 * F.col("n")).cast("long"),
                    F.col("cents"),
                )
            ).alias("exact_p95_cents"),
        )
    )
    audit = (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_a"),
            F.sum(
                F.when(F.col("cents") <= F.col("est50"), 1).otherwise(0)
            ).alias("r50"),
            F.sum(
                F.when(F.col("cents") <= F.col("est95"), 1).otherwise(0)
            ).alias("r95"),
        )
        .select(
            "event_type",
            (
                F.abs(1000 * F.col("r50") - 500 * F.col("n_a"))
                <= F.col("n_a") + 1000
            ).alias("p50_within_bound"),
            (
                F.abs(1000 * F.col("r95") - 950 * F.col("n_a"))
                <= F.col("n_a") + 1000
            ).alias("p95_within_bound"),
        )
    )
    return exact.join(audit, "event_type").select(
        "event_type",
        "n",
        "exact_p50_cents",
        "exact_p95_cents",
        "p50_within_bound",
        "p95_within_bound",
    )


BASKET_TOP_K = 50


@query(
    "q_agg_basket_pairs",
    oracle=f"""
        WITH op AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ),
        n_orders AS (
            SELECT CAST(count(DISTINCT ok) AS BIGINT) AS total FROM op
        ),
        item AS (
            SELECT pk, CAST(count(*) AS BIGINT) AS n_item FROM op GROUP BY pk
        ),
        pair AS (
            SELECT a.pk AS part_a, b.pk AS part_b,
                   CAST(count(*) AS BIGINT) AS n_pair
            FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY a.pk, b.pk
        ),
        scored AS (
            SELECT part_a, part_b, n_pair,
                   ia.n_item AS n_a, ib.n_item AS n_b,
                   CAST(n_pair * 1000000 // (SELECT total FROM n_orders)
                        AS BIGINT) AS support_ppm,
                   CAST(CAST(n_pair AS HUGEINT)
                        * (SELECT total FROM n_orders) * 1000000
                        // (ia.n_item * ib.n_item) AS BIGINT) AS lift_micros
            FROM pair
            JOIN item ia ON ia.pk = part_a
            JOIN item ib ON ib.pk = part_b
        )
        SELECT part_a, part_b, n_pair, n_a, n_b, support_ppm, lift_micros
        FROM scored
        ORDER BY n_pair DESC, part_a, part_b
        LIMIT {BASKET_TOP_K}
    """,
    description="Market-basket pair mining: co-occurrence counts, support (ppm) and lift (micros) as exact BIGINT ratios; top-k by support via TakeOrdered, never a global sort",
    tags=("aggregate", "join", "recommender"),
)
def q_agg_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-pair mining over order baskets with support and lift —
    the association-rule primitive behind co-purchase recommenders.

    Scale shape (r17 rewrite, guide §2.3-2.4 — the copurchase_edges
    treatment): ONE groupBy(order) folds each basket into a sorted
    DISTINCT part array (partial_collect_set map-side; the set
    subsumes the old separate (order, part) DISTINCT pass), and the
    src<dst pair stream is generated in-stage by two chained Generates
    (posexplode + slice — codegen'd, no lambdas) straight into the
    map-side-combined pair count. The old spelling shuffled the
    distinct (order, part) stream three more times (both self-join
    sides plus its own distinct); the basket total and per-item counts
    now fold off the same per-order arrays. Fan-out stays bounded by
    basket size squared, never corpus size. Item counts join back onto
    the AGGREGATED pair table (pair-count-sized, far smaller than the
    pair stream), the 1-row basket total rides a broadcast crossJoin,
    and the top-k cut is orderBy+limit = TakeOrderedAndProject — no
    global sort. Support and lift are BIGINT floor-division ratios
    (ppm / micros): exact on both engines, no doubles anywhere.
    Measured min-of-4 at sf0.1: 2.56 s wall / 6.36 CPU-s -> see
    OPTIMIZATION_r17.md; identical top-k (oracle-green at 3 SFs)."""
    per_order = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
    )
    total = per_order.agg(F.count(F.lit(1)).alias("total"))
    item = (
        per_order.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    pair = (
        per_order.select("ps", F.posexplode("ps").alias("i", "part_a"))
        .select(
            "part_a",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    ia = item.select(F.col("pk").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("pk").alias("part_b"), F.col("n_item").alias("n_b"))
    scored = (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(total))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            "n_a",
            "n_b",
            F.expr("(n_pair * 1000000) div total").cast("long").alias(
                "support_ppm"
            ),
            # 128-bit-wide numerator (ADVICE r11): n_pair*total*1e6
            # crosses 9.2e18 once n_pair*total exceeds ~9.2e12 (a few
            # 1e5-pair SKUs over 1e8 baskets) — widen like
            # q_graph_modularity so larger SFs can't silently wrap.
            F.expr(
                "(cast(n_pair as decimal(38,0)) * total * 1000000)"
                " div (n_a * n_b)"
            )
            .cast("long")
            .alias("lift_micros"),
        )
    )
    return scored.orderBy(
        F.col("n_pair").desc(), "part_a", "part_b"
    ).limit(BASKET_TOP_K)


CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_QUERY_MOD = 97  # partkeys with key % MOD == 0 are the audited set


def _cms_hash_spark(depth: int, key: str = "pk"):
    """Row-hash for CMS row ``depth``: md5 of 'depth:key', first 8 hex
    chars as a 32-bit int, mod the row width — byte-identical in
    DuckDB (_cms_hash_sql)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(depth), F.col(key).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % CMS_WIDTH
    )


def _cms_hash_sql(depth: int, key: str) -> str:
    return (
        f"('0x' || substring(md5({depth} || ':' || CAST({key} AS VARCHAR)),"
        f" 1, 8))::BIGINT % {CMS_WIDTH}"
    )


@query(
    "q_agg_count_min",
    oracle=f"""
        WITH cells AS (
            SELECT d.depth,
                   CASE d.depth
                       {" ".join(f"WHEN {i} THEN {_cms_hash_sql(i, 'l_partkey')}" for i in range(CMS_DEPTH))}
                   END AS cell,
                   CAST(count(*) AS BIGINT) AS c
            FROM lineitem, (SELECT unnest(range({CMS_DEPTH})) AS depth) d
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS true_n
            FROM lineitem
            WHERE l_partkey % {CMS_QUERY_MOD} = 0
            GROUP BY l_partkey
        ),
        probe AS (
            SELECT t.pk, t.true_n, min(ce.c) AS cms_n
            FROM truth t, (SELECT unnest(range({CMS_DEPTH})) AS depth) d
            JOIN cells ce
              ON ce.depth = d.depth
             AND ce.cell = CASE d.depth
                   {" ".join(f"WHEN {i} THEN {_cms_hash_sql(i, 't.pk')}" for i in range(CMS_DEPTH))}
                 END
            GROUP BY t.pk, t.true_n
        )
        SELECT pk, true_n, CAST(cms_n AS BIGINT) AS cms_n,
               CAST(cms_n - true_n AS BIGINT) AS over_n,
               cms_n >= true_n AS never_undercounts
        FROM probe
    """,
    description=f"Count-min sketch ({CMS_DEPTH}x{CMS_WIDTH}, md5 row hashes): per-key min-over-rows estimate audited against exact counts; the one-sided error invariant is a hash-gated output column",
    tags=("aggregate", "sketch", "audit"),
)
def q_agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built AS A DATAFRAME — the mergeable frequency
    sketch a streaming pipeline keeps per shard and ORs together: each
    row explodes into CMS_DEPTH (row, cell) increments (cell = seeded
    md5 of the key, mod width), the sketch is one groupBy onto
    depth*width cells, and a key's estimate is the MIN over its rows'
    cells. The audited invariant — CMS never undercounts — rides the
    output as a boolean the oracle asserts literally (the lsh_audit /
    sketch_audit pattern).

    Scale shape: the sketch build shuffles depth*width = {cells}
    aggregated cells regardless of input size (map-side combine does
    the heavy lifting); the probe side is the audited key set joined
    to the tiny sketch (broadcast). md5 is the portable stand-in for
    xxhash64 (engine-identical hex; production would use the faster
    64-bit hash)."""
    li = load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("pk"))
    cells = (
        li.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("depth"),
                            _cms_hash_spark(i).alias("cell"),
                        )
                        for i in range(CMS_DEPTH)
                    ]
                )
            ).alias("dc")
        )
        .groupBy(F.col("dc.depth").alias("depth"), F.col("dc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    truth = (
        li.filter(F.col("pk") % CMS_QUERY_MOD == 0)
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    probes = truth.select(
        "pk",
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("depth"),
                        _cms_hash_spark(i).alias("cell"),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("dc"),
    ).select("pk", "true_n", F.col("dc.depth").alias("depth"), F.col("dc.cell").alias("cell"))
    est = (
        probes.join(F.broadcast(cells), ["depth", "cell"])
        .groupBy("pk", "true_n")
        .agg(F.min("c").alias("cms_n"))
    )
    return est.select(
        "pk",
        "true_n",
        "cms_n",
        (F.col("cms_n") - F.col("true_n")).alias("over_n"),
        (F.col("cms_n") >= F.col("true_n")).alias("never_undercounts"),
    )


q_agg_count_min.__doc__ = q_agg_count_min.__doc__.format(
    cells=CMS_DEPTH * CMS_WIDTH
)


@query(
    "q_agg_herfindahl",
    oracle="""
        WITH s AS (
            SELECT c.c_mktsegment AS seg, o.o_custkey AS ck,
                   CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS spend
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        )
        SELECT seg,
               CAST(count(*) AS BIGINT)   AS n_cust,
               CAST(sum(spend) AS BIGINT) AS spend_total_cents,
               CAST(CASE WHEN sum(spend) <> 0
                    THEN sum(CAST(spend AS HUGEINT) * spend) * 1000000
                         // (CAST(sum(spend) AS HUGEINT) * sum(spend))
                    END AS BIGINT)        AS hhi_ppm,
               CAST(CASE WHEN sum(spend) > 0
                    THEN max(spend) * 1000000 // sum(spend)
                    END AS BIGINT)        AS top_share_ppm
        FROM s GROUP BY seg
    """,
    description="Herfindahl-Hirschman concentration per segment: sum of squared customer spend shares in exact ppm via 128-bit-wide (DECIMAL(38)/HUGEINT) integer arithmetic — the monopoly-screen complement of Gini/Pareto",
    tags=("aggregate", "finance", "audit"),
)
def q_agg_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HHI = sum over customers of (spend share)^2 — the concentration
    number regulators and marketplace dashboards quote, completing the
    inequality family (Gini: rank-weighted dispersion; Pareto: how
    many cover X%; HHI: sum of squared shares). Squared cents overflow
    BIGINT at sf0.1 (a 1e8-cent customer squares to 1e16, and the
    segment sum crosses 9.2e18), so both the numerator and the S^2
    denominator accumulate in 128-bit-wide integers (Spark
    DECIMAL(38,0), DuckDB HUGEINT) with ONE floor division at the end
    — identical ppm on both engines.

    Scale shape: one orders-customer equi-join, one map-side-combined
    per-customer rollup, one per-segment aggregation. No window, no
    Python."""
    s = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("spend")
        )
    )
    return s.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("spend").alias("spend_total_cents"),
        # zero-total guard: S^2 == 0 raises on BOTH engines (ANSI /
        # DuckDB division by zero) — a refunds-only segment must read
        # NULL, not crash (q_ts_vwap's guard class)
        F.expr(
            "cast(case when sum(spend) <> 0 then"
            " (sum(cast(spend as decimal(38,0)) * spend) * 1000000)"
            " div (cast(sum(spend) as decimal(38,0)) * sum(spend))"
            " end as bigint)"
        ).alias("hhi_ppm"),
        # sign guard (ADVICE r11, medium): with mixed-sign spends where
        # sign(max) != sign(sum), DuckDB's // floors while Spark's div
        # truncates — a one-sided hash divergence. sum(spend) > 0
        # implies max(spend) > 0, so the quotient is non-negative and
        # floor == truncate on both engines; anything else reads NULL
        # (q_ts_vwap's guard class). hhi_ppm needs only the <> 0 guard:
        # its numerator (sum of squares) and denominator (a square) are
        # non-negative by construction.
        F.expr(
            "cast(case when sum(spend) > 0 then"
            " (max(spend) * 1000000) div sum(spend) end as bigint)"
        ).alias("top_share_ppm"),
    )


# Composite arg-max key: (value micros, event_id) packed into one
# 128-bit integer so BOTH engines order it natively — DuckDB's arg_max
# rejects STRUCT keys, and a double key loses integer exactness. The
# shift must exceed any event_id; 1e10 leaves v_micros * 1e10 + id
# inside DECIMAL(38)/HUGEINT headroom up to ~1e27 ids.
ARGMAX_SHIFT = 10_000_000_000


@query(
    "q_agg_argmax",
    oracle=f"""
        SELECT event_type,
               arg_max(user_id,
                       CAST(floor(value * 1e6 + 0.5) AS HUGEINT)
                       * {ARGMAX_SHIFT} + event_id)     AS top_user,
               arg_min(user_id,
                       CAST(floor(value * 1e6 + 0.5) AS HUGEINT)
                       * {ARGMAX_SHIFT} + event_id)     AS bottom_user,
               arg_max(CAST(floor(value * 1e6 + 0.5) AS BIGINT),
                       event_id)                        AS last_value_micros,
               arg_min(CAST(floor(value * 1e6 + 0.5) AS BIGINT),
                       event_id)                        AS first_value_micros
        FROM events
        GROUP BY event_type
    """,
    description="arg_max/arg_min (max_by/min_by): which row attains the group's extreme — deterministic under ties via a packed (value_micros, event_id) 128-bit composite key",
    tags=("aggregate",),
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by — "WHO attains the extreme", the lookup every
    dashboard needs after min/max and the aggregate form of the
    self-join-free top-1. Ties are real (value has ~5e8 distinct
    micros over more rows at scale), so the ordering key packs
    (v_micros, event_id) into one 128-bit integer: unique, hence ONE
    deterministic winner on both engines; Spark orders the DECIMAL(38)
    exactly as DuckDB orders the HUGEINT.

    Scale shape: a single map-side-combined aggregation — max_by
    carries one (key, value) pair per partition per group through the
    shuffle, never the rows. No window, no join, no Python."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("v_micros"),
    )
    packed = (
        F.col("v_micros").cast("decimal(38,0)") * F.lit(ARGMAX_SHIFT)
        + F.col("event_id")
    ).alias("pk")
    ev = ev.select("event_type", "user_id", "event_id", "v_micros", packed)
    return ev.groupBy("event_type").agg(
        F.expr("max_by(user_id, pk)").alias("top_user"),
        F.expr("min_by(user_id, pk)").alias("bottom_user"),
        F.expr("max_by(v_micros, event_id)").alias("last_value_micros"),
        F.expr("min_by(v_micros, event_id)").alias("first_value_micros"),
    )


@query(
    "q_agg_bitops",
    oracle="""
        SELECT event_type,
               bit_and(user_id)                      AS id_and,
               bit_or(user_id)                       AS id_or,
               bit_xor(user_id)                      AS id_xor,
               bit_or(CAST(1 AS BIGINT) << CAST(user_id % 56 AS INT))
                                                     AS presence_mask,
               CAST(bit_count(
                   bit_or(CAST(1 AS BIGINT) << CAST(user_id % 56 AS INT))
               ) AS INT)                             AS mask_card
        FROM events
        GROUP BY event_type
    """,
    description="Bitwise aggregates (bit_and/bit_or/bit_xor) + a shifted-bit presence mask with popcount — the 56-slot bitmap-sketch primitive (56 keeps 1<<k inside positive BIGINT range)",
    tags=("aggregate", "bitwise"),
)
def q_agg_bitops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregation over group members plus the
    1<<(k % 56) presence-mask fold — the primitive behind small-domain
    bitmap indexes and feature-flag rollups (q_agg_bitmap_distinct
    builds whole bitmaps; this is the single-word degenerate form that
    needs no explode). XOR doubles as the parity check used by
    replication audits.

    Scale shape: one map-side-combined aggregation; every combiner
    state is a single 64-bit word per group. No shuffle beyond the
    5-group final, no window, no Python."""
    ev = load(spark, sf_dir, "events")
    mask = F.expr("bit_or(shiftleft(cast(1 as bigint), cast(user_id % 56 as int)))")
    return ev.groupBy("event_type").agg(
        F.expr("bit_and(user_id)").alias("id_and"),
        F.expr("bit_or(user_id)").alias("id_or"),
        F.expr("bit_xor(user_id)").alias("id_xor"),
        mask.alias("presence_mask"),
        F.expr(
            "cast(bit_count(bit_or(shiftleft(cast(1 as bigint),"
            " cast(user_id % 56 as int)))) as int)"
        ).alias("mask_card"),
    )


@query(
    "q_agg_chi2",
    oracle="""
        WITH cell AS (
            SELECT event_type,
                   CAST(isodow(CAST(ts AS DATE)) - 1 AS INT) AS dow,
                   CAST(count(*) AS BIGINT) AS o
            FROM events
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, dow, o,
                   CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
                   CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT)        AS c,
                   CAST(sum(o) OVER () AS BIGINT)                        AS n
            FROM cell
        )
        SELECT event_type,
               CAST(sum(
                   (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                   * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                   * 1000000
                   // (CAST(r AS HUGEINT) * c * n)
               ) AS BIGINT)                 AS chi2_ppm,
               CAST(count(*) AS BIGINT)     AS n_cells,
               CAST(max(o) AS BIGINT)       AS max_cell
        FROM tot
        GROUP BY event_type
    """,
    description="Chi-squared independence audit (event_type x day-of-week contingency) in exact ppm via 128-bit integer arithmetic — sum of per-cell floor((O*N - R*C)^2 * 1e6 / (R*C*N))",
    tags=("aggregate", "stats", "audit"),
)
def q_agg_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared contribution per event_type over the
    (event_type x day-of-week) contingency table — the independence
    screen behind seasonality and instrumentation-drift alerts
    (complements q_events_ab_test's two-sample z and q_dq_benford's
    digit law). The algebraic form (O*N - R*C)^2 / (R*C*N) avoids the
    fractional expectation E, so each term is a ratio of integers:
    summed as per-cell floor(term * 1e6) in 128-bit (DECIMAL(38) /
    HUGEINT) — bit-identical on both engines. (Per-cell flooring, not
    floor-of-sum, is the pinned contract; with ppm granularity the two
    differ by < n_cells ppm.) Day-of-week is Spark weekday() == DuckDB
    isodow()-1 (Mon=0) — NOT dayofweek(), whose week origin differs
    between the engines. 128-bit headroom bounds the input at ~5e7
    rows per table ((O*N)^2*1e6 < 1e38); beyond that, drop the ppm
    scale or move to the normalized phi statistic.

    Scale shape: one map-side-combined cell count (35 cells), then
    windows + the final fold over the TINY cell table — the windows
    run on 35 rows, never the events. No Python."""
    cell = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.weekday(F.col("ts").cast("date")).cast("int").alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    tot = cell.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("dow")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    term = (
        "(cast(o as decimal(38,0)) * n - cast(r as decimal(38,0)) * c)"
        " * (cast(o as decimal(38,0)) * n - cast(r as decimal(38,0)) * c)"
        " * 1000000"
    )
    denom = "(cast(r as decimal(38,0)) * c * n)"
    return tot.groupBy("event_type").agg(
        F.expr(f"cast(sum({term} div {denom}) as bigint)").alias("chi2_ppm"),
        F.count(F.lit(1)).alias("n_cells"),
        F.max("o").alias("max_cell"),
    )


# Winsorized mean: clamp at the exact discrete p05/p95 order statistics.
WINSOR_CHUNK_MICROS = 50_000_000  # ~50-unit value chunks for the 2-level rank


@query(
    "q_agg_winsorized",
    oracle="""
        WITH v AS (
            SELECT event_type, event_id,
                   CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vm
            FROM events
        ),
        r AS (
            SELECT event_type, vm,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY vm, event_id) AS i,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM v
        ),
        cuts AS (
            SELECT event_type,
                   CAST(max(n) AS BIGINT) AS n,
                   CAST(max(CASE WHEN i = n * 5 // 100 + 1 THEN vm END)
                        AS BIGINT) AS lo_micros,
                   CAST(max(CASE WHEN i = n - n * 5 // 100 THEN vm END)
                        AS BIGINT) AS hi_micros
            FROM r GROUP BY event_type
        )
        SELECT r.event_type,
               CAST(max(c.n) AS BIGINT)          AS n,
               CAST(max(c.lo_micros) AS BIGINT)  AS lo_micros,
               CAST(max(c.hi_micros) AS BIGINT)  AS hi_micros,
               CAST(sum(CASE WHEN r.vm < c.lo_micros THEN 1 ELSE 0 END)
                    AS BIGINT)                   AS n_clamped_lo,
               CAST(sum(CASE WHEN r.vm > c.hi_micros THEN 1 ELSE 0 END)
                    AS BIGINT)                   AS n_clamped_hi,
               CAST(sum(least(greatest(r.vm, c.lo_micros), c.hi_micros))
                    // max(c.n) AS BIGINT)       AS winsor_mean_micros,
               CAST(sum(r.vm) // max(c.n) AS BIGINT) AS raw_mean_micros
        FROM r JOIN cuts c ON r.event_type = c.event_type
        GROUP BY r.event_type
    """,
    description="Winsorized mean per event_type: clamp at the exact discrete p05/p95 order statistics (two-level chunked rank, no single-partition sort), clamp counts, winsorized vs raw mean in exact micros",
    tags=("aggregate", "robust", "stats"),
)
def q_agg_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean — the robust-location estimator metric pipelines
    use when MAD (q_ts_outlier_mad) flags too much and trimming throws
    data away: clamp the tails at p05/p95 and average. Percentile cuts
    are EXACT discrete order statistics (rank n*5//100 + 1 and
    n - n*5//100 under the unique (v_micros, event_id) order), not
    interpolated floats, so the whole key stays BIGINT-exact including
    the final floor-division means.

    Scale shape: the rank that finds the cuts is a 5-partition
    whole-table window in the naive plan — q_agg_gini's trap — so it
    rides operators/ranking.chunked_row_number (value-range chunks,
    monotone in the (vm, event_id) order within a chunk width). The
    cuts table (one row per type) broadcasts back for the clamp
    pass. No Python."""
    from .ranking import chunked_row_number

    v = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long").alias("vm"),
    )
    ranked = chunked_row_number(
        v,
        ["vm", "event_id"],
        [(F.floor(F.col("vm") / WINSOR_CHUNK_MICROS)).cast("long")],
        part_cols=["event_type"],
        rank_name="i",
    )
    n_tbl = ranked.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    with_n = ranked.join(F.broadcast(n_tbl), "event_type")
    cuts = with_n.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("i") == F.expr("n * 5 div 100 + 1"), F.col("vm"))
        ).alias("lo_micros"),
        F.max(
            F.when(F.col("i") == F.expr("n - n * 5 div 100"), F.col("vm"))
        ).alias("hi_micros"),
    )
    joined = v.join(F.broadcast(cuts), "event_type")
    return joined.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("lo_micros").alias("lo_micros"),
        F.max("hi_micros").alias("hi_micros"),
        F.sum(
            F.when(F.col("vm") < F.col("lo_micros"), 1).otherwise(0)
        ).alias("n_clamped_lo"),
        F.sum(
            F.when(F.col("vm") > F.col("hi_micros"), 1).otherwise(0)
        ).alias("n_clamped_hi"),
        F.expr(
            "sum(least(greatest(vm, lo_micros), hi_micros)) div max(n)"
        ).alias("winsor_mean_micros"),
        F.expr("sum(vm) div max(n)").alias("raw_mean_micros"),
    )


@query(
    "q_agg_theil",
    oracle="""
        WITH s AS (
            SELECT c.c_mktsegment AS seg,
                   CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS spend
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, o.o_custkey
        ),
        pos AS (
            SELECT seg, spend,
                   CAST(sum(spend) OVER (PARTITION BY seg) AS BIGINT) AS tot,
                   CAST(count(*) OVER (PARTITION BY seg) AS BIGINT)   AS n
            FROM s WHERE spend > 0
        )
        SELECT seg,
               CAST(max(n) AS BIGINT)   AS n_cust,
               CAST(max(tot) AS BIGINT) AS spend_total_cents,
               round(sum(
                   (spend / (CAST(tot AS DOUBLE) / n))
                   * ln(spend / (CAST(tot AS DOUBLE) / n)) / n
               ), 6) AS theil_t
        FROM pos
        GROUP BY seg
    """,
    description="Theil T inequality index per segment over positive customer spends: (1/n) sum((x/mu) ln(x/mu)) at 6dp — the decomposable member of the inequality family (Gini/Pareto/HHI lack between-group additivity)",
    tags=("aggregate", "finance", "stats"),
)
def q_agg_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T — the inequality index economists reach for when they
    need DECOMPOSABILITY (total = within-group + between-group, which
    Gini famously lacks): (1/n) sum((x/mu) ln(x/mu)) over positive
    customer spends per segment; 0 = perfect equality, ln(n) = one
    customer holds everything. Completes the inequality family
    (q_agg_gini rank-based, q_agg_pareto coverage, q_agg_herfindahl
    squared shares). Spends are exact integer cents; mu enters as the
    exact rational tot/n evaluated identically in IEEE doubles on both
    engines, and the one ln rounds at 6 dp like q_llm_entropy
    (per-term drift ~1e-15 against the 1e-6 grid). Zero/negative
    spends are excluded from the ln domain by contract — the same
    positive-support restriction the published index carries.

    Scale shape: the per-customer rollup is one co-partitioned
    join + groupBy; the per-segment totals ride two windows over the
    customer-cardinality table (bounded, not the orders); the final
    fold is map-side combinable. No Python."""
    s = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_custkey"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("spend")
        )
    )
    w = Window.partitionBy("seg")
    pos = s.filter(F.col("spend") > 0).select(
        "seg",
        "spend",
        F.sum("spend").over(w).alias("tot"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    mu = F.col("tot").cast("double") / F.col("n")
    ratio = F.col("spend") / mu
    return pos.groupBy("seg").agg(
        F.max("n").alias("n_cust"),
        F.max("tot").alias("spend_total_cents"),
        F.round(F.sum(ratio * F.log(ratio) / F.col("n")), 6).alias(
            "theil_t"
        ),
    )


@query(
    "q_transpose",
    oracle="""
        SELECT 'n_orders' AS key,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
        FROM orders
        UNION ALL
        SELECT 'total_cents' AS key,
               CAST(coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT) AS F,
               CAST(coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT) AS O,
               CAST(coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'P'), 0) AS BIGINT) AS P
        FROM orders
    """,
    description="DataFrame.transpose (Spark 4.0): status-per-row aggregate flipped to metric-per-row with one column per status; oracle is the FILTER-pivoted form",
    tags=("agg", "transpose"),
)
def q_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (r15, Spark 4.0) — the matrix flip:
    rows become columns, with the FIRST column supplying the new
    column names and each remaining input column becoming one output
    row labeled by ``key``. The pinned contract: values keep the
    least-common type of the transposed cells (all-BIGINT in, BIGINT
    out — transpose does NOT silently widen to double here), column
    names are the index column's VALUES ('F'/'O'/'P'), and the
    operation is the exact inverse shape of the FILTER-pivoted oracle.
    The input is ordered on the index column so the new column order
    is deterministic (the driver compare is column-name-sorted, but
    plans should not depend on that).

    Scale shape: transpose COLLECTS the index column to the driver to
    learn the output schema (column names are data), then plans one
    local expand — it is a small-result reshape for matrices that fit
    a report, never a distributed pivot; q_agg_pivot/q_sql_pivot are
    the scalable spellings when the column set is known."""
    wide = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("st"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).alias("total_cents"),
        )
        .orderBy("st")
    )
    return wide.transpose()


@query(
    "q_agg_observe",
    oracle="""
        SELECT CAST(count(*) AS BIGINT)                     AS n_rows,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                   AS BIGINT)                               AS value_cents,
               CAST(min(user_id) AS BIGINT)                 AS min_user,
               CAST(max(user_id) AS BIGINT)                 AS max_user
        FROM events
        WHERE event_type = 'purchase'
    """,
    description="df.observe / Observation (Spark 3.3+): count/sum/min/max metrics captured during a noop-sink pass equal the direct aggregation",
    tags=("agg", "observe", "instrumentation"),
)
def q_agg_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.observe`` + ``Observation`` (r15) — Spark's
    zero-cost pipeline instrumentation: named aggregate metrics are
    accumulated ON the task stream while a query runs its REAL action,
    with no second scan of the input (the idiom production pipelines
    use for row-count/quality gates on every batch write). The pinned
    contract: metrics observed during a noop-sink pass over the
    filtered events scan equal the direct aggregation the oracle
    computes — i.e. observe sees every row exactly once, after
    pushed-down filters, regardless of task parallelism.

    The in-function action (noop write) IS the operator under test —
    Observation.get blocks until the action completes and returns the
    accumulated metrics as one driver-side row (control-plane by
    design, like the BPE merge loop). Distinct aggregates are
    unsupported in observe by contract; count/sum/min/max compose from
    per-task partials exactly like map-side combine."""
    from pyspark.sql import Observation

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
    )
    obs = Observation("pass_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("value_cents"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["value_cents"]),
                int(m["min_user"]),
                int(m["max_user"]),
            )
        ],
        "n_rows bigint, value_cents bigint, min_user bigint, max_user bigint",
    )
