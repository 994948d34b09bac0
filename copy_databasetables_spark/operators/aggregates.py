"""§2.4 Aggregations.

Spark-first notes: ``groupBy().agg()`` compiles to a two-phase hash
aggregate (partial map-side combine → shuffle on the group keys → final),
so a 100 TB Q1 moves only ``|groups| × |aggs|`` bytes per mapper through
the shuffle — the pattern the reference's SqlBulkCopy pipeline could never
express. AQE coalesces the post-shuffle partitions at runtime.

Determinism: money/quantity sums accumulate in DECIMAL(38,6) (associative;
double sums are partition-order dependent — SURVEY.md §7.3#1); statistical
moments use the builtin estimators rounded to safely-below the
cross-system noise floor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from copy_databasetables_spark.io import load_table
from copy_databasetables_spark.operators import register
from copy_databasetables_spark.operators._helpers import DEC, davg, dsum, rz

# --------------------------------------------------------------------------
# q_agg_global — whole-table aggregates (single global group).
# Physical plan: partial agg per scan partition → single-row exchange →
# final agg; only one tiny row crosses the wire regardless of input size.
# --------------------------------------------------------------------------


@register(
    "q_agg_global",
    oracle="""
    SELECT
      COUNT(*) AS n_rows,
      CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
      MIN(l_extendedprice) AS min_price,
      MAX(l_extendedprice) AS max_price,
      COUNT(l_discount) AS n_discount
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count("l_discount").alias("n_discount"),
    )


# --------------------------------------------------------------------------
# q_agg_group — the FLAGSHIP query (TPC-H Q1 shape); also wired as entry().
# --------------------------------------------------------------------------

_Q1_CUTOFF = "2001-09-02"


@register(
    "q_agg_group",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
      (CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_quantity)) AS avg_qty,
      (CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_extendedprice)) AS avg_price,
      (CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_discount)) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-aggregate over two low-cardinality
    keys. The predicate pushes into the parquet scan; the shuffle carries
    at most 6 group rows per mapper."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q_agg_having — post-aggregation filter.
# --------------------------------------------------------------------------


@register(
    "q_agg_having",
    oracle="""
    SELECT
      o_custkey,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_spend"),
        )
        .where(F.col("n_orders") >= 15)
    )


# --------------------------------------------------------------------------
# q_agg_distinct — exact distinct aggregation (expand + two-stage agg).
# --------------------------------------------------------------------------


@register(
    "q_agg_distinct",
    oracle="""
    SELECT
      o_orderstatus,
      COUNT(DISTINCT o_custkey) AS n_customers,
      CAST(SUM(DISTINCT CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_distinct_price,
      COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        F.sum_distinct(F.col("o_totalprice").cast(DEC)).cast("double").alias("sum_distinct_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# q_agg_approx_distinct — HyperLogLog++ cardinality. At 100 TB this is THE
# cardinality tool: constant memory per group vs an exact-distinct shuffle
# of every key. The raw estimate is engine-specific (DuckDB's approx HLL
# differs), so the hash-checkable output is the exact cardinality PLUS an
# in-query verdict that the sketch landed within tolerance of it: Spark
# computes both aggregates in one groupBy and emits the boolean; the
# oracle emits TRUE from the exact side. Hashes match iff the sketch
# really is within tolerance — a value check the driver can grade.
# The band is derived from rsd: ±4σ (= ±4·rsd relative), so a correctly
# functioning sketch fails with probability ~6e-5 per group even after a
# testdata regeneration pushes cardinalities out of HLL++'s sparse
# (near-exact) regime — the prior fixed ±5% band was only 2.5σ, a ~1%
# false-red per group in the dense regime (ADVICE.md r5). The exact
# column exists for the gate; production use is the sketch alone.
# --------------------------------------------------------------------------

#: relative standard deviation requested from approx_count_distinct; the
#: within_tol band is 4·_HLL_RSD so the verdict is deterministic-safe.
_HLL_RSD = 0.02


@register(
    "q_agg_approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS within_tol
    FROM events GROUP BY event_type
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id", rsd=_HLL_RSD)
    exact = F.count_distinct("user_id")
    return (
        ev.groupBy("event_type")
        .agg(
            exact.alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
            (
                F.abs(approx.cast("double") - exact.cast("double"))
                <= F.greatest(
                    F.lit(1.0), (4.0 * _HLL_RSD) * exact.cast("double")
                )
            ).alias("within_tol"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q_agg_stats — statistical moments. Builtin merge-able estimators
# (Welford-style) are partition-order sensitive at ~1e-13 relative, so
# outputs are rounded to well below that noise floor but far above it in
# absolute terms (SURVEY.md §7.3#1).
# --------------------------------------------------------------------------


@register(
    "q_agg_stats",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(STDDEV_SAMP(l_extendedprice), 1) AS sd_price,
      ROUND(VAR_SAMP(l_extendedprice), 0) AS var_price,
      (ROUND(CORR(l_extendedprice, l_quantity), 4) + 0.0) AS corr_price_qty,
      (ROUND(COVAR_SAMP(l_extendedprice, l_discount), 2) + 0.0) AS cov_price_disc,
      ROUND(STDDEV_POP(l_discount), 6) AS sd_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 1).alias("sd_price"),
        F.round(F.var_samp("l_extendedprice"), 0).alias("var_price"),
        rz(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_price_qty"),
        rz(F.covar_samp("l_extendedprice", "l_discount"), 2).alias("cov_price_disc"),
        F.round(F.stddev_pop("l_discount"), 6).alias("sd_disc"),
    )


# --------------------------------------------------------------------------
# q_agg_percentile — exact percentiles (full sort per group). DuckDB's
# quantile_cont uses the same linear interpolation.
# --------------------------------------------------------------------------


@register(
    "q_agg_percentile",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
      ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50_price,
      ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
      ROUND(median(l_quantity), 4) AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.50)), 4).alias("p50_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("p75_price"),
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
    )


# --------------------------------------------------------------------------
# q_agg_collect — list/set aggregation, made deterministic by sorting the
# collected values and projecting to a joined string (array hashing is
# representation-sensitive across systems; a canonical string is not).
# --------------------------------------------------------------------------


@register(
    "q_agg_collect",
    oracle="""
    SELECT
      c_nationkey,
      string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments_all,
      (SELECT string_agg(DISTINCT s, ',' ORDER BY s)
         FROM (SELECT UNNEST(list_distinct(list(c2.c_mktsegment))) AS s
                 FROM customer c2 WHERE c2.c_nationkey = customer.c_nationkey)) AS segments_set
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("c_mktsegment")), ",").alias("segments_all"),
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments_set"),
    )


# --------------------------------------------------------------------------
# q_agg_rollup / q_agg_cube / q_agg_grouping_sets — multi-dimensional
# subtotals. Spark expands these into a single Expand + aggregate (one
# pass over the data, not one pass per grouping set).
# --------------------------------------------------------------------------


@register(
    "q_agg_rollup",
    oracle="""
    SELECT
      o_orderstatus,
      o_orderpriority,
      GROUPING(o_orderstatus, o_orderpriority) AS gid,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT
      c_mktsegment,
      c_nationkey,
      GROUPING(c_mktsegment, c_nationkey) AS gid,
      COUNT(*) AS n_customers,
      (CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(c_acctbal)) AS avg_bal
    FROM customer
    GROUP BY CUBE (c_mktsegment, c_nationkey)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.cube("c_mktsegment", "c_nationkey").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_customers"),
        davg("c_acctbal", "avg_bal"),
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT
      lang,
      source,
      GROUPING(lang, source) AS gid,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("gs_documents")
    return spark.sql(
        """
        SELECT
          lang,
          source,
          grouping_id(lang, source) AS gid,
          COUNT(*) AS n_docs,
          SUM(n_chars) AS total_chars
        FROM gs_documents
        GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )


# --------------------------------------------------------------------------
# q_pivot — event_type pivoted to columns. The value list is pinned so the
# output schema is static (required for the oracle and for any sink);
# Spark then plans a single pivot aggregate, and missing combinations are
# filled with 0 to match SQL's FILTER-count semantics.
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q_unpivot",
    oracle="""
    WITH p AS (
      SELECT user_id,
             COUNT(*) FILTER (WHERE event_type = 'click') AS click,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             COUNT(*) FILTER (WHERE event_type = 'view') AS view
      FROM events GROUP BY user_id)
    SELECT user_id, kind, n FROM (
      SELECT user_id, 'click' AS kind, click AS n FROM p
      UNION ALL SELECT user_id, 'purchase', purchase FROM p
      UNION ALL SELECT user_id, 'view', view FROM p)
    WHERE n > 0
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (``df.unpivot``, the inverse of pivot): the pivoted
    per-user counts fold back into (user, kind, n) rows. Unpivot is an
    Expand node — row multiplication inside the stage, no shuffle beyond
    the pivot's own."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "purchase", "view"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0, subset=kinds)
    )
    return wide.unpivot(
        ids=["user_id"], values=kinds, variableColumnName="kind", valueColumnName="n"
    ).where(F.col("n") > 0)


@register(
    "q_pivot",
    oracle="""
    SELECT
      user_id,
      COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, subset=_EVENT_TYPES)
    )


# --------------------------------------------------------------------------
# Heavy hitters + incremental aggregate maintenance (r3 additions).
# --------------------------------------------------------------------------

#: heavy-hitter threshold: keys holding more than this fraction of all
#: rows. 1/64 ≈ 1.5% — the magnitude where one key starts dominating a
#: 200-partition shuffle and the salted-join path becomes worth its cost.
_HH_DENOM = 64


@register(
    "q_agg_heavy_hitters",
    oracle=f"""
    WITH counts AS (
      SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY o_custkey),
    tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT key, n,
           CAST(FLOOR(10000.0 * n / total) AS BIGINT) AS frac_bp
    FROM counts, tot
    WHERE n * {_HH_DENOM} > total
    """,
)
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: join keys holding > 1/``_HH_DENOM`` of all
    rows — the diagnostic that DECIDES whether a join needs the salted
    path (q_join_salted) or AQE skew-split can cope.

    Scale: one two-phase count per key (map-side combine means each
    mapper emits |distinct keys| rows, not |rows|), one scalar total
    broadcast back over the counts. The count table is |distinct keys|
    rows — if even THAT is too big, the production variant swaps the
    exact count for count-min sketch; the threshold filter is the same.
    Fraction reported in basis points (FLOOR) to stay engine-portable.

    Over raw TPC-H orders this is correctly EMPTY (custkeys near-uniform,
    max share ≪ 1/64); ``q_agg_heavy_hitters_skewed`` proves the
    positive path on a synthesized hot key."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .where(F.col("n") * _HH_DENOM > F.col("total"))
        .select(
            "key",
            "n",
            F.floor(10000.0 * F.col("n") / F.col("total")).alias("frac_bp"),
        )
    )


@register(
    "q_agg_heavy_hitters_skewed",
    oracle=f"""
    WITH skewed AS (
      SELECT CAST(CASE WHEN o_orderkey % 10 < 9 THEN 1 ELSE o_custkey END
                  AS BIGINT) AS key
      FROM orders),
    counts AS (SELECT key, COUNT(*) AS n FROM skewed GROUP BY key),
    tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT key, n,
           CAST(FLOOR(10000.0 * n / total) AS BIGINT) AS frac_bp
    FROM counts, tot
    WHERE n * {_HH_DENOM} > total
    """,
)
def q_agg_heavy_hitters_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection over a DELIBERATELY skewed key — the
    positive-path evidence that the 1/``_HH_DENOM`` detector actually
    fires. ``q_agg_heavy_hitters`` over raw orders is correctly empty
    (TPC-H custkeys are near-uniform); this variant remaps ~90% of rows
    onto one hot key (the same ``% 10 < 9`` synthesis the measured skew
    A/B in bench.py uses), so the detector MUST report exactly that key
    at ~9000 basis points. Same threshold, same plan shape: two-phase
    count per key, scalar total broadcast back over the counts.

    At 100 TB this is the diagnostic run BEFORE a big join: a non-empty
    result routes the hot keys to q_join_salted / AQE skew-split."""
    o = load_table(spark, sf_dir, "orders")
    skewed = o.select(
        F.when(F.col("o_orderkey") % 10 < 9, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .cast("bigint")
        .alias("key")
    )
    counts = skewed.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .where(F.col("n") * _HH_DENOM > F.col("total"))
        .select(
            "key",
            "n",
            F.floor(10000.0 * F.col("n") / F.col("total")).alias("frac_bp"),
        )
    )


#: the "yesterday" snapshot cut for incremental maintenance: orders
#: strictly before this date are the materialized base; the rest is the
#: incoming delta batch.
_INC_CUT = "1997-01-01"


@register(
    "q_agg_incremental",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < DATE '{_INC_CUT}' GROUP BY o_custkey),
    delta AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate >= DATE '{_INC_CUT}' GROUP BY o_custkey),
    merged AS (
      SELECT o_custkey, n_orders, cents FROM base
      UNION ALL
      SELECT o_custkey, n_orders, cents FROM delta)
    SELECT o_custkey,
           CAST(SUM(n_orders) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 2) AS total_spent
    FROM merged GROUP BY o_custkey
    """,
)
def q_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view refresh):
    merge a pre-aggregated BASE snapshot with the partial aggregate of
    an incoming DELTA batch instead of re-aggregating the full history —
    sum/count are mergeable, so base ⊎ delta re-aggregated per key is
    EXACTLY the full recompute (which is what the oracle runs on the
    union, proving the equivalence the pattern rests on).

    Scale: the daily refresh touches |delta| rows + |affected keys| of
    base state, not 100 TB of history. Money accumulates in exact cents
    (bigint) so base/delta merge order can never change a digit; the
    same mergeability argument powers the partial-agg shuffle inside
    every two-phase hash aggregate."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    ).alias("cents")
    n = F.count(F.lit(1)).alias("n_orders")
    cut = F.lit(_INC_CUT).cast("date")
    base = (
        o.where(F.col("o_orderdate") < cut).groupBy("o_custkey").agg(n, cents)
    )
    delta = (
        o.where(F.col("o_orderdate") >= cut).groupBy("o_custkey").agg(n, cents)
    )
    return (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("cents").alias("c"))
        .select(
            "o_custkey",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.round(F.col("c").cast("double") / 100, 2).alias("total_spent"),
        )
    )


@register(
    "q_agg_heavy_hitters_pruned",
    oracle=f"""
    WITH counts AS (
      SELECT CAST(l_quantity AS BIGINT) AS key, COUNT(*) AS n
      FROM lineitem GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT key, n,
           CAST(FLOOR(10000.0 * n / total) AS BIGINT) AS frac_bp
    FROM counts, tot
    WHERE n * {_HH_DENOM} > total
    """,
)
def q_agg_heavy_hitters_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via partition-local candidate pruning — the
    two-round algorithm for when even the |distinct keys| count table of
    ``q_agg_heavy_hitters`` is too big to shuffle (URLs, ngrams,
    user-ids at 100 TB).

    Round 1 keeps each INPUT partition's local top-``_HH_DENOM`` keys
    by local count: sound by pigeonhole — a key with global share
    > 1/D has share > 1/D in at least one partition, and at most D keys
    can hold share ≥ 1/D there, so it ranks ≤ D locally. The shuffle
    after round 1 carries at most |partitions|·D candidate rows, NOT
    |distinct keys|. Round 2 recounts ONLY the candidates exactly (one
    broadcast semi-join — the candidate set is bounded by construction)
    and applies the threshold against the full row count, which removes
    every false candidate. The result is therefore EXACTLY the exact
    operator's output — hash-proven against the same oracle shape — not
    an approximation; what was traded is a second corpus pass for an
    unboundedly smaller shuffle. (Misra-Gries/SpaceSaving make the same
    pigeonhole argument with a streaming summary; two clean scans fit
    Spark's execution model better than per-partition mutable state.)

    Tested on l_quantity (50 uniform integer values, each ~2% share >
    the 1/{_HH_DENOM} threshold) so the positive path returns all 50
    keys — richer evidence than the single synthesized hot key."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("key")
    )
    local = li.groupBy(F.spark_partition_id().alias("pid"), "key").agg(
        F.count(F.lit(1)).alias("ln")
    )
    lw = Window.partitionBy("pid").orderBy(F.col("ln").desc(), F.col("key").asc())
    cand = (
        local.withColumn("rn", F.row_number().over(lw))
        .where(F.col("rn") <= _HH_DENOM)
        .select("key")
        .distinct()
    )
    counts = (
        li.join(F.broadcast(cand), "key", "left_semi")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = li.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .where(F.col("n") * _HH_DENOM > F.col("total"))
        .select(
            "key",
            "n",
            F.floor(10000.0 * F.col("n") / F.col("total")).alias("frac_bp"),
        )
    )


#: Apache DataSketches HLL accuracy at the default lgConfigK=12:
#: rsd ≈ 1.04/√2¹² ≈ 1.6%. The verdict band is ~5σ (8%) with an
#: absolute floor, same deterministic-safety reasoning as
#: q_agg_approx_distinct's 4σ band.
_SKETCH_TOL = 0.08


@register(
    "q_agg_hll_mergeable",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
           TRUE AS within_tol
    FROM events GROUP BY event_type
    """,
)
def q_agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB distinct-count design. A
    daily job reduces each (event_type, day) to one fixed-size
    DataSketches HLL sketch (``hll_sketch_agg``); the reporting query
    then unions ~days×types sketches (``hll_union_agg``) WITHOUT ever
    re-scanning raw events — re-aggregation cost is O(sketch table),
    not O(corpus), and the same sketch table answers any day-range
    slice. This is what q_agg_approx_distinct's single-pass HLL++
    becomes once you need composable pre-aggregation.

    Sketch bytes are engine-specific, so (as with approx_distinct) the
    hash-checkable output is the exact cardinality plus an in-query
    verdict that the MERGED estimate lands within ~5σ of it; the
    oracle emits TRUE from the exact side. The unit suite additionally
    pins merge losslessness: union-of-daily-sketches estimates exactly
    what one corpus-wide sketch estimates."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    # count_distinct skips NULL days, matching the oracle's
    # COUNT(DISTINCT CAST(ts AS DATE)) by construction — a bare group
    # count would disagree by one if a null ts ever enters the data
    # (the null-day group still feeds the sketch union, as it should).
    merged = daily.groupBy("event_type").agg(
        F.round(F.hll_sketch_estimate(F.hll_union_agg("sk"))).alias("est"),
        F.count_distinct("day").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            "n_days",
            (
                F.abs(F.col("est") - F.col("exact_users").cast("double"))
                <= F.greatest(
                    F.lit(2.0),
                    F.lit(_SKETCH_TOL) * F.col("exact_users").cast("double"),
                )
            ).alias("within_tol"),
        )
    )


#: KLL verdict band on NORMALIZED RANK (the error KLL actually bounds —
#: value-space error depends on the local density, rank error doesn't).
#: DataSketches k=200 gives ~1.65% rank error at 99% confidence; 0.05 is
#: ~3× that, so a correctly functioning sketch fails with vanishing
#: probability even though KLL compaction is randomized per run.
_KLL_RANK_TOL = 0.05


@register(
    "q_agg_kll_mergeable",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS exact_median,
           COUNT(*) AS n_events,
           TRUE AS within_tol
    FROM events GROUP BY event_type
    """,
)
def q_agg_kll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-PERCENTILE rollup — q_agg_hll_mergeable's design for
    quantiles: a daily job reduces each (event_type, day) to one
    fixed-size DataSketches KLL sketch; the reporting query merges
    ~days×types sketches (``kll_merge_agg_double``) and reads any
    quantile WITHOUT re-scanning raw events — the same pre-aggregated
    sketch table answers p50/p95/p99 over any day range at O(sketch
    table) cost. At 100 TB this replaces a full-corpus sort-based
    percentile per report with a metadata-sized merge.

    Sketch bytes and the KLL estimate are randomized (compaction coin
    flips), so the hash-checkable output is the EXACT median plus an
    in-query verdict that the merged estimate's exact normalized rank
    lands within ±0.05 of 0.5 — rank is what KLL bounds (~1.65% at
    k=200), so the band is ~3σ; the oracle emits TRUE from the exact
    side, the same pattern as the HLL verdicts."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.col("value").cast("double")
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.kll_sketch_agg_double("v").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.kll_sketch_get_quantile_double(
            F.kll_merge_agg_double("sk"), F.lit(0.5)
        ).alias("est_median")
    )
    return (
        ev.join(F.broadcast(merged), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.percentile("v", 0.5), 4).alias("exact_median"),
            F.count(F.lit(1)).alias("n_events"),
            (
                # rank indicator over NON-NULL values only (avg skips the
                # NULL branch): the sketch and F.percentile both ignore
                # NULL v, so scoring a NULL as "above median" would skew
                # the measured rank by the null fraction and flip the
                # verdict red on perfectly healthy sketches
                F.abs(
                    F.avg(
                        F.when(F.col("v") <= F.col("est_median"), 1.0).when(
                            F.col("v").isNotNull(), 0.0
                        )
                    )
                    - 0.5
                )
                <= _KLL_RANK_TOL
            ).alias("within_tol"),
        )
    )


#: Theta-intersection verdict band: theta sketches are EXACT below the
#: default nominal entries (4096) — the regime every gate SF sits in —
#: and ~1.6% rsd above it; intersection error grows with the
#: union/intersection ratio, so the band is generous (10% + floor).
_THETA_TOL = 0.10


@register(
    "q_agg_theta_overlap",
    oracle="""
    WITH ue AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS exact_overlap,
           TRUE AS within_tol
    FROM ue a JOIN ue b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
)
def q_agg_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based SET-OVERLAP estimation — the corpus-comparison tool
    at 100 TB: one theta sketch per corpus slice (fixed bytes each),
    then ``theta_intersection`` estimates |A∩B| distinct members for
    ANY pair WITHOUT joining the underlying data — estimating
    train∩benchmark user (or n-gram) overlap between two 100 TB
    corpora becomes an exchange of kilobyte sketches instead of a
    cross-corpus shuffle. Theta extends the HLL design (union-only)
    with intersection/difference algebra.

    The hash-checkable output is the EXACT pairwise overlap (one
    distinct-pair self-join — affordable at gate scale, the quantity
    the sketch replaces at real scale) plus the verdict that the
    sketch estimate lands within 10% (floor 5): theta hashing is
    deterministic, and below the default 4096 nominal entries — every
    gate SF — the sketch is EXACT, so the verdict is stable."""
    ev = load_table(spark, sf_dir, "events")
    th = ev.groupBy("event_type").agg(F.theta_sketch_agg("user_id").alias("th"))
    est = (
        th.select(F.col("event_type").alias("type_a"), F.col("th").alias("tha"))
        .join(
            th.select(F.col("event_type").alias("type_b"), F.col("th").alias("thb")),
            F.col("type_a") < F.col("type_b"),
        )
        .select(
            "type_a",
            "type_b",
            F.theta_sketch_estimate(
                F.theta_intersection("tha", "thb")
            ).alias("est_overlap"),
        )
    )
    ue = ev.select("event_type", "user_id").distinct()
    exact = (
        ue.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            ue.select(F.col("event_type").alias("type_b"), F.col("user_id").alias("uid_b")),
            (F.col("user_id") == F.col("uid_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return exact.join(F.broadcast(est), ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_overlap",
        (
            F.abs(F.col("est_overlap").cast("double") - F.col("exact_overlap"))
            <= F.greatest(
                F.lit(5.0), F.lit(_THETA_TOL) * F.col("exact_overlap").cast("double")
            )
        ).alias("within_tol"),
    )


@register(
    "q_agg_mode",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS modal_priority,
           n AS modal_n
    FROM (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY COUNT(*) DESC,
                                         o_orderpriority ASC) AS rn
      FROM orders GROUP BY o_orderstatus, o_orderpriority)
    WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group: the most frequent o_orderpriority
    within each order status, ties broken by the lexicographically
    smallest value (determinism). Spark has no MODE aggregate that
    pins tie behavior, so this is the portable composition: count per
    (group, value) — a two-phase partial aggregate whose shuffle
    carries |groups|·|distinct values| partial counts — then one rank
    window over that TINY aggregated frame (never the raw table)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("modal_n"),
        )
    )


# --------------------------------------------------------------------------
# q_agg_cms_err — Count-Min sketch accuracy audit (r9).
# --------------------------------------------------------------------------

_CMS_D = 4   # hash rows (depth): P[err > ε] ≤ (1/2)^d per probe
_CMS_W = 64  # buckets per row (width): E[err] ≤ n_rows / w per cell

#: portable per-(key, seed) bucket — the md5-derived 60-bit integer both
#: engines compute identically (_helpers._H's idiom), reduced mod width.
_CMS_BUCKET = (
    "conv(substring(md5(concat(cast(user_id as string), '#', "
    "cast(seed as string))), 1, 15), 16, 10)"
)
_D_CMS_BUCKET = (
    "CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR) || '#' || "
    "CAST(seed AS VARCHAR)), 1, 15)) AS BIGINT)"
)


@register(
    "q_agg_cms_err",
    oracle=f"""
    WITH seeds AS (SELECT UNNEST(range({_CMS_D})) AS seed),
    cells AS (
      SELECT seed, {_D_CMS_BUCKET} % {_CMS_W} AS bucket, COUNT(*) AS c
      FROM events CROSS JOIN seeds
      GROUP BY 1, 2),
    top AS (
      SELECT user_id, COUNT(*) AS true_n
      FROM events GROUP BY user_id
      ORDER BY true_n DESC, user_id LIMIT 10),
    probes AS (
      SELECT t.user_id, t.true_n, s.seed,
             {_D_CMS_BUCKET.replace('user_id', 't.user_id')} % {_CMS_W}
               AS bucket
      FROM top t CROSS JOIN seeds s)
    SELECT p.user_id, p.true_n,
           MIN(c.c) AS est_n,
           MIN(c.c) - p.true_n AS err
    FROM probes p JOIN cells c ON c.seed = p.seed AND c.bucket = p.bucket
    GROUP BY p.user_id, p.true_n
    """,
)
def q_agg_cms_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch accuracy audit — the FREQUENCY twin of the HLL
    (cardinality) and KLL (quantile) sketch rows, in the estimator-audit
    style the recall/minhash audits established: build a d=4 × w=64 CMS
    over the event stream's user_id, then report, for the true top-10
    users, the sketch estimate beside the exact count and the
    (provably non-negative) overestimation error. The sketch is pure
    SQL — Spark's df.stat.countMinSketch detours through the driver, so
    the engine builds it as expressions: d portable md5-derived bucket
    hashes per key, one groupBy(seed, bucket) count, estimate =
    min over d cells.

    Scale shape (100 TB): the build explodes each row into d=4 (seed,
    bucket) increments that map-side combine into ≤ d·w = 256 partial
    cells per mapper — the shuffle carries CELLS, never rows, and the
    merged sketch is a 256-row table that broadcasts for probing (CMS
    is mergeable by cell-wise addition, so per-day sketches roll up
    exactly like the HLL row's). Probes inline the same bucket
    expression and join the broadcast cells — no second pass over the
    stream. All-integer output: exact-hashable, no float surface."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    seeds = F.explode(
        F.array([F.lit(i) for i in range(_CMS_D)])
    ).alias("seed")
    bucket = (F.expr(_CMS_BUCKET).cast("bigint") % _CMS_W).alias("bucket")
    cells = (
        ev.select("user_id", seeds)
        .select("seed", bucket)
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("user_id"))
        .limit(10)
    )
    probes = top.select("user_id", "true_n", seeds).select(
        "user_id", "true_n", "seed", bucket
    )
    return (
        probes.join(F.broadcast(cells), ["seed", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("c").alias("est_n"))
        .select(
            "user_id",
            "true_n",
            "est_n",
            (F.col("est_n") - F.col("true_n")).alias("err"),
        )
    )


# --------------------------------------------------------------------------
# q_agg_winsorize (r12): per-group percentile clipping — the robust-
# statistics cleaning step (cap outlier metric values at p05/p95 before
# they skew means, losses, or quality scores).
# --------------------------------------------------------------------------

#: winsorization cut percentiles, as integer percents (exact rank math).
_WINSOR_LO_PCT = 5
_WINSOR_HI_PCT = 95


@register(
    "q_agg_winsorize",
    oracle=f"""
    WITH ranked AS (
      SELECT event_id, event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value ASC, event_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL),
    th AS (
      SELECT event_type,
             MIN(CASE WHEN rn = (n * {_WINSOR_LO_PCT} + 99) // 100
                      THEN value END) AS lo,
             MIN(CASE WHEN rn = (n * {_WINSOR_HI_PCT} + 99) // 100
                      THEN value END) AS hi
      FROM ranked GROUP BY event_type)
    SELECT r.event_id, r.event_type,
           (round(r.value, 6) + 0.0) AS value_raw,
           (round(LEAST(GREATEST(r.value, th.lo), th.hi), 6) + 0.0)
             AS value_w,
           CASE WHEN r.value < th.lo THEN 'low'
                WHEN r.value > th.hi THEN 'high'
                ELSE 'in' END AS clip_flag
    FROM ranked r JOIN th ON th.event_type = r.event_type
    """,
)
def q_agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization per group: every event's value is clipped to its
    event_type's [p5, p95] band (_WINSOR_LO_PCT/_WINSOR_HI_PCT) — the
    standard robust-cleaning transform before any mean/variance-based
    downstream (a handful of 490.0 outliers in a 0.01-median metric
    move the mean by orders of magnitude; winsorizing bounds their
    leverage without dropping rows the way a filter would).

    The cut points are DISCRETE percentiles — actual data values at
    integer ranks, ceil(p·n) computed in pure int64 arithmetic
    ((n·p + 99) div 100, never a float ceil whose 0.05·n can sit one
    ulp either side of an integer) — so the thresholds, and therefore
    every comparison against them, are identical exact doubles on
    both engines; interpolated percentiles (F.percentile /
    quantile_cont) would make the clip boundary an
    accumulation-artifact double and ulp-flip rows at the cut. Rows
    with NULL values are excluded up front (both engines), keeping
    the rank order total.

    Scale shape (100 TB): one window shuffle on event_type for the
    ranks (group cardinality = |event types|; at extreme skew the
    production swap is an approx-quantile sketch per group —
    q_agg_kll_mergeable is that machinery — traded for exactness
    here), then the 2-value-per-group threshold frame broadcasts back
    onto the fact: the clip itself is map-side, no second fact
    shuffle. Output: per-row raw + winsorized value + which side (if
    any) was clipped, the audit readout."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    lo_rk = F.expr(f"(n * {_WINSOR_LO_PCT} + 99) div 100")
    hi_rk = F.expr(f"(n * {_WINSOR_HI_PCT} + 99) div 100")
    th = (
        ranked.withColumn("lo_rk", lo_rk)
        .withColumn("hi_rk", hi_rk)
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("rn") == F.col("lo_rk"), F.col("value"))
            ).alias("lo"),
            F.min(
                F.when(F.col("rn") == F.col("hi_rk"), F.col("value"))
            ).alias("hi"),
        )
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return ranked.join(F.broadcast(th), "event_type").select(
        "event_id",
        "event_type",
        rz("value", 6).alias("value_raw"),
        rz(clipped, 6).alias("value_w"),
        F.when(F.col("value") < F.col("lo"), F.lit("low"))
        .when(F.col("value") > F.col("hi"), F.lit("high"))
        .otherwise(F.lit("in"))
        .alias("clip_flag"),
    )


#: Count-min sketch geometry: d independent hash rows × w buckets.
#: 150 distinct users over 64 buckets keeps collisions real (est >
#: exact for some probes) without drowning the estimates; both are
#: index-build constants at any corpus size — the sketch is 256 cells
#: whether it summarizes 10k events or 100 TB of them.
_CM_D = 4
_CM_W = 64
_CM_PROBES = 10
#: portable 60-bit md5 hash (dedup.py's idiom): Spark conv(hex,16,10) ↔
#: DuckDB CAST('0x'||hex AS BIGINT) — identical integers both sides.
_CM_H_SPARK = (
    "cast(conv(substring(md5(concat('{j}:', cast(user_id as string))), "
    "1, 15), 16, 10) as bigint) % " + str(_CM_W)
)
_CM_H_SQL = (
    "CAST(concat('0x', substring(md5(concat(CAST(j AS VARCHAR), ':', "
    "CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % " + str(_CM_W)
)


@register(
    "q_agg_countmin",
    oracle=f"""
    WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    js AS (SELECT CAST(UNNEST(range(0, {_CM_D})) AS BIGINT) AS j),
    cells AS (
      SELECT day, j, bucket, COUNT(*) AS c FROM (
        SELECT day, j, {_CM_H_SQL} AS bucket
        FROM ev CROSS JOIN js)
      GROUP BY day, j, bucket),
    merged AS (SELECT j, bucket, CAST(SUM(c) AS BIGINT) AS c
               FROM cells GROUP BY j, bucket),
    probes AS (SELECT DISTINCT user_id FROM ev ORDER BY user_id
               LIMIT {_CM_PROBES}),
    pb AS (SELECT user_id, j, {_CM_H_SQL} AS bucket
           FROM probes CROSS JOIN js),
    est AS (SELECT user_id, MIN(c) AS est_count
            FROM pb JOIN merged USING (j, bucket) GROUP BY user_id),
    exact AS (SELECT user_id, COUNT(*) AS exact_count
              FROM ev GROUP BY user_id)
    SELECT est.user_id, est.est_count, exact.exact_count,
           est.est_count >= exact.exact_count AS never_undercounts
    FROM est JOIN exact ON est.user_id = exact.user_id
    """,
)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) — the mergeable
    FREQUENCY sketch beside the HLL (distinct) and KLL (quantile)
    rollups: a daily job reduces each day's events to a fixed
    ``_CM_D``×``_CM_W`` counter grid; the reporting query merges
    days by CELL-WISE SUM (counters are exactly associative — unlike
    the DataSketches estimates, every cell is a deterministic integer,
    so the whole sketch is hash-checkable) and answers "how many
    events did key k have" for any key WITHOUT re-scanning raw events:
    est(k) = min over rows j of cell[j][h_j(k)]. At 100 TB the build
    is one pass with map-side partial aggregation collapsing each task
    to ≤ d·w = {_CM_D * _CM_W} cells — the shuffle carries
    O(cells·partitions) rows no matter the corpus — and the sketch
    table replaces a full per-key count per report. CM guarantees
    est ≥ exact always (hash collisions only ADD) and est ≤ exact +
    εN w.h.p.; the output carries both sides plus the one-sided
    verdict, and the unit suite pins cell-wise merge associativity
    (sum of per-day sketches ≡ the single-pass global sketch).
    Probes are a deterministic TakeOrdered-bounded set, the BLAS-cap
    discipline. Hashing is the portable 60-bit md5 idiom
    (dedup.py:49), so both engines compute identical buckets."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    jb = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.expr(_CM_H_SPARK.format(j=j)).alias("bucket"),
            )
            for j in range(_CM_D)
        ]
    )
    daily = (
        ev.select("day", F.explode(jb).alias("jb"))
        .groupBy("day", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merged = daily.groupBy("j", "bucket").agg(F.sum("c").alias("c"))
    probes = ev.select("user_id").distinct().orderBy("user_id").limit(_CM_PROBES)
    pb = probes.select(
        "user_id", F.explode(jb).alias("jb")
    ).select(
        "user_id",
        F.col("jb.j").alias("j"),
        F.col("jb.bucket").alias("bucket"),
    )
    est = (
        pb.join(F.broadcast(merged), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_count"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "user_id").select(
        "user_id",
        "est_count",
        "exact_count",
        (F.col("est_count") >= F.col("exact_count")).alias("never_undercounts"),
    )


# --------------------------------------------------------------------------
# q_agg_moments — EXACT higher moments from order-independent power sums.
# q_agg_stats' builtin estimators (Welford merges) are partition-order
# sensitive at ~1e-13 and need coarse display rounding; this op is the
# mergeable-exact alternative: accumulate raw power/cross sums in
# DECIMAL(38,6) (every term is an exact ≤6-decimal value, so the sums
# are exact integers-of-1e-6 and associative), then evaluate the moment
# algebra once per group on identical inputs in both engines.
# --------------------------------------------------------------------------


@register(
    "q_agg_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                           AS DECIMAL(38,6))) AS DOUBLE) AS sxxx,
             CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                           * l_quantity AS DECIMAL(38,6))) AS DOUBLE)
               AS sxxxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice
                           AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag),
    m AS (
      SELECT l_returnflag, n, sx / n AS mu,
             sxx / n - (sx / n) * (sx / n) AS m2,
             sxxx / n - 3 * (sx / n) * (sxx / n)
               + 2 * (sx / n) * (sx / n) * (sx / n) AS m3,
             sxxxx / n - 4 * (sx / n) * (sxxx / n)
               + 6 * (sx / n) * (sx / n) * (sxx / n)
               - 3 * (sx / n) * (sx / n) * (sx / n) * (sx / n) AS m4,
             (n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r
      FROM s)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           (round(mu, 6) + 0.0) AS mean_qty,
           (round(m2, 6) + 0.0) AS var_qty,
           (round(m3 / (m2 * sqrt(m2)), 6) + 0.0) AS skew_qty,
           (round(m4 / (m2 * m2) - 3, 6) + 0.0) AS kurt_qty,
           (round(r, 6) + 0.0) AS corr_price_qty
    FROM m
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group higher moments — population variance, skewness,
    EXCESS kurtosis (the two shape statistics no other operator covers;
    the standard data-profiling outputs a feature-quality gate reads) —
    plus the exact Pearson correlation, all derived from raw power and
    cross sums Σx..Σx⁴, Σy, Σy², Σxy.

    Scale shape (100 TB): ONE two-phase aggregate — the power sums are
    map-side partial (each task ships 8 numbers per group), and the
    moment algebra runs on the |groups|-row result. This is the
    mergeable formulation: unioning two shards' sums IS the combined
    statistic, so the same op rolls up daily profiles into monthly
    ones without touching rows twice.

    Determinism (why not q_agg_stats' builtins): Welford-style merge
    estimators vary in the last bits with partition order, forcing
    coarse display rounding. Every term here (quantity powers are
    integers ≤6.25e6; price terms have ≤6 true decimals and y² ≤
    1.2e14 < 2⁵³ stays exact in double) casts exactly to
    DECIMAL(38,6); decimal sums are associative, so both engines hold
    bit-identical sums (≤ ~7e15, exact as doubles), and the final
    moment algebra is the SAME IEEE expression tree on identical
    inputs — sqrt is correctly rounded, so results agree to the last
    bit and 6dp rounding is safe."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")

    def dexact(expr, alias):
        return F.sum(expr.cast(DEC)).cast("double").alias(alias)

    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dexact(x, "sx"),
        dexact(x * x, "sxx"),
        dexact(x * x * x, "sxxx"),
        dexact(x * x * x * x, "sxxxx"),
        dexact(y, "sy"),
        dexact(y * y, "syy"),
        dexact(x * y, "sxy"),
    )
    n, sx, sxx, sxxx, sxxxx, sy, syy, sxy = (
        F.col("n"),
        F.col("sx"),
        F.col("sxx"),
        F.col("sxxx"),
        F.col("sxxxx"),
        F.col("sy"),
        F.col("syy"),
        F.col("sxy"),
    )
    mu = sx / n
    m2 = sxx / n - (sx / n) * (sx / n)
    m3 = (
        sxxx / n
        - F.lit(3) * (sx / n) * (sxx / n)
        + F.lit(2) * (sx / n) * (sx / n) * (sx / n)
    )
    m4 = (
        sxxxx / n
        - F.lit(4) * (sx / n) * (sxxx / n)
        + F.lit(6) * (sx / n) * (sx / n) * (sxx / n)
        - F.lit(3) * (sx / n) * (sx / n) * (sx / n) * (sx / n)
    )
    r = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        F.round(mu, 6).alias("mean_qty"),
        F.round(m2, 6).alias("var_qty"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skew_qty"),
        F.round(m4 / (m2 * m2) - F.lit(3), 6).alias("kurt_qty"),
        F.round(r, 6).alias("corr_price_qty"),
    )
