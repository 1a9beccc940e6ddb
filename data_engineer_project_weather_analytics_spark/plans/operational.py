"""Operational / scale-pattern query set (round 3, batch 2): the
warehouse mechanics a data platform team runs around the reference's
dashboard workload — incremental materialized-view maintenance, skew-
resistant joins, per-group top-k, unpivot/melt, activity streaks, and
deterministic per-group sampling.

Each query doubles as the test harness for a reusable scale pattern:

* ``mv1`` — merging stored partial aggregates instead of rescanning the
  base table (the only viable refresh strategy at 100 TB);
* ``j7`` — salted replicate-join for skewed keys where the small side
  is too big (or the key too hot) for a plain broadcast;
* ``o3``/``x21`` — rank-filter top-k per group, which Spark ≥3.5
  rewrites to ``WindowGroupLimit`` (per-partition partial top-k before
  the shuffle — the distributed heap, not a full per-group sort);
* ``u3`` — the Expand-based unpivot (bounded ×4 fan-out, no shuffle
  until the following aggregate);
* ``w6`` — gaps-and-islands with pure integer/date arithmetic.

Cross-engine determinism per CLAUDE.md: exact cents (DECIMAL→BIGINT)
for money sums, BIGINT casts for counts/ranks, no float rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineer_project_weather_analytics_spark.operators.skew import replicated_skew_join
from data_engineer_project_weather_analytics_spark.sources.catalog import load_table, local_frame


# --------------------------------------------------------------------------
# MV1 — incremental aggregate maintenance (partial-agg merge)
# --------------------------------------------------------------------------

def mv1_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: a stored partial
    aggregate over the historical slice merged with the partial
    aggregate of the new delta slice, proving merge(partials) ≡
    recompute(all) bit-for-bit (the oracle recomputes directly).

    Count and sum are *algebraic* — their partials combine with plain
    addition — so refreshing the view touches only the delta: at 100 TB
    the base partials are a few KB per key read back from the sink,
    and the only scan + shuffle is over the new partition.  Exact
    integer cents make the merged sum identical to the recomputed one
    (float partial sums would not re-associate deterministically).
    """
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1995-06-01 00:00:00").cast("timestamp_ntz")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")

    def partial(sliced: DataFrame) -> DataFrame:
        return (
            sliced.select("o_orderpriority", cents.alias("__c"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("__n"), F.sum("__c").alias("__s"))
        )

    base = partial(orders.filter(F.col("o_orderdate") < cut))
    delta = partial(orders.filter(F.col("o_orderdate") >= cut))
    return (
        base.unionAll(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("__n").alias("n_orders"), F.sum("__s").alias("__cents"))
        .select(
            "o_orderpriority",
            "n_orders",
            (F.col("__cents").cast("double") / 100.0).alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# J7 — salted skew join
# --------------------------------------------------------------------------

def j7_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant dimension join: ``lineitem`` has only THREE
    distinct ``l_returnflag`` values, so a plain shuffle join funnels
    the whole fact table through three reducers.  The salted
    replicate-join (operators/skew.py) spreads each hot key over
    ``n_salts`` partitions; the oracle is the plain join + aggregate.

    The join is hinted ``shuffle_hash`` to exercise the real skew path
    (an 8-row dim would otherwise broadcast and hide the pattern —
    in production this operator is for small-but-over-threshold or
    remotely-loaded dims where broadcast is not available)."""
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("__c"),
    )
    dim = local_frame(
        spark,
        [("A", "accepted"), ("N", "none"), ("R", "returned")],
        "flag string, flag_label string",
    )
    joined = replicated_skew_join(
        lineitem,
        dim,
        big_key="l_returnflag",
        small_key="flag",
        n_salts=8,
    )
    return (
        joined.groupBy("flag_label")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum("__c").alias("__s"))
        .select(
            "flag_label",
            "n_items",
            (F.col("__s").cast("double") / 100.0).alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# O3 — top-k per group (WindowGroupLimit)
# --------------------------------------------------------------------------

def o3_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value within every order priority — the
    rank-filter idiom.  Spark ≥3.5 rewrites ``row_number() ≤ k`` into
    ``WindowGroupLimit``: each input partition keeps only its local
    top-k per group BEFORE the shuffle, so the exchanged volume is
    O(groups × k × partitions), not O(rows) — the same partial top-k
    trick ``TakeOrderedAndProject`` applies globally (o2).

    Deterministic tiebreak on ``o_orderkey`` (the etl.py:112 lesson);
    rank cast to BIGINT for cross-engine schema parity."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


# --------------------------------------------------------------------------
# U3 — unpivot / melt
# --------------------------------------------------------------------------

def u3_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot of the four lineitem money metrics, then an
    exact per-(returnflag, metric) sum — the melt every BI export and
    metrics-store ingestion needs.

    ``DataFrame.unpivot`` plans as a single Expand (bounded ×4 row
    replication, no shuffle); the one shuffle is the following
    aggregate on (flag, metric) — 12 groups.  All four metrics go
    through exact cents so the long-format sums match the oracle's
    per-column UNION ALL recompute digit-for-digit."""
    li = load_table(spark, sf_dir, "lineitem")

    def cents(col: str):
        return (F.col(col).cast("decimal(12,2)") * 100).cast("bigint")

    wide = li.select(
        "l_returnflag",
        cents("l_quantity").alias("quantity"),
        cents("l_extendedprice").alias("extendedprice"),
        cents("l_discount").alias("discount"),
        cents("l_tax").alias("tax"),
    )
    long = wide.unpivot(
        ["l_returnflag"],
        ["quantity", "extendedprice", "discount", "tax"],
        "metric",
        "__cents",
    )
    return (
        long.groupBy("l_returnflag", "metric")
        .agg(F.count(F.lit(1)).alias("n_values"), F.sum("__cents").alias("__s"))
        .select(
            "l_returnflag",
            "metric",
            "n_values",
            (F.col("__s").cast("double") / 100.0).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# W6 — activity streaks (gaps-and-islands)
# --------------------------------------------------------------------------

def w6_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user: distinct active days,
    islands via the classic ``day − row_number()`` grouping date, then
    per-user streak statistics.

    Two user-keyed shuffles that AQE co-partitions (distinct + window
    share one exchange; the island rollup reuses it) and a final
    per-user aggregate.  Every value is a date or a BIGINT count —
    no float anywhere, so cross-engine equality is structural."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = (
        days.select(
            "user_id",
            "day",
            F.date_sub(F.col("day"), F.row_number().over(w)).alias("__grp"),
        )
        .groupBy("user_id", "__grp")
        .agg(F.count(F.lit(1)).alias("__len"))
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("__len").alias("longest_streak"),
        F.sum("__len").alias("active_days"),
    )


# --------------------------------------------------------------------------
# X21 — deterministic min-wise per-group sample
# --------------------------------------------------------------------------

def x21_minwise_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-language document sample: rank documents
    within each language by ``md5(doc_id)`` (a fixed pseudo-random
    permutation — the min-wise sampling trick) and keep the first 5.

    Unlike the threshold split (x6/x13), this yields EXACTLY k rows
    per group — the shape needed for eval-set carving and manual
    inspection queues.  The rank filter hits the same
    ``WindowGroupLimit`` rewrite as o3, so each partition forwards at
    most k candidate rows per language to the shuffle; the hash order
    is engine-independent (md5 of the decimal string), and ``doc_id``
    breaks (practically impossible) digest ties deterministically."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("bigint").alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 5)
    )


# --------------------------------------------------------------------------
# Oracle SQL twins (DuckDB) — identical aliases, CLAUDE.md determinism
# rules on both sides.
# --------------------------------------------------------------------------

ORACLES_OPERATIONAL: dict[str, str] = {
    # direct recompute over ALL rows — proves partial-merge ≡ recompute
    "mv1_incremental_agg_merge": """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    # plain (unsalted) join + aggregate — proves the salted replicate
    # join changes the plan, not the answer
    "j7_salted_skew_join": """
        SELECT d.flag_label,
               count(*) AS n_items,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
        FROM lineitem l
        JOIN (VALUES ('A', 'accepted'), ('N', 'none'), ('R', 'returned'))
             AS d(flag, flag_label)
          ON l.l_returnflag = d.flag
        GROUP BY d.flag_label
    """,
    "o3_topk_per_group": """
        SELECT o_orderpriority, o_orderkey, o_totalprice, rk
        FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS BIGINT) AS rk
            FROM orders
        )
        WHERE rk <= 3
    """,
    # per-column recompute unioned into long format: sum commutes with
    # the unpivot, so the aggregated results must match exactly
    "u3_unpivot_metrics": """
        SELECT l_returnflag, 'quantity' AS metric, count(*) AS n_values,
               CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT l_returnflag, 'extendedprice', count(*),
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS DOUBLE) / 100.0
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT l_returnflag, 'discount', count(*),
               CAST(sum(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS DOUBLE) / 100.0
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT l_returnflag, 'tax', count(*),
               CAST(sum(CAST(CAST(l_tax AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS DOUBLE) / 100.0
        FROM lineitem GROUP BY l_returnflag
    """,
    "w6_activity_streaks": """
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        islands AS (
            SELECT user_id,
                   day - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY day
                   ) AS INTEGER) AS grp
            FROM days
        ),
        sized AS (
            SELECT user_id, grp, count(*) AS len
            FROM islands GROUP BY user_id, grp
        )
        SELECT user_id,
               count(*) AS n_streaks,
               CAST(max(len) AS BIGINT) AS longest_streak,
               CAST(sum(len) AS BIGINT) AS active_days
        FROM sized
        GROUP BY user_id
    """,
    "x21_minwise_sample": """
        SELECT doc_id, lang, sample_rank
        FROM (
            SELECT doc_id, lang,
                   CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS BIGINT) AS sample_rank
            FROM documents
        )
        WHERE sample_rank <= 5
    """,
}
