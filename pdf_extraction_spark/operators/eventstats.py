"""Event-analytics operators: funnel, per-group top-k, histogram, exact
percentiles.

The reference's only analytics are the flat stats endpoints (SURVEY §2.4,
app/routers/stats.py); these four add the standard event-warehouse
workload classes a production metrics layer needs, each with an exact
DuckDB oracle:

- funnel      : ordered-stage conversion (view → click AFTER the first
                view → purchase AFTER that click). Stage N is an equi-join
                of stage N-1's per-user frontier (a tiny aggregate —
                broadcastable) against one filtered scan; strictly-after
                comparisons keep tie handling deterministic.
- top-k/group : row_number window over (event_type) — one shuffle on the
                group key; ties broken by event_id so the result is
                deterministic in both engines.
- histogram   : fixed-width value bins via floor(value/width) — pure
                column arithmetic, one partial-aggregated groupBy. (The
                binning is intentionally data-independent: a min/max scan
                first would add a pass at 100 TB for no analytical gain.)
- percentiles : EXACT linear-interpolated per-group percentiles (Spark
                `percentile` == DuckDB `quantile_cont`: both are the
                type-7 estimator a + (b-a)·frac over the sorted values,
                bit-identical given identical input doubles). At
                100 TB one would flip to percentile_approx and accept a
                rows-only bound; the exact form is kept because it is the
                oracle-checkable one and the per-group sort is bounded by
                the group's row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pdf_extraction_spark.parallel import broadcast_within
from pdf_extraction_spark.sources.tables import load_testdata as T

TOPK_PER_GROUP = 3
HIST_BIN_WIDTH = 25.0


def q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """view → click → purchase ordered funnel; one row of stage counts +
    median seconds from first view to converting purchase."""
    ev = T(spark, sf, "events")

    def stage(event_type: str):
        return ev.filter(F.col("event_type") == event_type)

    v = stage("view").groupBy("user_id").agg(F.min("ts").alias("t_view"))
    c = (
        stage("click").join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        # F.first is deterministic HERE: t_view joined from a per-user
        # aggregate, so every row in the group carries the same value
        .agg(F.min("ts").alias("t_click"), F.first("t_view").alias("t_view"))
    )
    p = (
        stage("purchase").join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"), F.first("t_view").alias("t_view"))
    )
    secs = F.unix_timestamp("t_purchase") - F.unix_timestamp("t_view")
    pp = p.select(secs.cast("double").alias("t_secs"))
    # three single-row aggregates cross-joined into one summary row (the
    # cross joins are 1×1×1 — literal-sized, no data movement)
    return (
        v.agg(F.count("*").alias("n_viewed"))
        .crossJoin(c.agg(F.count("*").alias("n_clicked_after")))
        .crossJoin(
            pp.agg(
                F.count("*").alias("n_purchased_after"),
                F.round(F.expr("percentile(t_secs, 0.5)"), 6).alias("median_view_to_purchase_s"),
            )
        )
    )


_SQL_FUNNEL = """
WITH v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t_click, min(v.t_view) AS t_view
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t_purchase, min(c.t_view) AS t_view
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS n_viewed,
       (SELECT count(*) FROM c) AS n_clicked_after,
       (SELECT count(*) FROM p) AS n_purchased_after,
       -- floor(epoch()): DuckDB keeps sub-second fractions, Spark's
       -- unix_timestamp truncates to whole seconds — match Spark
       (SELECT round(quantile_cont(CAST(floor(epoch(t_purchase)) - floor(epoch(t_view)) AS DOUBLE), 0.5), 6)
        FROM p) AS median_view_to_purchase_s
"""


def q_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 events by value within each event_type (deterministic ties
    via event_id) — the rank-window workload class."""
    ev = T(spark, sf, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK_PER_GROUP)
        .select("event_type", "rk", "event_id", "value")
        .orderBy("event_type", "rk")
    )


_SQL_TOPK = f"""
WITH r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rk
  FROM events
)
SELECT event_type, rk, event_id, value FROM r WHERE rk <= {TOPK_PER_GROUP}
ORDER BY event_type, rk
"""


def q_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width value histogram per event_type: bin = floor(value/W)."""
    ev = T(spark, sf, "events")
    b = F.floor(F.col("value") / F.lit(HIST_BIN_WIDTH)).cast("int")
    return (
        ev.groupBy("event_type", b.alias("bin"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("event_type", "bin")
    )


_SQL_HIST = f"""
SELECT event_type, CAST(floor(value / {HIST_BIN_WIDTH}) AS INTEGER) AS bin,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type, CAST(floor(value / {HIST_BIN_WIDTH}) AS INTEGER)
ORDER BY event_type, bin
"""


def q_value_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-group p50/p95 (Spark `percentile` ≡ DuckDB
    `quantile_cont`, both linear interpolation over the sorted set)."""
    ev = T(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type")
    )


_SQL_PCT = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Binned point-in-interval range join. A naive `ts BETWEEN start AND end`
# join has no equi-key, so Spark plans it as BroadcastNestedLoopJoin —
# O(|events|·|windows|) comparisons, the classic range-join scale trap.
# The binned form derives a DAY bin on both sides (windows explode into
# the days they overlap — bounded by window length), equi-joins on the
# bin (hashable, shuffle- or broadcast-friendly), then applies the exact
# interval predicate to trim bin-edge false candidates. Work drops to
# O(|events| + |windows|·days_per_window + |candidates|). The windows are
# deliberately NOT day-aligned (06:00 starts) so the exact trim is load-
# bearing, and the DuckDB oracle runs the naive BETWEEN join — proving the
# binned plan computes the identical relation.

N_WINDOWS = 10
_SECS_PER_DAY = 86400


def q_range_join_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Per maintenance window (48 h every 3 days, starting 06:00): event
    count + value sum, via the day-binned equi-join."""
    ev = T(spark, sf, "events")
    base = F.to_timestamp(F.lit("2024-01-01 06:00:00"))
    wins = spark.range(N_WINDOWS).select(
        F.col("id").cast("int").alias("win_id"),
        (base + F.make_interval(days=F.col("id") * 3)).alias("w_start"),
        (base + F.make_interval(days=F.col("id") * 3, hours=F.lit(48))).alias("w_end"),
    )
    win_days = wins.select(
        "win_id", "w_start", "w_end",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("w_start") / _SECS_PER_DAY),
                # end-exclusive: the last covered day is the one holding
                # w_end - 1s (w_end itself starts the next candidate day)
                F.floor((F.unix_timestamp("w_end") - 1) / _SECS_PER_DAY),
            )
        ).alias("day"),
    )
    ev_binned = ev.withColumn("day", F.floor(F.unix_timestamp("ts") / _SECS_PER_DAY))
    joined = ev_binned.join(broadcast_within(win_days), "day").filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
    )
    return (
        joined.groupBy("win_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("win_id")
    )


_SQL_RANGE_JOIN = f"""
WITH wins AS (
  SELECT CAST(i AS INTEGER) AS win_id,
         TIMESTAMP '2024-01-01 06:00:00' + i * INTERVAL 3 DAY AS w_start,
         TIMESTAMP '2024-01-01 06:00:00' + i * INTERVAL 3 DAY + INTERVAL 48 HOUR AS w_end
  FROM (SELECT unnest(generate_series(0, {N_WINDOWS - 1})) AS i)
)
SELECT w.win_id, count(*) AS n_events, round(sum(e.value), 2) AS sum_value
FROM wins w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.win_id ORDER BY w.win_id
"""


# --------------------------------------------------------------------------
def q_sketch_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB estimators, oracle-checked: approx_count_distinct (HLL++)
    and percentile_approx are what actually run at petabyte scale (exact
    distinct/percentile need a full shuffle-and-sort per group), but their
    outputs are engine-specific, so they can't be hash-compared directly.
    Instead the TOLERANCE CHECK is computed in-query: the comparable output
    columns are the exact values plus booleans asserting the sketch landed
    inside its documented error envelope (HLL++ rsd=5% → |err| ≤ 15% ≈ 3σ;
    percentile_approx at accuracy 10k → ≤ 5% of the value range here). The
    oracle expects the exact values and TRUE — if either sketch drifts out
    of envelope, the driver's hash gate fails. Sketches are one
    partial-aggregated pass, no per-group sort, mergeable across
    executors — the exact twins (`value_percentiles`, distinct counts in
    other queries) stay as the small-scale cross-checks."""
    ev = T(spark, sf, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("hll_users"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("apx_p50"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    # HLL envelope: rsd=0.05 → 1σ ≈ 5% relative error; the bound is 4σ
    # (20%), so a legitimate statistical excursion failing the gate is a
    # ~1-in-16k-groups event — a gate failure here is an unambiguous drift
    # signal, not sketch noise. (3σ/15% was the earlier bound; at ~0.3%
    # false-failure per group it made rare sweep flakes plausible.)
    hll_ok = (
        F.abs(F.col("hll_users") - F.col("exact_users"))
        <= 0.20 * F.col("exact_users")
    )
    p50_ok = (
        F.abs(F.col("apx_p50") - F.col("exact_p50"))
        <= 0.05 * (F.col("vmax") - F.col("vmin"))
    )
    return agg.select(
        "event_type",
        "exact_users",
        hll_ok.alias("hll_within_tol"),
        F.round("exact_p50", 6).alias("p50"),
        p50_ok.alias("p50_within_tol"),
    ).orderBy("event_type")


_SQL_SKETCH = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       true AS hll_within_tol,
       round(quantile_cont(value, 0.5), 6) AS p50,
       true AS p50_within_tol
FROM events GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
def q_session_window_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Spark's NATIVE session-window operator (the one the streaming path
    uses for stateful sessionization) exercised in batch: per-user
    30-minute-gap sessions with start / end(=last event + gap) / counts.
    One shuffle on (user_id, merged window). The oracle reproduces the
    exact merge rule as gaps-and-islands SQL: a new session starts when
    the gap to the previous event is >= the session timeout (Spark merges
    an event only while it lands strictly BEFORE the running session's
    end). Complements `sessionize`, which builds the same semantics from
    lag/cumsum primitives."""
    ev = T(spark, sf, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events", "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


_SQL_SESSION_WINDOW = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sess ORDER BY user_id, session_start
"""


QUERIES = {
    "session_window_stats": (q_session_window_stats, _SQL_SESSION_WINDOW),
    "sketch_accuracy": (q_sketch_accuracy, _SQL_SKETCH),
    "funnel_view_click_purchase": (q_funnel, _SQL_FUNNEL),
    "topk_per_group": (q_topk_per_group, _SQL_TOPK),
    "value_histogram": (q_value_histogram, _SQL_HIST),
    "value_percentiles": (q_value_percentiles, _SQL_PCT),
    "range_join_windows": (q_range_join_windows, _SQL_RANGE_JOIN),
}
