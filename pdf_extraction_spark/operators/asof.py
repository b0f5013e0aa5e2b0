"""As-of join — a custom operator Spark's built-ins don't express directly.

Implemented per the preference order for missing operators (SURVEY.md §2.11):
(a) when the right side is SMALL: broadcast range-join + keep-latest window
    (``asof_join_broadcast``) — no shuffle of the fact side beyond the final
    aggregation;
(b) when both sides are LARGE: grouped-map ``applyInPandas`` running
    ``pd.merge_asof`` per key group (``asof_join_grouped``) — one shuffle on
    the key for each side, sorted merge inside the Arrow batch, never the
    O(facts × dim) blow-up of a naive range join.

The DuckDB oracle uses its native ``ASOF JOIN`` (same semantics: for each
left row, the single right row with the greatest ts <= left ts, per key).

Demo tables are derived deterministically from ``events``: rows with
``event_id % 17 == 0`` act as per-user "snapshot" rows; the rest are facts.
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pdf_extraction_spark.parallel import broadcast_within
from pdf_extraction_spark.sources.tables import load_testdata as T


def asof_join_grouped(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    fact_ts: str,
    dim_ts: str,
    dim_cols: List[str],
    out_schema: str,
) -> DataFrame:
    """Large×large as-of join: cogroup on key, pd.merge_asof per group.

    Tie semantics: among dim rows sharing (key, dim_ts), the one with the
    LARGEST (dim_cols...) tuple wins — merge_asof takes the last row among
    equal keys in sort order, so sorting the right side by
    [dim_ts, *dim_cols] makes the choice deterministic and identical to the
    broadcast path's window ordering."""

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=list(left.columns) + dim_cols)
        left = left.sort_values(fact_ts, kind="mergesort")
        if right.empty:
            for c in dim_cols:
                left[c] = None
            return left
        right = right.sort_values([dim_ts] + dim_cols, kind="mergesort")
        merged = pd.merge_asof(
            left, right[[dim_ts] + dim_cols], left_on=fact_ts, right_on=dim_ts,
            direction="backward", allow_exact_matches=True,
        )
        return merged.drop(columns=[dim_ts])

    return (
        facts.groupBy(key)
        .cogroup(dim.groupBy(key))
        .applyInPandas(lambda l, r: merge(l, r), out_schema)
    )


def asof_join_broadcast(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    fact_ts: str,
    dim_ts: str,
    fact_id_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Small-dim as-of join: broadcast range join + row_number keep-latest.

    ``fact_id_cols``: columns that uniquely identify a fact row. Preferred —
    a DETERMINISTIC window key survives speculative re-execution. When None,
    falls back to ``monotonically_increasing_id`` (safe within a single
    non-speculative job; duplicate (key, ts) fact rows stay distinct).

    Ties on dim_ts break deterministically: the window orders by desc(dim_ts)
    then desc(all other dim columns), so the keep-latest row agrees with the
    merge_asof path and the DuckDB ASOF oracle run-over-run."""
    if fact_id_cols:
        facts_id = facts.withColumn("_fact_id", F.struct(*fact_id_cols))
    else:
        facts_id = facts.withColumn("_fact_id", F.monotonically_increasing_id())
    dim_r = dim.withColumnRenamed(key, "_dim_key")
    tiebreaks = [c for c in dim_r.columns if c not in ("_dim_key", dim_ts)]
    joined = facts_id.join(
        broadcast_within(dim_r),
        (F.col(key) == F.col("_dim_key")) & (F.col(dim_ts) <= F.col(fact_ts)),
        "inner",
    ).drop("_dim_key")
    w = W.partitionBy("_fact_id").orderBy(F.desc(dim_ts), *[F.desc(c) for c in tiebreaks])
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fact_id")
    )


def _split_events(spark: SparkSession, sf: str):
    ev = T(spark, sf, "events")
    dim = ev.filter(F.col("event_id") % 17 == 0).select(
        "user_id", F.col("ts").alias("snap_ts"), F.col("value").alias("snap_value")
    )
    facts = ev.filter(F.col("event_id") % 17 != 0).select("user_id", "event_id", "ts", "value")
    return facts, dim


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user aggregate over the as-of-joined stream (grouped-map path)."""
    facts, dim = _split_events(spark, sf)
    out_schema = "user_id bigint, event_id bigint, ts timestamp, value double, snap_value double"
    joined = asof_join_grouped(facts, dim, "user_id", "ts", "snap_ts", ["snap_value"], out_schema)
    return (
        joined.filter(F.col("snap_value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_matched"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.sum("snap_value"), 2).alias("sum_snap_value"),
        )
        .orderBy("user_id")
    )


_SQL_ASOF = """
WITH dim AS (
  SELECT user_id, ts AS snap_ts, value AS snap_value FROM events WHERE event_id % 17 = 0
), facts AS (
  SELECT user_id, event_id, ts, value FROM events WHERE event_id % 17 <> 0
), j AS (
  SELECT f.user_id, f.value, d.snap_value
  FROM facts f ASOF JOIN dim d
    ON f.user_id = d.user_id AND f.ts >= d.snap_ts
)
SELECT user_id, count(*) AS n_matched,
       round(sum(value), 2) AS sum_value,
       round(sum(snap_value), 2) AS sum_snap_value
FROM j GROUP BY user_id ORDER BY user_id
"""


def q_asof_join_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """Same semantics via the broadcast range-join path — must agree with
    both the grouped-map path and the oracle."""
    facts, dim = _split_events(spark, sf)
    joined = asof_join_broadcast(facts, dim, "user_id", "ts", "snap_ts",
                                 fact_id_cols=["event_id"])
    return (
        joined.groupBy("user_id")
        .agg(
            F.count("*").alias("n_matched"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.sum("snap_value"), 2).alias("sum_snap_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
def q_pivot_event_types(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: per-user columnarized per-type event sums."""
    ev = T(spark, sf, "events")
    types = ["click", "view", "purchase", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.round(F.sum("value"), 2))
        .na.fill(0.0, types)
        .orderBy("user_id")
    )


_SQL_PIVOT = """
SELECT user_id,
       coalesce(round(sum(CASE WHEN event_type = 'click' THEN value END), 2), 0.0) AS click,
       coalesce(round(sum(CASE WHEN event_type = 'view' THEN value END), 2), 0.0) AS view,
       coalesce(round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2), 0.0) AS purchase,
       coalesce(round(sum(CASE WHEN event_type = 'error' THEN value END), 2), 0.0) AS error
FROM events GROUP BY user_id ORDER BY user_id
"""


# --------------------------------------------------------------------------
def q_unpivot_event_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot (wide → long, the reshaping inverse of the pivot above):
    the per-user per-type sum matrix is melted back to
    (user_id, event_type, total) rows via the native ``unpivot`` operator
    and re-aggregated per type. The round-trip must reproduce exactly the
    direct long-form aggregate — which IS the oracle. Zero-filled pivot
    cells are dropped on the way back (ids_only semantics of a sparse
    matrix), so users without a given type contribute no row. Scale shape:
    pivot is one shuffle on user_id; unpivot is a map-only generator (no
    shuffle); the final per-type rollup is a 4-group aggregate."""
    wide = q_pivot_event_types(spark, sf)
    long = wide.unpivot(
        ["user_id"], ["click", "view", "purchase", "error"], "event_type", "total"
    ).filter(F.col("total") != 0.0)
    return (
        long.groupBy("event_type")
        .agg(
            F.count("*").alias("n_users"),
            F.round(F.sum("total"), 2).alias("grand_total"),
        )
        .orderBy("event_type")
    )


_SQL_UNPIVOT = """
WITH agg AS (
  SELECT user_id, event_type, round(sum(value), 2) AS total
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase', 'error')
  GROUP BY user_id, event_type
)
SELECT event_type, count(*) AS n_users, round(sum(total), 2) AS grand_total
FROM agg WHERE total <> 0.0
GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "unpivot_event_matrix": (q_unpivot_event_matrix, _SQL_UNPIVOT),
    "asof_join": (q_asof_join, _SQL_ASOF),
    "asof_join_broadcast": (q_asof_join_broadcast, _SQL_ASOF),
    "pivot_event_types": (q_pivot_event_types, _SQL_PIVOT),
}
