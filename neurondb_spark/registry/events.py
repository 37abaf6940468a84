"""Event-stream analytics queries over the driver's ``events`` table —
batch equivalents of the Structured Streaming operators (SURVEY §2.13):
tumbling-window aggregation, sessionization, time-decay scoring, top-k.

The same expressions run under readStream + watermark in
neurondb_spark/streaming (the reference has no stream operators; its
background workers poll a job-queue table, worker_queue.c:4-9 — our
streaming module reproduces that; these queries are the oracle-checkable
batch semantics)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from neurondb_spark import oracle as O
from neurondb_spark.functions.aggregates import davg, dsum
from neurondb_spark.registry.common import events as load_events
from neurondb_spark.registry.fixtures import fixture

NOW = "2026-01-01 00:00:00"
DECAY = 0.05


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
            davg("value").alias("avg_value"),
        )
    )


_SQL_EVENTS_HOURLY = f"""SELECT date_trunc('hour', ts) AS hour, event_type,
  COUNT(*) AS n_events, {O.dsum('value')} AS sum_value, {O.davg('value')} AS avg_value
FROM events GROUP BY 1, 2"""


def _q_events_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(dsum("value").alias("total_value"), F.count(F.lit(1)).alias("n_purchases"))
        .orderBy(F.col("total_value").desc(), F.col("user_id").asc())
        .limit(15)
    )


_SQL_EVENTS_TOPK_USERS = f"""SELECT user_id, {O.dsum('value')} AS total_value,
  COUNT(*) AS n_purchases
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY total_value DESC, user_id ASC LIMIT 15"""


def _q_events_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay scoring — the temporal_vector_search decay kernel
    (hybrid_search.c:1005) applied to event values; exp() differs by ≤1 ulp
    across engines so the score is rounded to 6 decimals on both sides."""
    ev = load_events(spark, sf_dir)
    age_days = (
        F.lit(NOW).cast("timestamp").cast("double") - F.col("ts").cast("double")
    ) / 86400.0
    score = F.round(F.col("value") * F.exp(-F.lit(DECAY) * age_days), 6)
    return (
        ev.select("event_id", score.alias("decayed_value"))
        .orderBy(F.col("decayed_value").desc(), F.col("event_id").asc())
        .limit(25)
    )


_SQL_EVENTS_TIME_DECAY = f"""SELECT event_id,
  round(value * exp(-{DECAY!r} * ((epoch(TIMESTAMP '{NOW}') - epoch(ts)) / 86400.0)), 6) AS decayed_value
FROM events
ORDER BY decayed_value DESC, event_id ASC LIMIT 25"""


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + cumulative
    sum — the batch shape of stateful session windows."""
    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    sess = ev.withColumn("_new", is_new).withColumn(
        "session_seq", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.max("session_seq").cast("bigint").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )


_SQL_EVENTS_SESSIONIZE = """WITH g AS (
  SELECT user_id, event_id, ts,
         (CASE WHEN lag(ts) OVER w IS NULL
               OR (epoch(ts) - epoch(lag(ts) OVER w)) > 1800.0 THEN 1 ELSE 0 END) AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g),
c AS (SELECT user_id, session_seq, COUNT(*) AS n_events FROM s GROUP BY 1, 2)
SELECT user_id, CAST(MAX(session_seq) AS BIGINT) AS n_sessions,
       MAX(n_events) AS max_session_events
FROM c GROUP BY user_id"""


@fixture("feature_store")
def _feature_store_root(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The catalog root `feature_store_pit` registers into; starts empty."""


def _q_feature_store_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time retrieval (ml_feature_store.c:46-578):
    feature group = hourly max view value per user; observations =
    purchases; each purchase gets the LATEST feature row with
    feature_ts ≤ purchase_ts (no leakage from the future). Runs through
    the real FeatureStore (catalog registration + parquet group + the
    windowed as-of join); the oracle rebuilds the same greatest-n-per-
    group in SQL — proving the PIT join leaks nothing and drops nothing."""
    from neurondb_spark.catalog import Catalog
    from neurondb_spark.ml.feature_store import FeatureStore

    ev = load_events(spark, sf_dir)
    feats = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("fts"))
        .agg(F.max(F.col("value").cast("double")).alias("fval"))
    )
    obs = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("obs_ts"))
    )
    fs = FeatureStore(spark, Catalog(_feature_store_root(spark, sf_dir)))
    fs.register_features("user_view_stats", feats, ["user_id"], ts_col="fts")
    out = fs.join_features(obs, "user_view_stats", observation_ts="obs_ts")
    return out.select("user_id", "obs_ts", "fval")


_SQL_FEATURE_STORE_PIT = """WITH f AS (
  SELECT user_id, date_trunc('hour', ts) AS fts,
         max(CAST(value AS DOUBLE)) AS fval
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, date_trunc('hour', ts)),
o AS (SELECT user_id, ts AS obs_ts FROM events WHERE event_type = 'purchase')
SELECT user_id, obs_ts, fval FROM (
  SELECT o.user_id, o.obs_ts, f.fval,
         ROW_NUMBER() OVER (PARTITION BY o.user_id, o.obs_ts
                            ORDER BY f.fts DESC) AS rn
  FROM o LEFT JOIN f ON o.user_id = f.user_id
  WHERE f.fts IS NULL OR f.fts <= o.obs_ts)
WHERE rn = 1"""


def _q_drift_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """monitor_drift_timeseries (ml_drift_time.c): per-day JS divergence
    of the event-value histogram vs the Jan 1-8 baseline — one
    groupBy(day, bin) pass + a broadcast bin join, no per-window loop."""
    import datetime as _dt

    from neurondb_spark.ml.timeseries import monitor_drift_timeseries

    ev = load_events(spark, sf_dir)
    return monitor_drift_timeseries(
        ev, "ts", "value",
        _dt.datetime(2024, 1, 1), _dt.datetime(2024, 1, 8),
        bucket="day", lo=0.0, hi=500.0, bins=20,
    ).select(F.col("bucket").alias("day"), "js_divergence")


def _sql_drift_timeseries() -> str:
    w = repr(500.0 / 20)
    b = f"CAST(least(greatest(floor((CAST(value AS DOUBLE) - 0.0) / {w}), 0), 19) AS INTEGER)"
    term = (
        "(CASE WHEN p > 0.0 THEN 0.5 * p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END"
        " + CASE WHEN q > 0.0 THEN 0.5 * q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)"
    )
    return f"""WITH base AS (
  SELECT {b} AS bin, COUNT(*) AS nq FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
  GROUP BY 1),
btot AS (SELECT COUNT(*) AS t FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'),
cur AS (SELECT date_trunc('day', ts) AS bucket, {b} AS bin, COUNT(*) AS np_
  FROM events WHERE ts >= TIMESTAMP '2024-01-08' GROUP BY 1, 2),
ctot AS (SELECT date_trunc('day', ts) AS bucket, COUNT(*) AS nt
  FROM events WHERE ts >= TIMESTAMP '2024-01-08' GROUP BY 1),
j AS (
  SELECT cur.bucket,
         CAST(np_ AS DOUBLE) / nt AS p,
         CAST(COALESCE(base.nq, 0) AS DOUBLE) / (SELECT t FROM btot) AS q
  FROM cur JOIN ctot ON cur.bucket = ctot.bucket
  LEFT JOIN base ON cur.bin = base.bin),
qonly AS (
  SELECT ctot.bucket, 0.0 AS p,
         CAST(base.nq AS DOUBLE) / (SELECT t FROM btot) AS q
  FROM ctot CROSS JOIN base
  LEFT JOIN cur ON cur.bucket = ctot.bucket AND cur.bin = base.bin
  WHERE cur.bin IS NULL),
allrows AS (SELECT * FROM j UNION ALL SELECT * FROM qonly)
SELECT bucket AS day, {O.bsum(term)} AS js_divergence
FROM allrows GROUP BY bucket"""


def _session_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_events(spark, sf_dir).select("user_id", "event_id", "ts")


@fixture("sessionize_src")
def _sessionize_src(spark: SparkSession, sf_dir: str, path: str) -> None:
    _session_events(spark, sf_dir).coalesce(1).write.parquet(path)


def _q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState, 30-min
    gap): the per-user GroupState fold must emit EXACTLY what the batch
    lag+cumsum produces — so this streaming query shares the batch
    events_sessionize ORACLE. Streams a normalized copy of events
    (AvailableNow, memory sink); falls back to the identical batch twin
    if streaming infra wobbles under gate load."""
    from neurondb_spark.streaming import memory_drain, stream_or_batch
    from neurondb_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )

    ev = _session_events(spark, sf_dir)
    src = _sessionize_src(spark, sf_dir)

    def _drain() -> DataFrame | None:
        # the key dir's hex digest keeps the memory-sink view name a
        # valid identifier and distinct per input set
        mem = memory_drain(
            sessionize_stream(spark.readStream.schema(ev.schema).parquet(src)),
            f"neurondb_sessionize_{os.path.basename(src)[:16]}", "update",
        )
        if mem is None:
            return None
        # update mode emits one row per user per micro-batch; keep the
        # final emission (max batch == latest state snapshot)
        return mem.groupBy("user_id").agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("max_session_events").alias("max_session_events"),
        )

    out = stream_or_batch("stream_sessionize", _drain,
                          lambda: sessionize_batch(ev))
    return out.select("user_id", "n_sessions", "max_session_events")


_ZORDER_BITS = 6  # 64×64 cells over the two clustered dimensions


def _q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key (operators/layout.py zorder_key — the OPTIMIZE
    ZORDER BY analog): cluster events on (user_id, event_id) low bits and
    report per-cell file-skipping stats (row count + event_id min/max —
    exactly the parquet footer stats a z-clustered write makes tight).
    Pure integer bit arithmetic under the hash gate; the layout pass
    itself (zorder_layout) is a range shuffle the gate can't observe, so
    the key — the semantic content — is what's checked."""
    from neurondb_spark.operators.layout import zorder_key

    ev = load_events(spark, sf_dir)
    mask = (1 << _ZORDER_BITS) - 1
    z = zorder_key(
        [F.col("user_id").bitwiseAND(mask), F.col("event_id").bitwiseAND(mask)],
        bits=_ZORDER_BITS,
    )
    return (
        ev.select(z.alias("zcell"), "event_id")
        .groupBy("zcell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
    )


def _sql_zorder_cells() -> str:
    from neurondb_spark.operators.layout import sql_zorder_key

    mask = (1 << _ZORDER_BITS) - 1
    key = sql_zorder_key(
        [f"(user_id & {mask})", f"(event_id & {mask})"], bits=_ZORDER_BITS
    )
    return f"""WITH keyed AS (
  SELECT ({key}) AS zcell, event_id FROM events)
SELECT zcell, COUNT(*) AS n_rows,
       MIN(event_id) AS min_event, MAX(event_id) AS max_event
FROM keyed GROUP BY zcell"""


QUERIES = {
    "events_hourly": (_q_events_hourly, _SQL_EVENTS_HOURLY),
    "zorder_cells": (_q_zorder_cells, _sql_zorder_cells()),
    "stream_sessionize": (_q_stream_sessionize, _SQL_EVENTS_SESSIONIZE),
    "drift_timeseries": (_q_drift_timeseries, _sql_drift_timeseries()),
    "feature_store_pit": (_q_feature_store_pit, _SQL_FEATURE_STORE_PIT),
    "events_topk_users": (_q_events_topk_users, _SQL_EVENTS_TOPK_USERS),
    "events_time_decay": (_q_events_time_decay, _SQL_EVENTS_TIME_DECAY),
    "events_sessionize": (_q_events_sessionize, _SQL_EVENTS_SESSIONIZE),
}
