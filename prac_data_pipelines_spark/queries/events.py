"""Event-stream queries (batch form; the streaming twin lives in
``prac_data_pipelines_spark.streaming``).

The reference is strictly batch (SURVEY §2.9); these extend the engine with
the time-series surface a pipeline at scale needs: tumbling-window rollups,
sessionization (gaps-and-islands), and semi-structured JSON extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rounding import r2, r4, r6
from ..operators.timeops import epoch_sec
from ..sources import load_table
from . import register

SESSION_GAP_MIN = 30


# --------------------------------------------------------------------------
# events_hourly — tumbling-window aggregation. In streaming this is the
# watermarked windowed agg; in batch it is a date_trunc groupBy. Partial
# aggregation makes it one shuffle at any scale.
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win.start.alias("hora"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eventos"),
            r2(F.sum("value")).alias("valor_total"),
            F.countDistinct("user_id").cast("long").alias("usuarios"),
        )
        .select(F.date_format("hora", "yyyy-MM-dd HH:mm:ss").alias("hora"),
                "event_type", "n_eventos", "valor_total", "usuarios")
        .orderBy("hora", "event_type")
    )


SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hora,
       event_type,
       count(*)::BIGINT AS n_eventos,
       floor((sum(value)) * 100 + 0.5) / 100 AS valor_total,
       count(DISTINCT user_id)::BIGINT AS usuarios
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""

register("events_hourly", q_events_hourly, SQL_EVENTS_HOURLY)


# --------------------------------------------------------------------------
# events_sessionize — gaps-and-islands sessionization: a new session starts
# after a >30 min silence per user. Partitioned windows → fully parallel.
# --------------------------------------------------------------------------

def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_sec = epoch_sec("ts") - F.lag(epoch_sec("ts")).over(w)
    new_session = (gap_sec.isNull() | (gap_sec > SESSION_GAP_MIN * 60)).cast("int")
    sessioned = ev.withColumn("session_id", F.sum(new_session).over(wc).cast("long"))
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eventos"),
            r2(F.sum("value")).alias("valor"),
            ((F.max(epoch_sec("ts")) - F.min(epoch_sec("ts"))))
            .cast("long").alias("duracion_seg"),
        )
    )


SQL_EVENTS_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR (epoch_us(ts) // 1000000) - (epoch_us(lag(ts) OVER w) // 1000000) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS nueva
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessioned AS (
  SELECT *, sum(nueva) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*)::BIGINT AS n_eventos, floor((sum(value)) * 100 + 0.5) / 100 AS valor,
       ((epoch_us(max(ts)) // 1000000) - (epoch_us(min(ts)) // 1000000))::BIGINT AS duracion_seg
FROM sessioned GROUP BY user_id, session_id
"""

register("events_sessionize", q_events_sessionize, SQL_EVENTS_SESSIONIZE)


# --------------------------------------------------------------------------
# events_json — semi-structured extraction from the JSON props column,
# JVM-side (get_json_object), no Python in the row path.
# --------------------------------------------------------------------------

def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("suma_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_JSON = """
SELECT event_type, count(*)::BIGINT AS n,
       sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS suma_k,
       max(json_extract(props, '$.k')::BIGINT)::BIGINT AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""

register("events_json", q_events_json, SQL_EVENTS_JSON)


# --------------------------------------------------------------------------
# events_funnel — purchase→error correlation: purchases followed by at
# least one error event from the same user within the next 6 hours. This
# is the batch twin of ``streaming.events.stream_purchase_error_join``
# (same predicate; there the join state is watermark-bounded). Scale
# shape: equi-join on user_id (one shuffle) with the time interval as a
# join-level range predicate; per-user groups are small and bounded, so
# no single task inflates.
# --------------------------------------------------------------------------

FUNNEL_HOURS = 6


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         epoch_sec("ts").alias("p_sec"),
                         F.col("event_id").alias("p_event")))
    errors = (ev.filter(F.col("event_type") == "error")
              .select(F.col("user_id").alias("e_user"),
                      epoch_sec("ts").alias("e_sec")))
    cond = ((purchases.p_user == errors.e_user)
            & (errors.e_sec >= purchases.p_sec)
            & (errors.e_sec <= purchases.p_sec + FUNNEL_HOURS * 3600))
    return (
        purchases.join(errors, cond)
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.countDistinct("p_event").cast("long").alias("compras_con_error"),
             F.count(F.lit(1)).cast("long").alias("pares"))
        .orderBy("user_id")
    )


SQL_EVENTS_FUNNEL = f"""
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec
  FROM events WHERE event_type = 'purchase'
), e AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS sec
  FROM events WHERE event_type = 'error'
)
SELECT p.user_id,
       count(DISTINCT p.event_id)::BIGINT AS compras_con_error,
       count(*)::BIGINT AS pares
FROM p JOIN e ON p.user_id = e.user_id
              AND e.sec >= p.sec AND e.sec <= p.sec + {FUNNEL_HOURS * 3600}
GROUP BY p.user_id ORDER BY p.user_id
"""

register("events_funnel", q_events_funnel, SQL_EVENTS_FUNNEL)


# --------------------------------------------------------------------------
# events_segment_value — stream-static enrichment, batch twin: events
# joined to the customer dimension (broadcast — the dim is the small side
# at any scale that fits a dim table) and rolled up by market segment.
# The streaming twin is ``streaming.events.stream_enrich_segments``: the
# same broadcast join applied to a micro-batched stream.
# --------------------------------------------------------------------------

def q_events_segment_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return (
        ev.join(broadcast(dim), "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_eventos"),
             r2(F.sum("value")).alias("valor_total"),
             F.countDistinct("user_id").cast("long").alias("usuarios"))
        .orderBy("c_mktsegment")
    )


SQL_EVENTS_SEGMENT_VALUE = """
SELECT c.c_mktsegment,
       count(*)::BIGINT AS n_eventos,
       floor((sum(e.value)) * 100 + 0.5) / 100 AS valor_total,
       count(DISTINCT e.user_id)::BIGINT AS usuarios
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
"""

register("events_segment_value", q_events_segment_value, SQL_EVENTS_SEGMENT_VALUE)


# --------------------------------------------------------------------------
# events_rolling — time-RANGE rolling window: for each event, the count
# and mean value of SAME-TYPE events in the trailing 24 hours (RANGE
# BETWEEN interval, not ROWS — the frame is defined by timestamps, so
# ties and gaps behave correctly). Summarised per type to keep the
# checked output small while the window still computes per event.
#
# Scale note: partitioning by event_type alone bounds parallelism at the
# type cardinality — one hot type = one task at any data size. The query
# therefore ROUTES: below ROLLING_SHARD_ROWS it runs the single-key
# window (the semantic definition, simplest correct plan at report
# cardinality); above it, it runs the same window through
# ``sharded_range_window`` — (event_type, weekly bucket) shards with
# boundary overlap, parallelism |types| x |weeks|. The row probe is one
# parquet-metadata count, and both paths produce identical results
# (same oracle; sharded-vs-single equality is also a hypothesis property
# in tests/test_operator_properties.py).
# --------------------------------------------------------------------------

ROLLING_SECONDS = 24 * 3600
ROLLING_SHARD_ROWS = 50_000


def _rolling_summary(rolled: DataFrame) -> DataFrame:
    return (rolled.groupBy("event_type")
            .agg(F.max("n_24h").cast("long").alias("max_n_24h"),
                 r2(F.avg("media_24h")).alias("media_de_medias"),
                 F.count(F.lit(1)).cast("long").alias("n_eventos"))
            .orderBy("event_type"))


def _events_rows(spark: SparkSession, sf_dir: str, ev: DataFrame) -> int:
    """Row count for the routing probe: parquet footer metadata when the
    table is a plain parquet path (free — no scan; Spark's count() scans
    unless aggregate pushdown is on), else one column-less count.

    Only the two EXPECTED shapes fall through to the scan count — the
    file not being a single parquet file (directory-style table, other
    format) — and the fallback is logged; anything else (typo'd sf_dir,
    permissions) raises rather than silently paying a full scan per
    invocation (VERDICT r5)."""
    import pyarrow.lib
    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    import os

    if os.path.isfile(path):
        try:
            return pq.ParquetFile(path).metadata.num_rows
        except pyarrow.lib.ArrowInvalid:
            pass  # not a parquet file despite the name
    import warnings

    warnings.warn(f"events routing probe: {path} is not a single parquet "
                  f"file; falling back to a count() scan", stacklevel=2)
    return ev.count()


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import sharded_trailing_count_avg

    ev = load_table(spark, sf_dir, "events")
    if _events_rows(spark, sf_dir, ev) > ROLLING_SHARD_ROWS:
        # count/avg are subtractable, so the sharded path computes the
        # trailing frame as a difference of two incremental prefix
        # frames (O(rows)) instead of Spark's sliding frame, which
        # re-aggregates the whole ~density x 24 h buffer per row
        # (O(rows x frame) — quadratic in scale)
        rolled = sharded_trailing_count_avg(
            ev, ["event_type"], "ts", ROLLING_SECONDS,
            "n_24h", "media_24h", "value")
        return _rolling_summary(rolled)
    w = (Window.partitionBy("event_type")
         .orderBy(epoch_sec("ts"))
         .rangeBetween(-ROLLING_SECONDS, 0))
    rolled = (ev
              .withColumn("n_24h", F.count(F.lit(1)).over(w).cast("long"))
              .withColumn("media_24h", F.avg("value").over(w)))
    return _rolling_summary(rolled)


SQL_EVENTS_ROLLING = f"""
WITH rolled AS (
  SELECT event_type, value,
         count(*) OVER w AS n_24h,
         avg(value) OVER w AS media_24h
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts) // 1000000
               RANGE BETWEEN {ROLLING_SECONDS} PRECEDING AND CURRENT ROW)
)
SELECT event_type, max(n_24h)::BIGINT AS max_n_24h,
       floor((avg(media_24h)) * 100 + 0.5) / 100 AS media_de_medias,
       count(*)::BIGINT AS n_eventos
FROM rolled GROUP BY event_type ORDER BY event_type
"""

register("events_rolling", q_events_rolling, SQL_EVENTS_ROLLING)


# --------------------------------------------------------------------------
# events_rolling_sharded — the 100 TB deployment shape of events_rolling:
# the same per-event trailing-24 h RANGE window, but sharded by
# (event_type, weekly time bucket) with boundary-overlap rows so every
# event still sees its complete window (operators/windows.py
# ``sharded_range_window``). Output is identical to events_rolling — the
# oracle is the same single-key window SQL, which IS the semantic
# definition; the sharding is purely a physical-plan choice. Parallelism
# scales with |types| x |weeks| instead of |types|.
# --------------------------------------------------------------------------

def q_events_rolling_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import sharded_trailing_count_avg

    ev = load_table(spark, sf_dir, "events")
    rolled = sharded_trailing_count_avg(
        ev, ["event_type"], "ts", ROLLING_SECONDS,
        "n_24h", "media_24h", "value")
    return _rolling_summary(rolled)


register("events_rolling_sharded", q_events_rolling_sharded, SQL_EVENTS_ROLLING)


# --------------------------------------------------------------------------
# events_retention — cohort retention matrix: users bucketed by first-seen
# week (the cohort), then counted per (cohort, week-offset) if active in
# that later week. Weeks are integer epoch-weeks (floor(epoch/604800)) —
# engine-neutral, no calendar-week-start disagreements.
#
# Plan shape (round 4): ONE keyed shuffle on user_id building the per-user
# active-week set (map-side partial collect_set dedupes within partitions),
# then cohort = array_min and offsets by explode — the
# distinct→agg→self-join chain this replaces cost 4 keyed shuffles for the
# same result. After the explode each user contributes each (cohort,
# offset) exactly once (it came from a set), so the final rollup is a
# plain count — no distinct-expand. Per-user state is bounded by the
# calendar (52 entries/user/year), not by event volume, so the set
# aggregate holds at 100 TB.
# --------------------------------------------------------------------------

def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.select("user_id",
                          (epoch_sec("ts") / 604800).cast("long")
                          .alias("semana"))
                .groupBy("user_id")
                .agg(F.collect_set("semana").alias("semanas")))
    return (
        per_user
        .select(F.array_min("semanas").alias("cohorte"),
                F.explode("semanas").alias("semana"))
        .groupBy("cohorte", (F.col("semana") - F.col("cohorte")).alias("offset"))
        .agg(F.count(F.lit(1)).cast("long").alias("usuarios"))
        .orderBy("cohorte", "offset")
    )


# --------------------------------------------------------------------------
# events_anomaly — batch twin of the streaming Welford monitor
# (streaming/stateful.py): per-type mean/stddev_samp and the count of
# events whose |z| crosses the configured threshold. Batch semantics use
# the FINAL statistics (every event judged against the full-period
# stats), where the streaming twin judges each event against the running
# prior — the standard batch/online difference, documented here so the
# twins are compared on shape, not values. The per-type stats are a
# 5-row broadcast; the engine's round-then-compare convention (|z|
# rounded to 4 before the threshold test, operators/stats.py) makes the
# flag engine-portable.
# --------------------------------------------------------------------------

def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..config import ANOMALIAS

    ev = load_table(spark, sf_dir, "events")
    stats = (ev.groupBy("event_type")
             .agg(F.avg("value").alias("_mean"),
                  F.stddev_samp("value").alias("_std"),
                  F.count(F.lit(1)).alias("_n")))
    ok = ((F.col("_n") >= ANOMALIAS["MIN_OBSERVACIONES"])
          & (F.col("_std") > 0))
    z = F.when(ok, r4(F.abs((F.col("value") - F.col("_mean")) / F.col("_std"))))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("_z", z)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_eventos"),
             r6(F.avg("value")).alias("media"),
             r6(F.stddev_samp("value")).alias("desviacion"),
             F.sum(F.when(F.col("_z") >= ANOMALIAS["Z_SCORE_UMBRAL"], 1)
                   .otherwise(0)).cast("long").alias("n_anomalos"))
        .orderBy("event_type")
    )


SQL_EVENTS_ANOMALY = f"""
WITH stats AS (
  SELECT event_type, avg(value) AS _mean, stddev_samp(value) AS _std,
         count(*) AS _n
  FROM events GROUP BY event_type
)
SELECT e.event_type, count(*)::BIGINT AS n_eventos,
       floor((avg(e.value)) * 1000000 + 0.5) / 1000000 AS media,
       floor((stddev_samp(e.value)) * 1000000 + 0.5) / 1000000 AS desviacion,
       sum(CASE WHEN s._n >= 3 AND s._std > 0
                 AND floor(abs((e.value - s._mean) / s._std) * 10000 + 0.5)
                     / 10000 >= 3.0
            THEN 1 ELSE 0 END)::BIGINT AS n_anomalos
FROM events e JOIN stats s USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
"""

register("events_anomaly", q_events_anomaly, SQL_EVENTS_ANOMALY)


SQL_EVENTS_RETENTION = """
WITH weeks AS (
  SELECT DISTINCT user_id, (epoch_us(ts) // 1000000) // 604800 AS semana
  FROM events
), cohorts AS (
  SELECT user_id, min(semana) AS cohorte FROM weeks GROUP BY user_id
)
SELECT c.cohorte, w.semana - c.cohorte AS offset,
       count(DISTINCT w.user_id)::BIGINT AS usuarios
FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""

register("events_retention", q_events_retention, SQL_EVENTS_RETENTION)


# --------------------------------------------------------------------------
# events_dau_wau — daily/weekly active users and the DAU/WAU stickiness
# ratio, the engagement companion of the retention matrix. Days and
# weeks are integer epoch units (day = sec // 86400; week = day // 7 —
# exact, both epoch-anchored), so no calendar disagreements. Two
# distinct-count aggregations (each one partial-aggregated keyed
# shuffle) joined on the week; |days| output rows.
# --------------------------------------------------------------------------

def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", (epoch_sec("ts") / 86400).cast("long")
                  .alias("dia")))
    dau = (ev.groupBy("dia")
           .agg(F.countDistinct("user_id").cast("long").alias("dau")))
    wau = (ev.groupBy((F.col("dia") / 7).cast("long").alias("semana"))
           .agg(F.countDistinct("user_id").cast("long").alias("wau")))
    return (dau.withColumn("semana", (F.col("dia") / 7).cast("long"))
            .join(wau, "semana")
            .select("dia", "semana", "dau", "wau",
                    r4(F.col("dau") / F.col("wau")).alias("adherencia"))
            .orderBy("dia"))


SQL_EVENTS_DAU_WAU = """
WITH ev AS (
  SELECT user_id, (epoch_us(ts) // 1000000) // 86400 AS dia FROM events
), dau AS (
  SELECT dia, count(DISTINCT user_id)::BIGINT AS dau FROM ev GROUP BY dia
), wau AS (
  SELECT dia // 7 AS semana, count(DISTINCT user_id)::BIGINT AS wau
  FROM ev GROUP BY dia // 7
)
SELECT d.dia::BIGINT AS dia, w.semana::BIGINT AS semana, d.dau, w.wau,
       floor(d.dau / w.wau::DOUBLE * 10000 + 0.5) / 10000 AS adherencia
FROM dau d JOIN wau w ON d.dia // 7 = w.semana
ORDER BY d.dia
"""

register("events_dau_wau", q_events_dau_wau, SQL_EVENTS_DAU_WAU)


# --------------------------------------------------------------------------
# events_gapfill — time-series densification: the hourly rollup joined
# against the COMPLETE hour grid so silent hours exist as zero rows (the
# gap-filling step every monitoring/forecasting consumer needs — a missing
# hour and a zero hour are different facts). The grid is generated from a
# one-row min/max aggregate (broadcast) × the distinct type set — never
# materialized wider than |hours| × |types| — and the fact side is the
# already-reduced hourly aggregate, so the gap join is dim-sized at any
# event volume. Output: per-type coverage (total/empty hours, zero-hour
# share).
# --------------------------------------------------------------------------

def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = (F.floor(epoch_sec("ts") / 3600) * 3600).cast("long")
    hourly = (ev.withColumn("_h", hour)
              .groupBy("event_type", "_h")
              .agg(F.count(F.lit(1)).alias("_n")))
    bounds = ev.agg(
        (F.floor(F.min(epoch_sec("ts")) / 3600) * 3600).cast("long").alias("_h0"),
        (F.floor(F.max(epoch_sec("ts")) / 3600) * 3600).cast("long").alias("_h1"))
    types = ev.select("event_type").distinct()
    grid = (F.broadcast(bounds)
            .selectExpr("explode(sequence(_h0, _h1, 3600)) AS _h")
            .crossJoin(F.broadcast(types)))
    filled = (grid.join(hourly, ["event_type", "_h"], "left")
              .select("event_type", "_h",
                      F.coalesce("_n", F.lit(0)).alias("_n")))
    return (
        filled.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_horas"),
             F.sum((F.col("_n") == 0).cast("int")).cast("long")
             .alias("horas_vacias"),
             F.sum("_n").cast("long").alias("n_eventos"))
        .withColumn("pct_vacias",
                    F.expr("floor(horas_vacias / n_horas * 10000 + 0.5) "
                           "/ 10000"))
        .orderBy("event_type")
    )


SQL_EVENTS_GAPFILL = """
WITH sec AS (
  SELECT event_type, epoch_us(ts) // 1000000 AS s FROM events
), hourly AS (
  SELECT event_type, (s // 3600) * 3600 AS h, count(*) AS n
  FROM sec GROUP BY 1, 2
), bounds AS (
  SELECT (min(s) // 3600) * 3600 AS h0, (max(s) // 3600) * 3600 AS h1 FROM sec
), grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(generate_series(h0, h1, 3600)) AS h FROM bounds) g
), filled AS (
  SELECT grid.event_type, grid.h, coalesce(hourly.n, 0) AS n
  FROM grid LEFT JOIN hourly
    ON grid.event_type = hourly.event_type AND grid.h = hourly.h
)
SELECT event_type,
       count(*)::BIGINT AS n_horas,
       sum(CASE WHEN n = 0 THEN 1 ELSE 0 END)::BIGINT AS horas_vacias,
       sum(n)::BIGINT AS n_eventos,
       floor(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) / count(*) * 10000 + 0.5)
         / 10000 AS pct_vacias
FROM filled GROUP BY event_type ORDER BY event_type
"""

register("events_gapfill", q_events_gapfill, SQL_EVENTS_GAPFILL)


# --------------------------------------------------------------------------
# events_asof_attribution — as-of (most-recent-prior) attribution: each
# purchase is credited to the user's LATEST click strictly before it,
# if within the attribution window. This is the as-of-join member of the
# events family, expressed as ONE per-user ordered window
# (last(click, ignorenulls) over ROWS UNBOUNDED PRECEDING .. 1 PRECEDING)
# over the type-filtered union — one keyed shuffle, no range self-join,
# per-user state bounded by the user's own history. Ties at the same
# second resolve by event_id (total order, SURVEY §4.1 determinism rule).
# --------------------------------------------------------------------------

ATTR_WINDOW_SEC = 7 * 86400


def q_events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "purchase"))
          .select("event_id", "user_id", "event_type",
                  epoch_sec("ts").alias("_sec")))
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("_sec").asc(), F.col("event_id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    prior_click = F.last(
        F.when(F.col("event_type") == "click",
               F.struct(F.col("_sec").alias("s"),
                        F.col("event_id").alias("id"))),
        ignorenulls=True).over(w)
    attributed = (
        ev.withColumn("_pc", prior_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").cast("long").alias("compra_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.when(F.col("_sec") - F.col("_pc.s") <= ATTR_WINDOW_SEC,
                   F.col("_pc.id")).cast("long").alias("click_id"),
            F.when(F.col("_sec") - F.col("_pc.s") <= ATTR_WINDOW_SEC,
                   F.col("_sec") - F.col("_pc.s")).cast("long")
            .alias("segundos_desde_click")))
    return attributed.orderBy("compra_id")


SQL_EVENTS_ASOF_ATTRIBUTION = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) // 1000000 AS s
  FROM events WHERE event_type IN ('click', 'purchase')
), flagged AS (
  SELECT *,
         last_value(CASE WHEN event_type = 'click'
                         THEN struct_pack(s := s, id := event_id) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY s ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc
  FROM ev
)
SELECT event_id::BIGINT AS compra_id, user_id::BIGINT AS user_id,
       CASE WHEN s - pc.s <= {ATTR_WINDOW_SEC} THEN pc.id END::BIGINT AS click_id,
       CASE WHEN s - pc.s <= {ATTR_WINDOW_SEC} THEN s - pc.s END::BIGINT
         AS segundos_desde_click
FROM flagged WHERE event_type = 'purchase'
ORDER BY compra_id
"""

register("events_asof_attribution", q_events_asof_attribution,
         SQL_EVENTS_ASOF_ATTRIBUTION)


# --------------------------------------------------------------------------
# events_conversion_pairs — bounded-interval (range) join: EVERY purchase a
# user makes within 30 minutes after each click, as (click, purchase)
# pairs. Complements events_asof_attribution (which keeps only the most
# recent prior click): this is the "all matches in window" member of the
# temporal-join family, and it uses operators/rangejoin.bucketed_range_join
# — an equi-join on (user, time-bucket) with probe-side duplication <= 2,
# never a hot-key quadratic pair filter. Window bounds: strictly after the
# click, at most 30 min later.
# --------------------------------------------------------------------------

CONVERSION_WINDOW_SEC = 30 * 60


def q_events_conversion_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import bucketed_range_join

    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      epoch_sec("ts").alias("_cs")))
    compras = (ev.filter(F.col("event_type") == "purchase")
               .select(F.col("event_id").alias("compra_id"),
                       F.col("user_id"), F.col("value"),
                       epoch_sec("ts").alias("_ps")))
    pares = bucketed_range_join(clicks, compras, "user_id",
                                "_cs", "_ps", 0, CONVERSION_WINDOW_SEC)
    return (
        pares.filter(F.col("_ps") > F.col("_cs"))  # strictly after the click
        .select(F.col("click_id").cast("long").alias("click_id"),
                F.col("compra_id").cast("long").alias("compra_id"),
                F.col("user_id").cast("long").alias("user_id"),
                (F.col("_ps") - F.col("_cs")).cast("long").alias("retraso_seg"),
                r2(F.col("value")).alias("monto"))
        .orderBy("click_id", "compra_id")
    )


SQL_EVENTS_CONVERSION_PAIRS = f"""
WITH clicks AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) // 1000000 AS cs
  FROM events WHERE event_type = 'click'
), compras AS (
  SELECT event_id AS compra_id, user_id, value, epoch_us(ts) // 1000000 AS ps
  FROM events WHERE event_type = 'purchase'
)
SELECT c.click_id::BIGINT AS click_id, p.compra_id::BIGINT AS compra_id,
       c.user_id::BIGINT AS user_id,
       (p.ps - c.cs)::BIGINT AS retraso_seg,
       floor(p.value * 100 + 0.5) / 100 AS monto
FROM clicks c JOIN compras p
  ON c.user_id = p.user_id
 AND p.ps > c.cs AND p.ps <= c.cs + {CONVERSION_WINDOW_SEC}
ORDER BY click_id, compra_id
"""

register("events_conversion_pairs", q_events_conversion_pairs,
         SQL_EVENTS_CONVERSION_PAIRS)


# --------------------------------------------------------------------------
# events_conversion_window — the aggregate twin of the pair query: per
# click, HOW MANY purchases landed in the following 30 minutes and their
# total value. Implemented as ONE per-user RANGE-frame window over the
# type-filtered union (frame = [current+1s, current+1800s] by epoch
# seconds) — a single keyed shuffle, no join at all: for same-table
# window aggregation the range frame beats any join strategy because the
# candidate scan is the frame itself. Ranked windows elsewhere use ROWS
# frames; this is the engine's RANGE-frame member.
# --------------------------------------------------------------------------

def q_events_conversion_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "purchase"))
          .select("event_id", "user_id", "event_type", "value",
                  epoch_sec("ts").alias("_sec")))
    w = (Window.partitionBy("user_id").orderBy(F.col("_sec").asc())
         .rangeBetween(1, CONVERSION_WINDOW_SEC))
    es_compra = F.when(F.col("event_type") == "purchase", F.col("value"))
    return (
        ev.withColumn("n_compras",
                      F.count(es_compra).over(w).cast("long"))
        .withColumn("valor_compras", r2(F.coalesce(F.sum(es_compra).over(w),
                                                   F.lit(0.0))))
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").cast("long").alias("click_id"),
                F.col("user_id").cast("long").alias("user_id"),
                "n_compras", "valor_compras")
        .orderBy("click_id")
    )


SQL_EVENTS_CONVERSION_WINDOW = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, value,
         epoch_us(ts) // 1000000 AS sec
  FROM events WHERE event_type IN ('click', 'purchase')
), marcado AS (
  SELECT event_id, user_id, event_type,
         count(CASE WHEN event_type = 'purchase' THEN value END)
           OVER w::BIGINT AS n_compras,
         floor(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END)
                          OVER w, 0) * 100 + 0.5) / 100 AS valor_compras
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN 1 FOLLOWING AND {CONVERSION_WINDOW_SEC} FOLLOWING)
)
SELECT event_id::BIGINT AS click_id, user_id::BIGINT AS user_id,
       n_compras, valor_compras
FROM marcado WHERE event_type = 'click'
ORDER BY click_id
"""

register("events_conversion_window", q_events_conversion_window,
         SQL_EVENTS_CONVERSION_WINDOW)


# --------------------------------------------------------------------------
# events_hopping — hopping (sliding) window rollup: 1-hour windows
# advancing every 15 minutes, so each event contributes to 4 overlapping
# windows. Completes the window-type family (tumbling events_hourly,
# session events_sessionize, range events_rolling, grid events_gapfill).
# Spark's F.window(slide) plans this as a 4-way Expand feeding ONE keyed
# partial-aggregated shuffle — the same shape Structured Streaming uses
# for its hopping-window state, so the batch form is the streaming twin's
# oracle. The fan-out factor is window/slide (4), fixed at any scale.
# --------------------------------------------------------------------------

HOP_WINDOW_MIN = 60
HOP_SLIDE_MIN = 15


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", f"{HOP_WINDOW_MIN} minutes", f"{HOP_SLIDE_MIN} minutes")
    return (
        ev.groupBy(win.start.alias("inicio"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_eventos"),
             r2(F.sum("value")).alias("valor_total"))
        .select(F.date_format("inicio", "yyyy-MM-dd HH:mm:ss").alias("inicio"),
                "event_type", "n_eventos", "valor_total")
        .orderBy("inicio", "event_type")
    )


# DuckDB twin: each event explodes into the window/slide = 4 window starts
# that contain it — start = slide-aligned marks in (sec - window, sec].
SQL_EVENTS_HOPPING = f"""
WITH ev AS (
  SELECT event_type, value, epoch_us(ts) // 1000000 AS sec FROM events
), hopped AS (
  SELECT event_type, value,
         unnest(range((sec - {HOP_WINDOW_MIN * 60}) // {HOP_SLIDE_MIN * 60} + 1,
                      sec // {HOP_SLIDE_MIN * 60} + 1)) * {HOP_SLIDE_MIN * 60}
           AS inicio_sec
  FROM ev
)
SELECT strftime(to_timestamp(inicio_sec), '%Y-%m-%d %H:%M:%S') AS inicio,
       event_type,
       count(*)::BIGINT AS n_eventos,
       floor(sum(value) * 100 + 0.5) / 100 AS valor_total
FROM hopped
GROUP BY 1, 2 ORDER BY 1, 2
"""

register("events_hopping", q_events_hopping, SQL_EVENTS_HOPPING)


# --------------------------------------------------------------------------
# events_transitions — session path analysis: how often each event type is
# followed by each other type WITHIN a session (same 30-min gap rule as
# events_sessionize). The order-sensitive sequence member of the events
# family: sessionize (running-sum window) and pair consecutive events
# (lag) in the SAME per-user ordered pass — one keyed shuffle total, then
# a tiny (|types|^2-bounded) rollup. Output includes each transition's
# share of all transitions.
# --------------------------------------------------------------------------

def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "event_id", "event_type", "ts",
                  epoch_sec("ts").alias("_sec")))
    # order by RAW ts (sub-second resolution), matching the oracle's
    # WINDOW clause and the sessionize convention — _sec is truncated and
    # used only for the gap arithmetic; ordering by it could pair
    # same-user same-second events differently per engine.
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    gap = F.col("_sec") - F.lag("_sec").over(w)
    # a row is a transition target iff it did NOT start a new session:
    # its predecessor exists and is within the gap — no session ids needed
    paired = (
        ev.withColumn("origen", F.lag("event_type").over(w))
        .withColumn("_gap", gap)
        .filter(F.col("_gap").isNotNull()
                & (F.col("_gap") <= SESSION_GAP_MIN * 60)))
    counts = (paired.groupBy(F.col("origen"),
                             F.col("event_type").alias("destino"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_transiciones")))
    # share of total via a broadcast one-row aggregate (the A15 idiom)
    # instead of an unpartitioned window — same value, no Window funnel
    # in the plan even though the rollup is |types|^2-bounded anyway
    total = counts.agg(F.sum("n_transiciones").alias("_tot"))
    return (counts.crossJoin(F.broadcast(total))
            .select("origen", "destino", "n_transiciones",
                    r6(F.col("n_transiciones") / F.col("_tot"))
                    .alias("proporcion"))
            .orderBy(F.col("n_transiciones").desc(), "origen", "destino"))


SQL_EVENTS_TRANSITIONS = f"""
WITH paired AS (
  SELECT lag(event_type) OVER w AS origen, event_type AS destino,
         (epoch_us(ts) // 1000000)
           - (epoch_us(lag(ts) OVER w) // 1000000) AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), counts AS (
  SELECT origen, destino, count(*)::BIGINT AS n_transiciones
  FROM paired
  WHERE gap IS NOT NULL AND gap <= {SESSION_GAP_MIN * 60}
  GROUP BY origen, destino
)
SELECT origen, destino, n_transiciones,
       floor(n_transiciones / (sum(n_transiciones) OVER ())::DOUBLE
             * 1000000 + 0.5) / 1000000 AS proporcion
FROM counts
ORDER BY n_transiciones DESC, origen, destino
"""

register("events_transitions", q_events_transitions, SQL_EVENTS_TRANSITIONS)


# --------------------------------------------------------------------------
# events_ohlc — hourly OHLC bars per event type: open/close = value of the
# earliest/latest event in the bar, high/low = extremes, plus mean and
# count. The time-series "bar rollup" member of the events family — one
# partial-aggregated keyed shuffle at any scale (no window, no sort: the
# open/close come from struct-ordered MIN/MAX, which combine map-side).
# Determinism: first/last are ordered by (sec, event_id) through the
# struct's lexicographic comparison — never first()/min_by(), whose ties
# are partition-order-dependent.
# --------------------------------------------------------------------------

def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type", "event_id", "value",
                  epoch_sec("ts").alias("_sec")))
    hora = (F.floor(F.col("_sec") / 3600) * 3600).cast("long")
    first_s = F.min(F.struct("_sec", "event_id", "value"))
    last_s = F.max(F.struct("_sec", "event_id", "value"))
    return (
        ev.groupBy(hora.alias("hora_epoch"), "event_type")
        .agg(r2(first_s["value"]).alias("apertura"),
             r2(F.max("value")).alias("maximo"),
             r2(F.min("value")).alias("minimo"),
             r2(last_s["value"]).alias("cierre"),
             F.count(F.lit(1)).cast("long").alias("n_eventos"))
        .orderBy("hora_epoch", "event_type")
    )


SQL_EVENTS_OHLC = """
WITH ev AS (
  SELECT event_type, event_id, value, epoch_us(ts) // 1000000 AS sec
  FROM events
)
SELECT (sec // 3600 * 3600)::BIGINT AS hora_epoch, event_type,
       floor(min(struct_pack(s := sec, e := event_id, v := value))['v']
             * 100 + 0.5) / 100 AS apertura,
       floor(max(value) * 100 + 0.5) / 100 AS maximo,
       floor(min(value) * 100 + 0.5) / 100 AS minimo,
       floor(max(struct_pack(s := sec, e := event_id, v := value))['v']
             * 100 + 0.5) / 100 AS cierre,
       count(*)::BIGINT AS n_eventos
FROM ev
GROUP BY 1, 2 ORDER BY 1, 2
"""

register("events_ohlc", q_events_ohlc, SQL_EVENTS_OHLC)


# --------------------------------------------------------------------------
# events_heavy_hitters — Count-Min sketch audit (Cormode & Muthukrishnan
# 2005) for heavy-hitter detection over the event stream: build a D×W
# counter sketch of per-user event counts, then compare, for the exact
# top-CM_TOP users, the sketch estimate against the true count. The
# Count-Min guarantee is one-sided (estimate >= exact, overestimate
# <= N/W w.h.p.) — the audit reports the realized overestimate per
# heavy hitter, which is the number that decides whether the sketch's
# W is sized right before it replaces the exact groupBy at scale.
#
# Everything is integer arithmetic over md5-derived row hashes —
# bit-portable by construction, no tolerance anywhere.
#
# Scale: the sketch is ONE groupBy over (d, bucket) — D·W bounded rows
# regardless of corpus size (the mergeability that makes CM the
# streaming/distributed structure) — broadcast back as a single row;
# the exact side is the one wordcount-class shuffle the audit exists to
# eventually replace. Nothing is ever all-pairs.
# --------------------------------------------------------------------------

CM_D = 4      # sketch rows (independent hashes)
CM_W = 256    # buckets per row
CM_TOP = 10   # audited heavy hitters

# per-row hash d of a user id: 28-bit md5 of "<d>:<user>" mod W
def _cm_h(d: str, u: str) -> str:
    return (f"cast(conv(substring(md5(concat({d}, ':', cast({u} as string))), "
            f"1, 7), 16, 10) as bigint) % {CM_W}")


def _sql_cm_h(d: str, u: str) -> str:
    return (f"('0x' || substr(md5(concat({d}, ':', {u}::VARCHAR)), 1, 7))"
            f"::BIGINT % {CM_W}")


def q_events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    cells = ev.selectExpr(
        f"explode(transform(sequence(0, {CM_D - 1}), "
        f"d -> struct(d AS d, {_cm_h('d', 'user_id')} AS b))) AS c"
    ).select("c.d", "c.b")
    sketch = (cells.groupBy("d", "b")
              .agg(F.count(F.lit(1)).cast("long").alias("n"))
              .agg(F.expr(
                  f"map_from_entries(collect_list("
                  f"struct(d * {CM_W} + b, n)))").alias("_sk")))
    exact = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).cast("long").alias("exacto"))
             .orderBy(F.col("exacto").desc(), F.col("user_id").asc())
             .limit(CM_TOP))
    est = (f"array_min(transform(sequence(0, {CM_D - 1}), "
           f"d -> coalesce(try_element_at(_sk, "
           f"d * {CM_W} + {_cm_h('d', 'user_id')}), 0L)))")
    return (exact.crossJoin(F.broadcast(sketch))
            .selectExpr("user_id", "exacto", f"{est} AS estimado")
            .selectExpr("user_id", "exacto", "estimado",
                        "estimado - exacto AS sobreestima")
            .orderBy(F.col("exacto").desc(), F.col("user_id").asc()))


SQL_EVENTS_HEAVY_HITTERS = f"""
WITH ev AS (
  SELECT user_id FROM events
), cells AS (
  SELECT d, {_sql_cm_h('d', 'user_id')} AS b
  FROM ev CROSS JOIN (SELECT unnest(range(0, {CM_D})) AS d)
), sk AS (
  SELECT map(list(d * {CM_W} + b ORDER BY d * {CM_W} + b),
             list(n ORDER BY d * {CM_W} + b)) AS sk
  FROM (SELECT d, b, count(*)::BIGINT AS n FROM cells GROUP BY d, b)
), exact AS (
  SELECT user_id, count(*)::BIGINT AS exacto
  FROM ev GROUP BY user_id
  ORDER BY exacto DESC, user_id ASC LIMIT {CM_TOP}
), est AS (
  SELECT user_id, exacto,
         list_min(list_transform(range(0, {CM_D}),
           d -> coalesce(map_extract(sk,
                  d * {CM_W} + {_sql_cm_h('d', 'user_id')})[1], 0)))
           AS estimado
  FROM exact CROSS JOIN sk
)
SELECT user_id, exacto, estimado, estimado - exacto AS sobreestima
FROM est ORDER BY exacto DESC, user_id ASC
"""

register("events_heavy_hitters", q_events_heavy_hitters,
         SQL_EVENTS_HEAVY_HITTERS)


# --------------------------------------------------------------------------
# events_uniques_sketch — HLL sketch MERGEABILITY audit: the reason
# sketches matter at 100 TB is not the one-shot estimate (sketch_profile
# covers that) but re-aggregation — materialize one ~4 KB Datasketches
# HLL per day and answer any coarser window's unique count by UNIONING
# sketches, never rescanning raw events. This query builds the daily
# sketches, merges them per week (``hll_union_agg``), and audits the
# merged estimate against the exact weekly distinct, alongside the
# naive sum-of-daily-uniques (the number a mergeless pipeline would
# report, wrong by the cross-day revisit factor).
#
# Oracle contract: exact values + in-query ``hll_ok`` tolerance boolean
# (oracle side: literal TRUE) — the sketch_profile pattern; the 5 %
# bound is ~3× the configured relative standard error (lgK=12 → 1.6 %),
# and Datasketches HLL union is insertion-order independent, so the
# partition sweeps exercise real merge-order invariance.
#
# Scale: one user-keyed daily distinct (the audit baseline — at 100 TB
# you would drop it and keep only the sketches), one |days|-row sketch
# merge, and a |weeks|-row join. Daily sketches are the persisted
# partial aggregates; everything after them is corpus-size-free.
# --------------------------------------------------------------------------

def q_events_uniques_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", (epoch_sec("ts") / 86400).cast("long")
                  .alias("dia")))
    daily = (ev.groupBy("dia")
             .agg(F.countDistinct("user_id").cast("long").alias("_du"),
                  F.hll_sketch_agg("user_id").alias("_sk")))
    weekly_exact = (ev.groupBy((F.col("dia") / 7).cast("long")
                               .alias("semana"))
                    .agg(F.countDistinct("user_id").cast("long")
                         .alias("exactos_semana")))
    weekly = (daily.groupBy((F.col("dia") / 7).cast("long").alias("semana"))
              .agg(F.count(F.lit(1)).cast("long").alias("dias"),
                   F.sum("_du").cast("long").alias("suma_diaria"),
                   F.hll_sketch_estimate(F.hll_union_agg("_sk"))
                   .alias("_est")))
    return (
        weekly.join(weekly_exact, "semana")
        .select("semana", "dias", "exactos_semana", "suma_diaria",
                r4(F.col("suma_diaria").cast("double")
                   / F.col("exactos_semana")).alias("factor_revisita"),
                (F.abs(F.col("_est") - F.col("exactos_semana"))
                 <= 0.05 * F.col("exactos_semana")).alias("hll_ok"))
        .orderBy("semana")
    )


SQL_EVENTS_UNIQUES_SKETCH = """
WITH ev AS (
  SELECT user_id, (epoch_us(ts) // 1000000) // 86400 AS dia FROM events
), daily AS (
  SELECT dia, count(DISTINCT user_id)::BIGINT AS _du FROM ev GROUP BY dia
), weekly_exact AS (
  SELECT dia // 7 AS semana, count(DISTINCT user_id)::BIGINT
           AS exactos_semana
  FROM ev GROUP BY dia // 7
), weekly AS (
  SELECT dia // 7 AS semana, count(*)::BIGINT AS dias,
         sum(_du)::BIGINT AS suma_diaria
  FROM daily GROUP BY dia // 7
)
SELECT w.semana::BIGINT AS semana, w.dias, e.exactos_semana,
       w.suma_diaria,
       floor(w.suma_diaria::DOUBLE / e.exactos_semana * 10000 + 0.5)
         / 10000 AS factor_revisita,
       TRUE AS hll_ok
FROM weekly w JOIN weekly_exact e USING (semana)
ORDER BY w.semana
"""

register("events_uniques_sketch", q_events_uniques_sketch,
         SQL_EVENTS_UNIQUES_SKETCH)


# --------------------------------------------------------------------------
# events_watermark_audit — the lateness profile that chooses a streaming
# watermark delay: for each event, lateness = (max event-time seen so
# far in ARRIVAL order) - (its own event time); the bucketed histogram
# tells you what fraction of events a 1 m / 5 m / 1 h watermark would
# drop. The synthetic feed arrives in perfect time order (lateness would
# be identically zero), so arrival order is jitter-injected
# deterministically — arrival key = ts + (event_id % 13)*97 - 582
# seconds — the established synthesis pattern (PII scrub, C4 lines).
#
# Scale: the running max over the global arrival order uses the
# two-level prefix-max (operators/sorting.global_running_max — range
# partition, local window, |partitions|-row triangular broadcast), NOT
# row_number/max OVER () on one partition: the audit stays fully
# parallel at any event count. All lateness arithmetic is integer
# seconds.
# --------------------------------------------------------------------------

WM_JITTER_MOD = 13
WM_JITTER_STEP = 97  # arrival jitter: (event_id % 13) * 97 - 582 seconds


def q_events_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sorting import global_running_max
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id", epoch_sec("ts").alias("_es"),
        (epoch_sec("ts")
         + (F.col("event_id") % WM_JITTER_MOD) * WM_JITTER_STEP
         - F.lit(WM_JITTER_STEP * (WM_JITTER_MOD - 1) // 2)).alias("_ak"))
    run = global_running_max(
        keyed, [F.col("_ak").asc(), F.col("event_id").asc()], "_es",
        out_col="_rm", materialize=True)
    late = run.select((F.col("_rm") - F.col("_es")).alias("_late"))
    bucketed = late.select(
        F.when(F.col("_late") == 0, "1_a_tiempo")
        .when(F.col("_late") <= 60, "2_hasta_1m")
        .when(F.col("_late") <= 300, "3_hasta_5m")
        .when(F.col("_late") <= 3600, "4_hasta_1h")
        .otherwise("5_mas_1h").alias("retraso"), "_late")
    # total via a window over the |buckets|-row rollup (bounded <= 5
    # rows) — a separate count branch would re-run the prefix-max
    # pipeline a second time.
    return (
        bucketed.groupBy("retraso")
        .agg(F.count(F.lit(1)).cast("long").alias("n_eventos"),
             F.max("_late").cast("long").alias("retraso_max_seg"))
        .withColumn("_n", F.sum("n_eventos").over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)))
        .select("retraso", "n_eventos", "retraso_max_seg",
                r6(F.col("n_eventos") / F.col("_n")).alias("tasa"))
        .orderBy("retraso")
    )


SQL_EVENTS_WATERMARK_AUDIT = f"""
WITH keyed AS (
  SELECT event_id, epoch_us(ts) // 1000000 AS _es,
         epoch_us(ts) // 1000000
           + (event_id % {WM_JITTER_MOD}) * {WM_JITTER_STEP}
           - {WM_JITTER_STEP * (WM_JITTER_MOD - 1) // 2} AS _ak
  FROM events
), run AS (
  SELECT _es, max(_es) OVER (ORDER BY _ak, event_id
                             ROWS UNBOUNDED PRECEDING) AS _rm
  FROM keyed
), bucketed AS (
  SELECT CASE WHEN _rm - _es = 0 THEN '1_a_tiempo'
              WHEN _rm - _es <= 60 THEN '2_hasta_1m'
              WHEN _rm - _es <= 300 THEN '3_hasta_5m'
              WHEN _rm - _es <= 3600 THEN '4_hasta_1h'
              ELSE '5_mas_1h' END AS retraso,
         _rm - _es AS _late
  FROM run
), total AS (SELECT count(*)::BIGINT AS _n FROM bucketed)
SELECT retraso, count(*)::BIGINT AS n_eventos,
       max(_late)::BIGINT AS retraso_max_seg,
       floor(count(*)::DOUBLE / max(t._n) * 1000000 + 0.5) / 1000000
         AS tasa
FROM bucketed CROSS JOIN total t
GROUP BY retraso ORDER BY retraso
"""

register("events_watermark_audit", q_events_watermark_audit,
         SQL_EVENTS_WATERMARK_AUDIT)


# --------------------------------------------------------------------------
# events_bot_detection — rate-based abuse filtering (the rule gate every
# event pipeline runs before counting engagement, and a training-data
# pipeline runs before trusting user-interaction signals): a user's peak
# request rate is the max number of their events inside ANY sliding
# BOT_WINDOW_SEC window; the per-peak-rate histogram shows where the
# human/bot boundary sits, and users at or past BOT_RATE are flagged.
#
# Scale shape: the sliding count is a range-frame window partitioned by
# user_id — cardinality grows WITH the data, so parallelism is never
# capped (the events_rolling contrast: its key was |event_types|).
# Integer counts only; one user-keyed shuffle, then a |buckets|-row
# rollup with a 1-row broadcast total.
# --------------------------------------------------------------------------

BOT_WINDOW_SEC = 60
BOT_RATE = 10  # >= this many events in one window flags the user


def q_events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select("user_id", epoch_sec("ts").alias("_es"))
    w = (Window.partitionBy("user_id").orderBy("_es")
         .rangeBetween(-(BOT_WINDOW_SEC - 1), 0))
    per_user = (keyed.withColumn("_r", F.count(F.lit(1)).over(w))
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).cast("long").alias("_n"),
                     F.max("_r").cast("long").alias("_peak")))
    bucketed = per_user.select(
        "_n", "_peak",
        F.when(F.col("_peak") <= 1, "1_individual")
        .when(F.col("_peak") <= 3, "2_moderado")
        .when(F.col("_peak") < BOT_RATE, "3_intenso")
        .otherwise("4_bot").alias("ritmo"))
    # total via a window over the |buckets|-row rollup (bounded <= 4
    # rows) — a separate count branch would re-run the sliding-window
    # pipeline a second time.
    return (bucketed.groupBy("ritmo")
            .agg(F.count(F.lit(1)).cast("long").alias("usuarios"),
                 F.sum("_n").cast("long").alias("eventos"),
                 F.max("_peak").cast("long").alias("pico_max"))
            .withColumn("_t", F.sum("usuarios").over(
                Window.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing)))
            .select("ritmo", "usuarios", "eventos", "pico_max",
                    r6(F.col("usuarios") / F.col("_t")).alias("tasa"))
            .orderBy("ritmo"))


SQL_EVENTS_BOT_DETECTION = f"""
WITH keyed AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS _es FROM events
), rated AS (
  SELECT user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY _es
                        RANGE BETWEEN {BOT_WINDOW_SEC - 1} PRECEDING
                        AND CURRENT ROW) AS _r
  FROM keyed
), per_user AS (
  SELECT user_id, count(*)::BIGINT AS _n, max(_r)::BIGINT AS _peak
  FROM rated GROUP BY user_id
), bucketed AS (
  SELECT _n, _peak,
         CASE WHEN _peak <= 1 THEN '1_individual'
              WHEN _peak <= 3 THEN '2_moderado'
              WHEN _peak < {BOT_RATE} THEN '3_intenso'
              ELSE '4_bot' END AS ritmo
  FROM per_user
), total AS (SELECT count(*)::BIGINT AS _t FROM bucketed)
SELECT ritmo, count(*)::BIGINT AS usuarios, sum(_n)::BIGINT AS eventos,
       max(_peak)::BIGINT AS pico_max,
       floor(count(*)::DOUBLE / max(t._t) * 1000000 + 0.5) / 1000000
         AS tasa
FROM bucketed CROSS JOIN total t
GROUP BY ritmo ORDER BY ritmo
"""

register("events_bot_detection", q_events_bot_detection,
         SQL_EVENTS_BOT_DETECTION)


# --------------------------------------------------------------------------
# events_cohort_value — cohort LTV: users bucketed by first-seen epoch
# week (events_retention's cohort), purchase VALUE rolled up per
# (cohort, week offset) with the running cumulative — the money twin of
# the retention count matrix (retention says who comes back; this says
# what the cohort is worth by age). Purchase amounts are quantized to
# integer CENTS per event before any summation (the repo's money rule:
# distributed float accumulation order never touches a compared total).
#
# Scale shape: ONE keyed shuffle on user_id (map-side partial) building
# per-(user, week) cents, cohort attached via a user-partitioned window
# min (key cardinality grows with the data), then a |cohorts x offsets|
# rollup; the running cumulative windows over that aggregated frame
# (weeks-squared rows, never events).
# --------------------------------------------------------------------------

def q_events_cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_uw = (ev.select("user_id", epoch_sec("ts").alias("_es"),
                        "event_type", "value")
              .selectExpr(
                  "user_id", "_es div 604800 AS _wk",
                  "CASE WHEN event_type = 'purchase' "
                  "THEN cast(floor(value * 100 + 0.5) as bigint) "
                  "ELSE cast(0 as bigint) END AS _cents")
              .groupBy("user_id", "_wk")
              .agg(F.sum("_cents").cast("long").alias("_c")))
    cohorted = per_uw.withColumn(
        "_cohorte", F.min("_wk").over(Window.partitionBy("user_id")))
    per_cell = (cohorted
                .select("_cohorte", (F.col("_wk") - F.col("_cohorte"))
                        .alias("desfase"), "_c")
                .groupBy("_cohorte", "desfase")
                .agg(F.count(F.lit(1)).cast("long").alias("usuarios"),
                     F.sum("_c").cast("long").alias("_cents")))
    wc = (Window.partitionBy("_cohorte").orderBy("desfase")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (per_cell
            .withColumn("_acum", F.sum("_cents").over(wc))
            .select(F.col("_cohorte").alias("cohorte_semana"), "desfase",
                    "usuarios",
                    r2(F.col("_cents") / F.lit(100.0)).alias("valor"),
                    r2(F.col("_acum") / F.lit(100.0)).alias("valor_acum"))
            .orderBy("cohorte_semana", "desfase"))


SQL_EVENTS_COHORT_VALUE = """
WITH per_uw AS (
  SELECT user_id, (epoch_us(ts) // 1000000) // 604800 AS _wk,
         sum(CASE WHEN event_type = 'purchase'
                  THEN floor(value * 100 + 0.5)::BIGINT
                  ELSE 0 END)::BIGINT AS _c
  FROM events GROUP BY user_id, (epoch_us(ts) // 1000000) // 604800
), cohorted AS (
  SELECT user_id, _wk, _c,
         min(_wk) OVER (PARTITION BY user_id) AS _cohorte
  FROM per_uw
), per_cell AS (
  SELECT _cohorte, _wk - _cohorte AS desfase,
         count(*)::BIGINT AS usuarios, sum(_c)::BIGINT AS _cents
  FROM cohorted GROUP BY _cohorte, _wk - _cohorte
)
SELECT _cohorte AS cohorte_semana, desfase, usuarios,
       floor(_cents / 100.0 * 100 + 0.5) / 100 AS valor,
       floor(sum(_cents) OVER (PARTITION BY _cohorte ORDER BY desfase
                               ROWS UNBOUNDED PRECEDING)
             / 100.0 * 100 + 0.5) / 100 AS valor_acum
FROM per_cell ORDER BY cohorte_semana, desfase
"""

register("events_cohort_value", q_events_cohort_value,
         SQL_EVENTS_COHORT_VALUE)


# --------------------------------------------------------------------------
# events_quantile_sketch — mergeable QUANTILE sketch, completing the
# sketch family (Count-Min = frequency, HLL = cardinality, this =
# distribution): a fixed-width histogram over integer cents (HDR-
# histogram shape). The per-(type, bucket) counts ARE the sketch — at
# 100 TB you persist them as the partial aggregate and answer any
# quantile over any union of partitions by SUMMING buckets, never
# rescanning raw events; merge is exact (integer adds), insertion- and
# partition-order independent by construction.
#
# Approximate quantile = upper edge of the first bucket whose running
# count reaches ceil(q*n); the error is structurally < one bucket
# width, and the query audits that bound against the EXACT rank-based
# quantile (smallest value whose cumulative count reaches the same
# rank — no interpolation, hence bit-portable across engines). All
# arithmetic is integer cents: no float sums, no percentile_approx.
#
# Scale: two wordcount-class aggregates (per-(type, cents) for the
# exact audit baseline — key space bounded by the value DOMAIN, 49k
# cents, not the corpus; per-(type, bucket) for the sketch). The
# cumulative windows run over those aggregated frames only (the
# events_cohort_value pattern) — never over raw events.
# --------------------------------------------------------------------------

QS_BUCKET_CENTS = 1000  # $10 histogram resolution


def q_events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "cast(floor(value * 100 + 0.5) as bigint) AS _c")
    wt = Window.partitionBy("event_type")
    wc = wt.orderBy("_c").rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)
    per_cents = (ev.groupBy("event_type", "_c")
                 .agg(F.count(F.lit(1)).alias("_n"))
                 .withColumn("_cum", F.sum("_n").over(wc))
                 .withColumn("_tot", F.sum("_n").over(wt)))

    def exact(num: int, den: int, alias: str):
        # rank-based lower quantile at rank ceil(num/den * n)
        return F.min(F.when(
            F.col("_cum") >= F.expr(f"({num} * _tot + {den} - 1) div {den}"),
            F.col("_c"))).cast("long").alias(alias)

    exacts = per_cents.groupBy("event_type").agg(
        F.max("_tot").cast("long").alias("n"),
        exact(1, 2, "p50_exacto"), exact(19, 20, "p95_exacto"),
        exact(99, 100, "p99_exacto"))

    hist = (ev.selectExpr("event_type",
                          f"_c div {QS_BUCKET_CENTS} AS _b")
            .groupBy("event_type", "_b")
            .agg(F.count(F.lit(1)).alias("_n"))
            .withColumn("_cum", F.sum("_n").over(wt.orderBy("_b")
                        .rowsBetween(Window.unboundedPreceding,
                                     Window.currentRow)))
            .withColumn("_tot", F.sum("_n").over(wt)))

    def approx(num: int, den: int, alias: str):
        # upper edge of the first bucket reaching the rank
        return (F.min(F.when(
            F.col("_cum") >= F.expr(f"({num} * _tot + {den} - 1) div {den}"),
            F.col("_b"))) * QS_BUCKET_CENTS + (QS_BUCKET_CENTS - 1)) \
            .cast("long").alias(alias)

    approxs = hist.groupBy("event_type").agg(
        approx(1, 2, "p50_aprox"), approx(19, 20, "p95_aprox"),
        approx(99, 100, "p99_aprox"))

    ok = ((F.col("p50_aprox") - F.col("p50_exacto")).between(
              0, QS_BUCKET_CENTS - 1)
          & (F.col("p95_aprox") - F.col("p95_exacto")).between(
              0, QS_BUCKET_CENTS - 1)
          & (F.col("p99_aprox") - F.col("p99_exacto")).between(
              0, QS_BUCKET_CENTS - 1))
    return (exacts.join(approxs, "event_type")
            .withColumn("sketch_ok", ok)
            .select("event_type", "n", "p50_exacto", "p50_aprox",
                    "p95_exacto", "p95_aprox", "p99_exacto", "p99_aprox",
                    "sketch_ok")
            .orderBy("event_type"))


SQL_EVENTS_QUANTILE_SKETCH = f"""
WITH ev AS (
  SELECT event_type, floor(value * 100 + 0.5)::BIGINT AS _c FROM events
), per_cents AS (
  SELECT event_type, _c, count(*)::BIGINT AS _n
  FROM ev GROUP BY event_type, _c
), cum AS (
  SELECT event_type, _c,
         sum(_n) OVER (PARTITION BY event_type ORDER BY _c
                       ROWS UNBOUNDED PRECEDING) AS _cum,
         sum(_n) OVER (PARTITION BY event_type) AS _tot
  FROM per_cents
), exacts AS (
  SELECT event_type, max(_tot)::BIGINT AS n,
         min(CASE WHEN _cum >= (1 * _tot + 1) // 2 THEN _c END)::BIGINT
           AS p50_exacto,
         min(CASE WHEN _cum >= (19 * _tot + 19) // 20 THEN _c END)::BIGINT
           AS p95_exacto,
         min(CASE WHEN _cum >= (99 * _tot + 99) // 100 THEN _c END)::BIGINT
           AS p99_exacto
  FROM cum GROUP BY event_type
), hist AS (
  SELECT event_type, _c // {QS_BUCKET_CENTS} AS _b, count(*)::BIGINT AS _n
  FROM ev GROUP BY event_type, _c // {QS_BUCKET_CENTS}
), hcum AS (
  SELECT event_type, _b,
         sum(_n) OVER (PARTITION BY event_type ORDER BY _b
                       ROWS UNBOUNDED PRECEDING) AS _cum,
         sum(_n) OVER (PARTITION BY event_type) AS _tot
  FROM hist
), approxs AS (
  SELECT event_type,
         (min(CASE WHEN _cum >= (1 * _tot + 1) // 2 THEN _b END)
          * {QS_BUCKET_CENTS} + {QS_BUCKET_CENTS - 1})::BIGINT AS p50_aprox,
         (min(CASE WHEN _cum >= (19 * _tot + 19) // 20 THEN _b END)
          * {QS_BUCKET_CENTS} + {QS_BUCKET_CENTS - 1})::BIGINT AS p95_aprox,
         (min(CASE WHEN _cum >= (99 * _tot + 99) // 100 THEN _b END)
          * {QS_BUCKET_CENTS} + {QS_BUCKET_CENTS - 1})::BIGINT AS p99_aprox
  FROM hcum GROUP BY event_type
)
SELECT e.event_type, e.n, e.p50_exacto, a.p50_aprox, e.p95_exacto,
       a.p95_aprox, e.p99_exacto, a.p99_aprox,
       (a.p50_aprox - e.p50_exacto BETWEEN 0 AND {QS_BUCKET_CENTS - 1}
        AND a.p95_aprox - e.p95_exacto BETWEEN 0 AND {QS_BUCKET_CENTS - 1}
        AND a.p99_aprox - e.p99_exacto BETWEEN 0 AND {QS_BUCKET_CENTS - 1})
         AS sketch_ok
FROM exacts e JOIN approxs a USING (event_type)
ORDER BY e.event_type
"""

register("events_quantile_sketch", q_events_quantile_sketch,
         SQL_EVENTS_QUANTILE_SKETCH)


# --------------------------------------------------------------------------
# events_quantile_daily — the quantile sketch SERVED per day: the batch
# anchor of ``streaming.events.stream_quantile_sketch`` (the streaming
# twin persists exactly this per-(day, type, bucket) state; this query
# is what reading that state back answers). Approximate p50/p95/p99 per
# (day, event_type) from the fixed-bucket histogram — all integer
# arithmetic, same upper-bucket-edge rule as events_quantile_sketch.
#
# Scale: one wordcount-class aggregate keyed (day, type, bucket) — key
# space = days x types x value-domain buckets, never raw-event
# cardinality — then cumulative windows over the aggregated frame only,
# partitioned by (day, type): high-cardinality, grows with history, no
# funnel. At 100 TB the histogram IS the persisted partial; this query
# is a scan over it.
# --------------------------------------------------------------------------


def q_events_quantile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        ((epoch_sec("ts") / 86400).cast("long")).alias("dia"),
        "event_type",
        F.expr(f"cast(floor(value * 100 + 0.5) as bigint) "
               f"div {QS_BUCKET_CENTS}").alias("_b"))
    wt = Window.partitionBy("dia", "event_type")
    wc = wt.orderBy("_b").rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)
    hist = (ev.groupBy("dia", "event_type", "_b")
            .agg(F.count(F.lit(1)).alias("_n"))
            .withColumn("_cum", F.sum("_n").over(wc))
            .withColumn("_tot", F.sum("_n").over(wt)))

    def approx(num: int, den: int, alias: str):
        return (F.min(F.when(
            F.col("_cum") >= F.expr(f"({num} * _tot + {den} - 1) div {den}"),
            F.col("_b"))) * QS_BUCKET_CENTS + (QS_BUCKET_CENTS - 1)) \
            .cast("long").alias(alias)

    return (hist.groupBy("dia", "event_type")
            .agg(F.max("_tot").cast("long").alias("n"),
                 approx(1, 2, "p50_aprox"), approx(19, 20, "p95_aprox"),
                 approx(99, 100, "p99_aprox"))
            .orderBy("dia", "event_type"))


SQL_EVENTS_QUANTILE_DAILY = f"""
WITH ev AS (
  SELECT (epoch_us(ts) // 1000000) // 86400 AS dia, event_type,
         floor(value * 100 + 0.5)::BIGINT // {QS_BUCKET_CENTS} AS _b
  FROM events
), hist AS (
  SELECT dia, event_type, _b, count(*)::BIGINT AS _n
  FROM ev GROUP BY dia, event_type, _b
), hcum AS (
  SELECT dia, event_type, _b,
         sum(_n) OVER (PARTITION BY dia, event_type ORDER BY _b
                       ROWS UNBOUNDED PRECEDING) AS _cum,
         sum(_n) OVER (PARTITION BY dia, event_type) AS _tot
  FROM hist
)
SELECT dia::BIGINT AS dia, event_type, max(_tot)::BIGINT AS n,
       (min(CASE WHEN _cum >= (1 * _tot + 1) // 2 THEN _b END)
        * {QS_BUCKET_CENTS} + {QS_BUCKET_CENTS - 1})::BIGINT AS p50_aprox,
       (min(CASE WHEN _cum >= (19 * _tot + 19) // 20 THEN _b END)
        * {QS_BUCKET_CENTS} + {QS_BUCKET_CENTS - 1})::BIGINT AS p95_aprox,
       (min(CASE WHEN _cum >= (99 * _tot + 99) // 100 THEN _b END)
        * {QS_BUCKET_CENTS} + {QS_BUCKET_CENTS - 1})::BIGINT AS p99_aprox
FROM hcum GROUP BY dia, event_type
ORDER BY dia, event_type
"""

register("events_quantile_daily", q_events_quantile_daily,
         SQL_EVENTS_QUANTILE_DAILY)


# --------------------------------------------------------------------------
# events_interarrival — traffic-shape audit: the distribution of
# per-user inter-arrival gaps, log2-bucketed, per event type of the
# later event. The operational companion to events_bot_detection: bot
# bursts pile into the low buckets, dying traffic into the high ones,
# and the bucket boundaries are powers of two so the histogram is exact
# integer arithmetic end-to-end (no pow/log — both engines derive the
# bucket from the binary-string length of gap+1, which is portable where
# log() is not).
#
# Scale: the lag runs under a user_id-keyed window (high-cardinality —
# grows with the user base, never a single partition); the histogram is
# a wordcount-class aggregate whose key space is |types| x ~32 buckets,
# fixed by the 2^63 domain, with map-side combined partials; the
# per-type total joins back as a broadcast (never a low-cardinality
# window over the raw frame).
# --------------------------------------------------------------------------

def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        epoch_sec("ts").alias("_sec"))
    w = Window.partitionBy("user_id").orderBy("_sec", "event_id")
    gaps = (ev.withColumn("_prev", F.lag("_sec").over(w))
            .filter(F.col("_prev").isNotNull())
            .selectExpr("event_type",
                        "length(bin(_sec - _prev + 1)) - 1 AS cubo"))
    hist = (gaps.groupBy("event_type", "cubo")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = (hist.groupBy("event_type")
           .agg(F.sum("n").cast("long").alias("_tot")))
    return (hist.join(F.broadcast(tot), "event_type")
            .selectExpr(
                "event_type", "cast(cubo AS bigint) AS cubo",
                "shiftleft(1L, cubo) - 1 AS desde_s",
                "shiftleft(2L, cubo) - 2 AS hasta_s",
                "n",
                "floor(n / cast(_tot AS double) * 1000000 + 0.5) "
                "/ 1000000 AS frac")
            .orderBy("event_type", "cubo"))


SQL_EVENTS_INTERARRIVAL = """
WITH ev AS (
  SELECT user_id, event_type, event_id,
         epoch_us(ts) // 1000000 AS _sec
  FROM events
), gaps AS (
  SELECT event_type,
         length(bin(_sec - lag(_sec) OVER
                    (PARTITION BY user_id ORDER BY _sec, event_id) + 1)) - 1
           AS cubo
  FROM ev
), hist AS (
  SELECT event_type, cubo, count(*)::BIGINT AS n
  FROM gaps WHERE cubo IS NOT NULL GROUP BY event_type, cubo
), tot AS (
  SELECT event_type, sum(n)::BIGINT AS _tot FROM hist GROUP BY event_type
)
SELECT h.event_type, h.cubo::BIGINT AS cubo,
       ((1::BIGINT << h.cubo) - 1)::BIGINT AS desde_s,
       ((2::BIGINT << h.cubo) - 2)::BIGINT AS hasta_s, h.n,
       floor(h.n / t._tot::DOUBLE * 1000000 + 0.5) / 1000000 AS frac
FROM hist h JOIN tot t USING (event_type)
ORDER BY event_type, cubo
"""

register("events_interarrival", q_events_interarrival,
         SQL_EVENTS_INTERARRIVAL)
