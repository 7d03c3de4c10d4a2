package graft.operators

import graft.core.{Num, Q}
import graft.forecast.Forecasters
import graft.intent.SalesView
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog entries for the forecast module (SURVEY §2.I, L5/L6): the daily
  * history series plus the three forecasters as closed-form plans, each
  * oracle-checked against the identical DuckDB formulation.
  */
object ForecastQueries {

  private def daily(s: SparkSession, d: String): DataFrame =
    Forecasters.dailySeries(SalesView(s, d))

  private val sqlDaily: String =
    s"""${SalesView.sqlCte},
    daily AS (
      SELECT date AS d, CAST(SUM(CAST(sales AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM sales_v GROUP BY 1),
    anchor AS (SELECT max(d) AS last_date FROM daily),
    ranked AS (SELECT d, v, row_number() OVER (ORDER BY d DESC) AS r FROM daily)"""

  /** I4/L5 — the daily history series itself. */
  val q63DailySeries = Q(
    "q63_daily_series",
    (s, d) => daily(s, d).select(col("d").as("date"), col("v").as("sales")),
    Some(s"""
      WITH $sqlDaily
      SELECT d AS date, v AS sales FROM daily
    """),
  )

  /** I1 — flat mean-of-last-7 forecast, 14 days ahead. */
  val q60ForecastMa7 = Q(
    "q60_forecast_ma7",
    (s, d) => Forecasters.ma7Baseline(daily(s, d), h0 = 14, window0 = 7),
    Some(s"""
      WITH $sqlDaily,
      base AS (
        SELECT CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS base
        FROM ranked WHERE r <= 7)
      SELECT anchor.last_date + CAST(i AS INT) AS date, base.base AS sales_hat
      FROM anchor, base, (SELECT CAST(unnest(range(1, 15)) AS INT) AS i)
    """),
  )

  /** I3 — drift over the last 30 days, 14 days ahead. */
  val q61ForecastDrift = Q(
    "q61_forecast_drift",
    (s, d) => Forecasters.drift(daily(s, d), h0 = 14, window0 = 30),
    Some(s"""
      WITH $sqlDaily,
      a AS (
        SELECT max(CASE WHEN r = 1 THEN v END) AS yT,
               max(CASE WHEN r = 30 THEN v END) AS y0
        FROM ranked WHERE r = 1 OR r = 30),
      s AS (SELECT yT, (yT - y0) / 29 AS slope FROM a)
      SELECT anchor.last_date + CAST(i AS INT) AS date,
             s.yT + s.slope * i AS sales_hat
      FROM anchor, s, (SELECT CAST(unnest(range(1, 15)) AS INT) AS i)
    """),
  )

  /** I2 — seasonal7 tiling, 16 days ahead (wraps past one week). */
  val q62ForecastSeasonal7 = Q(
    "q62_forecast_seasonal7",
    (s, d) => Forecasters.seasonal7(daily(s, d), h0 = 16),
    Some(s"""
      WITH $sqlDaily
      SELECT anchor.last_date + CAST(i AS INT) AS date, r.v AS sales_hat
      FROM anchor, (SELECT CAST(unnest(range(1, 17)) AS INT) AS i) t, ranked r
      WHERE r.r = 7 - ((i - 1) % 7)
    """),
  )

  /** Per-key (per-region) seasonal7, 10 days ahead — every region's series
    * forecast in one plan (the reference loops per series in the driver;
    * this is the 100 TB formulation).
    */
  val q64ForecastByRegion = Q(
    "q64_forecast_by_region",
    (s, d) =>
      Forecasters.seasonal7ByKey(keyedDaily(s, d), h0 = 10)
        .withColumnRenamed("k", "region"),
    Some(s"""
      WITH ${SalesView.sqlCte},
      daily AS (
        SELECT region AS k, date AS d,
               CAST(SUM(CAST(sales AS DECIMAL(18,2))) AS DOUBLE) AS v
        FROM sales_v GROUP BY 1, 2),
      ranked AS (
        SELECT k, d, v,
               row_number() OVER (PARTITION BY k ORDER BY d DESC) AS r
        FROM daily),
      eligible AS (
        SELECT k, max(d) AS last_date, count(*) AS n
        FROM daily GROUP BY k HAVING count(*) >= 7)
      SELECT e.k AS region,
             e.last_date + CAST(i AS INT) AS date,
             r.v AS sales_hat
      FROM eligible e
      CROSS JOIN (SELECT CAST(unnest(range(1, 11)) AS INT) AS i) t
      JOIN ranked r ON r.k = e.k AND r.r = 7 - ((i - 1) % 7)
    """),
  )

  private val sqlDailyByRegion: String =
    s"""${SalesView.sqlCte},
    daily AS (
      SELECT region AS k, date AS d,
             CAST(SUM(CAST(sales AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM sales_v GROUP BY 1, 2),
    ranked AS (
      SELECT k, d, v,
             row_number() OVER (PARTITION BY k ORDER BY d DESC) AS r
      FROM daily)"""

  private def keyedDaily(s: SparkSession, d: String): DataFrame =
    SalesView(s, d)
      .groupBy(col("region").as("k"), col("date").as("d"))
      .agg(Num.dsum(col("sales")).as("v"))

  /** Per-key ma7 — every region's flat mean-of-last-7 forecast, 10 days
    * ahead, in one plan (completes the keyed forecaster family).
    */
  val q65Ma7ByRegion = Q(
    "q65_ma7_by_region",
    (s, d) =>
      Forecasters.ma7ByKey(keyedDaily(s, d), h0 = 10, window0 = 7)
        .withColumnRenamed("k", "region"),
    Some(s"""
      WITH $sqlDailyByRegion,
      base AS (
        SELECT k, max(CASE WHEN r = 1 THEN d END) AS last_date,
               CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS base
        FROM ranked WHERE r <= 7 GROUP BY k)
      SELECT b.k AS region, b.last_date + CAST(i AS INT) AS date,
             b.base AS sales_hat
      FROM base b CROSS JOIN (SELECT CAST(unnest(range(1, 11)) AS INT) AS i) t
    """),
  )

  /** Per-key drift — every region's linear extrapolation over the last 30
    * days, 10 days ahead, window clamped per key to the series length.
    */
  val q66DriftByRegion = Q(
    "q66_drift_by_region",
    (s, d) =>
      Forecasters.driftByKey(keyedDaily(s, d), h0 = 10, window0 = 30)
        .withColumnRenamed("k", "region"),
    Some(s"""
      WITH $sqlDailyByRegion,
      n AS (SELECT k, count(*) AS n FROM daily GROUP BY k),
      a AS (
        SELECT r.k,
               max(CASE WHEN r.r = 1 THEN r.v END) AS yT,
               max(CASE WHEN r.r = 1 THEN r.d END) AS last_date,
               max(CASE WHEN r.r = least(30, n.n) THEN r.v END) AS y0,
               max(least(30, n.n)) AS weff
        FROM ranked r JOIN n ON n.k = r.k
        WHERE least(30, n.n) >= 2 AND (r.r = 1 OR r.r = least(30, n.n))
        GROUP BY r.k),
      s AS (SELECT k, last_date, yT, (yT - y0) / (weff - 1) AS slope FROM a)
      SELECT s.k AS region, s.last_date + CAST(i AS INT) AS date,
             s.yT + s.slope * i AS sales_hat
      FROM s CROSS JOIN (SELECT CAST(unnest(range(1, 11)) AS INT) AS i) t
    """),
  )

  /** Per-region SES forecast — [[Forecasters.sesByKey]]'s closed-form
    * exponential smoothing (α = 1/2, power-of-two weights, no libm pow
    * parity risk) as a catalog query; h = 7 flat steps at the level.
    */
  val q155SesByRegion = Q(
    "q155_ses_by_region",
    (s, d) =>
      Forecasters.sesByKey(keyedDaily(s, d), h0 = 7)
        .withColumnRenamed("k", "region"),
    Some(s"""
      WITH $sqlDailyByRegion,
      n AS (SELECT k, count(*) AS n, max(d) AS last_date
            FROM daily GROUP BY k),
      lvl AS (
        SELECT r.k,
               round(sum(CASE WHEN r.r < n.n THEN pow(0.5, r.r)
                              ELSE pow(0.5, n.n - 1) END * r.v), 6) AS level
        FROM ranked r JOIN n ON n.k = r.k
        GROUP BY r.k)
      SELECT l.k AS region, n.last_date + CAST(i AS INT) AS date,
             l.level AS sales_hat
      FROM lvl l JOIN n ON n.k = l.k
      CROSS JOIN (SELECT CAST(unnest(range(1, 8)) AS INT) AS i) t
    """),
  )

  val all: Seq[Q] =
    Seq(q60ForecastMa7, q61ForecastDrift, q62ForecastSeasonal7,
      q63DailySeries, q64ForecastByRegion, q65Ma7ByRegion, q66DriftByRegion,
      q155SesByRegion)
}
