package graft.intent

import graft.core.Num
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Template fast-paths — ref K9 (`/root/reference/api/main.py:1271-1299`
  * dispatcher; templates `:1026-1208`): six hand-written intents matched by
  * keyword conjunctions, each a canned analytic plan. These double as the
  * KPI/dashboard endpoints (SURVEY §2.L).
  *
  * Scale notes: every template aggregates before any window; the region
  * time-rank regression runs on the DAILY grain (deterministic under ties
  * and equivalent to the reference on its one-row-per-day data, while a raw
  * row-level row_number would be tie-nondeterministic distributed).
  */
object Templates {

  /** Regions with growing sales but declining satisfaction — L2/D6/D7
    * (`api/main.py:1026-1061`).
    */
  def regionsGrowthVsCsat(sales: DataFrame): DataFrame = {
    val daily = sales
      .groupBy(col("region"), col("date"))
      .agg(Num.dsum(col("sales")).as("sales_d"), Num.davg(col("satisfaction")).as("sat_d"))
    val t = row_number().over(Window.partitionBy("region").orderBy("date")).cast("double")
    daily.withColumn("t", t)
      .groupBy("region")
      .agg(
        round(regr_slope(col("sales_d"), col("t")), 6).as("slope_sales"),
        round(regr_slope(col("sat_d"), col("t")), 6).as("slope_sat"),
        count(lit(1)).as("n"))
      .filter(col("slope_sales") > 0 && col("slope_sat") < 0)
      .orderBy(col("slope_sales").desc, col("slope_sat").asc, col("region"))
      .limit(10)
  }

  /** Top products for customers under 30 — L3/B3/F2 (`api/main.py:1063-1081`). */
  def topProductsUnder30(sales: DataFrame, n: Int = 2): DataFrame =
    sales.filter(col("age") < 30)
      .groupBy(col("product"))
      .agg(Num.dsum(col("sales")).as("total_sales"))
      .orderBy(col("total_sales").desc, col("product"))
      .limit(n)

  /** Month with the highest MoM sales growth — F4/D9/E2
    * (`api/main.py:1083-1107`).
    */
  def monthHighestGrowth(sales: DataFrame): DataFrame = {
    val daily = sales.groupBy(col("date"))
      .agg(Num.dsumDec(col("sales")).as("d_sales"))
    val monthly = daily
      .groupBy(trunc(col("date"), "month").as("month"))
      .agg(sum(col("d_sales")).cast("double").as("m_sales"))
    monthly
      .withColumn("mom_growth",
        col("m_sales") - lag(col("m_sales"), 1).over(Window.orderBy("month")))
      .orderBy(col("mom_growth").desc_nulls_last, col("month"))
      .limit(1)
  }

  /** Average satisfaction by gender — D2/D10 (`api/main.py:1109-1121`). */
  def genderVsAvgSatisfaction(sales: DataFrame): DataFrame =
    sales.filter(col("satisfaction").isNotNull && col("gender").isNotNull)
      .groupBy(col("gender"))
      .agg(Num.davg(col("satisfaction")).as("avg_satisfaction"))
      .orderBy(col("avg_satisfaction").desc, col("gender"))

  /** Satisfaction change in a region, last quarter vs previous — C2 broadcast
    * bounds + B8 half-open ranges (`api/main.py:1123-1172`): quarter anchors
    * from MAX(date), one-pass conditional aggregation over the 1-row bounds
    * relation (broadcast — the reference's scalar CTE cross join).
    */
  def satisfactionChangeRegionLastQuarter(sales: DataFrame, region: String): DataFrame = {
    val bounds = sales.agg(max(col("date")).as("maxd"))
      .select(
        trunc(col("maxd"), "quarter").as("q_curr"),
        add_months(trunc(col("maxd"), "quarter"), -3).as("q_prev"))
    val inCurr = col("date") >= col("q_curr") && col("date") < add_months(col("q_curr"), 3)
    val inPrev = col("date") >= col("q_prev") && col("date") < col("q_curr")
    sales.crossJoin(broadcast(bounds))
      .filter(lower(col("region")) === region.toLowerCase)
      .agg(
        Num.davg(when(inPrev, col("satisfaction"))).as("avg_prev"),
        Num.davg(when(inCurr, col("satisfaction"))).as("avg_curr"))
      .select(
        initcap(lit(region.toLowerCase)).as("region"),
        col("avg_prev"), col("avg_curr"),
        (col("avg_curr") - col("avg_prev")).as("delta"))
  }

  /** Average satisfaction by region over the two most recent quarters —
    * F3/C3/D10 (`api/main.py:1174-1208`).
    */
  def avgSatisfactionByRegionTwoQuarters(sales: DataFrame): DataFrame = {
    val qtr = trunc(col("date"), "quarter")
    val top2 = sales.select(qtr.as("quarter_start")).distinct()
      .orderBy(col("quarter_start").desc).limit(2)
    sales
      .groupBy(qtr.as("quarter_start"), col("region"))
      .agg(Num.davg(col("satisfaction")).as("avg_sat"))
      .join(top2, Seq("quarter_start"), "left_semi")
      .orderBy(col("quarter_start").desc, col("region").asc)
  }

  /** K9 dispatcher — keyword-conjunction match, first hit wins
    * (`api/main.py:1271-1299`). Returns (template name, plan).
    */
  def maybeAnswer(q: String, sales: DataFrame): Option[(String, DataFrame)] = {
    val ql = q.toLowerCase
    val regions = Seq("north", "south", "east", "west")
    if (ql.contains("satisfaction") && ql.contains("last quarter")
        && regions.exists(ql.contains)) {
      val r = regions.find(ql.contains).get
      Some("satisfaction_change_region_last_quarter" ->
        satisfactionChangeRegionLastQuarter(sales, r))
    } else if ((ql.contains("region") || ql.contains("regions"))
        && (ql.contains("grow") || ql.contains("increas"))
        && (ql.contains("satisfaction") || ql.contains("csat"))) {
      Some("regions_growth_vs_csat" -> regionsGrowthVsCsat(sales))
    } else if ((ql.contains("top") || ql.contains("best")) && ql.contains("product")
        && (ql.contains("under 30") || ql.contains("< 30") || ql.contains("younger than 30"))) {
      Some("top_products_under_30" -> topProductsUnder30(sales))
    } else if (ql.contains("month") && (ql.contains("highest") || ql.contains("largest"))
        && (ql.contains("growth") || ql.contains("increase")) && ql.contains("sales")) {
      Some("month_highest_growth" -> monthHighestGrowth(sales))
    } else if (ql.contains("gender") && (ql.contains("satisfaction") || ql.contains("csat")
        || ql.contains("avg") || ql.contains("average"))) {
      Some("gender_vs_avg_satisfaction" -> genderVsAvgSatisfaction(sales))
    } else if ((ql.contains("two most recent quarter") || ql.contains("last two quarter"))
        && (ql.contains("avg") || ql.contains("average"))
        && ql.contains("satisfaction") && ql.contains("region")) {
      Some("avg_satisfaction_by_region_two_quarters" ->
        avgSatisfactionByRegionTwoQuarters(sales))
    } else None
  }
}
