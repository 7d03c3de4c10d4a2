package graft.intent

import graft.core.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Intent → plan compiler — ref K8 (`/root/reference/api/main.py:425-532`).
  * Where the reference synthesizes DuckDB SQL strings, this emits Catalyst
  * logical plans directly: the five template shapes (correlation,
  * last-2-quarters, QoQ delta, YoY-by-quarter, generic grain group-by)
  * become DataFrame transformations over the normalized sales schema.
  *
  * Determinism: money/satisfaction aggregates run through exact
  * DECIMAL(18,2) (Num.dsum/davg) so distributed partial aggregation is
  * bit-identical to a single-node oracle; orderings always carry a full
  * tiebreak.
  */
object IntentCompiler {

  /** K4 — metric → (column, exact aggregate) binding (`api/main.py:370-377`). */
  private def metricAgg(metric: String): Column => Column =
    if (metric == "satisfaction") Num.davg else Num.dsum

  private def metricCol(metric: String): Column =
    if (metric == "satisfaction") col("satisfaction") else col("sales")

  /** Compile a natural-language question into a DataFrame plan + reason.
    * `sales` must follow the SalesView 7-column contract.
    */
  def compile(q: String, sales: DataFrame,
      domains: Map[String, Seq[String]]): (DataFrame, String) = {
    val ql = q.toLowerCase
    val intent = IntentParser.parse(q, domains)
    val metric = if (intent.metric.isEmpty) "sales" else intent.metric
    val agg = metricAgg(metric)
    val m = metricCol(metric)
    val filtered = intent.filters.foldLeft(sales) { case (df, (d, v)) =>
      df.filter(col(d) === v)
    }
    val grain = if (intent.timegrain.isEmpty) "month" else intent.timegrain

    // Correlation (`api/main.py:444-448`)
    if (ql.contains("correlation") && ql.contains("satisfaction")
        && Seq("transaction", "value", "purchase", "sales").exists(ql.contains)) {
      val plan = sales.agg(
        round(corr(col("sales"), col("satisfaction")), 6).as("corr_coef"))
      return (plan, "correlation between transaction value and satisfaction")
    }

    // Two most recent quarters (`api/main.py:452-476`)
    if (intent.compare == (("quarter", "last2"))) {
      val qtr = trunc(col("date"), "quarter")
      val top2 = sales.select(qtr.as("period")).distinct()
        .orderBy(col("period").desc).limit(2)
      val aggd = filtered
        .groupBy((qtr.as("period") +: intent.dims.map(col)): _*)
        .agg(agg(m).as("value"))
        .join(top2, Seq("period"), "left_semi")
      val ordered = aggd.orderBy(
        (col("period").desc +: intent.dims.map(d => col(d).asc)): _*)
      return (ordered, "two most recent quarters")
    }

    // QoQ delta (`api/main.py:479-497`) — scalar subqueries as lag + top-1
    if (intent.compare._1 == "quarter"
        && Seq("last", "previous").contains(intent.compare._2)) {
      val base = filtered
        .groupBy(trunc(col("date"), "quarter").as("qtr"))
        .agg(agg(m).as("val"))
      val w = Window.orderBy("qtr")
      val plan = base
        .withColumn("prev", lag(col("val"), 1).over(w))
        .orderBy(col("qtr").desc).limit(1)
        .select(
          col("val").as("current_qtr_value"),
          col("prev").as("prev_qtr_value"),
          (col("val") - col("prev")).as("delta"))
      return (plan, "quarter-over-quarter delta (current vs previous)")
    }

    // YoY by quarter (`api/main.py:500-518`) — exact self-left-join form
    if (intent.compare == (("year", "yoy")) && ql.contains("quarter")) {
      val aggd = sales
        .groupBy(year(col("date")).as("year"), quarter(col("date")).as("quarter"))
        .agg(agg(m).as("total"))
      val b = aggd.select(
        col("year").as("b_year"), col("quarter").as("b_quarter"),
        col("total").as("b_total"))
      val plan = aggd.join(b,
          col("b_quarter") === col("quarter") && col("b_year") === col("year") - 1,
          "left")
        .select(col("year"), col("quarter"), col("total"),
          (col("total") - col("b_total")).as("yoy_delta"))
        .orderBy(col("year"), col("quarter"))
      return (plan, "year-over-year by quarter")
    }

    // Generic time-grain group-by (`api/main.py:521-532`)
    val plan = filtered
      .groupBy((trunc(col("date"), grain).as("period")
        +: intent.dims.map(col)): _*)
      .agg(agg(m).as("value"))
      .orderBy((col("period").asc +: intent.dims.map(d => col(d).asc)): _*)
    val reason = s"${if (metric == "satisfaction") "avg" else "sum"}($metric) by $grain" +
      (if (intent.dims.nonEmpty) s" over ${intent.dims.mkString(", ")}" else "")
    (plan, reason)
  }
}
