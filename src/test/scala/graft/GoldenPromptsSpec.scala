package graft

import graft.api.AskAi
import graft.intent.SalesView

/** End-to-end golden corpus: every prompt from the reference UI's
  * acceptance list (`/root/reference/ui/prompts.txt:1-26`) driven through
  * the FULL pipeline — NL → route → template/intent plan → result — on the
  * deterministic sf0.001 sales view, with the stage, plan name, result
  * shape, and a row-level digest pinned. RouterSpec proves routing alone;
  * this proves the answer a user actually gets (SURVEY §5.2.3).
  *
  * The digest is md5 over the sorted Row.toString lines — any change to the
  * compiled plan's semantics on any prompt fails loudly. If a change is
  * INTENDED (e.g. a new template), re-pin via graft.tools.GoldenDump.
  */
class GoldenPromptsSpec extends SparkSpec {

  private lazy val sales = SalesView(spark, "/root/testdata/sf0.001")

  private def digest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(rows.map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  // (prompt, reason-prefix) — doc-routed prompts never reach the data engine
  private val docGolden: Seq[(String, String)] = Seq(
    ("What are some of the domains that are accepting of time series analysis and predictions?",
      "routed to docs: No strong"),
    ("Summarize the key ideas from the Walmart PDF",
      "routed to docs: Explicit doc"),
    ("How can AI be a core component of value creation in a business model?",
      "routed to docs: No strong"),
    ("What does business intelligence refer to and what are it's ultimate goals?",
      "routed to docs: No strong"),
  )

  test("all 22 data prompts: stage, plan, shape, and result digest are stable") {
    GoldenPromptsSpec.dataGolden.foreach { case (prompt, stage, name, nRows, dig, cols) =>
      AskAi.answerWithDiscovery(spark, prompt, sales) match {
        case Right(a) =>
          assert(a.stage === stage, s"stage drift for: $prompt")
          assert(a.name === name, s"plan drift for: $prompt")
          assert(a.table.columns.mkString(",") === cols, s"schema drift for: $prompt")
          val rows = a.table.collect()
          assert(rows.length === nRows, s"row-count drift for: $prompt")
          assert(digest(rows) === dig, s"result drift for: $prompt")
        case Left(r) => fail(s"unexpected docs route for: $prompt ($r)")
      }
    }
  }

  test("all 4 doc prompts stay off the data engine with the reference reason") {
    docGolden.foreach { case (prompt, prefix) =>
      AskAi.answerWithDiscovery(spark, prompt, sales) match {
        case Left(reason) => assert(reason.startsWith(prefix), s"$prompt → $reason")
        case Right(a)     => fail(s"unexpected data answer (${a.stage}) for: $prompt")
      }
    }
  }
}

object GoldenPromptsSpec {

  // (prompt, stage, name, rows, digest, columns); HttpFacadeSpec replays
  // the prompts through the facade
  val dataGolden: Seq[(String, String, String, Int, String, String)] = Seq(
    ("Which regions have growing sales but declining satisfaction?",
      "template", "regions_growth_vs_csat", 2, "ddc777bebb5f", "region,slope_sales,slope_sat,n"),
    ("What are the top two products for customers under 30?",
      "template", "top_products_under_30", 2, "25325b094b04", "product,total_sales"),
    ("How did satisfaction change in the North region last quarter?",
      "template", "satisfaction_change_region_last_quarter", 1, "ea7d7517e971", "region,avg_prev,avg_curr,delta"),
    ("What month showed the highest overall sales growth?",
      "template", "month_highest_growth", 1, "4986883be1e3", "month,m_sales,mom_growth"),
    ("Are there any correlations between gender and average satisfaction?",
      "template", "gender_vs_avg_satisfaction", 2, "487df0f80143", "gender,avg_satisfaction"),
    ("How does customer satisfaction compare between each region based on age?",
      "intent", "avg(satisfaction) by month over region, age", 1281, "768942038ef3", "period,region,age,value"),
    ("What positive trends are evident in each of the regions?",
      "intent", "sum(sales) by month over region", 316, "aa281a9e6d3d", "period,region,value"),
    ("What are the monthly sales trends for each product over the entire time period? Identify any seasonal patterns or anomalies.",
      "intent", "sum(sales) by month over product", 386, "9b24895c855d", "period,product,value"),
    ("Which product-region combinations generate the highest revenue, and are there any underperforming combinations that need attention?",
      "intent", "sum(sales) by month over region, product", 970, "9cff75267673", "period,region,product,value"),
    ("Compare year-over-year sales performance by quarter. Which periods showed the strongest growth or decline?",
      "intent", "year-over-year by quarter", 27, "319144cbcb3c", "year,quarter,total,yoy_delta"),
    ("Analyze customer satisfaction scores across different age groups. Are there specific age segments that are consistently more or less satisfied?",
      "intent", "avg(satisfaction) by month over age", 1281, "db32456a1cb8", "period,age,value"),
    ("What is the relationship between customer age and average purchase size? Are certain age demographics more valuable?",
      "intent", "sum(sales) by month over age", 1281, "cfc49565e700", "period,age,value"),
    ("Compare purchasing patterns and satisfaction levels between male and female customers across different products and regions.",
      "intent", "avg(satisfaction) by month over region, product, gender", 598, "6daaf205a936", "period,region,product,gender,value"),
    ("Rank all products by total revenue, average transaction size, and customer satisfaction. Which products are the best overall performers?",
      "intent", "avg(satisfaction) by month over product, age", 1454, "1aeb323c1a54", "period,product,age,value"),
    ("Identify products with high sales volume but low customer satisfaction scores. What might explain this discrepancy?",
      "intent", "avg(satisfaction) by month over product", 386, "3eda5bde1d14", "period,product,value"),
    ("Which regions consistently outperform others in sales, and what factors might contribute to this success?",
      "intent", "sum(sales) by month over region", 316, "aa281a9e6d3d", "period,region,value"),
    ("Are there regional differences in customer demographics or satisfaction levels that could inform targeted marketing strategies?",
      "intent", "avg(satisfaction) by month over region", 316, "907a543a5ca4", "period,region,value"),
    ("What is the correlation between transaction value and customer satisfaction? Do higher-value purchases lead to better satisfaction?",
      "intent", "correlation between transaction value and satisfaction", 1, "edcf40ad3ccd", "corr_coef"),
    ("Identify the characteristics of transactions with satisfaction scores below 2.0. What patterns emerge regarding product, region, or customer demographics?",
      "intent", "avg(satisfaction) by month over region, product", 970, "44c695d2c97f", "period,region,product,value"),
    ("Which customer segments (by age, gender, and region) represent the greatest untapped opportunity for revenue growth?",
      "intent", "sum(sales) by month over region, gender, age", 1379, "3c41efafaaf3", "period,region,gender,age,value"),
    ("Analyze the bottom 10% of sales transactions. What common factors contribute to these low-performing sales?",
      "intent", "sum(sales) by month", 80, "a37f19e30526", "period,value"),
    ("Based on historical patterns, what are the projected sales for the next quarter by product and region, and where should we allocate additional resources?",
      "intent", "sum(sales) by quarter over region, product", 509, "06a79f6e9a21", "period,region,product,value"),
  )
}
