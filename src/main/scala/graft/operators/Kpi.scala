package graft.operators

import graft.core.{Num, Q, Tables}
import graft.intent.SalesView
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed KPI/dashboard query surface — SURVEY §2.L: the endpoints every
  * reference UI page loads (`/root/reference/api/main.py:645-767`).
  */
object Kpi {

  private val dsumSales = "CAST(SUM(CAST(sales AS DECIMAL(18,2))) AS DOUBLE)"
  private val davgSat =
    "CAST(SUM(CAST(satisfaction AS DECIMAL(18,2))) AS DOUBLE)/count(satisfaction)"

  /** The `/analytics/kpi` row over any frame with the sales view's columns:
    * total sales, avg satisfaction, top region, top product.
    *
    * One aggregation pass: exact (region, product) cells, gathered into one
    * partition (20 rows over the sales view), then per-region and per-product
    * window totals and one global aggregate over the cells. Over a
    * single-partition input that is one Spark job with no Exchange. The
    * cells' decimal sums re-add exactly, so every value equals the
    * row-level `Num.dsum`/`Num.davg`; the top-1s keep the
    * `orderBy(v desc, name)` tie-break on the double total (nulls last,
    * then the name, nulls first).
    */
  def kpi(sv: DataFrame): DataFrame = {
    val cells = sv.groupBy("region", "product")
      .agg(
        Num.dsumDec(col("sales")).as("s"),
        Num.dsumDec(col("satisfaction")).as("sat"),
        count(col("satisfaction")).as("sat_n"))
      .coalesce(1)
    def total(k: String): Column =
      sum(col("s")).over(Window.partitionBy(k)).cast("double")
    def top(k: String, v: String): Column =
      min_by(col(k), struct(col(v).isNull, -col(v), col(k)))
    cells.select(col("*"), total("region").as("rv"), total("product").as("pv"))
      .agg(
        sum(col("s")).cast("double").as("total_sales"),
        (sum(col("sat")).cast("double") / sum(col("sat_n"))).as("avg_satisfaction"),
        top("region", "rv").as("top_region"),
        top("product", "pv").as("top_product"))
  }

  /** L1 — `/analytics/kpi` (`api/main.py:665-688`): [[kpi]] over the
    * sales view read from parquet.
    */
  val q50Kpi = Q(
    "q50_kpi",
    (s, d) => kpi(SalesView(s, d)),
    Some(s"""
      WITH ${SalesView.sqlCte},
      tr AS (SELECT region FROM (
               SELECT region, $dsumSales AS v FROM sales_v GROUP BY region)
             ORDER BY v DESC, region LIMIT 1),
      tp AS (SELECT product FROM (
               SELECT product, $dsumSales AS v FROM sales_v GROUP BY product)
             ORDER BY v DESC, product LIMIT 1)
      SELECT $dsumSales AS total_sales,
             $davgSat AS avg_satisfaction,
             (SELECT region FROM tr) AS top_region,
             (SELECT product FROM tp) AS top_product
      FROM sales_v
    """),
  )

  /** The `/bi/region-trends` table (`api/main.py:743-767`) over any frame
    * with the sales view's columns: monthly SUM(sales) + AVG(satisfaction)
    * per region of an IN-list (B4+D10), as (month, region, sales,
    * satisfaction) ordered by month, region.
    */
  def regionTrends(sv: DataFrame, regions: Seq[String]): DataFrame =
    sv.filter(col("region").isin(regions: _*))
      .groupBy(
        trunc(col("date"), "month").as("month"),
        col("region"))
      .agg(
        Num.dsum(col("sales")).as("sales"),
        Num.davg(col("satisfaction")).as("satisfaction"))
      .orderBy(col("month"), col("region"))

  /** L4 — [[regionTrends]] for North and South over the sales view read
    * from parquet.
    */
  val q53RegionTrends = Q(
    "q53_region_trends",
    (s, d) =>
      regionTrends(SalesView(s, d), Seq("North", "South"))
        .toDF("month", "region", "total_sales", "avg_satisfaction"),
    Some(s"""
      WITH ${SalesView.sqlCte}
      SELECT CAST(date_trunc('month', date) AS DATE) AS month, region,
             $dsumSales AS total_sales,
             $davgSat AS avg_satisfaction
      FROM sales_v
      WHERE region IN ('North', 'South')
      GROUP BY 1, 2 ORDER BY month, region
    """),
  )

  /** L7 — `/data/inspect` row counts (`api/main.py:645-662`), generalized
    * to the warehouse: one row per table.
    */
  val q55TableStats = Q(
    "q55_table_stats",
    (s, d) =>
      Seq("orders", "lineitem", "customer", "part")
        .map(t => Tables(s, d, t).agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("table_name"), col("n_rows")))
        .reduce(_ union _),
    Some("""
      SELECT 'orders' AS table_name, count(*) AS n_rows FROM orders
      UNION ALL SELECT 'lineitem', count(*) FROM lineitem
      UNION ALL SELECT 'customer', count(*) FROM customer
      UNION ALL SELECT 'part', count(*) FROM part
    """),
  )

  val all: Seq[Q] = Seq(q50Kpi, q53RegionTrends, q55TableStats)
}
