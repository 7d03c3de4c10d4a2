package graft.operators

import graft.core.{Num, Q, Tables}
import graft.intent.SalesView
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed KPI/dashboard query surface — SURVEY §2.L: the endpoints every
  * reference UI page loads (`/root/reference/api/main.py:645-767`).
  */
object Kpi {

  private val dsumSales = "CAST(SUM(CAST(sales AS DECIMAL(18,2))) AS DOUBLE)"
  private val davgSat =
    "CAST(SUM(CAST(satisfaction AS DECIMAL(18,2))) AS DOUBLE)/count(satisfaction)"

  /** The `/analytics/kpi` row over any frame with the sales view's columns:
    * total sales, avg satisfaction, top region, top product. The top-1
    * lookups are broadcast 1-row joins, not collected scalars.
    */
  def kpi(sv: DataFrame): DataFrame = {
    val totals = sv.agg(
      Num.dsum(col("sales")).as("total_sales"),
      Num.davg(col("satisfaction")).as("avg_satisfaction"))
    val topRegion = sv.groupBy("region")
      .agg(Num.dsum(col("sales")).as("v"))
      .orderBy(col("v").desc, col("region")).limit(1)
      .select(col("region").as("top_region"))
    val topProduct = sv.groupBy("product")
      .agg(Num.dsum(col("sales")).as("v"))
      .orderBy(col("v").desc, col("product")).limit(1)
      .select(col("product").as("top_product"))
    totals.crossJoin(broadcast(topRegion)).crossJoin(broadcast(topProduct))
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

  /** L4 — `/bi/region-trends` (`api/main.py:743-767`): monthly SUM(sales) +
    * AVG(satisfaction) for an IN-list of regions (B4+D10).
    */
  val q53RegionTrends = Q(
    "q53_region_trends",
    (s, d) =>
      SalesView(s, d)
        .filter(col("region").isin("North", "South"))
        .groupBy(
          date_trunc("month", col("date")).cast("date").as("month"),
          col("region"))
        .agg(
          Num.dsum(col("sales")).as("total_sales"),
          Num.davg(col("satisfaction")).as("avg_satisfaction"))
        .orderBy(col("month"), col("region")),
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
