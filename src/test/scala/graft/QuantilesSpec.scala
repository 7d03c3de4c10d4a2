package graft

import graft.core.FixtureDirs
import graft.operators.Quantiles
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exactness and plan-shape proofs for the generalized bracket-refine
  * order statistics (q128): the cuts must equal a brute-force sorted
  * oracle bit-for-bit, including under heavy ties, and the plan must
  * never contain an exact Percentile aggregate or a raw-column sort.
  */
class QuantilesSpec extends SparkSpec {

  private def mkVals(vs: Seq[Double]): DataFrame = {
    import spark.implicits._
    vs.toDF("x").repartition(4) // scatter so cells genuinely merge
  }

  /** Brute-force type-1 lower decile cuts: value at rank ⌈k·n/10⌉. */
  private def bruteCuts(vs: Seq[Double]): Seq[Double] = {
    val sorted = vs.sorted
    (1 to 9).map(k => sorted(((sorted.size.toLong * k + 9) / 10).toInt - 1))
  }

  private def engineCuts(vs: Seq[Double], smallN: Long = 100000L): Seq[Double] = {
    val cells = Quantiles.decileCells(mkVals(vs), "x", smallN)
    val r = Quantiles.decileCuts(cells).collect()(0)
    (0 until 9).map(i => r.getDouble(i))
  }

  test("decile cuts match the brute-force sorted oracle (2-decimal values)") {
    // deterministic pseudo-random 2-decimal values with duplicates
    val vs = (1 to 4987).map(i => ((i * 7919 % 3001) / 100.0) + 1.0)
    assert(engineCuts(vs) === bruteCuts(vs))
  }

  test("decile cuts stay exact through the BRACKET path (smallN forced off)") {
    // n large enough that the coverage guarantee W·n − n/Acc ≥ 2 holds
    // (W=5e-4, Acc=1e4 → 15 − 3 ranks at n≈30k), bracket path forced
    val vs = (1 to 30011).map(i => ((i * 104729 % 9973) / 100.0) + 1.0)
    assert(engineCuts(vs, smallN = 1L) === bruteCuts(vs))
  }

  test("decile cuts stay exact under heavy ties spanning several deciles") {
    // one value occupies p20..p70 — brackets collide on the tied value
    val vs = Seq.fill(200)(1.0) ++ Seq.fill(500)(5.0) ++
      (1 to 300).map(i => 10.0 + i / 100.0)
    assert(engineCuts(vs) === bruteCuts(vs))
  }

  test("q128 bins are equal-frequency and cover all rows") {
    val dir = "/root/testdata/sf0.001"
    val rows = Quantiles.q128QuantileBins.plan(spark, dir).collect()
    val total = graft.core.Tables.lineitem(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n")).sum === total)
    assert(rows.length === 10)
    // ±ties, each bin holds about n/10
    val target = total / 10.0
    rows.foreach(r =>
      assert(math.abs(r.getAs[Long]("n") - target) <= target * 0.15,
        s"bin ${r.getAs[Int]("bin")} size ${r.getAs[Long]("n")} vs $target"))
  }

  test("q128 plan: sketch-bracketed, no exact Percentile, no raw-column sort") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.core.Tables.lineitem(spark, dir)
    val cells = Quantiles.decileCells(li, "l_extendedprice")
    cells.collect()
    val cellsPlan = cells.queryExecution.executedPlan.toString
    assert(cellsPlan.contains("approx_percentile"), cellsPlan.take(600))
    assert(!cellsPlan.replace("approx_percentile", "").contains("percentile("),
      s"exact percentile aggregate found:\n${cellsPlan.take(1200)}")
    // the only window/sort runs over the cells, never the scan: the full
    // query is cells (checkpointed) -> cuts -> re-aggregation, so its
    // executed plan must not re-scan parquet for a sort
    val df = Quantiles.q128QuantileBins.plan(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(!full.replace("approx_percentile", "").contains("percentile("))
  }

  // ---- degenerate inputs: the DuckDB answer, never an NPE ----------------

  /** A lineitem fixture directory with the two columns the order
    * statistics read: `n` rows spread over three return flags.
    */
  private def fixture(name: String, n: Int, price: Column): String = {
    import spark.implicits._
    val dir = FixtureDirs.perApp("target/quantiles-fixtures",
      spark.sparkContext.applicationId) + s"/$name"
    (0 until n).map(i => "ANR".substring(i % 3, i % 3 + 1)).toDF("l_returnflag")
      .withColumn("l_extendedprice", price)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  private val orderStats =
    Seq(Quantiles.q128QuantileBins, Quantiles.q156MadOutliers, Quantiles.q163GroupMadOutliers)

  test("order statistics over an empty lineitem return no rows, as DuckDB does") {
    val dir = fixture("empty", 0, lit(1.0))
    for (q <- orderStats)
      assert(q.plan(spark, dir).collect().isEmpty, q.name)
  }

  test("order statistics over an all-null measure keep the counts and return NULL statistics") {
    val dir = fixture("all-null", 3000, lit(null).cast("double"))
    // DuckDB 1.0 on the same file: one bin holding every row, NULL sums
    assert(Quantiles.q128QuantileBins.plan(spark, dir).collect().toSeq ===
      Seq(Row(1, 3000L, null, null, null)))
    // per flag: every row counted, no outliers, NULL median and MAD
    val flags = Seq("A", "N", "R").map(f => Row(f, 1000L, 0L, null, null))
    for (q <- orderStats.tail)
      assert(q.plan(spark, dir).collect().sortBy(_.getString(0)).toSeq === flags, q.name)
  }
}
