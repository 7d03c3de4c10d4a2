package graft

import graft.core.FixtureDirs
import graft.operators.{Quantiles, TextCuration}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exactness and plan-shape proofs for the bracketed order-statistics
  * kernel (q121, q122, q128, q156, q163): decile cuts, lower medians and
  * interpolated p01/p99 must equal a brute-force sorted oracle
  * bit-for-bit, including under heavy ties, and the plan must never
  * contain an exact Percentile aggregate or a raw-column sort.
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

  /** Brute-force lower median: value at rank (n+1) DIV 2. */
  private def bruteMedian(vs: Seq[Double]): Double =
    vs.sorted.apply(((vs.size + 1) / 2) - 1)

  /** Brute-force quantile_cont p01/p99 in exact decimal over the values
    * cast to DECIMAL(18,2) (Spark's cast: HALF_UP from the shortest
    * decimal string), interpolated at position p·(n−1).
    */
  private def bruteWinsor(vs: Seq[Double]): Seq[Double] = {
    val sorted = vs.sorted.map(BigDecimal(_).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    Seq("0.01", "0.99").map { p =>
      val pos = BigDecimal(sorted.size - 1) * BigDecimal(p)
      val k = pos.toBigInt.toInt // pos >= 0, floor == truncate
      val a = sorted(k)
      val b = sorted(math.min(k + 1, sorted.size - 1))
      (a + (pos - k) * (b - a)).toDouble
    }
  }

  /** Deciles, lower median and interpolated p01/p99 through the kernel:
    * one sketch with the p01, decile and p99 bands in value order, one
    * cells pass, and every statistic read by [[Quantiles.valuesAtRanks]].
    */
  private def engineStats(vs: Seq[Double],
      smallN: Long): (Seq[Double], Double, Seq[Double]) = {
    val df = mkVals(vs)
    val probes = TextCuration.WinsorProbes.take(2) ++ Quantiles.DecileProbes ++
      TextCuration.WinsorProbes.slice(2, 4)
    val br = Quantiles.brackets(df, col("x"), Nil, probes, smallN)
    assert(br(Nil).small === (smallN > vs.size), "expected code path")
    val cells = Quantiles.cells(df, col("x"), Nil, Nil,
      br.view.mapValues(_.bands(probes.size / 2)).toMap, Nil)
    val median = br.view.mapValues(b => (b.n + 1) / 2).toMap
    val at = Quantiles.scalars(Quantiles.valuesAtRanks(
      cells, Nil, Quantiles.decileRanks(br) :+ median), Nil)(Nil).map(_.get)
    val w = TextCuration.winsorBounds(cells, Nil, br).collect()(0)
    (at.take(9), at(9), Seq(w.getDouble(0), w.getDouble(1)))
  }

  /** Every statistic of `vs` equals the brute-force oracle on the given path. */
  private def assertExact(vs: Seq[Double], smallN: Long): Unit = {
    val (cuts, med, winsor) = engineStats(vs, smallN)
    assert(cuts === bruteCuts(vs), s"deciles, smallN=$smallN")
    assert(med === bruteMedian(vs), s"median, smallN=$smallN")
    assert(winsor === bruteWinsor(vs), s"p01/p99, smallN=$smallN")
  }

  test("decile cuts match the brute-force sorted oracle (2-decimal values)") {
    // deterministic pseudo-random 2-decimal values with duplicates
    val vs = (1 to 4987).map(i => ((i * 7919 % 3001) / 100.0) + 1.0)
    // with the lower median and interpolated p01/p99 off the same rank
    // window (the forced bracket path is the next test)
    assertExact(vs, smallN = 100000L)
  }

  test("decile cuts stay exact through the BRACKET path (smallN forced off)") {
    // n large enough that the coverage guarantee W·n − n/Acc ≥ 2 holds
    // (W=5e-4, Acc=1e4 → 15 − 3 ranks at n≈30k), bracket path forced
    val vs = (1 to 30011).map(i => ((i * 104729 % 9973) / 100.0) + 1.0)
    assertExact(vs, smallN = 1L)
    // NULLs ranked last through the nullsLast sketch: a cut whose rank
    // lies past the non-null values reads NULL, the others stay exact
    import spark.implicits._
    val nulls = 12000
    val nv = (vs.map(Option(_)) ++ Seq.fill(nulls)(Option.empty[Double]))
      .toDF("x").repartition(4)
    val br = Quantiles.brackets(nv, Quantiles.nullsLast(col("x")), Nil,
      Quantiles.DecileProbes, smallN = 1L)
    val cells = Quantiles.cells(nv, col("x"), Nil, Nil,
      br.view.mapValues(_.bands(9)).toMap, Nil)
    val got = Quantiles.scalars(
      Quantiles.valuesAtRanks(cells, Nil, Quantiles.decileRanks(br)), Nil)(Nil)
    val sorted = vs.sorted
    val n = (vs.size + nulls).toLong
    assert(got === (1 to 9).map(k => ((n * k + 9) / 10).toInt)
      .map(r => if (r <= vs.size) Some(sorted(r - 1)) else None))
  }

  test("decile cuts stay exact under heavy ties spanning several deciles") {
    // one value occupies p20..p70 — brackets collide on the tied value
    val vs = Seq.fill(200)(1.0) ++ Seq.fill(500)(5.0) ++
      (1 to 300).map(i => 10.0 + i / 100.0)
    assertExact(vs, smallN = 100000L)
    // the same shape ×30, large enough for the bracket coverage guarantee
    val wide = Seq.fill(6000)(1.0) ++ Seq.fill(15000)(5.0) ++
      (1 to 9000).map(i => 10.0 + i / 100.0)
    assertExact(wide, smallN = 1L)
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
    val v = col("l_extendedprice")
    // the sketch pass is its own collected frame: the mergeable sketch
    // lives there, and the cells pass carries its brackets as literals
    val sketch = Quantiles.sketch(li, Quantiles.nullsLast(v), Nil, Quantiles.DecileProbes)
    sketch.collect()
    val sketchPlan = sketch.queryExecution.executedPlan.toString
    assert(sketchPlan.contains("approx_percentile"), sketchPlan.take(600))
    assert(!sketchPlan.replace("approx_percentile", "").contains("percentile("),
      s"exact percentile aggregate found:\n${sketchPlan.take(1200)}")
    val br = Quantiles.brackets(li, Quantiles.nullsLast(v), Nil, Quantiles.DecileProbes)
    val cells = Quantiles.cells(li, v, Nil, Nil, br.view.mapValues(_.bands(9)).toMap, Nil)
    cells.collect()
    val cellsPlan = cells.queryExecution.executedPlan.toString
    assert(!cellsPlan.contains("percentile"),
      s"percentile aggregate in the cells pass:\n${cellsPlan.take(1200)}")
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
    * statistics read: `n` rows spread over three return flags, row i
    * with flag "ANR"(i % 3) and price `price(i)`.
    */
  private def fixture(name: String, n: Int, price: Int => Option[Double]): String = {
    import spark.implicits._
    val dir = FixtureDirs.perApp("target/quantiles-fixtures",
      spark.sparkContext.applicationId) + s"/$name"
    (0 until n).map(i => ("ANR".substring(i % 3, i % 3 + 1), price(i)))
      .toDF("l_returnflag", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  private val orderStats =
    Seq(Quantiles.q128QuantileBins, Quantiles.q156MadOutliers, Quantiles.q163GroupMadOutliers,
      TextCuration.q121Winsorize, TextCuration.q122GroupWinsorBounds)

  private def perFlag(q: graft.core.Q, dir: String): Seq[Row] =
    q.plan(spark, dir).collect().sortBy(_.getString(0)).toSeq

  test("order statistics over an empty lineitem return no rows, as DuckDB does") {
    val dir = fixture("empty", 0, _ => Some(1.0))
    for (q <- orderStats)
      assert(q.plan(spark, dir).collect().isEmpty, q.name)
  }

  test("order statistics over an all-null measure keep the counts and return NULL statistics") {
    val dir = fixture("all-null", 3000, _ => None)
    // DuckDB 1.0 on the same file: one bin holding every row, NULL sums
    assert(Quantiles.q128QuantileBins.plan(spark, dir).collect().toSeq ===
      Seq(Row(1, 3000L, null, null, null)))
    // per flag: every row counted, no outliers, NULL median and MAD
    val flags = Seq("A", "N", "R")
    for (q <- Seq(Quantiles.q156MadOutliers, Quantiles.q163GroupMadOutliers))
      assert(perFlag(q, dir) === flags.map(f => Row(f, 1000L, 0L, null, null)), q.name)
    // nothing clipped, NULL clipped sum; NULL bounds with TRUE flags
    assert(perFlag(TextCuration.q121Winsorize, dir) ===
      flags.map(f => Row(f, 1000L, 0L, null)))
    assert(perFlag(TextCuration.q122GroupWinsorBounds, dir) ===
      flags.map(f => Row(f, 1000L, null, null, true, true)))
  }

  test("order statistics over a partly-null measure rank NULLs as DuckDB does") {
    // flag N is all-NULL, A and R NULL-free: the global statistics rank
    // NULLs last inside count(*) positions (q121, q128, q156), the
    // per-group ones see one all-NULL group (q122, q163)
    val dir = fixture("part-null", 3000, i =>
      if (i % 3 == 1) None else Some((i * 7919 % 3001) / 100.0 + 1.0))
    // DuckDB 1.0 on the same file; for flag N its least/greatest skip
    // NULL, so each NULL value contributes lo = 1.47 to the clipped sum
    assert(perFlag(TextCuration.q121Winsorize, dir) === Seq(
      Row("A", 1000L, 13L, 16111.1), Row("N", 1000L, 0L, 1470.0),
      Row("R", 1000L, 17L, 16009.02)))
    assert(perFlag(TextCuration.q122GroupWinsorBounds, dir) === Seq(
      Row("A", 1000L, 1.3793, 30.7302, true, true),
      Row("N", 1000L, null, null, true, true),
      Row("R", 1000L, 1.2995, 30.7105, true, true)))
    // 1000 NULLs fall in bin 1; cuts past the non-null values are NULL
    assert(Quantiles.q128QuantileBins.plan(spark, dir).collect().sortBy(_.getInt(0)).toSeq === Seq(
      Row(1, 1300L, 984.79, 1.0, 5.54), Row(2, 300L, 2336.04, 5.55, 10.06),
      Row(3, 300L, 3691.54, 10.08, 14.57), Row(4, 300L, 5046.79, 14.59, 19.06),
      Row(5, 300L, 6399.41, 19.08, 23.53), Row(6, 300L, 7744.89, 23.55, 28.05),
      Row(7, 200L, 5909.35, 28.06, 31.0)))
    assert(perFlag(Quantiles.q156MadOutliers, dir) ===
      Seq("A", "N", "R").map(f => Row(f, 1000L, 0L, 23.53, 15.020000000000001)))
    assert(perFlag(Quantiles.q163GroupMadOutliers, dir) === Seq(
      Row("A", 1000L, 0L, 16.04, 7.490000000000002), Row("N", 1000L, 0L, null, null),
      Row("R", 1000L, 0L, 15.98, 7.530000000000001)))
  }
}
