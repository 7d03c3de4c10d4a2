package graft

import graft.forecast.Forecasters
import org.apache.spark.sql.DataFrame
import java.sql.Date

/** Property tests: the closed-form Spark plans must equal the reference's
  * sequential recurrences (`api/main.py:862-915`) on arbitrary series —
  * especially seasonal7, whose buffer recurrence we replaced with cyclic
  * tiling.
  */
class ForecastSpec extends SparkSpec {

  private def mkDaily(values: Seq[Double]): DataFrame = {
    import spark.implicits._
    values.zipWithIndex
      .map { case (v, i) => (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), v) }
      .toDF("d", "v")
  }

  private def planValues(df: DataFrame): Seq[Double] =
    df.orderBy("date").collect().map(_.getDouble(1)).toSeq

  private val rnd = new scala.util.Random(7)
  private def series(n: Int): Seq[Double] =
    Seq.fill(n)((rnd.nextInt(100000) / 100.0)) // 2-decimal values like sales

  test("seasonal7 closed form == reference buffer recurrence (h wraps weeks)") {
    for (n <- Seq(7, 10, 30); h <- Seq(1, 7, 8, 20)) {
      val vs = series(n)
      val got = planValues(Forecasters.seasonal7(mkDaily(vs), h))
      val want = Forecasters.referenceForecast(vs, h, "seasonal7", 7)
      assert(got === want, s"n=$n h=$h")
    }
  }

  test("drift closed form == reference (incl. window clamping)") {
    // w=1 → flat (slope 0); w>n clamps to the series length — both inside
    // the plan now, so raw w goes straight through
    for (n <- Seq(2, 10, 40); h <- Seq(1, 14); w <- Seq(1, 2, 10, 60)) {
      val vs = series(n)
      val got = planValues(Forecasters.drift(mkDaily(vs), h, w))
      val want = Forecasters.referenceForecast(vs, h, "drift", w)
      assert(got.length === h, s"n=$n h=$h w=$w")
      got.zip(want).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-9, s"n=$n h=$h w=$w: $g vs $e")
      }
    }
  }

  test("ses closed form == reference sequential recurrence (alpha = 1/2)") {
    import org.apache.spark.sql.functions.lit
    for (n <- Seq(1, 2, 10, 40); h <- Seq(1, 7)) {
      val vs = series(n)
      val daily = mkDaily(vs).withColumn("k", lit("A"))
      val got = Forecasters.sesByKey(daily, h).orderBy("date")
        .collect().map(_.getDouble(2)).toSeq
      val want = Forecasters.referenceForecast(vs, h, "ses", 0)
      assert(got.length === h, s"n=$n h=$h")
      got.zip(want).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-6, s"n=$n h=$h: $g vs $e")
      }
    }
  }

  test("ma7 flat forecast == reference mean of last window") {
    for (n <- Seq(1, 5, 20); w <- Seq(1, 7, 30)) {
      val vs = series(n)
      val wEff = math.min(w, n)
      val got = planValues(Forecasters.ma7Baseline(mkDaily(vs), 5, wEff))
      val want = Forecasters.referenceForecast(vs, 5, "ma7_baseline", w)
      assert(got.length === 5)
      got.zip(want).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-9, s"n=$n w=$w: $g vs $e")
      }
    }
  }

  test("horizon clamps to [1,365]; forecast dates continue from last date") {
    val vs = series(10)
    val df = Forecasters.ma7Baseline(mkDaily(vs), 500, 7)
    assert(df.count() === 365)
    val first = df.orderBy("date").head().getDate(0)
    assert(first.toLocalDate === java.time.LocalDate.of(2024, 1, 11))
  }

  test("per-key seasonal7: each key forecasts from its own series; short keys drop") {
    import spark.implicits._
    val a = series(10); val b = series(8); val seven = series(7)
    val six = series(6); val short = series(5)
    val mk = (k: String, vs: Seq[Double]) => vs.zipWithIndex.map { case (v, i) =>
      (k, Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i)), v)
    }
    val keyed = (mk("A", a) ++ mk("B", b) ++ mk("C", short) ++ mk("D", seven) ++
      mk("E", six)).toDF("k", "d", "v")
    val got = Forecasters.seasonal7ByKey(keyed, 9).collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getDate(1).getTime).map(_.getDouble(2)).toSeq).toMap
    assert(got.keySet === Set("A", "B", "D")) // C and E have <7 points
    assert(got("A") === Forecasters.referenceForecast(a, 9, "seasonal7", 7))
    assert(got("B") === Forecasters.referenceForecast(b, 9, "seasonal7", 7))
    assert(got("D") === Forecasters.referenceForecast(seven, 9, "seasonal7", 7))
  }

  test("per-key drift/ma7 == reference per key; window=1 flat; 1-point keys drop from drift only") {
    import spark.implicits._
    val a = series(10); val b = series(3); val single = series(1)
    val mk = (k: String, vs: Seq[Double]) => vs.zipWithIndex.map { case (v, i) =>
      (k, Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i)), v)
    }
    val keyed = (mk("A", a) ++ mk("B", b) ++ mk("S", single)).toDF("k", "d", "v")
    def byKey(df: DataFrame): Map[String, Seq[Double]] = df.collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getDate(1).getTime).map(_.getDouble(2)).toSeq).toMap
    for (w <- Seq(1, 5, 30)) {
      val got = byKey(Forecasters.driftByKey(keyed, 6, w))
      assert(got.keySet === Set("A", "B"), s"w=$w") // S has <2 points
      for ((k, vs) <- Seq("A" -> a, "B" -> b)) {
        val want = Forecasters.referenceForecast(vs, 6, "drift", w)
        got(k).zip(want).foreach { case (g, e) =>
          assert(math.abs(g - e) < 1e-9, s"k=$k w=$w: $g vs $e")
        }
      }
    }
    val gotMa = byKey(Forecasters.ma7ByKey(keyed, 4, 7))
    assert(gotMa.keySet === Set("A", "B", "S")) // ma7 needs only >=1 point
    for ((k, vs) <- Seq("A" -> a, "B" -> b, "S" -> single)) {
      val want = Forecasters.referenceForecast(vs, 4, "ma7_baseline", 7)
      gotMa(k).zip(want).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-9, s"k=$k: $g vs $e")
      }
    }
  }

  test("preconditions: seasonal7 needs >=7 points, drift >=2") {
    intercept[IllegalArgumentException] {
      Forecasters.requirePoints(mkDaily(series(6)), "seasonal7")
    }
    intercept[IllegalArgumentException] {
      Forecasters.requirePoints(mkDaily(series(1)), "drift")
    }
    Forecasters.requirePoints(mkDaily(series(7)), "seasonal7") // ok
  }
}
