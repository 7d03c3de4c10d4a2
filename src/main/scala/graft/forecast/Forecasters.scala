package graft.forecast

import graft.core.Num
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series forecasters — ref I1–I3/I6
  * (`/root/reference/api/main.py:862-915`): ma7_baseline (flat mean of the
  * last `window` values), drift (linear extrapolation from the last
  * `window` values), seasonal7 (recursive repeat of the value 7 days back).
  *
  * The reference materializes the series into a Python list and loops; here
  * each model is ONE CLOSED-FORM keyed DataFrame plan over (k, d, v):
  * anchors (last date, last-k values, slope) come from rank windows
  * partitioned by key, forecast rows from `sequence`+`explode` date
  * generation — fully distributed, no driver-side recurrence. A single
  * series is the one key of the same plan. seasonal7's buffer recurrence
  * collapses to f(i) = v[len-7 + ((i-1) mod 7)] (the buffer only ever
  * reads values ≥7 back, so appended forecasts tile the last 7 history
  * values cyclically); ForecastSpec proves plan ≡ reference recurrence
  * property-style.
  *
  * Input contract: `daily` = (d DATE, v DOUBLE) with one row per date (per
  * key), values 2-decimal exact (from Num.dsum) so re-aggregation stays
  * engine-exact. Horizon clamps to [1,365], window to [1,len]
  * (`api/main.py:877-878`). Below a model's minimum history (seasonal7 7
  * points, drift 2, ma7 1) a series gets no rows; a caller that needs the
  * reference's 400 error calls [[requirePoints]] first.
  */
object Forecasters {

  private def clampH(h: Int): Int = math.max(1, math.min(h, 365))

  /** The `(d, v)` daily series of a sales-shaped frame: one row per date,
    * v = the date's exact `Num.dsum` of sales. The input every
    * single-series forecaster takes.
    */
  def dailySeries(sales: DataFrame): DataFrame =
    sales.groupBy(col("date").as("d")).agg(Num.dsum(col("sales")).as("v"))

  /** A single series forecast as the one key of a keyed forecaster. */
  private def single(daily: DataFrame)(keyed: DataFrame => DataFrame): DataFrame =
    keyed(daily.withColumn("k", lit(0))).drop("k")

  /** I1 — ma7_baseline: flat forecast = mean of last `window` values
    * (`api/main.py:907-914`); [[ma7ByKey]] over one key.
    */
  def ma7Baseline(daily: DataFrame, h0: Int, window0: Int): DataFrame =
    single(daily)(ma7ByKey(_, h0, window0))

  /** I3 — drift: linear extrapolation from the last `window` values
    * (`api/main.py:893-905`); [[driftByKey]] over one key. Fewer than 2
    * points give no rows.
    */
  def drift(daily: DataFrame, h0: Int, window0: Int): DataFrame =
    single(daily)(driftByKey(_, h0, window0))

  /** I2 — seasonal7: the value 7 days back, repeated
    * (`api/main.py:883-891`); [[seasonal7ByKey]] over one key. Fewer than
    * 7 points give no rows.
    */
  def seasonal7(daily: DataFrame, h0: Int): DataFrame =
    single(daily)(seasonal7ByKey(_, h0))

  /** Per-key seasonal7 — the scale path (SURVEY §2.N): forecasts for every
    * key of a keyed daily series in ONE plan, no driver loop, no per-key
    * job. Closed form f(i) = value at rank 7 − ((i−1) mod 7) from the end:
    * one aggregate per key gathers the last 7 values by rank, and each
    * forecast day reads its element.
    * Input: (k, d DATE, v DOUBLE); keys with <7 points produce no rows
    * (the reference's precondition).
    */
  def seasonal7ByKey(daily: DataFrame, h0: Int): DataFrame = {
    val h = clampH(h0)
    daily
      .withColumn("r",
        row_number().over(Window.partitionBy("k").orderBy(col("d").desc)))
      .filter(col("r") <= 7)
      .groupBy("k")
      .agg(
        max(col("d")).as("last_date"),
        count(lit(1)).as("n"), // min(n_k, 7)
        array((1 to 7).map(j => max(when(col("r") === j, col("v")))): _*).as("vs"))
      .filter(col("n") === 7)
      .select(col("k"), col("last_date"), col("vs"),
        explode(sequence(lit(1), lit(h))).as("i"))
      .select(col("k"),
        date_add(col("last_date"), col("i")).as("date"),
        element_at(col("vs"), lit(7) - (col("i") - 1) % 7).as("sales_hat"))
  }

  /** Per-key ma7_baseline: every key's flat mean-of-last-`window`
    * forecast in ONE plan (rank window partitioned by key, one shuffle).
    * The mean runs through exact decimal so the oracle derives the
    * identical double.
    * Per-key window clamps naturally: `r <= window` takes min(window, n_k)
    * rows. last_date rides along as the r=1 date — no second aggregate.
    */
  def ma7ByKey(daily: DataFrame, h0: Int, window0: Int): DataFrame = {
    val window = math.max(1, window0) // reference clamp `api/main.py:877-878`
    val h = clampH(h0)
    val rk = daily.withColumn("r",
      row_number().over(Window.partitionBy("k").orderBy(col("d").desc)))
    rk.filter(col("r") <= window)
      .groupBy("k")
      .agg(
        max(when(col("r") === 1, col("d"))).as("last_date"),
        (Num.dsum(col("v")) / count(lit(1))).as("base"))
      .select(col("k"), col("last_date"), col("base"),
        explode(sequence(lit(1), lit(h))).as("i"))
      .select(col("k"),
        date_add(col("last_date"), col("i")).as("date"),
        col("base").as("sales_hat"))
  }

  /** Per-key drift: every key's linear extrapolation in ONE plan. The
    * reference clamps the window to the series length
    * (`api/main.py:877-878`): per key, w_eff = min(window, n_k), slope = (y_T − y_{T−w_eff+1})/T with
    * T = w_eff−1 if w_eff>1 else 1 (`api/main.py:899`) — so window=1 on a
    * key with history yields a flat forecast (slope 0), not a dropped key.
    * Keys with <2 points produce no rows (the reference's precondition).
    */
  def driftByKey(daily: DataFrame, h0: Int, window0: Int): DataFrame = {
    val window = math.max(1, window0) // reference clamp `api/main.py:877-878`
    val h = clampH(h0)
    val kw = Window.partitionBy("k")
    val rk = daily
      .withColumn("r", row_number().over(kw.orderBy(col("d").desc)))
      .withColumn("nk", count(lit(1)).over(kw))
      .withColumn("weff", least(lit(window), col("nk")))
    val anchors = rk
      .filter(col("nk") >= 2)
      .filter(col("r") === 1 || col("r") === col("weff"))
      .groupBy("k")
      .agg(
        max(when(col("r") === 1, col("v"))).as("yT"),
        max(when(col("r") === 1, col("d"))).as("last_date"),
        max(when(col("r") === col("weff"), col("v"))).as("y0"),
        max(col("weff")).as("weff"))
      .select(col("k"), col("last_date"), col("yT"),
        ((col("yT") - col("y0")) / greatest(col("weff") - 1, lit(1))).as("slope"))
    anchors
      .select(col("k"), col("last_date"), col("yT"), col("slope"),
        explode(sequence(lit(1), lit(h))).as("i"))
      .select(col("k"),
        date_add(col("last_date"), col("i")).as("date"),
        (col("yT") + col("slope") * col("i")).as("sales_hat"))
  }

  /** Per-key simple exponential smoothing (SES), α = 1/2 — the next
    * forecaster up from ma7's flat mean: the level weights recent days
    * geometrically. The recurrence s_t = α·y_t + (1−α)·s_{t−1} (s_1 = y_1)
    * is sequential, but its CLOSED FORM is a finite weighted sum —
    * s_T = Σ_{r=1..n−1} α(1−α)^{r−1}·y_{(r)} + (1−α)^{n−1}·y_{(n)} over
    * recency ranks r — so the whole forecast is one rank window plus one
    * map-side-combinable weighted aggregate per key: no sequential scan,
    * no per-key loop, every key in one plan. α = 1/2 on purpose: every
    * weight is a power of two, so weight·y is EXACT IEEE scaling and
    * cross-engine parity needs no libm-pow caveats (the q127/q132
    * float-parity discipline); only the final sum is rounded. SES's h-step
    * forecast is flat at the level, the standard result.
    */
  def sesByKey(daily: DataFrame, h0: Int): DataFrame = {
    val h = clampH(h0)
    val kw = Window.partitionBy("k")
    val rk = daily
      .withColumn("r", row_number().over(kw.orderBy(col("d").desc)))
      .withColumn("nk", count(lit(1)).over(kw))
    val w = when(col("r") < col("nk"), pow(lit(0.5), col("r")))
      .otherwise(pow(lit(0.5), col("nk") - 1))
    rk.groupBy("k")
      .agg(
        max(when(col("r") === 1, col("d"))).as("last_date"),
        round(sum(w * col("v")), 6).as("level"))
      .select(col("k"), col("last_date"), col("level"),
        explode(sequence(lit(1), lit(h))).as("i"))
      .select(col("k"),
        date_add(col("last_date"), col("i")).as("date"),
        col("level").as("sales_hat"))
  }

  /** Reference precondition: seasonal7 needs ≥7 history points, drift ≥2
    * (`api/main.py:884-895`).
    */
  def requirePoints(daily: DataFrame, algo: String): Unit = {
    val n = daily.count()
    algo match {
      case "seasonal7" =>
        require(n >= 7, s"Need >= 7 history points for seasonal7, have $n")
      case "drift" =>
        require(n >= 2, s"Need >= 2 history points for drift, have $n")
      case _ => ()
    }
  }

  /** Driver-side mirror of the reference recurrences
    * (`api/main.py:862-915`) — the property-test oracle, NOT the engine
    * path.
    */
  def referenceForecast(
      values: Seq[Double], h0: Int, algo: String, window0: Int): Seq[Double] = {
    val h = math.max(1, math.min(h0, 365))
    val window = math.max(1, math.min(window0, values.length))
    algo match {
      case "seasonal7" =>
        require(values.length >= 7)
        val buf = scala.collection.mutable.ArrayBuffer(values: _*)
        (1 to h).map { _ =>
          val v = buf(buf.length - 7); buf += v; v
        }.toSeq
      case "drift" =>
        require(values.length >= 2)
        val w = math.min(window, values.length)
        val y0 = values(values.length - w)
        val yT = values.last
        val t = if (w > 1) w - 1 else 1
        val slope = (yT - y0) / t
        (1 to h).map(i => yT + slope * i)
      case "ses" =>
        // the actual sequential recurrence sesByKey's closed form replaces.
        // Round HALF_UP like the engine's `round(_, 6)` (and DuckDB's
        // round) — math.rint is HALF_EVEN and diverges on exact dyadic
        // ties (e.g. level = 2^-7: .0078125 → .007813 vs rint's .007812)
        val level = values.tail.foldLeft(values.head)((s, y) => 0.5 * y + 0.5 * s)
        val r6 = java.math.BigDecimal.valueOf(level)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        Seq.fill(h)(r6)
      case _ =>
        val w = math.min(window, values.length)
        val base = values.takeRight(w).sum / w
        Seq.fill(h)(base)
    }
  }
}
