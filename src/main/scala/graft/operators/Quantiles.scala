package graft.operators

import graft.core.{Num, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed order statistics at an ARBITRARY probe set — the
  * generalization of q121/q122's two-probe winsor bracket to K
  * simultaneous cut points, applied here as equal-frequency decile
  * binning (the feature-bucketization / histogram-equalization step of a
  * training pipeline; the reference's only quantile surface is DuckDB's
  * built-in `quantile_cont`, api/main.py's percentile endpoints).
  *
  * Why not `ntile(10) OVER (ORDER BY v)`: a global-ORDER window funnels
  * every row through ONE task's sort buffer — the canonical
  * does-not-scale plan. Why not exact `percentile`: a single
  * O(distinct-values) aggregation buffer merged in one final task (the
  * round-6 verdict's scale-killer, removed from this catalog). The
  * bracket technique keeps every stage partial/mergeable:
  *
  *   1. ONE `approx_percentile` sketch pass yields a bracket
  *      [lb_k, ub_k] around every cut k — rank error ≤ n/Acc < W·n, so
  *      the true rank-r_k value provably lies inside bracket k.
  *   2. ONE grouped pass buckets rows by bracket region: in-bracket
  *      values keep their identity (one cell per value), the K+1
  *      between-bracket regions COLLAPSE to one cell each carrying
  *      (count, exact-decimal sum, min, max) — so the cells frame is
  *      sketch-bounded, never O(n).
  *   3. Cut k = the exact LOWER order statistic at rank ⌈k·n/10⌉, read
  *      off the cells' cumulative counts (a window over the tiny cells
  *      frame, never the raw column). Type-1 quantiles on purpose: every
  *      cut is an actual data value — no interpolation, no float-ulp
  *      cross-engine fragility at all.
  *   4. The per-bin aggregate is computed FROM THE CELLS, not a third
  *      scan: a between-bracket cell lies strictly inside
  *      (ub_{k-1}, lb_k) ⊆ (cut_{k-1}, cut_k], so every cell maps wholly
  *      to one bin and bin stats are exact cell-stat re-aggregations.
  *
  * Two scans total, every aggregate map-side-combinable, the only window
  * runs over the sketch-bounded cells — the shape that survives 100 TB.
  */
object Quantiles {

  private val K = 9 // decile cuts
  // The sketch constants every bracketed kernel uses (these deciles, the
  // medians below, and TextCuration's winsor bounds): coverage holds when
  // W·n − n/Acc ≥ 2 for all n ≥ SmallN.
  private[operators] val Acc = 10000 // approx_percentile rank error <= n/Acc
  private[operators] val W = 5e-4 // bracket half-width in percentile space
  private[operators] val SmallN = 100000L // below this the whole column is the histogram

  /** Step 1+2: sketch-bracketed cells for column `c` of `li`. One row per
    * in-bracket value plus one per collapsed between-bracket region,
    * carrying (cnt, exact-decimal vsum, vmin, vmax, n).
    */
  private[graft] def decileCells(li: DataFrame, c: String,
      smallN: Long = SmallN): DataFrame = {
    val probes = (1 to K).flatMap(k => Seq(k / 10.0 - W, k / 10.0 + W))
    val stats = li.agg(
      count(col(c)).as("n"),
      expr(s"approx_percentile($c, array(${probes.mkString(",")}), $Acc)").as("pr"))
      .select(col("n") +: (1 to K).flatMap(k => Seq(
        col("pr")(2 * (k - 1)).as(s"lb$k"),
        col("pr")(2 * k - 1).as(s"ub$k"))): _*)
    val v = col("v")
    val bucket = (1 to K).foldLeft(when(col("n") < smallN, lit(1))) {
      (e, k) =>
        e.when(v < col(s"lb$k"), lit(2 * k - 2))
          .when(v <= col(s"ub$k"), lit(2 * k - 1))
    }.otherwise(lit(2 * K))
    li.select(col(c).as("v"))
      .crossJoin(broadcast(stats))
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"), when(col("bucket") % 2 === 1, v).as("bv"))
      .agg(count(lit(1)).as("cnt"),
        Num.dsumDec(v).as("vsum"),
        min(v).as("vmin"), max(v).as("vmax"),
        max(col("n")).as("n"))
  }

  /** Step 3: the 9 exact lower order statistics (rank ⌈k·n/10⌉) as a
    * 1-row frame (c1..c9) for broadcast, read off the cells' cumulative
    * counts in value order (bucket order IS value order by construction
    * of the bucket CASE chain).
    */
  private[graft] def decileCuts(cells: DataFrame): DataFrame = {
    val ranked = cells.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("bucket"), col("bv"))))
    val cs = (1 to K).map(k =>
      min(when(col("cum") >= expr(s"(n * $k + 9) DIV 10"), col("bv")))
        .as(s"c$k"))
    ranked.agg(cs.head, cs.tail: _*)
  }

  /** Which bin a value (or a whole collapsed cell, via its min) falls in:
    * 1 + number of cuts strictly below it (cuts as collected literals; a
    * NULL cut — no non-null value — counts for no value, as in the oracle).
    */
  private def binOf(v: Column, cuts: Seq[Column]): Column =
    cuts.map(c => when(v > c, 1).otherwise(0)).foldLeft(lit(1))(_ + _)

  /** A collected nullable double as a DOUBLE literal. An empty input or an
    * all-null measure leaves an order statistic NULL; it re-enters the
    * plan as NULL, the oracle's answer, instead of a primitive read.
    */
  private def litD(x: Option[Double]): Column =
    x.fold(lit(null).cast("double"))(lit(_))

  private def doubleAt(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  /** Equal-frequency decile binning of lineitem extended price: exact
    * type-1 decile cuts, then per-bin row counts, exact-decimal sums and
    * min/max — all re-aggregated from the cells (two scans total). The
    * nine cuts are driver-collected (a 1-row frame either way) and enter
    * the final re-aggregation as codegen literals — round 15, same
    * literal-scalar treatment as q156/q163.
    */
  val q128QuantileBins = Q(
    "q128_quantile_bins",
    (s, d) => {
      val cells = decileCells(Tables.lineitem(s, d), "l_extendedprice")
        .localCheckpoint(true)
      val cutRow = decileCuts(cells).first()
      val cuts = (0 until K).map(i => litD(doubleAt(cutRow, i)))
      cells
        .withColumn("bin", binOf(coalesce(col("bv"), col("vmin")), cuts))
        .groupBy("bin")
        .agg(sum(col("cnt")).as("n"),
          sum(col("vsum")).cast("double").as("sum_price"),
          min(col("vmin")).as("min_price"),
          max(col("vmax")).as("max_price"))
    },
    Some("""
      WITH nn AS (SELECT count(*) AS n FROM lineitem),
      srt AS (SELECT l_extendedprice AS v,
                     row_number() OVER (ORDER BY l_extendedprice) AS i
              FROM lineitem),
      cuts AS (SELECT
          max(CASE WHEN i = (n * 1 + 9) // 10 THEN v END) AS c1,
          max(CASE WHEN i = (n * 2 + 9) // 10 THEN v END) AS c2,
          max(CASE WHEN i = (n * 3 + 9) // 10 THEN v END) AS c3,
          max(CASE WHEN i = (n * 4 + 9) // 10 THEN v END) AS c4,
          max(CASE WHEN i = (n * 5 + 9) // 10 THEN v END) AS c5,
          max(CASE WHEN i = (n * 6 + 9) // 10 THEN v END) AS c6,
          max(CASE WHEN i = (n * 7 + 9) // 10 THEN v END) AS c7,
          max(CASE WHEN i = (n * 8 + 9) // 10 THEN v END) AS c8,
          max(CASE WHEN i = (n * 9 + 9) // 10 THEN v END) AS c9
        FROM srt, nn),
      b AS (SELECT l_extendedprice AS v,
              1 + (CASE WHEN l_extendedprice > c1 THEN 1 ELSE 0 END)
                + (CASE WHEN l_extendedprice > c2 THEN 1 ELSE 0 END)
                + (CASE WHEN l_extendedprice > c3 THEN 1 ELSE 0 END)
                + (CASE WHEN l_extendedprice > c4 THEN 1 ELSE 0 END)
                + (CASE WHEN l_extendedprice > c5 THEN 1 ELSE 0 END)
                + (CASE WHEN l_extendedprice > c6 THEN 1 ELSE 0 END)
                + (CASE WHEN l_extendedprice > c7 THEN 1 ELSE 0 END)
                + (CASE WHEN l_extendedprice > c8 THEN 1 ELSE 0 END)
                + (CASE WHEN l_extendedprice > c9 THEN 1 ELSE 0 END) AS bin
            FROM lineitem, cuts)
      SELECT bin, count(*) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             min(v) AS min_price, max(v) AS max_price
      FROM b GROUP BY bin
    """),
  )

  /** Materialize the narrow multi-pass projection at a width every pass
    * can use: the two percentile_approx sketch passes are serial
    * single-sketch inserts per partition, and the bench fixtures arrive
    * as ONE row-group (1-task scans) — so a 1-partition checkpoint makes
    * every downstream pass single-threaded (measured: each sketch job
    * 0.4–0.6 s at sf0.1). Widen ONCE before checkpointing, derived from
    * input size ([[graft.core.ScaleWidth]], ~1 MB compressed per
    * partition), and only when the scan is narrower than that target —
    * a production scan (thousands of splits) skips the exchange
    * entirely, so this is not a local-core-count tune.
    */
  /** Width-gated keyed repartition of a narrow multi-pass projection.
    * Tried and REVERTED for the winsor pair (q121/q122, round 15): their
    * TWO passes share one execution, so ReuseExchange did give a single
    * shuffle both read — but shuffling the raw 600k-row projection
    * (~10 MB) cost exactly what parallelizing two ~0.35 s serial passes
    * saved (q121 1.11 → 1.17 s min, q122 1.21 → 1.20). It pays only when
    * FOUR passes amortize one materialization (q156/q163 via
    * [[checkpointWide]]).
    */
  private def widen(df: DataFrame, key: Column): DataFrame = {
    // capped by task slots (floor 16): the passes are narrow maps +
    // partial aggs, so width beyond the slot count only multiplies task
    // and sketch-merge overhead — uncapped, sf1 derived width 140 and the
    // 8-core run paid for it.
    val slots = df.sparkSession.sparkContext.defaultParallelism
    val width = math.min(
      graft.core.ScaleWidth.forInput(df, 1L << 20), math.max(slots, 16))
    // keyed hash repartition, NOT round-robin: repartition(n) pays a
    // local sort of the full input (sortBeforeRepartition, for retry
    // determinism) before the exchange — measured 0.7 s on this job
    // against 0.17 s for the plain checkpoint; hashing the value column
    // spreads evenly (many distinct values) with no sort and stays
    // deterministic under retries
    if (df.rdd.getNumPartitions >= width) df
    else df.repartition(width, key)
  }

  private def checkpointWide(df: DataFrame): DataFrame =
    widen(df, col("l_extendedprice")).localCheckpoint(true)

  private final case class Bracket(n: Long, lb: Double, ub: Double) {
    def small: Boolean = n < SmallN
    def target: Long = (n + 1) / 2 // type-1 lower-median rank, (n+1) DIV 2
  }

  /** Per-group p50 bracket from one grouped sketch pass, collected to the
    * driver (group cardinality is small — the SAME boundedness assumption
    * the previous broadcast-join form made; a 1-group caller passes no
    * keys and gets the global bracket under key ""). Collecting instead
    * of broadcast-joining (optimization round 15, guide §1.2/§2.4) turns
    * every later pass into a join-free map over the checkpointed
    * projection: the bracket bounds become codegen literals, and the
    * broadcast-exchange materialization job per scalar disappears.
    */
  private def brackets(df: DataFrame, v: Column,
      keys: Seq[String]): Map[String, Bracket] = {
    val agg = Seq(
      count(v).as("n"),
      percentile_approx(v, array(lit(0.5 - W), lit(0.5 + W)), lit(Acc)).as("pr"))
    val rows =
      (if (keys.isEmpty) df.agg(agg.head, agg.tail: _*)
       else df.groupBy(keys.map(col): _*).agg(agg.head, agg.tail: _*))
        .collect()
    rows.map { r =>
      val k = if (keys.isEmpty) "" else r.getString(0)
      val off = if (keys.isEmpty) 0 else 1
      // no non-null value: no sketch, and n = 0 makes the bracket small,
      // so its bounds are never read
      val pr = Option(r.getSeq[Double](off + 1)).getOrElse(Seq(Double.NaN, Double.NaN))
      k -> Bracket(r.getLong(off), pr(0), pr(1))
    }.toMap
  }

  /** when-chain literal lookup over the collected group keys — the
    * literal replacement for a broadcast join on the group key.
    */
  private def byKey(keyCol: Column, m: Map[String, Option[Double]]): Column =
    m.toSeq.sortBy(_._1).foldLeft(lit(null).cast("double")) {
      case (acc, (k, x)) => when(keyCol === k, litD(x)).otherwise(acc)
    }

  /** Bucket CASE for a 1-cut literal bracket: 0 below, 1 inside (identity
    * kept), 2 above; `5` isolates NULL values (counted in n, never in the
    * median window or the outlier count — mirrors the join form, where a
    * NULL never satisfied the threshold comparison); the SmallN fallback
    * keeps every value as an identity cell.
    */
  private def bucket1(v: Column, b: Bracket): Column =
    if (b.small) lit(1)
    else when(v.isNull, lit(5))
      .when(v < b.lb, lit(0)).when(v <= b.ub, lit(1)).otherwise(lit(2))

  /** Per-group exact type-1 lower medians of `v` via literal-bracket
    * cells: ONE grouped pass over `df` (map-side partial aggregation,
    * no join), a group-partitioned window over the sketch-bounded cells,
    * collected to scalars. With `keys` empty the group is global ("").
    */
  private def medianScalars(df: DataFrame, v: Column, keys: Seq[String],
      br: Map[String, Bracket]): Map[String, Option[Double]] = {
    val keyCols = keys.map(col)
    val keyOf = if (keys.isEmpty) lit("") else col(keys.head)
    val bucket = br.toSeq.sortBy(_._1).foldLeft(lit(null).cast("int")) {
      case (acc, (k, b)) => when(keyOf === k, bucket1(col("v"), b)).otherwise(acc)
    }
    val cells = df
      .select(keyCols :+ v.as("v"): _*)
      .withColumn("bucket", bucket)
      .groupBy(keyCols :+ col("bucket") :+
        when(col("bucket") === 1, col("v")).as("bv"): _*)
      .agg(count(lit(1)).as("cnt"))
    val w =
      if (keys.isEmpty) Window.orderBy(col("bucket"), col("bv"))
      else Window.partitionBy(keyCols: _*).orderBy(col("bucket"), col("bv"))
    val target = byKey(keyOf, br.map { case (k, b) => k -> Some(b.target.toDouble) })
    val ranked = cells.filter(col("bucket") <= 1)
      .withColumn("cum", sum(col("cnt")).over(w))
    val medAgg = min(when(col("cum") >= target, col("bv"))).as("m")
    val rows =
      (if (keys.isEmpty) ranked.agg(medAgg)
       else ranked.groupBy(keyCols: _*).agg(medAgg)).collect()
    rows.map { r =>
      val k = if (keys.isEmpty) "" else r.getString(0)
      k -> doubleAt(r, if (keys.isEmpty) 0 else 1)
    }.toMap
  }

  /** Enriched deviation cells: grouped by the OUTPUT key and bucketed
    * against BOTH the mad bracket [dlb, dub] and the outlier-threshold
    * band [4.4478·dlb, 4.4478·dub] (identity kept in both), so the final
    * per-group aggregate reads off these cells and the 5th raw pass of
    * the previous shape (the threshold count over the fact projection)
    * disappears (optimization round 15, guide §1.2 — one fewer full-data
    * pass). Classification against the exact threshold t = 4.4478·mad is
    * total: mad ∈ [dlb, dub] ⇒ t ∈ [tLo, tHi], so bucket 0/2 cells are
    * wholly ≤ t, bucket 4 wholly > t, and the two identity bands compare
    * their exact values. tLo/tHi are VALUE-bounded (not rank-bounded like
    * the mad bracket): band cells are one per distinct deviation value in
    * a width-3.4·(ub−lb) interval at the distribution's tail — they flow
    * only through the distributed groupBy and the final sum, never the
    * median window ([[medianScalars]] filters bucket ≤ 1), so no
    * single-task buffer grows with them.
    */
  private def devCells(df: DataFrame, dv: Column, keys: Seq[String],
      br: Map[String, Bracket]): DataFrame = {
    val keyOf = if (keys.isEmpty) lit("") else col(keys.head)
    def b5(b: Bracket): Column =
      if (b.small) when(col("dv").isNull, lit(5)).otherwise(lit(1))
      else when(col("dv").isNull, lit(5))
        .when(col("dv") < b.lb, lit(0))
        .when(col("dv") <= b.ub, lit(1))
        .when(col("dv") <= 4.4478 * b.lb, lit(2))
        .when(col("dv") <= 4.4478 * b.ub, lit(3))
        .otherwise(lit(4))
    val bucket = br.toSeq.sortBy(_._1).foldLeft(lit(null).cast("int")) {
      case (acc, (k, b)) => when(keyOf === k, b5(b)).otherwise(acc)
    }
    // cells always carry the OUTPUT group (l_returnflag); `keys` only
    // selects whether the bracket lookup is per-group or global
    df.select(col("l_returnflag"), dv.as("dv"))
      .withColumn("bucket", bucket)
      .groupBy(col("l_returnflag"), col("bucket"),
        when(col("bucket") === 1 || col("bucket") === 3, col("dv")).as("bv"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Outlier predicate over [[devCells]] rows for a per-group literal
    * threshold: whole buckets where the classification is total, exact
    * value comparison in the identity bands.
    */
  private def cellOutlier(thr: Column): Column =
    col("bucket") === 4 ||
      ((col("bucket") === 1 || col("bucket") === 3) && col("bv") > thr)

  /** Robust outlier detection via MEDIAN / MAD — the outlier treatment
    * that, unlike z-scores, is not itself corrupted by the outliers it
    * hunts: flag values with |x − median| > 3·1.4826·MAD (1.4826 scales
    * MAD to σ under normality). Both order statistics come from the
    * bracket technique — never Spark's single-buffer `percentile`, never
    * a global sort — FOUR distributed passes, all partial/mergeable:
    * sketch(x), cells(x) → median; sketch(|x−med|), enriched
    * cells(|x−med|) → MAD and the threshold counts (the deviation passes
    * cannot reuse x's cells: |x−med| folds both tails together, and
    * collapsed out-of-bracket cells have lost the identity that folding
    * needs). Deviations of a 2-decimal column from its 2-decimal median
    * are exact in IEEE, and the threshold comparison multiplies identical
    * doubles in both engines — no rounding fragility anywhere.
    */
  val q156MadOutliers = Q(
    "q156_mad_outliers",
    (s, d) => {
      // The passes run over ONE materialization of the narrow
      // (flag, value) projection, not parquet scans per pass: a
      // multi-pass order-statistics algorithm is exactly the case where
      // persist-once (spillable, 2 columns ≈ 12 bytes/row) beats
      // re-decoding the pruned scan per pass — at 100 TB the projection
      // is ~1% of the fact table's bytes and every subsequent pass is a
      // memory-speed map over it. FOUR raw passes since round 15
      // (sketch x → cells x → sketch dv → enriched dv cells): the final
      // threshold count re-aggregates [[devCells]] instead of scanning
      // the projection a 5th time, and every scalar (bracket, med, mad)
      // is driver-collected and re-enters the plan as a codegen literal
      // instead of a broadcast join.
      val x = col("l_extendedprice")
      val li = checkpointWide(Tables.lineitem(s, d)
        .select(col("l_returnflag"), x))
      val br = brackets(li, x, Nil)
      val med = medianScalars(li, x, Nil, br)("")
      val dv = abs(x - litD(med))
      val dbr = brackets(li, dv, Nil)
      // the dv bracket rides the x pass's n: dv is null iff x is null
      val cells = devCells(li, dv, Nil, dbr).localCheckpoint(true)
      val madCells = cells.filter(col("bucket") <= 1)
        .groupBy("bucket", "bv").agg(sum(col("cnt")).as("cnt"))
        .withColumn("cum",
          sum(col("cnt")).over(Window.orderBy(col("bucket"), col("bv"))))
      val mad = doubleAt(madCells
        .agg(min(when(col("cum") >= dbr("").target, col("bv"))))
        .first(), 0)
      cells.groupBy("l_returnflag")
        .agg(
          sum(col("cnt")).as("n"),
          sum(when(cellOutlier(litD(mad.map(_ * 4.4478))), col("cnt")).otherwise(0L))
            .as("n_outliers"))
        .select(col("l_returnflag"), col("n"), col("n_outliers"),
          litD(med).as("med"), litD(mad).as("mad"))
    },
    Some("""
      WITH nn AS (SELECT count(*) AS n FROM lineitem),
      srt AS (SELECT l_extendedprice AS v,
                     row_number() OVER (ORDER BY l_extendedprice) AS i
              FROM lineitem),
      med AS (SELECT max(CASE WHEN i = (n + 1) // 2 THEN v END) AS med
              FROM srt, nn),
      dev AS (SELECT l_returnflag, abs(l_extendedprice - med) AS dv, med
              FROM lineitem, med),
      dsrt AS (SELECT dv, row_number() OVER (ORDER BY dv) AS i FROM dev),
      mad AS (SELECT max(CASE WHEN i = (n + 1) // 2 THEN dv END) AS mad
              FROM dsrt, nn)
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CASE WHEN dv > mad * 4.4478 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers,
             max(med) AS med, max(mad) AS mad
      FROM dev, mad GROUP BY l_returnflag
    """),
  )

  /** PER-GROUP robust MAD outliers — the grouped form of [[q156MadOutliers]]
    * (the q121→q122 progression applied to the median/MAD family): each
    * group gets its OWN median, its own MAD over deviations from that
    * median, and its own 3σ-equivalent threshold. All order statistics
    * come from grouped sketch brackets — one grouped sketch + one grouped
    * cells pass per statistic, group-partitioned windows over
    * sketch-bounded histograms — so no per-group value buffer and no
    * exact-percentile aggregate exists anywhere in the plan, at any group
    * count. Since round 15 the per-group scalars are driver-collected
    * when-chain literals (bounded by group cardinality, the same
    * assumption the previous broadcast joins made) and the final
    * threshold count re-aggregates the enriched [[devCells]] — four raw
    * passes instead of five, zero joins.
    */
  val q163GroupMadOutliers = Q(
    "q163_group_mad_outliers",
    (s, d) => {
      val keys = Seq("l_returnflag")
      val x = col("l_extendedprice")
      // one materialized narrow projection feeds all four grouped
      // passes — see q156's scan-sharing note
      val li = checkpointWide(Tables.lineitem(s, d)
        .select(col("l_returnflag"), x))
      val br = brackets(li, x, keys)
      val med = medianScalars(li, x, keys, br)
      val dv = abs(x - byKey(col("l_returnflag"), med))
      val dbr = brackets(li, dv, keys)
      val cells = devCells(li, dv, keys, dbr).localCheckpoint(true)
      val madRows = cells.filter(col("bucket") <= 1)
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy("l_returnflag").orderBy(col("bucket"), col("bv"))))
        .groupBy("l_returnflag")
        .agg(min(when(col("cum") >=
          byKey(col("l_returnflag"), dbr.map { case (k, b) => k -> Some(b.target.toDouble) }),
          col("bv"))).as("m"))
        .collect()
      val mad = madRows.map(r => r.getString(0) -> doubleAt(r, 1)).toMap
      val thr = mad.map { case (k, m) => k -> m.map(_ * 4.4478) }
      cells.groupBy("l_returnflag")
        .agg(
          sum(col("cnt")).as("n"),
          sum(when(cellOutlier(byKey(col("l_returnflag"), thr)), col("cnt"))
            .otherwise(0L)).as("n_outliers"))
        .select(col("l_returnflag"), col("n"), col("n_outliers"),
          byKey(col("l_returnflag"), med).as("med"),
          byKey(col("l_returnflag"), mad).as("mad"))
    },
    Some("""
      WITH n AS (
        SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1),
      srt AS (
        SELECT l_returnflag, l_extendedprice AS v,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS i
        FROM lineitem),
      med AS (
        SELECT srt.l_returnflag,
               max(CASE WHEN i = (n + 1) // 2 THEN v END) AS med
        FROM srt JOIN n USING (l_returnflag) GROUP BY 1),
      dev AS (
        SELECT l.l_returnflag, abs(l_extendedprice - med) AS dv, med
        FROM lineitem l JOIN med USING (l_returnflag)),
      dsrt AS (
        SELECT l_returnflag, dv, med,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY dv) AS i
        FROM dev),
      mad AS (
        SELECT dsrt.l_returnflag,
               max(CASE WHEN i = (n + 1) // 2 THEN dv END) AS mad
        FROM dsrt JOIN n USING (l_returnflag) GROUP BY 1)
      SELECT d.l_returnflag, count(*) AS n,
             CAST(sum(CASE WHEN dv > mad * 4.4478 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers,
             max(d.med) AS med, max(mad.mad) AS mad
      FROM dev d JOIN mad USING (l_returnflag) GROUP BY 1
    """),
  )

  val all: Seq[Q] = Seq(q128QuantileBins, q156MadOutliers, q163GroupMadOutliers)
}
