package graft.operators

import graft.core.{Num, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed order statistics at an arbitrary probe set — the one
  * kernel behind q121/q122's winsor bounds, q128's deciles and q156/q163's
  * median/MAD (the reference's only quantile surface is DuckDB's built-in
  * `quantile_cont`, api/main.py's percentile endpoints).
  *
  * Why not `ntile(10) OVER (ORDER BY v)`: a global-ORDER window funnels
  * every row through ONE task's sort buffer — the canonical
  * does-not-scale plan. Why not exact `percentile`: a single
  * O(distinct-values) aggregation buffer merged in one final task (the
  * round-6 verdict's scale-killer, removed from this catalog). The
  * bracket technique keeps every stage partial/mergeable:
  *
  *   1. [[brackets]]: ONE `approx_percentile` sketch pass, collected, yields
  *      a bracket [lb, ub] around every target rank — rank error ≤ n/Acc <
  *      W·n, so the true order statistic provably lies inside its bracket.
  *   2. [[cells]]: ONE grouped pass buckets rows by bracket region, the
  *      brackets entering the plan as literals: in-bracket values keep
  *      their identity (one cell per value), the between-bracket regions
  *      COLLAPSE to one cell each carrying the caller's aggregates — so the
  *      cells frame is sketch-bounded, never O(n).
  *   3. [[valuesAtRanks]]: the exact value at each rank, read off the
  *      cells' cumulative counts (a window over the tiny cells frame, never
  *      the raw column).
  *   4. The caller's final aggregate is computed FROM THE CELLS, not
  *      another scan: a between-bracket cell lies wholly between two
  *      order statistics, so it classifies as a unit.
  *
  * One NULL rule: a NULL value gets its own bucket ([[NullBucket]]); it
  * counts toward the row count and never enters the rank window, so a
  * rank past the non-null values reads NULL. The rank space is the
  * caller's: sketching `v` ranks the non-null values (`quantile_cont`),
  * sketching [[nullsLast]]`(v)` ranks every row with NULLs last (an
  * oracle's `row_number() OVER (ORDER BY v)` over count(*) positions).
  */
object Quantiles {

  private val K = 9 // decile cuts
  // The sketch constants: coverage holds when W·n − n/Acc ≥ 2 for all
  // n ≥ SmallN. Acc trades sketch-merge cost against bracket width: the
  // final merge task handles O(partitions · summary) entries, and acc=1e5
  // measured 5.5 s at sf1 vs 0.96 s for Spark's default 1e4 — so keep the
  // default and widen the bracket instead. The bracket holds ≤ ~2·W·n
  // ranks ≈ 0.1% of the column; for an all-distinct column at extreme n,
  // raise Acc and shrink W by the same factor — the guarantee holds.
  private[operators] val Acc = 10000 // approx_percentile rank error <= n/Acc
  private[operators] val W = 5e-4 // bracket half-width in percentile space
  private[operators] val SmallN = 100000L // below this the whole column is the histogram

  /** A bracket key: the values of the bracket key columns, empty when global. */
  private[graft] type Key = Seq[Any]

  /** The bucket of a NULL value: outside the rank window. */
  private[graft] val NullBucket = -1

  /** One key's sketch pass: the count `n` of sketched values, the probed
    * values `pr` (empty when none), and whether `n` is below the small-n
    * cutoff.
    */
  private[graft] final case class Bracket(n: Long, pr: IndexedSeq[Double],
      small: Boolean) {
    /** The identity bands of the first `m` probe pairs (pr(2i), pr(2i+1));
      * none when small, where every value keeps its identity.
      */
    def bands(m: Int): Seq[(Double, Double)] =
      if (small) Nil else (0 until m).map(i => (pr(2 * i), pr(2 * i + 1)))
  }

  /** `v` with NULL as +∞: sketched, it ranks every row, NULLs last. */
  private[graft] def nullsLast(v: Column): Column =
    coalesce(v, lit(Double.PositiveInfinity))

  /** Step 1's sketch pass as a frame: per key, (keys..., n, pr). */
  private[graft] def sketch(df: DataFrame, v: Column, keys: Seq[String],
      probes: Seq[Double]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(v).as("n"),
      approx_percentile(v, array(probes.map(lit): _*), lit(Acc)).as("pr"))

  /** Step 1: the [[sketch]] pass, collected per key (key cardinality is
    * small). Collecting instead of broadcast-joining (optimization round
    * 15) turns every later pass into a join-free map: the bracket bounds
    * become codegen literals, and the broadcast-exchange job per scalar
    * disappears. `smallN` is the small-n cutoff (a test seam).
    */
  private[graft] def brackets(df: DataFrame, v: Column, keys: Seq[String],
      probes: Seq[Double], smallN: Long = SmallN): Map[Key, Bracket] = {
    val m = keys.size
    sketch(df, v, keys, probes).collect().map { r =>
      val n = r.getLong(m)
      val pr = if (r.isNullAt(m + 1)) IndexedSeq.empty[Double]
               else r.getSeq[Double](m + 1).toIndexedSeq
      keyOf(r, m) -> Bracket(n, pr, n < smallN)
    }.toMap
  }

  /** when-chain literal lookup over the collected keys — the literal
    * replacement for a broadcast join on the key; `orElse` for a key not
    * in `m`.
    */
  private[graft] def byKey[A](keys: Seq[String], m: Map[Key, A],
      orElse: Column)(f: A => Column): Column =
    if (keys.isEmpty) m.get(Nil).fold(orElse)(f)
    else m.toSeq.sortBy(_._1.mkString("\u0001")).foldLeft(orElse) {
      case (acc, (k, a)) =>
        when(keys.zip(k).map { case (c, x) => col(c) <=> lit(x) }.reduce(_ && _), f(a))
          .otherwise(acc)
    }

  /** Bucket CASE over bands in increasing value order: band i keeps the
    * identity of its values in bucket 2i+1, the region below it collapses
    * to bucket 2i, everything above the last band to bucket 2·bands; no
    * bands keeps every value's identity. Bucket order is value order.
    */
  private def bucketOf(v: Column, bands: Seq[(Double, Double)]): Column =
    if (bands.isEmpty) when(v.isNull, lit(NullBucket)).otherwise(lit(1))
    else bands.zipWithIndex.foldLeft(when(v.isNull, lit(NullBucket))) {
      case (e, ((lb, ub), i)) => e.when(v < lb, lit(2 * i)).when(v <= ub, lit(2 * i + 1))
    }.otherwise(lit(2 * bands.size))

  /** Step 2: ONE grouped pass over `df` (map-side partial aggregation, no
    * join). Rows are bucketed by their bracket key's literal bands and
    * grouped by (outKeys ∪ keys, bucket, bv), where `bv` is the value in an
    * identity bucket and NULL in a collapsed one. Each cell carries `cnt`
    * plus the caller's `aggs` over the value column `v`. The output keys
    * are the caller's: a global bracket may feed cells keyed by the
    * output group.
    */
  private[graft] def cells(df: DataFrame, v: Column, keys: Seq[String],
      outKeys: Seq[String], br: Map[Key, Seq[(Double, Double)]],
      aggs: Seq[Column]): DataFrame = {
    val groupCols = (outKeys ++ keys).distinct.map(col)
    df.select(groupCols :+ v.as("v"): _*)
      .withColumn("bucket",
        byKey(keys, br, lit(null).cast("int"))(bucketOf(col("v"), _)))
      .groupBy(groupCols :+ col("bucket") :+
        when(col("bucket") % 2 === 1, col("v")).as("bv"): _*)
      .agg(count(lit(1)).as("cnt"), aggs: _*)
  }

  /** Step 3: the exact value at each 1-based rank (ranks(j) per key), as
    * (keys..., v0, v1, ...): one window partitioned by the bracket keys
    * over the cells' cumulative counts in value order, one
    * `min(when(cum ≥ r, bv))` read per rank. A rank past the non-null
    * values reads NULL, the oracle's answer; a key without a non-null
    * value has no row.
    * Cells keyed finer than the bracket are peers in the window's order,
    * so they need no collapse first.
    */
  private[graft] def valuesAtRanks(cells: DataFrame, keys: Seq[String],
      ranks: Seq[Map[Key, Long]]): DataFrame = {
    val keyCols = keys.map(col)
    val reads = ranks.zipWithIndex.map { case (r, j) =>
      min(when(col("cum") >= byKey(keys, r, lit(null).cast("long"))(lit(_)), col("bv")))
        .as(s"v$j")
    }
    cells.filter(col("bucket") =!= NullBucket)
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(keyCols: _*).orderBy(col("bucket"), col("bv"))))
      .groupBy(keyCols: _*)
      .agg(reads.head, reads.tail: _*)
  }

  /** A (keys..., doubles...) frame collected per key. */
  private[graft] def scalars(df: DataFrame,
      keys: Seq[String]): Map[Key, IndexedSeq[Option[Double]]] =
    df.collect().map { r =>
      keyOf(r, keys.size) -> (keys.size until r.length).map(doubleAt(r, _))
    }.toMap

  private def keyOf(r: Row, m: Int): Key = (0 until m).map(r.get)

  /** Which bin a value (or a whole collapsed cell, via its min) falls in:
    * 1 + number of cuts strictly below it (cuts as collected literals; a
    * NULL cut — its rank lies among the NULLs — counts for no value, as in
    * the oracle).
    */
  private def binOf(v: Column, cuts: Seq[Column]): Column =
    cuts.map(c => when(v > c, 1).otherwise(0)).foldLeft(lit(1))(_ + _)

  /** A collected nullable double as a DOUBLE literal. An empty input or an
    * all-null measure leaves an order statistic NULL; it re-enters the
    * plan as NULL, the oracle's answer, instead of a primitive read.
    */
  private[graft] def litD(x: Option[Double]): Column =
    x.fold(lit(null).cast("double"))(lit(_))

  private def doubleAt(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  /** Bracket probes p ± W around each decile. */
  private[graft] val DecileProbes: Seq[Double] =
    (1 to K).flatMap(k => Seq(k / 10.0 - W, k / 10.0 + W))

  /** The 9 type-1 decile ranks ⌈k·n/10⌉ per key. */
  private[graft] def decileRanks(br: Map[Key, Bracket]): Seq[Map[Key, Long]] =
    (1 to K).map(k => br.view.mapValues(b => (b.n * k + 9) / 10).toMap)

  /** Equal-frequency decile binning of lineitem extended price: exact
    * type-1 decile cuts (every cut an actual data value — no
    * interpolation, no float-ulp cross-engine fragility), then per-bin row
    * counts, exact-decimal sums and min/max — all re-aggregated from the
    * cells: a between-bracket cell lies strictly inside (ub_{k-1}, lb_k) ⊆
    * (cut_{k-1}, cut_k], so it maps wholly to one bin. Two raw scans; the
    * nine cuts re-enter the plan as codegen literals.
    */
  val q128QuantileBins = Q(
    "q128_quantile_bins",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val v = col("l_extendedprice")
      val br = brackets(li, nullsLast(v), Nil, DecileProbes)
      val cs = cells(li, v, Nil, Nil, br.view.mapValues(_.bands(K)).toMap,
        Seq(Num.dsumDec(col("v")).as("vsum"),
          min(col("v")).as("vmin"), max(col("v")).as("vmax")))
        .localCheckpoint(true)
      val cuts = scalars(valuesAtRanks(cs, Nil, decileRanks(br)), Nil)(Nil).map(litD)
      cs.withColumn("bin", binOf(coalesce(col("bv"), col("vmin")), cuts))
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
    * can use: the sketch passes are serial single-sketch inserts per
    * partition, and the bench fixtures arrive as ONE row-group (1-task
    * scans) — so a 1-partition checkpoint makes every downstream pass
    * single-threaded (measured: each sketch job 0.4–0.6 s at sf0.1). Widen
    * ONCE before checkpointing, derived from input size
    * ([[graft.core.ScaleWidth]], ~1 MB compressed per partition), and only
    * when the scan is narrower than that target — a production scan
    * (thousands of splits) skips the exchange entirely, so this is not a
    * local-core-count tune. Tried and REVERTED for the winsor pair
    * (q121/q122, round 15): shuffling their raw 600k-row projection
    * (~10 MB) cost exactly what parallelizing two ~0.35 s serial passes
    * saved (q121 1.11 → 1.17 s min, q122 1.21 → 1.20). It pays only when
    * FOUR passes amortize one materialization (q156/q163).
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

  private val MedianProbes = Seq(0.5 - W, 0.5 + W)

  /** The type-1 lower-median rank (n+1) DIV 2 per key. */
  private def medianRank(br: Map[Key, Bracket]): Seq[Map[Key, Long]] =
    Seq(br.view.mapValues(b => (b.n + 1) / 2).toMap)

  private val Thr = 4.4478 // 3 · 1.4826: the 3σ-equivalent MAD multiple

  /** Robust MAD outliers per bracket key (none: global), reported per
    * `l_returnflag`. FOUR raw passes over ONE materialization of the
    * narrow (flag, value) projection: sketch(x) and cells(x) → median;
    * sketch(|x−med|) and the deviation cells → MAD and the outlier counts
    * (the deviation passes cannot reuse x's cells: |x−med| folds both
    * tails together, and collapsed cells have lost the identity that
    * folding needs). The deviation cells carry one more band, the
    * outlier-threshold band [Thr·dlb, Thr·dub]: mad ∈ [dlb, dub] ⇒ the
    * exact threshold t = Thr·mad lies in it, so every collapsed cell is
    * wholly ≤ t or wholly > t and the two identity bands compare their
    * exact values — the final count re-aggregates the cells instead of
    * scanning a fifth time. The threshold band stays out of the MAD rank
    * window. Every scalar (bracket, med, mad) is driver-collected and
    * re-enters the plan as a codegen literal.
    */
  private def madOutliers(s: SparkSession, d: String,
      keys: Seq[String]): DataFrame = {
    // a multi-pass order-statistics algorithm is exactly the case where
    // persist-once (spillable, 2 columns ≈ 12 bytes/row) beats re-decoding
    // the pruned scan per pass — at 100 TB the projection is ~1% of the
    // fact table's bytes and every later pass is a memory-speed map over it
    val flag = "l_returnflag"
    val x = col("l_extendedprice")
    val li = checkpointWide(Tables.lineitem(s, d).select(col(flag), x))
    def lookup(m: Map[Key, IndexedSeq[Option[Double]]]): Column =
      byKey(keys, m, litD(None))(xs => litD(xs.head))
    val br = brackets(li, nullsLast(x), keys, MedianProbes)
    val med = scalars(valuesAtRanks(
      cells(li, x, keys, keys, br.view.mapValues(_.bands(1)).toMap, Nil),
      keys, medianRank(br)), keys)
    val dv = abs(x - lookup(med))
    val dbr = brackets(li, nullsLast(dv), keys, MedianProbes)
    val dcells = cells(li, dv, keys, Seq(flag), dbr.view.mapValues { b =>
      b.bands(1) ++ b.bands(1).map { case (lb, ub) => (Thr * lb, Thr * ub) }
    }.toMap, Nil).localCheckpoint(true)
    val mad = scalars(valuesAtRanks(dcells.filter(col("bucket") <= 1),
      keys, medianRank(dbr)), keys)
    // outliers: bucket 4 is wholly above the threshold band; the identity
    // bands compare exactly (deviations of a 2-decimal column from its
    // 2-decimal median are exact in IEEE, and the threshold multiplies
    // identical doubles in both engines)
    val thr = byKey(keys, mad, litD(None))(xs => litD(xs.head.map(_ * Thr)))
    val outlier = col("bucket") === 4 ||
      ((col("bucket") === 1 || col("bucket") === 3) && col("bv") > thr)
    dcells.groupBy(flag)
      .agg(
        sum(col("cnt")).as("n"),
        sum(when(outlier, col("cnt")).otherwise(0L)).as("n_outliers"))
      .select(col(flag), col("n"), col("n_outliers"),
        lookup(med).as("med"), lookup(mad).as("mad"))
  }

  /** Robust outlier detection via MEDIAN / MAD — the outlier treatment
    * that, unlike z-scores, is not itself corrupted by the outliers it
    * hunts: flag values with |x − median| > 3·1.4826·MAD (1.4826 scales
    * MAD to σ under normality). Both order statistics come from the
    * bracket kernel — never Spark's single-buffer `percentile`, never a
    * global sort ([[madOutliers]]).
    */
  val q156MadOutliers = Q(
    "q156_mad_outliers",
    (s, d) => madOutliers(s, d, Nil),
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
    * median, and its own 3σ-equivalent threshold, from grouped sketches
    * and group-partitioned rank windows — no per-group value buffer and no
    * exact-percentile aggregate anywhere in the plan, at any group count.
    * The per-group scalars are when-chain literals (bounded by group
    * cardinality).
    */
  val q163GroupMadOutliers = Q(
    "q163_group_mad_outliers",
    (s, d) => madOutliers(s, d, Seq("l_returnflag")),
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
