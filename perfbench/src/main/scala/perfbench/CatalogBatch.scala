package perfbench

import graft.SparkEntry
import graft.core.Tables
import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer

/** catalog_batch: one client runs a list of batch operations serially and
  * times whole passes over it, after one untimed warm-up pass. The warm-up
  * runs at the full scale: a pass at the small scale leaves the JIT too
  * cold for the first full-scale pass to be steady.
  *
  * Class a is catalog queries, each run as a `noop` write (every output
  * column materialised): this is where the `operators` and `functions`
  * kernels do their work through Spark shuffles and executor tasks. The
  * MinHash dedup query (q31) is the shuffle-heavy one; the index build and
  * write (q182) runs beside the stored-index search (q183) and the append
  * (q174), so a change that speeds index reads at the cost of writes shows.
  *
  * Class b is the two streaming drains of [[Streams]], the only operations
  * that exercise the `streaming` module.
  *
  * A fresh JVM needs seconds per distinct operation to warm up, so the list
  * is kept short enough for a run to stay within its time budget.
  */
object CatalogBatch extends Workload {

  final class State(val spark: SparkSession, val queries: Seq[String], val tableLoadMs: Double) {
    var staged: Path = _
    var rows = 0L
    /** The seeded result check made in the warm-up: None when it passed. */
    var queryError: Option[String] = None
    def ops: Seq[String] =
      Cycle.map(p => if (isStream(p)) p else queries.find(prefix(_) == p).get)
  }

  /** One operation of one pass: seconds taken (None if it failed), for a
    * streaming drain what the drain saw, and the old generation in MB just
    * before it started, after full collections: what the previous operation
    * left live.
    */
  final case class Run(op: String, secs: Option[Double], drain: Option[Drain], heapMb: Double)

  val conf: Seq[(String, String)] = Seq(
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    // whether the trailing no-data batch (state eviction after the last
    // file) runs before the drain stops is a race; without it every drain
    // runs exactly one batch per file. Update mode emits no rows on
    // eviction, so results do not change.
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** Timed passes at least: each operation's time is its median over them. */
  private val MinPasses = 2

  /** The pass order, as a cycle that the seed rotates. Operations leave
    * state behind for the next one (q183 searches the index that q182 wrote,
    * q174 appends to it), and a seeded shuffle made an operation's time
    * depend on its predecessor: q183 took 0.95 s after q174 and 1.5 s
    * elsewhere. A rotation gives every operation the same predecessor under
    * every seed, the warm-up pass included.
    */
  private val Cycle = Seq("q182", "q183", "q174", "stream_hourly", "q31", "stream_session")

  private def prefix(n: String) = n.takeWhile(_ != '_')
  private def isStream(op: String) = op.startsWith("stream_")
  private def label(op: String) = if (isStream(op)) op else prefix(op)

  def prepare(spark: SparkSession, ctx: Ctx): State = {
    val byPrefix = SparkEntry.queries.keys.map(n => prefix(n) -> n).toMap
    val names = PerLayer.queryModule.map(q => byPrefix(q._1))
    val t0 = System.nanoTime()
    Seq("documents", "embeddings").foreach(Tables(spark, ctx.dataDir, _))
    Tables.events(spark, ctx.dataDir)
    new State(spark, names, (System.nanoTime() - t0) / 1e6)
  }

  private def exec(st: State, ctx: Ctx, op: String): Option[Drain] =
    if (isStream(op))
      Some(Streams.drain(st.spark, ctx.workDir, st.staged, op.stripPrefix("stream_")))
    else {
      SparkEntry.queries(op)(st.spark, ctx.dataDir)
        .write.format("noop").mode("overwrite").save()
      None
    }

  /** Runs `f`, then drops the RDD blocks it persisted, leaving older ones
    * alone. The drop waits for the blocks to go, so the next operation (and
    * the heap measured before it) never sees them.
    */
  private def releasing[T](st: State)(f: => T): T = {
    val sc = st.spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try f
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  /** Stages the drains' input and runs every operation once. One seeded
    * query collects its result there instead, for the check against its
    * pinned digest.
    */
  def warmup(st: State, ctx: Ctx): Unit = {
    st.staged = Streams.stagedDir(ctx.workDir)
    st.rows = Streams.stage(st.spark, ctx.dataDir, st.staged)
    val checked = new scala.util.Random(ctx.seed).shuffle(st.queries).head
    order(st, ctx).foreach(op => releasing(st) {
      if (op != checked) exec(st, ctx, op)
      else st.queryError =
        try ctx.check(op, Digest.rows(SparkEntry.queries(op)(st.spark, ctx.dataDir).collect().toSeq))
        catch { case e: Exception => Some(s"$op: $e") }
    })
  }

  /** One timed pass over `order`. */
  private def pass(st: State, ctx: Ctx, order: Seq[String],
      wrap: (String, => Option[Drain]) => Option[Drain] = (_, f) => f): Seq[Run] =
    order.map { op =>
      val heapMb = JvmProbe.oldGenMb() // full GCs outside the timed region
      try releasing(st) {
        val t0 = System.nanoTime()
        val d = wrap(op, exec(st, ctx, op))
        Run(op, Some((System.nanoTime() - t0) / 1e9), d, heapMb)
      } catch { case e: Exception => ctx.report(s"$op failed: $e"); Run(op, None, None, heapMb) }
    }

  private def order(st: State, ctx: Ctx) = {
    val k = new scala.util.Random(ctx.seed).nextInt(st.ops.size)
    st.ops.drop(k) ++ st.ops.take(k)
  }

  /** The warm-up's query check, and every drain against the batch plan
    * over the same files; returns (checks made, failed).
    */
  private def checkErrors(st: State, ctx: Ctx, runs: Seq[Run]): (Int, Int) = {
    val qErr = st.queryError
    val batch = Streams.pipelines.map(p => p -> Streams.batchDigest(st.spark, st.staged, p)).toMap
    val drainErrs = runs.flatMap(_.drain).map(d => Streams.errors(d, st.rows, batch(d.pipeline)))
    (qErr.toSeq ++ drainErrs.flatten).foreach(e => ctx.report(s"check failed: $e"))
    (1, qErr.size + drainErrs.count(_.nonEmpty))
  }

  def measure(st: State, ctx: Ctx): Outcome = {
    val ord = order(st, ctx)
    val t0 = System.nanoTime()
    val passes = ArrayBuffer.empty[Seq[Run]]
    while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      passes += pass(st, ctx, ord)
    passes.zipWithIndex.foreach { case (p, i) => ctx.report(s"pass $i: " + p.map(r =>
      f"${label(r.op)}=${r.secs.getOrElse(Double.NaN) * 1000}%.0f").mkString(" ")) }
    val runs = passes.flatten.toSeq
    val (checks, failedChecks) = checkErrors(st, ctx, runs)
    val perOp = runs.collect { case Run(op, Some(s), _, _) => op -> s }.groupBy(_._1)
      .map { case (op, xs) => op -> Stats.median(xs.map(_._2)) * 1000 }
    val ms = perOp.values.toSeq
    def classP50(stream: Boolean) =
      Stats.median(perOp.collect { case (op, v) if isStream(op) == stream => v }.toSeq)
    val trig = runs.flatMap(_.drain).flatMap(_.triggerMs)
    ctx.report(s"passes=${passes.size} " + perOp.toSeq.sorted.map { case (op, v) =>
      f"${label(op)}=$v%.0f" }.mkString(" ") + " ms; " + Streams.pipelines.map(p =>
      f"$p ${st.rows / (perOp(s"stream_$p") / 1e3)}%.0f rows/s").mkString(", ") +
      f"; trigger p50 ${Stats.median(trig)}%.0f ms over ${trig.size} micro-batches")
    val ok = runs.flatMap(_.secs)
    Outcome(runs.size + checks, runs.count(_.secs.isEmpty) + failedChecks, Seq(
      ("throughput_per_s", ok.size / ok.sum, "1/s"),
      ("p50_ms", Stats.median(ms), "ms"),
      ("p90_ms", Stats.percentile(ms, 90), "ms"),
      ("geomean_ms", Stats.geomean(ms), "ms"),
      ("class_a_p50_ms", classP50(stream = false), "ms"),
      ("class_b_p50_ms", classP50(stream = true), "ms")), runs.map(_.heapMb).max)
  }

  def traced(st: State, ctx: Ctx): Outcome = {
    val ord = order(st, ctx)
    val probe = new SparkProbe(st.spark)
    val u0 = System.nanoTime()
    val plain = pass(st, ctx, ord)
    val untracedNs = System.nanoTime() - u0

    val tr = new Tracer(true)
    val windows = ArrayBuffer.empty[(Long, Long)]
    // GC inside the operations only: the full collections between them
    // that sample the heap are the benchmark's own
    var gcMs, gcCount = 0L
    val t0 = System.nanoTime()
    val traced = pass(st, ctx, ord, (op, f) => {
      tr.op = windows.size
      val gc0 = (JvmProbe.gcMs, JvmProbe.gcCount)
      val w0 = System.nanoTime()
      val name = if (isStream(op)) s"streaming.drain_${op.stripPrefix("stream_")}"
        else s"operators.${prefix(op)}"
      try tr.span(name)(f)
      finally {
        windows += ((w0, System.nanoTime()))
        gcMs += JvmProbe.gcMs - gc0._1
        gcCount += JvmProbe.gcCount - gc0._2
      }
    })
    val tracedNs = System.nanoTime() - t0
    val jvm = Seq(("jvm.gc_ms", gcMs.toDouble, "ms"), ("jvm.gc_count", gcCount.toDouble, "count"))
    val jobs = probe.jobsIn(t0, t0 + tracedNs)
    PerLayer.addJobSpans(tr, jobs)
    val gapMs = windows.map { case (a, b) =>
      Stats.gapLength(a, b, jobs.map(j => (j.startNs, j.endNs)))
    }.sum / 1e6
    val planMs = probe.planMsIn(t0, t0 + tracedNs)
    probe.stop()
    tr.dump(ctx.workDir.getParent.resolve("traces").resolve("catalog_batch.jsonl"))

    val module = PerLayer.queryModule.toMap
    val byModule = plain.collect { case Run(op, Some(s), _, _) if !isStream(op) =>
      module(prefix(op)) -> s }
      .groupBy(_._1).map { case (m, xs) => (s"operators.${m}_s", xs.map(_._2).sum, "s") }
    val runs = plain ++ traced
    val (checks, failedChecks) = checkErrors(st, ctx, runs)
    Outcome(runs.size + checks, runs.count(_.secs.isEmpty) + failedChecks,
      PerLayer.spark(jobs, tracedNs, ctx.cores, planMs, gapMs) ++ byModule ++ jvm ++
        Streams.metrics(traced.flatMap(_.drain)) ++ PerLayer.selfTimes(tr.all) ++ Seq(
        ("core.table_load_ms", st.tableLoadMs, "ms"),
        ("trace.overhead_ratio", tracedNs.toDouble / untracedNs - 1, "ratio")))
  }

  def close(st: State): Unit = Option(st.staged).foreach(Streams.deleteTree)

  def pin(st: State, ctx: Ctx): Unit = st.queries.foreach(n =>
    ctx.check(n, Digest.rows(SparkEntry.queries(n)(st.spark, ctx.dataDir).collect().toSeq)))
}
