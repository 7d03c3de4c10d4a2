package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** What a workload run produced: operations attempted and failed (a failure
  * is an error or an output that does not match its check), the metrics as
  * (name, value, unit), and the largest old-generation occupancy (MB) the
  * workload sampled itself, 0 if it sampled none.
  */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], heapMb: Double = 0)

/** Everything a workload needs from the command line. `pinned` maps a check
  * key to its expected digest; `observed` collects digests in pin mode.
  */
final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean,
    val dataDir: String, val workDir: Path,
    val cores: Int, val pinned: Map[String, String], val pinMode: Boolean) {

  val observed = scala.collection.concurrent.TrieMap.empty[String, String]

  /** None when `digest` is the pinned value for `key`, else the error. */
  def check(key: String, digest: String): Option[String] =
    if (pinMode) { observed(key) = digest; None }
    else pinned.get(key) match {
      case Some(d) if d == digest => None
      case Some(d) => Some(s"$key: digest $digest, pinned $d")
      case None    => Some(s"$key: no pinned digest")
    }

  def report(line: String): Unit = System.err.println(s"[perfbench] $line")
}

/** A workload: `prepare` builds its engine state on a fresh session and is
  * repeated to time set-up; `warmup` runs before any timing; `measure` is
  * the untraced run and `traced` the traced one.
  */
trait Workload {
  type State
  def conf: Seq[(String, String)]
  def prepare(spark: SparkSession, ctx: Ctx): State
  def warmup(st: State, ctx: Ctx): Unit
  def measure(st: State, ctx: Ctx): Outcome
  def traced(st: State, ctx: Ctx): Outcome
  /** Records the digest of every checked output (see `Ctx.check`). */
  def pin(st: State, ctx: Ctx): Unit
  def close(st: State): Unit
}

object Main {

  val workloads: Map[String, Workload] = Map(
    "serve_mix" -> ServeMix, "catalog_batch" -> CatalogBatch)

  private val PrepareRepeats = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.getOrElse(a("workload"),
      sys.error(s"unknown workload ${a("workload")}; known: ${workloads.keys.mkString(", ")}"))
    val name = a("workload")
    val pinnedFile = Paths.get(a("pinned"))
    val pinned = readPinned(pinnedFile).getOrElse(name, Map.empty)
    val ctx = new Ctx(a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("data"), Paths.get(a("work")),
      Runtime.getRuntime.availableProcessors(), pinned, a.get("pin").contains("1"))
    ctx.report(s"workload=$name seed=${ctx.seed} seconds=${ctx.seconds} " +
      s"trace=${ctx.trace} cores=${ctx.cores}")

    val spark = session(wl.conf, ctx)
    val bootS = JvmProbe.uptimeS
    // the workload's own set-up (facade start, table loads) is repeatable
    // on a fresh session; its median joins the one-off boot and warm-up
    val prepared = (1 to PrepareRepeats).map { _ =>
      val t0 = System.nanoTime()
      val st = wl.prepare(spark.newSession(), ctx)
      (st, (System.nanoTime() - t0) / 1e9)
    }
    prepared.init.foreach(p => wl.close(p._1))
    val st = prepared.last._1
    val prepS = Stats.median(prepared.map(_._2))
    val w0 = System.nanoTime()
    wl.warmup(st, ctx)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupHeapMb = JvmProbe.oldGenMb()
    val setupS = bootS + prepS + warmS
    ctx.report(f"setup: boot $bootS%.3f s, prepare ${prepared.map(_._2).mkString(" ")} s, warm-up $warmS%.3f s")

    if (ctx.pinMode) {
      wl.pin(st, ctx)
      writePinned(pinnedFile, name, ctx.observed.toMap)
      ctx.report(s"pinned ${ctx.observed.size} digests for $name in $pinnedFile")
      wl.close(st)
      spark.stop()
      return
    }
    val out = if (ctx.trace) wl.traced(st, ctx) else wl.measure(st, ctx)
    wl.close(st)
    val metrics =
      if (ctx.trace) PerLayer.complete(out.metrics)
      else Seq(("setup_s", setupS, "s"),
        ("heap_peak_mb", Seq(setupHeapMb, out.heapMb, JvmProbe.oldGenMb()).max, "MB")) ++
        out.metrics
    spark.stop()

    val fields = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":$fields}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** One local session per JVM, `local[cores]`, with every scratch path
    * inside the run's work directory.
    */
  private def session(conf: Seq[(String, String)], ctx: Ctx): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.workDir.resolve("warehouse").toString)
      .config(graft.operators.Hnsw.IndexDirConf, ctx.workDir.resolve("hnsw").toString)
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Pinned digests: one `workload<TAB>key<TAB>digest` line each. */
  private def readPinned(p: Path): Map[String, Map[String, String]] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split('\t')).collect { case Array(w, k, d) => (w, k, d) }
      .toSeq.groupBy(_._1).map { case (w, xs) => w -> xs.map(x => x._2 -> x._3).toMap }

  private def writePinned(p: Path, workload: String, digests: Map[String, String]): Unit = {
    val all = readPinned(p) + (workload -> digests)
    val lines = all.toSeq.sortBy(_._1).flatMap { case (w, m) =>
      m.toSeq.sorted.map { case (k, d) => s"$w\t$k\t$d" } }
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
