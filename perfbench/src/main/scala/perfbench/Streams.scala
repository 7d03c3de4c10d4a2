package perfbench

import graft.core.Tables
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

/** One drain of one pipeline: rows and micro-batches seen, wall time from
  * start to the last batch, and the digest of the stream's final result.
  */
final case class Drain(pipeline: String, rows: Long, wallNs: Long,
    progress: Seq[StreamingQueryProgress], digest: String) {
  def triggerMs: Seq[Double] = progress.flatMap(p =>
    Option(p.durationMs.get("triggerExecution")).map(_.doubleValue))
}

/** The streaming operations: the events, staged as parquet files in
  * event-time order, pushed through a file-source stream at one micro-batch
  * per file. `hourly` is `EventStreams.hourlyCounts` (windowed aggregation:
  * few state keys, many updates); `session` is `EventStreams.sessionize`
  * (per-user custom state: many keys). The two use the state store in
  * opposite ways, so a state-store change that helps one and hurts the
  * other shows.
  */
object Streams {

  val StagedFiles = 4
  val pipelines = Seq("hourly", "session")

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Writes the events as `StagedFiles` parquet files of consecutive
    * event-id ranges, with increasing modification times so the file source
    * reads them in event-time order. Returns the number of rows staged.
    */
  def stage(spark: SparkSession, dataDir: String, out: Path): Long = {
    val ev = Tables.events(spark, dataDir)
    val written = out.resolve("written")
    ev.repartitionByRange(StagedFiles, col("event_id")).write.parquet(written.toString)
    val parts = written.toFile.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == StagedFiles, s"staged ${parts.length} files, not $StagedFiles")
    val base = System.currentTimeMillis() - 3600000L
    parts.zipWithIndex.foreach { case (f, i) =>
      val target = out.resolve(f"events-$i%02d.parquet")
      Files.move(f.toPath, target)
      target.toFile.setLastModified(base + i * 1000L)
    }
    deleteTree(written)
    spark.read.parquet(out.toString).count()
  }

  def deleteTree(p: Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(p.toFile)
  }

  private def transform(spark: SparkSession, src: DataFrame, pipeline: String): DataFrame = {
    import spark.implicits._
    pipeline match {
      case "hourly" => EventStreams.hourlyCounts(src)
      case _ => EventStreams.sessionize(src.select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("tms")).as[EventStreams.Ev]).toDF()
    }
  }

  private def keyOf(pipeline: String, r: Row): String =
    if (pipeline == "hourly") s"${r.get(0)}|${r.get(1)}" else r.get(0).toString

  private val checkpoints = new AtomicInteger()

  /** Drains `staged` through `pipeline`. The sink collects each
    * micro-batch's updated rows to the driver, as a consumer of the stream
    * would, and keeps each key's last row: the stream's final result.
    */
  def drain(spark: SparkSession, workDir: Path, staged: Path, pipeline: String): Drain = {
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
    val ck = workDir.resolve(s"checkpoint-${checkpoints.incrementAndGet()}")
    val last = scala.collection.mutable.Map.empty[String, Row]
    val q = transform(spark, src, pipeline).writeStream.outputMode("update")
      .option("checkpointLocation", ck.toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => last(keyOf(pipeline, r)) = r)
      }.start()
    val t0 = System.nanoTime()
    try q.processAllAvailable()
    finally q.stop()
    val wall = System.nanoTime() - t0
    deleteTree(ck)
    val prog = q.recentProgress.filter(_.numInputRows > 0).toSeq
    Drain(pipeline, prog.map(_.numInputRows).sum, wall, prog, Digest.rows(last.values.toSeq))
  }

  /** Digest of `pipeline` run as one batch job over the staged files. */
  def batchDigest(spark: SparkSession, staged: Path, pipeline: String): String =
    Digest.rows(transform(spark, spark.read.schema(schema).parquet(staged.toString), pipeline)
      .collect().toSeq)

  /** What is wrong with a drain: rows lost, batches merged, or a final
    * result other than the batch plan's.
    */
  def errors(d: Drain, rows: Long, batch: String): Seq[String] = Seq(
    Option.when(d.rows != rows)(s"drained ${d.rows} of $rows rows"),
    Option.when(d.progress.size != StagedFiles)(
      s"${d.progress.size} micro-batches for $StagedFiles files"),
    Option.when(d.digest != batch)("final result differs from the batch plan")
  ).flatten.map(e => s"${d.pipeline}: $e")

  /** streaming.* per-layer metrics over `ds`, from Spark's progress reports. */
  def metrics(ds: Seq[Drain]): Seq[(String, Double, String)] = {
    val prog = ds.flatMap(_.progress)
    def dur(k: String) = prog.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)).sum
    val lastState = ds.flatMap(_.progress.lastOption).flatMap(_.stateOperators)
    Seq(
      ("streaming.batches", prog.size.toDouble, "count"),
      ("streaming.add_batch_ms", dur("addBatch"), "ms"),
      ("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      ("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      ("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
      ("streaming.state_rows", lastState.map(_.numRowsTotal).sum.toDouble, "count"),
      ("streaming.state_commit_ms", prog.flatMap(_.stateOperators).map(_.commitTimeMs).sum.toDouble, "ms"),
      ("streaming.state_mem_kb", lastState.map(_.memoryUsedBytes).sum / 1024.0, "KB"))
  }

  def stagedDir(workDir: Path): Path = {
    val p = workDir.resolve("staged")
    Files.createDirectories(p)
    p
  }
}
