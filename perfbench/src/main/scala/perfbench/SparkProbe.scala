package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A Spark job as the listener saw it. Times are on the tracer's clock
  * (System.nanoTime), converted from the listener's wall-clock millis.
  */
final case class JobRec(startNs: Long, endNs: Long,
    stages: Int, tasks: Int, taskMs: Long, shuffleWriteB: Long,
    shuffleReadB: Long, spillB: Long, inputB: Long)

/** One planned action: when its planning ended and how long analysis,
  * optimization and physical planning took.
  */
final case class PlanRec(endNs: Long, planMs: Long)

/** Counts Spark work (jobs, stages, tasks, task time, bytes) and planning
  * time through a SparkListener and a QueryExecutionListener. Work is tied
  * to an operation by time: traced operations run one at a time, and the
  * facade's handler threads could not carry a job group set by a client.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  // wall-clock millis → nanoTime, fixed once so all records share a clock
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNs(ms: Long): Long = ms * 1000000L - offsetNs

  private final class Acc {
    var stages, tasks = 0
    var taskMs, shw, shr, spill, input = 0L
  }
  private val open = scala.collection.mutable.HashMap.empty[Int, (Long, Acc)]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val done = ArrayBuffer.empty[JobRec]
  private val plans = ArrayBuffer.empty[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open(e.jobId) = (toNs(e.time), new Acc)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(open.get).foreach(_._2.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); (_, a) <- open.get(j)) {
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.shw += m.shuffleWriteMetrics.bytesWritten
        a.shr += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (start, a) =>
      done += JobRec(start, toNs(e.time), a.stages, a.tasks,
        a.taskMs, a.shw, a.shr, a.spill, a.input)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) SparkProbe.this.synchronized {
        plans += PlanRec(toNs(phases.map(_.endTimeMs).max), phases.map(_.durationMs).sum)
      }
    }
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(planListener)

  /** Waits until the listeners have seen every event posted so far. */
  def settle(): Unit = org.apache.spark.BusAccess.drain(spark.sparkContext)

  def jobs: Seq[JobRec] = { settle(); synchronized(done.toList) }
  def planned: Seq[PlanRec] = { settle(); synchronized(plans.toList) }

  def jobsIn(t0: Long, t1: Long): Seq[JobRec] =
    jobs.filter(j => j.startNs >= t0 && j.startNs < t1)
  def planMsIn(t0: Long, t1: Long): Long =
    planned.filter(p => p.endNs >= t0 && p.endNs < t1).map(_.planMs).sum

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }
}

/** JVM-wide measurements: GC totals, and the old generation's occupancy
  * right after an explicit full collection. The benchmark reads the latter
  * at the end of set-up and at the end of the run; between operations it
  * would depend on which operation ran last, i.e. on the seeded order.
  */
object JvmProbe {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def gcCount: Long = gcs.map(_.getCollectionCount).filter(_ >= 0).sum
  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Old-generation MB after a full collection made now. Collects twice:
    * Spark's ContextCleaner frees the state of dead plans only after a GC
    * has cleared their references.
    */
  def oldGenMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    oldGen.map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}
