package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the physical plan for the named catalog queries
  * (or a few representative ones) so scan pushdown, join strategy, and
  * codegen spans can be inspected per round.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [query names...] [full|filtered]
  *
  * Without a mode it prints the static `explain("formatted")` plan. The
  * `full` and `filtered` modes EXECUTE each query first and print the
  * post-AQE final plan (isFinalPlan=true) — the static explain shows
  * pre-adaptive join strategies, which is misleading for anything AQE
  * converts at runtime; `filtered` keeps only the Exchange / Window /
  * Aggregate / Reused / Join / Scan / Sort lines. Execution drives the
  * plan root directly and counts rows on the executors; results never
  * materialize on the driver (a collect() would OOM on large-output
  * queries at sf1+).
  *
  * The session has Bench's shape (parquet aggregate pushdown, sort-based
  * shuffle writer), so the plans printed are the plans the bench grades.
  */
object Explain {
  private val Modes = Set("full", "filtered")
  private val Kept = Seq("Exchange", "Window", "Aggregate", "Reused", "Join",
    "Scan", "Sort")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val rest = args.drop(1).toSeq
    val mode = rest.find(Modes)
    val names = rest.filterNot(Modes) match {
      case Seq() => Seq("q02_filter_pushdown", "q12_top_brands",
        "q13_region_revenue", "q01_pricing_summary", "q18_window_rownum")
      case given => given
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // sort-based shuffle writer at any width — see Bench.scala's note
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          val df = fn(spark, sfDir)
          mode match {
            case None => df.explain("formatted")
            case Some(m) =>
              // toRdd goes through SQLExecution.withNewExecutionId — the
              // supported way to force the AQE final plan (a bare
              // executedPlan.execute() bypasses execution-id scoping and
              // breaks on command-result plan shapes)
              df.queryExecution.toRdd.count()
              val plan = df.queryExecution.executedPlan.toString
              if (m == "full") println(plan)
              else println(plan.linesIterator
                .filter(l => Kept.exists(l.contains)).mkString("\n"))
          }
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
