package graft.core

import org.apache.spark.sql.SparkSession

/** The one local SparkSession recipe: every main and the test fixture
  * build their session here, so tests, the server and the bench all run
  * the plan and shuffle path the bench grades.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); Tables.events requires this
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Force the SORT-BASED shuffle writer (round 14, guide §2.1): below
      // this threshold Spark's bypass-merge writer opens ONE FILE PER
      // REDUCE PARTITION PER MAP TASK — at 32 shuffle partitions a
      // multi-stage catalog query performs hundreds of file opens +
      // compression-stream inits for kilobyte shuffles (driver-stack
      // sampling: DiskBlockObjectWriter.initialize was the single hottest
      // executor frame, ~30% of runnable samples; task CPU on the
      // order-statistics family halved with the sort writer — q163 20.8 →
      // 10.6 executor-s, q128 9.2 → 6.4). At production partition counts
      // (≫ 200) the bypass path never runs, so this also makes the local
      // code path the same one a 100 TB shuffle exercises.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // NOTE: no spark.speculation here. Spark's TaskSchedulerImpl.start()
      // never launches the speculation thread under a local[N] master, so
      // it is a no-op (ADVICE r8); on a real cluster master, enable it in
      // the submit conf instead.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
