package graft

import graft.core.Q
import graft.operators.{Analytics, ApiQueries, AsOf, CsvQueries, Events, ForecastQueries, IntentQueries, Kpi, Layout, MediaQueries, Pipeline, Quantiles, Relational, ScalePatterns, Similarity, TextCuration, TrainPrep}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers here as a named query; entries with an
  * oracle participate in the driver's DuckDB differential correctness gate.
  */
object SparkEntry {

  /** The full query catalog. Extend this list as modules land. */
  def catalog: Seq[Q] =
    Relational.all ++ Events.all ++ Pipeline.all ++ Similarity.all ++
      IntentQueries.all ++ ForecastQueries.all ++ Kpi.all ++ ApiQueries.all ++
      CsvQueries.all ++ MediaQueries.all ++ ScalePatterns.all ++
      TrainPrep.all ++ AsOf.all ++ TextCuration.all ++ Analytics.all ++
      Layout.all ++ Quantiles.all ++ graft.operators.Hnsw.all ++
      graft.operators.Bpe.all ++ graft.streaming.StreamParity.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary.plan(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.plan).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap

  /** Query names, sorted, picked by a `SPARK_GRAFT_ONLY` value: a comma
    * list of exact `qNN` prefixes (`q17` picks `q17_qoq_delta`, not
    * `q170_*`). `None` picks the whole catalog. A typo'd entry fails
    * loudly, naming itself, instead of running an empty subset.
    */
  def select(only: Option[String]): Seq[String] = {
    val all = queries.keys.toSeq.sorted
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case None => all
      case Some(keys) =>
        val unknown = keys -- all.map(prefix)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY entries matched no query: ${unknown.toSeq.sorted.mkString(",")}")
        all.filter(n => keys.contains(prefix(n)))
    }
  }

  private def prefix(name: String): String = name.takeWhile(_ != '_')

  /** Runs `body` for catalog query `name` under Spark job group `name`,
    * then releases only the RDDs it persisted: each run rebuilds its own
    * localCheckpoint blocks, and letting them accumulate across the
    * catalog puts storage-memory pressure on later queries (q34 measured
    * 20 s alone vs 33 s after q31/q33's checkpoints piled up at sf1).
    * RDDs persisted before it stay, since a locally-checkpointed RDD's
    * truncated lineage cannot be recomputed.
    */
  def scoped[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val preExisting = sc.getPersistentRDDs.keySet
    sc.setJobGroup(name, name)
    try body
    finally {
      sc.clearJobGroup()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!preExisting.contains(id)) rdd.unpersist(false)
      }
    }
  }
}
