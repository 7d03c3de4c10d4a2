package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Scale note: every query takes the scale-factor directory as a parameter and
  * reads parquet directly, so Catalyst sees the file scan and can push filters
  * and prune columns into the parquet reader. Nothing is collected to the
  * driver at load time; at 100 TB each of these becomes a multi-thousand-split
  * distributed scan.
  */
object Tables {
  // Memoized per (session, dir, table): a DataFrame is an immutable logical
  // plan, and re-creating it re-lists files and re-reads parquet footers —
  // measurable overhead across a 60+-query catalog run. identityHashCode
  // is NOT unique, so each entry carries its session and a hit validates
  // with `eq` (a colliding new session recomputes and overwrites rather
  // than executing another session's plan); BOUNDED because cached frames
  // strongly retain their sessions — in a many-session service the cache
  // resets past the cap rather than pinning stopped sessions forever (a
  // re-read parquet footer is cheap; a leaked session isn't).
  private val plans = scala.collection.concurrent.TrieMap
    .empty[(Int, String, String), (SparkSession, DataFrame)]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val k = (System.identityHashCode(spark), dir, name)
    plans.get(k) match {
      case Some((s, df)) if s eq spark => df
      case _ =>
        // cap check only on the miss path: TrieMap.size is O(n) and the
        // hit path runs several times per catalog query
        if (plans.size > 512) plans.clear()
        val df = spark.read.parquet(s"$dir/$name.parquet")
        plans.put(k, (spark, df))
        df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** `events.parquet` stores `ts` as parquet TIMESTAMP(NANOS), which Spark 4
    * rejects by default (PARQUET_TYPE_ILLEGAL). The session must opt into
    * the legacy nanos-as-long read (every session builder sets it; this
    * loader checks it and never changes a running session's conf). We
    * rebuild a proper TimestampType column via exact integer division
    * (`DIV 1000`, never `/` — double division loses precision above 2^53,
    * and epoch-nanos is ~1.7e18).
    *
    * Files written by OTHER engines (DuckDB, older writers) carry
    * TIMESTAMP(MICROS) without timezone, which Spark reads as
    * TIMESTAMP_NTZ — rejected by instant functions like `unix_millis`.
    * The session timezone is pinned to UTC everywhere, so the NTZ
    * wall-clock IS the instant: normalize it to TimestampType so every
    * events consumer sees one type regardless of who wrote the file.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    require(s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false").toBoolean,
      "events.parquet needs spark.sql.legacy.parquet.nanosAsLong=true in the session conf")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _        => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
