package graft.tools

import graft.api.AskAi
import graft.intent.SalesView
import org.apache.spark.sql.SparkSession

/** Scratch: dump stage/name/rows/digest per ui/prompts.txt prompt to pin
  * the golden end-to-end expectations. Not part of the library surface.
  */
object GoldenDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      // decode events.parquet's TIMESTAMP(NANOS) as Bench and Verify do
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sales = SalesView(spark, "/root/testdata/sf0.001")
    val prompts = scala.io.Source.fromFile("/root/reference/ui/prompts.txt")
      .getLines().toSeq
      .map(_.trim).filter(_.nonEmpty)
      .map(l => l.split("\" *-docs$").head.stripPrefix("\"").stripSuffix("\""))
    prompts.foreach { p =>
      AskAi.answerWithDiscovery(spark, p, sales) match {
        case Right(a) =>
          val rows = a.table.collect().map(_.toString).sorted
          val md = java.security.MessageDigest.getInstance("MD5")
          val dig = md.digest(rows.mkString("\n").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(12)
          val cols = a.table.columns.mkString(",")
          println(s"GOLD|${a.stage}|${a.name}|${rows.length}|$dig|$cols|$p")
        case Left(reason) =>
          println(s"GOLD|docs|$reason|0|-|-|$p")
      }
    }
    spark.stop()
  }
}
