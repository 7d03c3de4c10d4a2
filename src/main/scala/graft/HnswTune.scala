package graft

import graft.Bench.r3
import graft.core.Session
import org.apache.spark.sql.functions._

/** EfClustered beam-tuning main (VERDICT r12 #3): measures q181's global
  * tie-tolerant recall and gate wall time at a sweep of clustered search
  * beams, post-diversity-heuristic. One JSON line per setting; the sweep
  * record is committed to bench/hnsw_efclustered_tune_sf<SF>.json so the
  * chosen [[graft.operators.Hnsw.EfClusteredDefault]] is evidence, not
  * taste.
  *
  * Usage: runMain graft.HnswTune <sfDir> [ef1,ef2,...] [warmDir]
  */
object HnswTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/bench/sf1")
    val efs = args.lift(1).getOrElse("96,192,400")
      .split(",").map(_.trim.toInt).toSeq
    val warmDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    val spark = Session.local()
    // one untimed pass at the TARGET sfDir before the sweep: the smoke-SF
    // warm-up compiles codegen but leaves the target's file cache cold, so
    // the FIRST swept ef paid the cold-read cost and its wall_s read high
    // vs later efs (ADVICE r13 — the committed sf1 record showed ef96
    // 26.2 s vs ef192 23.8 s purely from warm order). Paying one extra
    // target-SF pass makes wall_s comparable across the sweep.
    operators.Hnsw.clusteredHits(spark, warmDir).count()
    operators.Hnsw.clusteredHits(spark, sfDir).count()
    val lines = efs.map { ef =>
      spark.conf.set(operators.Hnsw.EfClusteredConf, ef.toString)
      val t0 = System.nanoTime()
      val hits = operators.Hnsw.clusteredHits(spark, sfDir)
        .toDF().localCheckpoint(true)
      val (_, rec) = operators.Hnsw.clusteredExactAndRecall(hits)
      val rows = rec.select(col("recall")).collect().map(_.getDouble(0))
      val wall = (System.nanoTime() - t0) / 1e9
      val line =
        s"""{"ef":$ef,"queries":${rows.length},"recall_min":${r3(rows.min)},""" +
          s""""recall_mean":${r3(rows.sum / rows.length)},""" +
          s""""floor":${operators.Hnsw.RecallFloor},""" +
          s""""pass":${rows.min >= operators.Hnsw.RecallFloor},""" +
          s""""wall_s":${r3(wall)}}"""
      println(line)
      line
    }
    val sfSuffix = sfDir.split("sf").last
    // the artifact is DECISION EVIDENCE (EfClusteredDefault cites it)
    Bench.writeArtifact(s"hnsw_efclustered_tune_sf$sfSuffix.json",
      lines.mkString("[", ",\n ", "]"))
    spark.stop()
  }
}
