package graft

import graft.operators.{Pipeline, Relational, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.functions._

/** Physical/logical plan assertions — the scale properties the code
  * comments claim, checked mechanically so regressions fail the build.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("q02: all predicates push into the parquet scan; columns pruned") {
    val plan = Relational.q02FilterPushdown.plan(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert(plan.contains("EqualTo(o_orderstatus,O)"))
    assert(plan.contains("In(o_orderpriority"))
    // pruned read schema: o_comment etc. absent
    assert(!plan.contains("o_comment"))
  }

  test("q12: no forced broadcast hint — AQE owns the join strategy") {
    val df = Relational.q12TopBrands.plan(spark, dir)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"unexpected hints: $hints")
    assert(df.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan"))
  }

  test("near-dup/similarity plans never contain an all-pairs product") {
    Seq(
      Pipeline.q31DedupMinhash.plan(spark, dir),
      Pipeline.q33NgramJaccard.plan(spark, dir),
      Pipeline.q152FuzzyJoin.plan(spark, dir),
      Similarity.q41AnnLsh.plan(spark, dir),
    ).foreach { df =>
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct"), plan.take(400))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
    }
  }

  test("q105 range join is a bucket equi-join, not a nested-loop product") {
    val plan = executedPlan(graft.operators.Analytics.q105RangeJoin.plan(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    // the only nested-loop allowed is the broadcast of the 1-row t0 bound;
    // the events-windows join itself must key on the bucket
    assert(plan.contains("bucket"), plan.take(400))
    val evWinJoin = plan.linesIterator.filter(l =>
      l.contains("Join") && l.contains("bucket"))
    assert(evWinJoin.nonEmpty, plan.take(800))
  }

  test("q29 funnel joins on (user_id, hour bucket), never user alone") {
    val plan = executedPlan(graft.operators.Events.q29EventFunnel.plan(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    val joins = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.nonEmpty, plan.take(800))
    assert(joins.forall(l => l.contains("user_id") && l.contains("hb")),
      "funnel join must key on the hour bucket too:\n" + joins.mkString("\n"))
  }

  test("q100 packing parallelism follows the bucket-digit parameter") {
    val docs = graft.core.Tables.documents(spark, dir)
    val p = graft.operators.TrainPrep.packSequences(docs)
    // the cumsum window partitions by bucket → one sort task per bucket,
    // never a global single-partition window
    val plan = executedPlan(p)
    assert(plan.linesIterator.exists(l =>
      l.contains("Window") && l.contains("bucket")), plan.take(800))
    val n1 = graft.operators.TrainPrep.packSequences(docs, bucketDigits = 1)
      .select("bucket").distinct().count()
    assert(n1 === 16L)
    val n2 = p.select("bucket").distinct().count() // default 2 digits = 256-way
    assert(n2 > 16L && n2 <= 256L)
    val n3 = graft.operators.TrainPrep.packSequences(docs, bucketDigits = 3)
      .select("bucket").distinct().count()
    assert(n3 > n2, s"parallelism must scale with digits: $n1/$n2/$n3")
    intercept[IllegalArgumentException] {
      graft.operators.TrainPrep.packSequences(docs, bucketDigits = 6)
    }
  }

  test("q107/q48 grouping sets expand over a pre-aggregate, not fact rows") {
    Seq(
      graft.operators.Analytics.q107Cube.plan(spark, dir),
      graft.operators.ScalePatterns.q48Rollup.plan(spark, dir)
    ).foreach { df =>
      val plan = executedPlan(df)
      val lines = plan.linesIterator.toVector
      val ix = lines.indexWhere(_.contains("Expand"))
      assert(ix >= 0, plan.take(600))
      // below the Expand an aggregate must appear before any parquet scan:
      // the grouping-set multiplication runs over the collapsed finest
      // grouping, never over raw fact rows
      val below = lines.drop(ix + 1)
      val aggIx = below.indexWhere(_.contains("HashAggregate"))
      val scanIx = below.indexWhere(_.contains("Scan parquet"))
      assert(aggIx >= 0 && (scanIx < 0 || aggIx < scanIx),
        s"Expand must consume a pre-aggregate, not the scan:\n${plan.take(1200)}")
    }
  }

  test("q44/q98 sketch-family aggs never plan Expand; q165 is one scan") {
    // countDistinct mixed with other aggregates in one agg() plans the
    // Expand rewrite, whose first phase keys on (group, value, gid) and —
    // for q44 — allocates the ~4 KB HLL buffer per distinct key (measured
    // 2× the runtime at sf0.1, and an N×'d shuffle at 100 TB). Both
    // queries were reshaped to dedupe/branch first; pin it.
    Seq(graft.operators.ScalePatterns.q44ApproxDistinct,
      graft.operators.ScalePatterns.q98Profile).foreach { q =>
      val plan = executedPlan(q.plan(spark, dir))
      assert(!plan.contains("Expand"), s"${q.name} plans Expand:\n${plan.take(800)}")
    }
    // q165: all three pair rows derive from ONE scan subtree (the
    // per-user flag frame feeds both the exact overlaps and the HLL
    // sketches in a single global agg); a per-pair union would re-plant
    // the subtree (observed on the old two-agg shape: 6 scans). Count on
    // the optimized LOGICAL plan — the executed AQE string prints
    // initial+final plans and double-counts.
    val p165 = graft.operators.ScalePatterns.q165AudienceOverlap.plan(spark, dir)
    val scans = p165.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.size == 1, s"q165 expected 1 scan, got ${scans.size}")
  }

  test("q159 SCD2 plans no window and no Expand; q13 joins selectivity-first") {
    // q159: interval closure and the per-key dedup both live INSIDE the
    // version array (scd2Closed), so the plan must contain neither the
    // key-partitioned Window sort nor the countDistinct Expand the
    // rows-then-window form needed.
    val p159 = executedPlan(graft.operators.ScalePatterns.q159Scd2Build.plan(spark, dir))
    assert(!p159.contains("Window"), s"q159 plans a Window:\n${p159.take(800)}")
    assert(!p159.contains("Expand"), s"q159 plans Expand:\n${p159.take(800)}")
    // q13: the custkey join reduces orders BEFORE the fact join — the
    // lineitem scan must never sit under the custkey join's subtree
    // (fact-side-first would re-shuffle every joined lineitem row on
    // custkey before the region filter applies).
    // (the join FORM — q13's default path is the dense map, pinned below)
    val p13 = graft.operators.Relational.q13JoinForm(spark, dir)
    val custJoins = p13.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "c_custkey")) => j
    }
    assert(custJoins.nonEmpty, "q13 lost its custkey join")
    custJoins.foreach { j =>
      val scansUnder = j.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if l.relation.schema.fieldNames.contains("l_extendedprice") => l
      }
      assert(scansUnder.isEmpty,
        "q13 custkey join consumes the lineitem fact — selectivity-first order lost")
    }
  }

  test("SF-scaling dimension hints are statistics-gated (q13/q125/q157)") {
    // A forced broadcast() is never demoted by AQE, so a hint on an
    // SF-scaling table (customer/supplier) must disappear once the scan
    // outgrows the cap — else the query OOMs at 100× instead of
    // degrading to a shuffle join. Hints on these tables are recognized
    // by their output attributes; nation's constant 25-row hints are
    // exempt and must survive.
    def scalingHints(df: DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.output.exists(a =>
          a.name == "c_custkey" || a.name == "s_suppkey" ||
            a.name == "o_orderkey") => h
      }
    // the join FORMS: these are the shapes that run past the dense-map
    // cap, where the broadcast-hint gate is what protects 100× scale
    def frames() = Seq(
      "q13" -> Relational.q13JoinForm(spark, dir),
      "q125" -> graft.operators.Analytics.q125Daily(spark, dir),
      "q157" -> graft.operators.Analytics.q157Edges(spark, dir))
    // sf0.001: customer/supplier scans are dimension-sized → hint present
    frames().foreach { case (q, df) =>
      assert(scalingHints(df).nonEmpty, s"$q lost its dimension-sized hint")
    }
    // plant an over-threshold dimension (cap 1 byte): every SF-scaling
    // hint must vanish while results stay identical. The dense-map cap is
    // planted too, so q157 really exercises the shuffled JOIN form (with
    // only the hint cap planted the dense path would still short-circuit
    // the comparison).
    val base157 = graft.operators.Analytics.q157NationPagerank
      .plan(spark, dir).collect().map(_.toString).sorted
    spark.conf.set(graft.core.Hints.CapConf, "1")
    spark.conf.set(graft.core.DenseKeyMap.CapConf, "1")
    try {
      frames().foreach { case (q, df) =>
        assert(scalingHints(df).isEmpty,
          s"$q still forces a broadcast on an over-cap dimension")
      }
      val shuffled157 = graft.operators.Analytics.q157NationPagerank
        .plan(spark, dir).collect().map(_.toString).sorted
      assert(shuffled157.sameElements(base157),
        "q157 results diverge between hinted and shuffled join shapes")
    } finally {
      spark.conf.set(graft.core.Hints.CapConf,
        graft.core.Hints.DefaultCapBytes.toString)
      spark.conf.unset(graft.core.DenseKeyMap.CapConf)
    }
    // the helper itself, on a frame with honest over-cap statistics
    // (Range reports 8 bytes/row): no hint at 1 GiB, hint at 80 bytes
    val big = spark.range(1L << 27).toDF("k")
    val small = spark.range(10).toDF("k")
    assert(graft.core.Hints.broadcastIfDimSized(big, big)
      .queryExecution.analyzed.collect { case h: ResolvedHint => h }.isEmpty)
    assert(graft.core.Hints.broadcastIfDimSized(small, small)
      .queryExecution.analyzed.collect { case h: ResolvedHint => h }.nonEmpty)
  }

  test("q157's dense-map edge path is join-free over the fact and cap-gated") {
    // default cap: the dense path is active and its plan touches ONLY
    // lineitem + nation — orders/customer/supplier exist solely as the
    // byte-array maps, so no join (hash, SMJ or broadcast) ever consumes
    // the fact side
    val dense = graft.operators.Analytics.q157EdgesDense(spark, dir)
    assert(dense.nonEmpty, "dense-map path inactive at sf0.001")
    val scanned = dense.get.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.schema.fieldNames.toSet
    }
    assert(scanned.forall(f =>
      f.contains("l_orderkey") || f.contains("n_nationkey")),
      s"dense path scans more than lineitem+nation: $scanned")
    assert(!scanned.exists(_.contains("o_orderkey")),
      "dense path still scans orders")
    // q13's dense path compiles region→nation→customer into the orderkey
    // array: only lineitem + the nation/region name lookups remain
    val dense13 = graft.operators.Relational.q13Dense(spark, dir)
    assert(dense13.nonEmpty, "q13 dense-map path inactive at sf0.001")
    val scanned13 = dense13.get.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.schema.fieldNames.toSet
    }
    assert(!scanned13.exists(f =>
      f.contains("o_orderkey") || f.contains("c_custkey")),
      "q13 dense path still scans orders/customer")
    assert(graft.operators.Analytics.q125DailyDense(spark, dir).nonEmpty,
      "q125 dense-map path inactive at sf0.001")
    // dense vs fallback: plant a 1-byte cap — every dense build must
    // refuse (gate 1, before any collect), every query must fall back to
    // its join form, and the rows must be identical
    val queries = Seq(
      graft.operators.Analytics.q157NationPagerank,
      graft.operators.Relational.q13RegionRevenue,
      graft.operators.Analytics.q125GapFill)
    val bases = queries.map(q =>
      q.plan(spark, dir).collect().map(_.toString).sorted)
    spark.conf.set(graft.core.DenseKeyMap.CapConf, "1")
    try {
      assert(graft.operators.Analytics.q157EdgesDense(spark, dir).isEmpty,
        "q157 dense map ignored its cap")
      assert(graft.operators.Relational.q13Dense(spark, dir).isEmpty,
        "q13 dense map ignored its cap")
      assert(graft.operators.Analytics.q125DailyDense(spark, dir).isEmpty,
        "q125 dense map ignored its cap")
      queries.zip(bases).foreach { case (q, base) =>
        val fb = q.plan(spark, dir).collect().map(_.toString).sorted
        assert(fb.sameElements(base),
          s"${q.name} results diverge between dense-map and join shapes")
      }
    } finally spark.conf.unset(graft.core.DenseKeyMap.CapConf)
  }

  test("q113 bloom prefilter runs map-side, below the exact-refine join") {
    val df = graft.operators.TrainPrep.q113BloomDecontaminate.plan(spark, dir)
    val plan = executedPlan(df)
    val lines = plan.linesIterator.toVector
    val joinIx = lines.indexWhere(l =>
      l.contains("Join") || l.contains("HashJoin"))
    val bloomIx = lines.indexWhere(_.contains("might_contain"))
    assert(bloomIx >= 0, plan.take(800))
    // the filter prunes the corpus gram stream BEFORE the join (deeper in
    // the printed tree = after the join line)
    assert(joinIx >= 0 && bloomIx > joinIx,
      s"might_contain must be below the join:\n${plan.take(1200)}")
  }

  test("q121 winsorization never plans an exact Percentile aggregate") {
    // the full query: its sketch pass is a collected frame and its cells
    // are localCheckpointed, so assert the sketch's own plan (where the
    // sketch lives), the cell pipeline's plan AND the final plan
    import graft.operators.{Quantiles, TextCuration}
    val li = graft.core.Tables.lineitem(spark, dir)
    val v = Quantiles.nullsLast(col("l_extendedprice"))
    val sketchPlan = executedPlan(Quantiles.sketch(li, v, Nil, TextCuration.WinsorProbes))
    // the only percentile anywhere is the mergeable sketch; the exact
    // single-buffer `percentile` (O(distinct) map merged into ONE task)
    // must never consume the scan
    assert(!sketchPlan.replace("approx_percentile", "").contains("percentile("),
      s"exact percentile aggregate found:\n${sketchPlan.take(1200)}")
    assert(sketchPlan.contains("approx_percentile"), sketchPlan.take(600))
    val br = Quantiles.brackets(li, v, Nil, TextCuration.WinsorProbes)
    val cellsPlan = executedPlan(Quantiles.cells(li, col("l_extendedprice"), Nil,
      Seq("l_returnflag"), br.view.mapValues(_.bands(2)).toMap, Nil))
    assert(!cellsPlan.replace("approx_percentile", "").contains("percentile("),
      s"exact percentile aggregate found:\n${cellsPlan.take(1200)}")
    val full = executedPlan(TextCuration.q121Winsorize.plan(spark, dir))
    assert(!full.replace("approx_percentile", "").contains("percentile("),
      s"exact percentile aggregate found:\n${full.take(1200)}")
  }

  test("q122 per-group bounds plan: grouped sketch, no exact Percentile, grouped window") {
    import graft.operators.{Quantiles, TextCuration}
    val li = graft.core.Tables.lineitem(spark, dir)
    val v = col("l_extendedprice")
    val keys = Seq("l_returnflag")
    val sketchPlan = executedPlan(Quantiles.sketch(li, v, keys, TextCuration.WinsorProbes))
    assert(sketchPlan.contains("approx_percentile"), sketchPlan.take(600))
    assert(!sketchPlan.replace("approx_percentile", "").contains("percentile("),
      s"exact percentile aggregate found:\n${sketchPlan.take(1200)}")
    val br = Quantiles.brackets(li, v, keys, TextCuration.WinsorProbes)
    val cellsDf = Quantiles.cells(li, v, keys, keys, br.view.mapValues(_.bands(2)).toMap, Nil)
    val cellsPlan = executedPlan(cellsDf)
    assert(!cellsPlan.replace("approx_percentile", "").contains("percentile("),
      s"exact percentile aggregate found:\n${cellsPlan.take(1200)}")
    // the bounds window partitions BY GROUP — parallel across keys, never
    // a single global ordering
    val bounds = TextCuration.winsorBounds(cellsDf, keys, br)
    val bPlan = executedPlan(bounds)
    assert(bPlan.contains("Window"), bPlan.take(800))
    assert(bPlan.linesIterator.exists(l =>
      l.contains("Window") && l.contains("l_returnflag")),
      s"window must partition by the group key:\n${bPlan.take(1200)}")
  }

  test("q101 repetition metrics plan is shuffle-free") {
    val df = graft.operators.TextCuration.q101RepMetrics.plan(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(600))
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    val ord = graft.core.Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice", "o_custkey")
    ord.write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_ord_bucketed")
    ord.groupBy("o_custkey").count()
      .write.mode("overwrite").bucketBy(8, "o_custkey")
      .saveAsTable("graft_cnt_bucketed")
    val joined = spark.table("graft_ord_bucketed")
      .join(spark.table("graft_cnt_bucketed"), "o_custkey")
    val plan = executedPlan(joined)
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed join should not shuffle:\n" + plan.take(800))
    spark.sql("DROP TABLE graft_ord_bucketed")
    spark.sql("DROP TABLE graft_cnt_bucketed")
  }

  test("q42 IVF codebook is scale-invariant and planned as a bounded top-k") {
    import spark.implicits._
    // size is k regardless of corpus size: 64 at both 200 and 2000 vectors
    def corpus(n: Int) = (0 until n)
      .map(i => (i.toLong, Array.fill(4)(i.toFloat + 1)))
      .toDF("vec_id", "embedding")
    assert(Similarity.ivfCodebook(corpus(200), 64).count() === 64)
    assert(Similarity.ivfCodebook(corpus(2000), 64).count() === 64)
    // deterministic: the same corpus always yields the same codebook
    val a = Similarity.ivfCodebook(corpus(200), 64)
      .select("cent_id").collect().map(_.getLong(0)).toSet
    val b = Similarity.ivfCodebook(corpus(200), 64)
      .select("cent_id").collect().map(_.getLong(0)).toSet
    assert(a === b && a.size === 64)
    // physical plan: TakeOrderedAndProject (distributed partial top-k),
    // never a global Sort of the corpus
    val plan = Similarity.ivfCodebook(
      graft.core.Tables.embeddings(spark, dir), 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
  }

  test("q91/q92: decontamination joins on the gram key; split scan prunes columns") {
    val decon = graft.operators.TrainPrep.q91Decontaminate.plan(spark, dir)
    val dplan = executedPlan(decon)
    assert(!dplan.contains("CartesianProduct"), dplan.take(400))
    assert(!dplan.contains("BroadcastNestedLoopJoin"), dplan.take(400))
    val split = graft.operators.TrainPrep.q92TrainSplit.plan(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the split summary must read only (doc_id, n_chars) — not text
    assert(!split.contains("text"), split.take(600))
  }

  test("q94: the lang filter becomes a partition filter, not a data filter") {
    val df = graft.operators.ScalePatterns.q94PartitionedScan.plan(spark, dir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan.take(600))
    assert(plan.replaceAll("\\s+", " ")
      .matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"), plan.take(900))
  }

  test("native CosineSim stays inside whole-stage codegen") {
    // must read from a file source: a local relation constant-folds before
    // codegen and proves nothing
    val df = graft.core.Tables.embeddings(spark, dir)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    val wscg = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wscg.nonEmpty, df.queryExecution.executedPlan.toString)
    // self-cosine is exactly 1 for any non-zero vector
    assert(df.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("q130 bucketed join: neither input shuffles on the join key") {
    // force the sort-merge path (at sf0.001 AQE would broadcast the tiny
    // dimension side and prove nothing about bucketing)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (liT, ordT) = graft.operators.ScalePatterns.bucketedTables(spark, dir)
      val df = spark.table(liT)
        .join(spark.table(ordT), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1200))
      assert(!plan.contains("hashpartitioning(l_orderkey"), plan.take(1500))
      assert(!plan.contains("hashpartitioning(o_orderkey"), plan.take(1500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q45 salt count derives from observed skew: 1 on uniform keys") {
    val li = graft.core.Tables.lineitem(spark, dir)
    // TPC-H orderkeys are uniform (~4 rows each): no key overloads a
    // reducer, so the detector must choose the plain join (salt 1) and
    // the r8 always-8x dimension replication must not be paid
    assert(graft.operators.ScalePatterns.saltFor(li, "l_orderkey", 32) == 1)
  }

  test("q45 salt count splits a planted hot key; join stays correct") {
    import spark.implicits._
    // one key at ~20% of rows — the pathological shape AQE's 5x-median
    // heuristic may miss when a single partition fits but one task drags
    val rows = (1 to 2000).map(i => (999L, i)) ++
      (1 to 8000).map(i => (i.toLong % 1000, i))
    val fact = rows.toDF("k", "v")
    val salt =
      graft.operators.ScalePatterns.saltFor(fact, "k", 32, sampleFraction = 0.5)
    assert(salt > 1, s"planted 20% hot key should salt, got $salt")
    // semantics preserved for the derived salt — through the PRODUCTION
    // saltedJoin (full-row-hash salt), not a test-local reimplementation
    val dim = (0L to 1000L).map(k => (k, s"d$k")).toDF("k", "attr")
    val salted = graft.operators.ScalePatterns
      .saltedJoin(fact, dim, "k", "k", salt)
      .groupBy("attr").agg(count(lit(1)).as("n"))
    val plain = fact.join(dim, Seq("k"))
      .groupBy("attr").agg(count(lit(1)).as("n"))
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    // the hot key must actually SPLIT: its rows land on >1 salt value
    // (the l_linenumber%salt formulation capped the split at 7 regardless
    // of the derived count — a hash of the full row must not)
    val hotSalts = fact.filter(col("k") === 999L)
      .withColumn("salt", pmod(hash(fact.columns.map(col): _*), lit(salt)))
      .select("salt").distinct().count()
    assert(hotSalts > 1, s"hot key landed on $hotSalts salt value(s)")
  }

  test("q128 bin aggregate consumes the cells, never a third scan") {
    val df = graft.operators.Quantiles.q128QuantileBins.plan(spark, dir)
    df.collect()
    // cells are localCheckpointed: the executed plan of the final
    // aggregate must read from the checkpointed RDD scan, not parquet
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan parquet"), plan.take(1200))
  }

  test("q133 segment dedup picks keepers with an aggregate, never a window") {
    // a row_number window would buffer every copy of a hyper-duplicated
    // boilerplate segment in one task; min(struct) partial-aggregates
    val plan = executedPlan(Pipeline.q133SegmentDedup.plan(spark, dir))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("q132: occurrences pre-reduce before any shuffle; one shared gram stage") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // at test SF the frames are tiny and AQE would broadcast the dn side;
    // disable auto-broadcast so the plan takes the at-scale shuffled-join
    // shape the assertion is about — and plant a 1-byte dim cap so the
    // stats-gated map-side-scoring branch (VERDICT r10 #1, asserted
    // separately below) yields to the past-cap co-partitioned shape
    val restore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val baseline = graft.operators.TextCuration.q132LmPerplexity
      .plan(spark, dir).collect().map(_.toString).sorted
    spark.conf.set(graft.core.Hints.CapConf, "1")
    try {
      val df = graft.operators.TextCuration.q132LmPerplexity.plan(spark, dir)
      // past-cap results must match the gate-on baseline exactly
      assert(df.collect().map(_.toString).sorted.sameElements(baseline),
        "q132 results diverge between broadcast-scored and co-partitioned shapes")
      def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case q: QueryStageExec => flatten(q.plan)
        case _ => p.children.flatMap(flatten)
      })
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def isBigramGen(p: SparkPlan): Boolean =
        p.isInstanceOf[org.apache.spark.sql.execution.GenerateExec] &&
          p.toString.toLowerCase.contains("bigramfreq")
      // THE r8-driver-pathology guard, now structural: the bigram stream
      // is produced by the native BigramFreq walk, whose output is
      // already per-doc distinct counts — a RAW occurrence row (the shape
      // that drew 17-34 s Zipf stragglers on the r8 driver host and is a
      // full-corpus-token shuffle at 100 TB) never exists. Pin that the
      // interpreted zip_with chain hasn't crept back.
      assert(!flatten(plan).exists(p =>
        p.isInstanceOf[org.apache.spark.sql.execution.GenerateExec] &&
          p.toString.contains("zip_with")),
        "q132 re-grew the interpreted zip_with bigram chain:\n" +
          plan.toString.take(1600))
      val scoring = flatten(plan).collect {
        case j: BaseJoinExec if j.leftKeys.size == 2 => j
      }
      assert(scoring.nonEmpty, plan.toString.take(1200))
      // the (w1, w2) scoring join's streamed side sits directly on the ONE
      // pinned gram-keyed repartition (pre-reduction happens inside the
      // expression, so the old doc-keyed pre-agg exchange is gone) — a
      // second non-round-robin shuffle there means the biggest frame
      // recrossed the wire. (At test SF the width-1 gram repartition
      // degenerates to SinglePartition, so count every non-round-robin
      // exchange; round-robin is the allowed scan-parallelization
      // exchange.)
      val bgShuffles = scoring.map(j =>
        flatten(j.left).count {
          case s: ShuffleExchangeLike => !s.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]
          case _ => false
        })
      assert(bgShuffles.contains(1),
        s"bigram side of the scoring join should shuffle exactly once " +
          s"(the gram layout), saw $bgShuffles:\n" + plan.toString.take(1600))
      // ...and the past-cap plan walks the corpus exactly TWICE — once
      // into the scoring side's gram repartition, once into the model's
      // partial-agg groupBy (column pruning canonically splits the
      // branches, so a shared exchange would need a persisted gram cache;
      // the stateless double walk is the deliberate 100 TB trade). More
      // than two means a branch lost its partial agg or the vocab branch
      // started walking bigrams.
      val bigramExplodes = flatten(plan).count(isBigramGen)
      assert(bigramExplodes == 2,
        s"corpus bigrams walked $bigramExplodes times (want 2: scoring " +
          "repartition + model partial agg):\n" + plan.toString.take(1600))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", restore)
      spark.conf.set(graft.core.Hints.CapConf,
        graft.core.Hints.DefaultCapBytes.toString)
    }
    // gate ON (default cap, dim-sized corpus): the model side of the
    // scoring join carries a broadcast hint → map-side scoring, no gram
    // exchange on the doc-keyed stream (VERDICT r10 #1)
    val hinted = graft.operators.TextCuration.q132LmPerplexity
      .plan(spark, dir)
    val modelHints = hinted.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.output.exists(_.name == "c12") => h
    }
    assert(modelHints.nonEmpty,
      "q132 gate-on plan lost the broadcast hint on the bigram model")
  }

  test("q136 quality gate is pure map-side: zero exchanges in the plan") {
    val plan = executedPlan(
      graft.operators.TextCuration.q136QualityGate.plan(spark, dir))
    assert(!plan.contains("Exchange"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("q143 CDC chunking is pure map-side: zero exchanges in the plan") {
    val plan = executedPlan(Pipeline.q143CdcChunking.plan(spark, dir))
    assert(!plan.contains("Exchange"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("q134 group sample: phase-1 window is bounded by the input partition") {
    val plan = executedPlan(
      graft.operators.TrainPrep.q134GroupSample.plan(spark, dir))
    // two ranking passes...
    assert(plan.sliding("Window".length).count(_ == "Window") >= 2)
    // ...and the first is keyed by (source, spark_partition_id), so no
    // task ever sorts more than one partition's slice of one source
    assert(plan.contains("SPARK_PARTITION_ID") || plan.contains("pid"),
      plan.take(1200))
  }

  test("q156/q163 MAD: no exact Percentile; final agg reads cells, not raw") {
    Seq(
      graft.operators.Quantiles.q156MadOutliers.plan(spark, dir),
      graft.operators.Quantiles.q163GroupMadOutliers.plan(spark, dir),
    ).foreach { df =>
      val full = executedPlan(df)
      assert(!full.replace("approx_percentile", "").contains("percentile("),
        s"exact percentile aggregate found:\n${full.take(1200)}")
      // round 15: the sketch/median passes run as separate collected
      // actions (their scalars enter this plan as literals), and the
      // returned frame re-aggregates the checkpointed deviation CELLS —
      // it must not rescan the fact table a 5th time
      assert(full.contains("ExistingRDD"), full.take(800))
      assert(!full.contains("FileScan"),
        s"final aggregate rescans the fact table:\n${full.take(1200)}")
    }
  }

  test("q153 concurrency: every unpartitioned window consumes an aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = graft.operators.Events.q153SessionConcurrency.plan(spark, dir)
    val globals = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    // the cross-day carry is the ONLY global-ordered window, and its input
    // is the per-day aggregate (one row per day), never raw delta events
    assert(globals.nonEmpty, "expected the carry prefix-sum window")
    globals.foreach { w =>
      val aggBelow = w.child.collectFirst { case a: Aggregate => a }
      assert(aggBelow.nonEmpty,
        s"global window reads raw rows:\n${w.treeString.take(800)}")
    }
    // the in-day running sum stays partitioned
    val partitioned = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.nonEmpty => w
    }
    assert(partitioned.nonEmpty)
  }

  test("q150 retention: ONE user_id exchange, no per-user array buffer") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = graft.operators.Events.q150CohortRetention.plan(spark, dir)
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = flatten(plan).collect { case s: ShuffleExchangeLike => s }
    val byKeys = shuffles.map(_.outputPartitioning).collect {
      case h: HashPartitioning => h.expressions.map(_.sql).mkString(",")
    }
    // exactly the three claimed exchanges: the user_id repartition (the
    // only one proportional to events), the tiny (cohort_day, offset)
    // rollup, and the cohort_day window regroup — the distinct and the
    // first-seen window must RIDE the user_id layout, not re-shuffle
    assert(byKeys.count(_.contains("user_id")) == 1,
      s"user_id should cross the wire exactly once, saw $byKeys:\n" +
        plan.toString.take(1200))
    assert(shuffles.size == 3,
      s"expected 3 exchanges (user repartition + 2 tiny rollups), " +
        s"saw ${shuffles.size} [$byKeys]:\n" + plan.toString.take(1200))
    // the VERDICT r7 watch item stays fixed: no collect_set/collect_list
    // aggregation cell buffering a user's whole calendar
    assert(!plan.toString.contains("collect_set") &&
      !plan.toString.contains("collect_list"), plan.toString.take(800))
  }
}
