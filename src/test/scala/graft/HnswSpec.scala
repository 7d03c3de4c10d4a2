package graft

import graft.operators.Hnsw
import org.apache.spark.sql.functions._

/** Contracts for the sharded HNSW index the q172–q174 gates rely on:
  * measured recall against an exact scan, incremental-insert parity with
  * a full rebuild, level-rule determinism, and partition invariance.
  */
class HnswSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("level rule is the integer geometric(1/4) the oracle mirrors") {
    // levelOf must equal the max L <= 8 with hash60 % 4^L == 0, computed
    // independently via BigInt arithmetic
    (0L until 500L).foreach { id =>
      val h = BigInt(Hnsw.hash60(id))
      val expected = (0 to Hnsw.LevelCap).takeWhile(l =>
        (h mod BigInt(4).pow(l)) == 0).last
      assert(Hnsw.levelOf(id) == expected, s"id=$id")
    }
    // the distribution actually spreads (not all level 0)
    assert((0L until 500L).count(Hnsw.levelOf(_) >= 1) > 50)
  }

  // Independent of ShardGraph's code: plain Scala doubles, Scala's own
  // BigDecimal rounding and an independent sort.
  private def naiveCos(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    dot / (na * nb)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Naive top-k ids of `q` over `vecs` in rounded (sim desc, vec_id) order. */
  private def naiveTopK(q: Array[Float], vecs: Seq[Hnsw.VecRow], k: Int) =
    vecs.map(v => (round6(naiveCos(q, v.embedding)), v.vec_id))
      .sortBy(t => (-t._1, t._2)).take(k).map(_._2)

  test("exactTopK matches an independently-coded naive cosine top-k") {
    // ADVICE r10: break the shared-code correlation between search and the
    // in-plan exact scan — this recomputes cosine top-k with none of
    // ShardGraph's code
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 300L).map(i =>
      Hnsw.VecRow(i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val g = Hnsw.buildShard(vecs.iterator)
    vecs.take(15).foreach { q =>
      val naive = naiveTopK(q.embedding, vecs, Hnsw.K)
      val got = g.exactTopK(q.embedding, Hnsw.K).map(_._1)
      assert(got == naive, s"probe ${q.vec_id}")
    }
  }

  test("exact pool of K holds the rounded top-K when a 6dp band straddles the cut") {
    // 3 vectors clearly above, then more than K + 6 vectors inside ONE
    // 6dp band whose RAW similarity rises as vec_id rises, then a tail
    // below: the cut falls inside the band. The rounded order keeps the
    // band's SMALLEST ids; a pool cut by raw sim keeps its largest, and a
    // raw pool K + 6 deep still misses the smallest.
    val q = Array(1f, 0f)
    val high = Seq(0.5f, 0.6f, 0.7f).zipWithIndex.map { case (b, i) =>
      Hnsw.VecRow(i.toLong, Array(1f, b)) }
    val bandSize = Hnsw.K + 10
    // y slightly above √3 (sim slightly below 1/2), stepped down one float
    // ulp per id, so the raw sim rises with vec_id
    val ys = Iterator.iterate(1.7320512f)(y => Math.nextDown(y))
      .take(bandSize).toSeq
    val band = ys.zipWithIndex.map { case (y, i) =>
      Hnsw.VecRow(100L + i, Array(1f, y)) }
    val low = (0 until 10).map(j =>
      Hnsw.VecRow(200L + j, Array(1f, 3f + 0.1f * j)))
    val vecs = high ++ band ++ low
    // the fixture is what it claims: one rounded band, raw sims rising
    val bandSims = band.map(v => naiveCos(q, v.embedding))
    assert(bandSims.map(round6).distinct.size == 1, bandSims)
    assert(bandSims.zip(bandSims.tail).forall { case (a, b) => a < b }, bandSims)
    val naive = naiveTopK(q, vecs, Hnsw.K)
    assert(naive == high.map(_.vec_id) ++ band.take(Hnsw.K - 3).map(_.vec_id))
    val g = Hnsw.buildShard(vecs.iterator)
    assert(g.exactTopK(q, Hnsw.K).map(_._1) == naive)
    // per-shard pools of K, merged in the same order, give the global
    // top-K for any sharding
    (2 to 5).foreach { shards =>
      val pooled = vecs.groupBy(_.vec_id % shards).values.toSeq.flatMap { vs =>
        Hnsw.buildShard(vs.iterator).exactTopK(q, Hnsw.K) }
      val merged = pooled.sortBy(t => (-t._2, t._1)).take(Hnsw.K).map(_._1)
      assert(merged == naive, s"$shards shards")
    }
  }

  test("single-graph recall@10 >= 0.9 against the exact scan") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 800L).map(i =>
      Hnsw.VecRow(i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val g = Hnsw.buildShard(vecs.iterator)
    val recalls = vecs.take(40).map { q =>
      val exact = g.exactTopK(q.embedding, Hnsw.K).map(_._1).toSet
      val got = g.search(q.embedding, Hnsw.K, Hnsw.EfS).map(_._1).toSet
      (exact & got).size.toDouble / exact.size
    }
    assert(recalls.forall(_ >= 0.9), s"per-query recalls: $recalls")
    // degree bounds hold everywhere
    assert((0 until g.size).forall(g.degreesOk))
  }

  test("incremental insert: node-set parity with rebuild, contract holds") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 600L).map(i =>
      Hnsw.VecRow(i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val rebuilt = Hnsw.buildShard(vecs.iterator)
    val inc = new Hnsw.ShardGraph
    vecs.filter(_.vec_id % 10 != 0).foreach(v => inc.insert(v.vec_id, v.embedding))
    vecs.filter(_.vec_id % 10 == 0).foreach(v => inc.insert(v.vec_id, v.embedding))
    // same node set and identical (hash-derived) levels
    def nodes(g: Hnsw.ShardGraph) =
      (0 until g.size).map(i => g.idOf(i) -> g.levelAt(i)).toMap
    assert(nodes(inc) == nodes(rebuilt))
    // the incrementally-updated graph still clears the recall floor,
    // including for probes FROM the inserted batch
    val probes = vecs.filter(_.vec_id % 10 == 0).take(20) ++ vecs.take(20)
    probes.foreach { q =>
      val exact = inc.exactTopK(q.embedding, Hnsw.K).map(_._1).toSet
      val got = inc.search(q.embedding, Hnsw.K, Hnsw.EfS).map(_._1).toSet
      assert((exact & got).size >= 9, s"probe ${q.vec_id}")
    }
    assert((0 until inc.size).forall(inc.degreesOk))
  }

  // ---- persisted-index contracts (VERDICT r13 #1) ----

  private def randVecs(seed: Int, n: Int): IndexedSeq[Hnsw.VecRow] = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
      Hnsw.VecRow(i, Array.fill(64)(rnd.nextGaussian().toFloat)))
  }

  private def canon(rows: Iterator[Hnsw.IndexRow]) =
    rows.map(r => (r.shard, r.vec_id, r.level, r.is_entry,
      r.embedding.toSeq, r.adj.map(_.toSeq).toSeq)).toSeq.sortBy(_._2)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("index dump/load round-trip is idempotent: dump∘load∘dump = dump") {
    val vecs = randVecs(31, 500)
    val g = Hnsw.buildShard(vecs.iterator)
    val dumped = g.toIndexRows(3).toIndexedSeq
    val loaded = new Hnsw.ShardGraph
    loaded.loadFrom(dumped)
    assert(canon(loaded.toIndexRows(3)) == canon(dumped.iterator))
  }

  test("load→search ≡ build→search on the same graph state") {
    val vecs = randVecs(37, 700)
    val g = Hnsw.buildShard(vecs.iterator)
    val loaded = new Hnsw.ShardGraph
    loaded.loadFrom(g.toIndexRows(0).toIndexedSeq)
    vecs.take(25).foreach { q =>
      assert(loaded.search(q.embedding, Hnsw.K, Hnsw.EfS) ==
        g.search(q.embedding, Hnsw.K, Hnsw.EfS), s"search probe ${q.vec_id}")
      assert(loaded.exactTopK(q.embedding, Hnsw.K + 6) ==
        g.exactTopK(q.embedding, Hnsw.K + 6), s"exact probe ${q.vec_id}")
    }
  }

  test("insert-after-load ≡ continuous incremental build (the q174 path)") {
    val vecs = randVecs(41, 600)
    // continuous: old then new into one in-memory graph (pre-r14 q174)
    val cont = new Hnsw.ShardGraph
    vecs.filter(_.vec_id % 10 != 0).foreach(v => cont.insert(v.vec_id, v.embedding))
    vecs.filter(_.vec_id % 10 == 0).foreach(v => cont.insert(v.vec_id, v.embedding))
    // persisted: base built, dumped, loaded, THEN the batch inserted
    val base = new Hnsw.ShardGraph
    vecs.filter(_.vec_id % 10 != 0).foreach(v => base.insert(v.vec_id, v.embedding))
    val resumed = new Hnsw.ShardGraph
    resumed.loadFrom(base.toIndexRows(0).toIndexedSeq)
    vecs.filter(_.vec_id % 10 == 0).foreach(v => resumed.insert(v.vec_id, v.embedding))
    // identical graph state, not just similar search results
    assert(canon(resumed.toIndexRows(0)) == canon(cont.toIndexRows(0)))
  }

  test("q183 stored-index search equals q173 fresh-build search; re-ensure is a no-op") {
    val tmp = java.nio.file.Files.createTempDirectory("hnswidx").toString
    spark.conf.set(Hnsw.IndexDirConf, tmp)
    try {
      val stored = rows(Hnsw.q183HnswSearchStored.plan(spark, dir))
      val fresh = rows(Hnsw.q173HnswQuery.plan(spark, dir))
      assert(stored == fresh)
      // freshness: a second run must NOT rebuild — parquet mtimes unchanged
      def mtimes = {
        val d = new java.io.File(tmp)
        def walk(f: java.io.File): Seq[(String, Long)] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else Seq(f.getPath -> f.lastModified())
        walk(d).sortBy(_._1)
      }
      val before = mtimes
      Hnsw.q183HnswSearchStored.plan(spark, dir).write
        .format("noop").mode("overwrite").save()
      assert(mtimes == before, "re-ensure rewrote a fresh index")
    } finally spark.conf.unset(Hnsw.IndexDirConf)
  }

  // ---- the stored-index loader and the q174 append over it ----

  private def tempDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Write shard graphs over `base` as an index laid out like the engine's
    * partitionBy("shard") write, except that shard `split` is written as
    * two files and shard `empty`'s directory holds no data file.
    */
  private def handIndex(root: String, base: Seq[Hnsw.VecRow],
      split: Option[Int], empty: Option[Int]): Unit = {
    import spark.implicits._
    (0 until Hnsw.IsoShards).foreach { sh =>
      val dir = s"$root/shard=$sh"
      if (empty.contains(sh)) new java.io.File(dir).mkdirs()
      else {
        val g = Hnsw.buildShard(
          base.filter(_.vec_id % Hnsw.IsoShards == sh).iterator)
        val df = spark.createDataset(g.toIndexRows(sh).toSeq).drop("shard")
        (if (split.contains(sh)) df.repartition(2) else df.coalesce(1))
          .write.mode("overwrite").parquet(dir)
      }
    }
  }

  /** (partition, shard, vec_id) of every row the loader returns. */
  private def placed(st: Hnsw.StoredIndex) =
    st.rdd.mapPartitionsWithIndex((i, it) =>
      it.map(r => (i, r.shard, r.vec_id))).collect().toSeq

  test("stored-index loader: one-file-per-shard layout loads narrow, conf untouched") {
    val root = tempDir("hnswnarrow")
    val vecs = randVecs(43, 400)
    handIndex(root, vecs, split = None, empty = None)
    val openCost = "spark.sql.files.openCostInBytes"
    val before = spark.conf.getOption(openCost)
    val st = Hnsw.loadStored(spark, root)
    assert(spark.conf.getOption(openCost) == before)
    assert(st.rdd.getNumPartitions == Hnsw.IsoShards)
    assert(st.rdd.dependencies.forall(
      _.isInstanceOf[org.apache.spark.NarrowDependency[_]]))
    assert(st.partOf.keySet == (0 until Hnsw.IsoShards).toSet)
    val got = placed(st)
    got.foreach { case (i, sh, id) =>
      assert(sh == id % Hnsw.IsoShards && st.partOf(sh) == i, s"vec $id")
    }
    assert(got.map(_._3).sorted == vecs.map(_.vec_id))
  }

  test("stored-index loader + append: split file and empty shard dir keep shard ids") {
    // one shard directory planned into two splits while another holds no
    // data: the total partition count still equals the shard count, so a
    // positional (partition i == shard i) stamping would mislabel rows
    val root = tempDir("hnswsplit")
    val vecs = randVecs(47, 800)
    val (base, batch) = vecs.partition(_.vec_id % 10 != 0)
    val (split, empty) = (3, 9)
    handIndex(root, base, Some(split), Some(empty))
    val st = Hnsw.loadStored(spark, root)
    val got = placed(st)
    got.foreach { case (i, sh, id) =>
      assert(sh == id % Hnsw.IsoShards, s"vec $id loaded with shard $sh")
      assert(st.partOf(sh) == i, s"shard $sh outside its partition")
    }
    assert(got.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1))
    assert(got.map(_._3).sorted ==
      base.filter(_.vec_id % Hnsw.IsoShards != empty).map(_.vec_id))
    // append the batch: equal to building each shard from its stored rows
    // then inserting its batch rows — the empty shard from its batch alone
    import spark.implicits._
    val appended = Hnsw.appendBatch(spark, root, spark.createDataset(batch))
      .collect()
    val expected = (0 until Hnsw.IsoShards).flatMap { sh =>
      def of(vs: Seq[Hnsw.VecRow]) =
        vs.filter(_.vec_id % Hnsw.IsoShards == sh).sortBy(_.vec_id)
      val g = new Hnsw.ShardGraph
      (if (sh == empty) Nil else of(base)).foreach(v => g.insert(v.vec_id, v.embedding))
      of(batch).foreach(v => g.insert(v.vec_id, v.embedding))
      g.toIndexRows(sh)
    }
    assert(canon(appended.iterator) == canon(expected.iterator))
  }

  test("q183 and q174 on a second session match the session that wrote the index") {
    val tmp = tempDir("hnswsess")
    spark.conf.set(Hnsw.IndexDirConf, tmp)
    val other = spark.newSession()
    other.conf.set(Hnsw.IndexDirConf, tmp)
    try {
      val q183 = rows(Hnsw.q183HnswSearchStored.plan(spark, dir))
      val q174 = rows(Hnsw.q174HnswIncremental.plan(spark, dir))
      assert(rows(Hnsw.q183HnswSearchStored.plan(other, dir)) == q183)
      assert(rows(Hnsw.q174HnswIncremental.plan(other, dir)) == q174)
    } finally spark.conf.unset(Hnsw.IndexDirConf)
  }

  test("q174 cold (no stored base index) and warm give identical rows") {
    val tmp = tempDir("hnswcold")
    spark.conf.set(Hnsw.IndexDirConf, tmp)
    try {
      val cold = rows(Hnsw.q174HnswIncremental.plan(spark, dir))
      assert(new java.io.File(tmp).list().exists(_.startsWith("base_")))
      assert(rows(Hnsw.q174HnswIncremental.plan(spark, dir)) == cold)
    } finally spark.conf.unset(Hnsw.IndexDirConf)
  }

  test("q172 build gate is partition-invariant and matches the level rule") {
    import spark.implicits._
    val base = Hnsw.q172HnswBuild.plan(spark, dir)
      .orderBy("level").collect().map(_.toSeq)
    // the same build over a deliberately re-partitioned source gives the
    // same rows (perShard keys by vec_id, not physical layout)
    val emb = graft.core.Tables.embeddings(spark, dir).repartition(7)
    val vecs = emb.select("vec_id", "embedding").as[Hnsw.VecRow]
    assert(rows(Hnsw.buildGate(spark, vecs)) ==
      rows(Hnsw.q172HnswBuild.plan(spark, dir)))
    // ...because the graphs themselves are identical, node for node
    val inOrder = graft.core.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").as[Hnsw.VecRow]
    assert(canon(Hnsw.buildIndexRows(vecs).collect().iterator) ==
      canon(Hnsw.buildIndexRows(inOrder).collect().iterator))
    val levels = emb.select(col("vec_id")).collect().map(r =>
      Hnsw.levelOf(r.getLong(0)))
    val expected = levels.groupBy(identity).view.mapValues(_.length).toMap
    base.foreach { row =>
      assert(expected(row.head.asInstanceOf[Int]) ==
        row(1).asInstanceOf[Long].toInt)
      assert(row(2).asInstanceOf[Boolean])
    }
  }
}
