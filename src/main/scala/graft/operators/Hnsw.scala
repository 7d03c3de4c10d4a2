package graft.operators

import graft.core.{Q, Tables}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** HNSW-class incremental graph ANN (VERDICT r9 #8 — the reference's only
  * physical index is an HNSW cosine collection; ref: api/main.py:149-157,
  * etl/index_docs.py:60).
  *
  * Spark-first shape: the index is SHARDED — vectors hash to
  * `vec_id % IsoShards` groups, each shard builds an independent
  * in-memory HNSW graph in one task of the [[perShard]] RDD exchange, and
  * a query searches every shard and merges top-k (exact merge: per-shard
  * results are globally merged by similarity, so the only recall loss is
  * per-shard search misses). At 100 TB the shard count scales with the
  * corpus and a query fans out one log-size search per shard; routed
  * probing below full fan-out is the IVF family's territory (q42/q112),
  * which this complements, not replaces. Incremental ingest is the point of the
  * graph structure: a new batch inserts into the EXISTING shard graphs
  * (old nodes are never re-indexed) — q174 gates exactly that path.
  *
  * Everything is deterministic and partition-invariant, the repo's
  * gate-ability bar: insertion order is ascending vec_id within a shard
  * ([[buildShard]] sorts whatever order the exchange delivers), node
  * levels derive from the 60-bit md5 key (`level = max L ≤ 8 with
  * hash60("hnsw-"||id) % 4^L == 0`, an integer-only geometric(1/4) rule
  * the DuckDB oracle mirrors exactly — no ln/floor libm edge), and every
  * similarity tie breaks on vec_id. Search beams are wide relative to M
  * so the per-query recall@10 CONTRACT (≥ 0.9, measured in-plan against
  * an exact per-shard scan) holds with margin; HnswSpec measures it and
  * the q173/q174 oracles pin it the q165 way (the oracle states the
  * contract, the engine's violation flips the hashed counts).
  *
  * Every search gate runs ONE pipeline, the partition-local top-k pools
  * merged under one global total order (REPOSE's shape): [[perShard]]
  * builds each shard's graph, [[emitHits]] writes one [[Hit]] row per
  * HNSW hit and per exact-pool member, and [[differentialOf]] ranks both
  * kinds under one total order and scores recall. The families differ only
  * in how vectors are keyed to shards and which shards a query probes.
  */
object Hnsw {

  val Shards = 8

  /** Isotropic-family shard count (q172/q173/q174/q182/q183 — the
    * `vec_id % IsoShards` hash sharding). Split from [[Shards]] in the
    * round-14 optimization pass: `Shards` doubles as q176's SEMANTIC cell
    * count, which its DuckDB oracle mirrors (`LIMIT $Shards`), so it
    * cannot move — but the isotropic shard count is a pure parallelism/
    * memory knob with shard-count-independent outputs (each graph's exact
    * top-K pool is merged globally under the pool's own total order, so
    * any global top-K member is inside its own shard's top-K for EVERY
    * sharding). Build cost per shard is superlinear in shard size (each
    * insert beam-searches the growing graph), so more shards cut both the
    * build stage's wall and its total CPU; all seven gates re-verified hash-green at sf0.001 and
    * sf0.01 under 16. At 100 TB this derives from corpus size / executor
    * memory, not a constant; 16 is the bench-scale setting that keeps
    * every graph oracle-gated.
    */
  val IsoShards = 16
  val M = 12 // max neighbors per node, levels > 0
  val M0 = 24 // max neighbors at level 0
  val EfC = 96 // construction beam — see bench/hnsw_efc_sweep_sf1.json: 48 halves build cost but drops q181 recall_min to the 0.900 cliff; 64 keeps recall 1.000 for only -11% family time; 96 keeps maximal contract margin
  val EfS = 96 // search beam
  val K = 10 // contract top-k
  val LevelCap = 8
  val NQueries = 50
  val RecallFloor = 0.9

  /** 60-bit md5 key of an arbitrary string — Pipeline.hashGram identity
    * (first 15 hex digits of the md5, the oracle's
    * `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`).
    */
  def hash60Of(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
    (v << 4) | ((h(7) >> 4) & 0xfL)
  }

  /** 60-bit md5 key of "hnsw-<id>" — the node-level key. */
  def hash60(id: Long): Long = hash60Of(s"hnsw-$id")

  /** Geometric(1/4) level: max L in [0, LevelCap] with hash60 % 4^L == 0. */
  def levelOf(id: Long): Int = {
    val h = hash60(id)
    var l = 0
    var p = 4L
    while (l < LevelCap && h % p == 0L) { l += 1; p *= 4L }
    l
  }

  final case class VecRow(vec_id: Long, embedding: Array[Float])

  /** One search result of one shard graph for one probe: an HNSW hit
    * (`exact = false`, only from probed shards) or an exact-pool member
    * (`exact = true`, from every shard). `in_probed` says whether the
    * query probed this shard; every row carries its shard's node count, so
    * n_indexed is a fact about the SAME graphs the search ran on.
    */
  final case class Hit(query_id: Long, vec_id: Long, sim: Double,
      exact: Boolean, in_probed: Boolean, shard: Int, n_shard_nodes: Long)

  /** One persisted index node (VERDICT r13 #1 — the reference's only
    * physical index is PERSISTENT: Chroma's PersistentClient survives the
    * process, ref api/main.py:152; ours was rebuild-per-run). The row is
    * self-contained — it carries the vector alongside the adjacency, the
    * standard vector-index layout (a search-only job reads ONE table, no
    * join back to the embeddings source) — and adjacency is by NEIGHBOR
    * vec_id, not in-memory array index, so the graph is position-
    * independent: any reader that can hash vec_id→slot reconstructs it.
    * `adj(l)` = neighbor vec_ids at layer l (length = level+1).
    */
  final case class IndexRow(shard: Int, vec_id: Long, level: Int,
      is_entry: Boolean, embedding: Array[Float], adj: Array[Array[Long]])

  /** One shard's graph. Arrays indexed by insertion order; adjacency is a
    * per-level neighbor list capped at M (M0 at level 0).
    */
  final class ShardGraph {
    private val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    private val norms = scala.collection.mutable.ArrayBuffer.empty[Double]
    private val levels = scala.collection.mutable.ArrayBuffer.empty[Int]
    // adj(node)(level) — neighbor node indexes
    private val adj = scala.collection.mutable.ArrayBuffer
      .empty[Array[scala.collection.mutable.ArrayBuffer[Int]]]
    private var entry = -1
    private var maxLevel = -1

    def size: Int = ids.length
    def idOf(i: Int): Long = ids(i)
    def levelAt(i: Int): Int = levels(i)
    def degreesOk(i: Int): Boolean =
      adj(i).zipWithIndex.forall { case (ns, l) =>
        ns.length <= (if (l == 0) M0 else M) }

    private def sim(q: Array[Float], qn: Double, i: Int): Double = {
      val v = vecs(i)
      var s = 0.0
      var k = 0
      while (k < v.length) { s += q(k).toDouble * v(k).toDouble; k += 1 }
      val d = qn * norms(i)
      if (d == 0) 0.0 else s / d
    }

    private def norm(v: Array[Float]): Double = {
      var s = 0.0
      var k = 0
      while (k < v.length) { s += v(k).toDouble * v(k).toDouble; k += 1 }
      math.sqrt(s)
    }

    /** (sim desc, id asc) ordering — every heap/selection uses it. */
    private def better(s1: Double, i1: Int, s2: Double, i2: Int): Boolean =
      s1 > s2 || (s1 == s2 && ids(i1) < ids(i2))

    /** Greedy single-step descent at `level` from `start`. */
    private def greedy(q: Array[Float], qn: Double, start: Int, level: Int): Int = {
      var cur = start
      var curSim = sim(q, qn, cur)
      var moved = true
      while (moved) {
        moved = false
        val ns = adj(cur)(level)
        var j = 0
        while (j < ns.length) {
          val n = ns(j)
          val s = sim(q, qn, n)
          if (better(s, n, curSim, cur)) { cur = n; curSim = s; moved = true }
          j += 1
        }
      }
      cur
    }

    /** Beam search at `level`: ef best (sim desc, id asc) reachable. */
    private def searchLayer(q: Array[Float], qn: Double, start: Int,
        ef: Int, level: Int): scala.collection.mutable.ArrayBuffer[(Double, Int)] = {
      val visited = new java.util.HashSet[Integer]()
      // candidates: best-first; results: worst-first (bounded at ef)
      implicit val ordCand: Ordering[(Double, Int)] =
        Ordering.by[(Double, Int), (Double, Long)](t => (t._1, -ids(t._2)))
      val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)]
      val res = scala.collection.mutable.PriorityQueue
        .empty[(Double, Int)](ordCand.reverse)
      val s0 = sim(q, qn, start)
      visited.add(start)
      cand.enqueue((s0, start))
      res.enqueue((s0, start))
      while (cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        val worst = res.head
        if (res.size >= ef && !better(cs, c, worst._1, worst._2)) {
          cand.clear()
        } else {
          val ns = adj(c)(level)
          var j = 0
          while (j < ns.length) {
            val n = ns(j)
            if (visited.add(n)) {
              val s = sim(q, qn, n)
              val w = if (res.isEmpty) null else res.head
              if (res.size < ef || better(s, n, w._1, w._2)) {
                cand.enqueue((s, n))
                res.enqueue((s, n))
                if (res.size > ef) res.dequeue()
              }
            }
            j += 1
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
      out ++= res
      out.sortInPlace()(Ordering
        .by[(Double, Int), (Double, Long)](t => (-t._1, ids(t._2))))
      out
    }

    /** Malkov Algorithm-4 neighbor selection (the HNSW paper's
      * select_neighbors_heuristic, with keepPrunedConnections): scan
      * candidates best-first and KEEP a candidate only while it is
      * strictly closer to the base node than to every already-kept
      * neighbor; candidates dominated by a kept neighbor back-fill the
      * remaining slots in candidate order so the degree stays cap-full.
      * Plain top-M selection links each node to its M nearest — on a
      * clustered corpus those are mutual near-duplicates and the level-0
      * graph decomposes into cliques with no long edges (measured: q181's
      * 2500-node single-cluster cells missed top-band items at ANY beam
      * width). Diversity keeps one edge per "direction", which is what
      * greedy routing needs; on spread-out data the test rarely fires and
      * selection degenerates to top-M, so the isotropic family (q172-176)
      * keeps its behavior up to tie-order.
      */
    private def selectDiverse(base: Int,
        cands: scala.collection.Seq[(Double, Int)], cap: Int)
        : Seq[Int] = {
      val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
      val dropped = scala.collection.mutable.ArrayBuffer.empty[Int]
      val it = cands.iterator
      while (it.hasNext && kept.length < cap) {
        val (sBase, c) = it.next()
        if (c != base) {
          val cv = vecs(c); val cn = norms(c)
          // dominated iff some kept neighbor is at least as close to c as
          // the base is (ties dominate -> deterministic under the
          // (sim desc, id asc) candidate order)
          val dominated = kept.exists(s2 => sim(cv, cn, s2) >= sBase)
          if (dominated) dropped += c else kept += c
        }
      }
      if (kept.length < cap)
        kept ++= dropped.take(cap - kept.length)
      kept.toSeq
    }

    /** Re-select node i's level-l neighbor list when it overflows. */
    private def prune(i: Int, l: Int): Unit = {
      val cap = if (l == 0) M0 else M
      val ns = adj(i)(l)
      if (ns.length > cap) {
        val v = vecs(i)
        val vn = norms(i)
        val scored = ns.map(n => (sim(v, vn, n), n))
          .sortInPlace()(Ordering
            .by[(Double, Int), (Double, Long)](t => (-t._1, ids(t._2))))
        val sel = selectDiverse(i, scored, cap)
        ns.clear()
        ns ++= sel
      }
    }

    def insert(id: Long, v: Array[Float]): Unit = {
      val l = levelOf(id)
      val idx = ids.length
      ids += id; vecs += v; norms += norm(v); levels += l
      adj += Array.fill(l + 1)(scala.collection.mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = idx; maxLevel = l; return }
      val qn = norms(idx)
      var cur = entry
      var lev = maxLevel
      while (lev > l) { cur = greedy(v, qn, cur, lev); lev -= 1 }
      lev = math.min(l, maxLevel)
      while (lev >= 0) {
        val w = searchLayer(v, qn, cur, EfC, lev)
        val cap = if (lev == 0) M0 else M
        val chosen = selectDiverse(idx, w, cap)
        chosen.foreach { n =>
          adj(idx)(lev) += n
          adj(n)(lev) += idx
          prune(n, lev)
        }
        cur = w.head._2
        lev -= 1
      }
      if (l > maxLevel) { maxLevel = l; entry = idx }
    }

    def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Seq.empty
      val qn = norm(q)
      var cur = entry
      var lev = maxLevel
      while (lev > 0) { cur = greedy(q, qn, cur, lev); lev -= 1 }
      searchLayer(q, qn, cur, math.max(ef, k), 0)
        .take(k).map { case (s, i) => (ids(i), s) }.toSeq
    }

    /** Exact top-k by full shard scan under the 6dp-ROUNDED (sim DESC,
      * id ASC) key, returning rounded sims — the in-plan recall baseline
      * AND the differentially-oracled exact path (VERDICT r10 #5): the
      * global merge of these rows is hash-compared against DuckDB's own
      * brute-force cosine top-k, so a similarity bug shared by search and
      * this scan can no longer hide. The key is the SAME total order the
      * global window and every DuckDB oracle rank by. A pool cut by RAW sim
      * can exclude a smaller-id vector that the rounded global ranking
      * places above an included one whenever more than k candidates tie
      * inside one rounded band, and no fixed margin past k bounds such a
      * band (ADVICE r12); with the pool and the window sharing one total
      * order, every member of the global top-K is by construction inside
      * its own shard's top-K, so a pool of K suffices.
      */
    def exactTopK(q: Array[Float], k: Int): Seq[(Long, Double)] = {
      val qn = norm(q)
      (0 until size).map(i => (Hnsw.r6(sim(q, qn, i)), i))
        .sortBy(t => (-t._1, ids(t._2)))
        .take(k).map { case (s, i) => (ids(i), s) }
    }

    /** Serialize to persisted-index rows: full graph state (ids, levels,
      * vectors, per-layer adjacency as neighbor vec_ids, the entry flag).
      * [[loadFrom]] of these rows reconstructs a graph whose every search
      * and every further [[insert]] behaves identically — HnswSpec pins
      * round-trip idempotence (dump∘load∘dump = dump) and search parity.
      */
    def toIndexRows(shard: Int): Iterator[IndexRow] =
      (0 until size).iterator.map { i =>
        IndexRow(shard, ids(i), levels(i), i == entry, vecs(i),
          adj(i).map(_.map(n => ids(n)).toArray))
      }

    /** Reconstruct from persisted rows (empty graph only). Node slots are
      * assigned in ascending vec_id — the SAME numbering a fresh build's
      * ascending-vec_id insertion produces — but nothing downstream depends
      * on slot order: every comparison/tie-break in search and insert is on
      * vec_id ([[better]]), so the reconstruction is position-independent
      * by construction. Norms are recomputed from the stored floats
      * (float parquet round-trips exactly, so they equal the build's).
      */
    def loadFrom(rows: scala.collection.Seq[IndexRow]): Unit = {
      require(ids.isEmpty, "loadFrom requires an empty graph")
      val sorted = rows.sortBy(_.vec_id)
      val slot = new java.util.HashMap[Long, Integer](sorted.length * 2)
      sorted.zipWithIndex.foreach { case (r, i) => slot.put(r.vec_id, i) }
      sorted.zipWithIndex.foreach { case (r, i) =>
        ids += r.vec_id; vecs += r.embedding; norms += norm(r.embedding)
        levels += r.level
        adj += r.adj.map { ns =>
          val b = new scala.collection.mutable.ArrayBuffer[Int](ns.length)
          ns.foreach { n =>
            val s = slot.get(n)
            require(s != null, s"stored adjacency references missing node $n")
            b += s.intValue()
          }
          b
        }
        if (r.is_entry) entry = i
        if (r.level > maxLevel) maxLevel = r.level
      }
      require(sorted.isEmpty || entry >= 0,
        "stored index has no entry-point row (is_entry)")
    }
  }

  /** The one per-shard build: a shard's rows inserted in ascending vec_id,
    * whatever order they arrive in — the order every gate's graph state,
    * hence every output, depends on.
    */
  def buildShard(rows: Iterator[VecRow]): ShardGraph = {
    val g = new ShardGraph
    rows.toIndexedSeq.sortBy(_.vec_id).foreach(r => g.insert(r.vec_id, r.embedding))
    g
  }

  private def vecRows(s: SparkSession, d: String): Dataset[VecRow] = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[VecRow]
  }

  /** The isotropic family's shard key: `vec_id % IsoShards`. */
  private def isoKeyed(rows: Dataset[VecRow]): RDD[(Int, VecRow)] =
    rows.rdd.map(r => ((r.vec_id % IsoShards).toInt, r))

  /** Partition keyed rows into EXACTLY one partition per dense shard key
    * (key k → partition k: HashPartitioner over non-negative Ints 0..n-1
    * IS the identity map) at the RDD level, [[buildShard]] each shard's
    * graph and apply `f` to (shard key, graph). Every graph build of the
    * family runs here.
    *
    * Why RDD, not Dataset groupByKey (round-14 optimization finding): the
    * groupByKey exchange is AQE-managed, and AQE's small-partition
    * coalescing merges the whole corpus into ONE task whenever the
    * shuffled bytes sit under the advisory partition size — measured at
    * the bench SFs, every shard graph of the family was being built
    * SERIALLY in a single task (q173's build stage: 1 task carrying ~1.1 s
    * of its 1.2 s med at sf0.1; same at sf1 where the build is seconds).
    * Coalescing is the right default for row-count-bound stages, but this
    * stage's cost is graph construction per GROUP, invisible to byte
    * statistics. An RDD exchange is not adaptive, so the documented
    * one-task-per-shard parallelism actually holds at every scale, and
    * per-graph content (hence every gate output) is byte-identical.
    */
  private def perShard[R: scala.reflect.ClassTag](
      keyed: RDD[(Int, VecRow)], n: Int)(f: (Int, ShardGraph) => Iterator[R])
      : RDD[R] =
    keyed.partitionBy(new org.apache.spark.HashPartitioner(n))
      .mapPartitionsWithIndex { (p, it) =>
        if (it.isEmpty) Iterator.empty else f(p, buildShard(it.map(_._2)))
      }

  /** Per-graph hit emission shared by every search path (isotropic fresh
    * build and stored-index load, routed cells, clustered sub-graphs): for
    * every broadcast probe, the graph's exact top-K pool, and its HNSW
    * top-K when `probed(query_id)` says the query probes this shard. The
    * pool is cut in the global window's own total order (see
    * [[ShardGraph.exactTopK]]), so K rows per shard carry every global
    * top-K member.
    */
  private def emitHits(g: ShardGraph, shard: Int, probes: Array[VecRow],
      probed: Long => Boolean): Iterator[Hit] = {
    val n = g.size.toLong
    probes.iterator.flatMap { q =>
      val in = probed(q.vec_id)
      val hnsw = if (in) g.search(q.embedding, K, EfS) else Seq.empty
      hnsw.map { case (id, sm) =>
        Hit(q.vec_id, id, sm, exact = false, in_probed = true, shard, n) } ++
        g.exactTopK(q.embedding, K).map { case (id, sm) =>
          Hit(q.vec_id, id, sm, exact = true, in_probed = in, shard, n) }
    }
  }

  /** The hit frame every search gate ranks. It is localCheckpointed: the
    * exact ranking and the recall measurement both consume it (q174's
    * n_indexed too), and an unbroken lineage would rebuild every shard
    * graph per consumer.
    */
  private def hitFrame(s: SparkSession, hits: RDD[Hit]): DataFrame = {
    import s.implicits._
    s.createDataset(hits).toDF().localCheckpoint(true)
  }

  /** The ≤ NQueries probe vectors, driver-collected and broadcast. */
  private def probeVecs(s: SparkSession, d: String)
      : org.apache.spark.broadcast.Broadcast[Array[VecRow]] = {
    val queries = vecRows(s, d).filter(col("vec_id") < NQueries)
      .collect().sortBy(_.vec_id) // ≤ NQueries probe vectors: bounded
    s.sparkContext.broadcast(queries)
  }

  /** Fresh-build isotropic search: every shard is probed. */
  private def shardHits(s: SparkSession, d: String): DataFrame = {
    val bq = probeVecs(s, d)
    hitFrame(s, perShard(isoKeyed(vecRows(s, d)), IsoShards) { (shard, g) =>
      emitHits(g, shard, bq.value, _ => true)
    })
  }

  /** The differential gate frame (VERDICT r10 #5), shared by every search
    * gate: one row per (probe, rank ≤ K) carrying the ENGINE-exact global
    * top-k — hash-compared against DuckDB's independent brute-force cosine
    * top-k — its `in_probed` flag, and the per-probe HNSW recall contract
    * as a boolean column (recall is only measurable in-engine; the oracle
    * states it as TRUE, and a search miss below the floor flips the column
    * and fails the hash). Each caller selects the columns its oracle has.
    *
    * Plan shape (optimization round 14, guide §2.4 "remove shuffles
    * outright"): every rank is a row_number over the 6dp-ROUNDED (sim
    * DESC, vec_id) total order the DuckDB oracles compute (rounding is
    * monotone, so this only merges unrounded near-ties, never inverts),
    * and each kind of hit gets its own rank universe from the partition
    * key. `rn`, partitioned by (exact, query_id), is the global rank;
    * `prn` adds `in_probed` to the key, so an exact row's `prn` is its
    * rank WITHIN the query's probed shards (an HNSW row's equals its
    * `rn`: the search only runs on probed shards). Each consumer reads one
    * of them, Spark prunes the other, and the `≤ K` filter becomes a
    * per-partition group limit ahead of the exchange. `recall` turns the
    * ranked frame into one (query_id, recall) row per probe in ONE
    * grouped pass over K-bounded sets — [[idRecall]] or q181's
    * [[scoreRecall]].
    */
  private def differentialOf(hits: DataFrame,
      recall: DataFrame => DataFrame = idRecall): DataFrame = {
    def rankWithin(keys: String*) = row_number().over(
      Window.partitionBy(keys.map(col): _*)
        .orderBy(round(col("sim"), 6).desc, col("vec_id")))
    val ranked = hits
      .withColumn("rn", rankWithin("exact", "query_id"))
      .withColumn("prn", rankWithin("exact", "in_probed", "query_id"))
    val exact = ranked.filter(col("exact") && col("rn") <= K)
      .select(col("query_id"), col("rn").cast("int").as("rank"),
        col("vec_id"), round(col("sim"), 6).as("sim"), col("in_probed"))
    exact.join(broadcast(recall(ranked)), "query_id")
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim"),
        col("in_probed"), (col("recall") >= RecallFloor).as("recall_ok"))
  }

  /** Recall@K by id: |probed exact top-K ∩ HNSW top-K| / |probed exact
    * top-K|. The HNSW side only runs on probed shards, so this is the
    * search quality reduced fan-out can control; with every shard probed
    * (the isotropic family) it is plain recall against the global exact
    * top-K. Probed shards are never empty, so n_exact ≥ 1 per query.
    */
  private def idRecall(ranked: DataFrame): DataFrame =
    ranked.filter(col("in_probed") && col("prn") <= K)
      .groupBy("query_id")
      .agg(
        sum(col("exact").cast("long")).as("n_exact"),
        size(array_intersect(
          collect_set(when(col("exact"), col("vec_id"))),
          collect_set(when(!col("exact"), col("vec_id")))))
          .cast("long").as("n_found"))
      .select(col("query_id"), (col("n_found") / col("n_exact")).as("recall"))

  /** The DuckDB side of an isotropic [[differentialOf]]: exact global
    * top-K per probe by brute-force cosine (the q40 formulation),
    * recall_ok as the stated contract.
    */
  private def sqlExactTopK(extraCols: String, extraFrom: String): String =
    s"""
      WITH dim AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dd),
      pairs AS (
        SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
               round(SUM(CAST(q.embedding[dd] AS DOUBLE) * CAST(e.embedding[dd] AS DOUBLE))
                 / (sqrt(SUM(CAST(q.embedding[dd] AS DOUBLE)**2))
                  * sqrt(SUM(CAST(e.embedding[dd] AS DOUBLE)**2))), 6) AS sim
        FROM embeddings q CROSS JOIN embeddings e CROSS JOIN dim
        WHERE q.vec_id < $NQueries
        GROUP BY 1, 2)
      SELECT query_id, CAST(rank AS INT) AS rank, vec_id, sim,
             TRUE AS recall_ok$extraCols
      FROM (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM pairs) t$extraFrom
      WHERE rank <= $K
    """

  private val isoCols =
    Seq("query_id", "rank", "vec_id", "sim", "recall_ok").map(col)

  /** The build claims of one index row — (shard, level, is_entry,
    * deg_ok), deg_ok = one adjacency list per level, each within its cap.
    * q172 checks them on the graphs it just built, q182 on the rows it
    * read back from parquet.
    */
  private def nodeClaims(r: IndexRow): (Int, Int, Boolean, Boolean) =
    (r.shard, r.level, r.is_entry,
      r.adj.length == r.level + 1 &&
        r.adj.zipWithIndex.forall { case (ns, l) =>
          ns.length <= (if (l == 0) M0 else M) })

  private val nodeClaimCols = Seq("shard", "level", "is_entry", "deg_ok")

  /** The level histogram with the degree contract, from node claims. */
  private def levelHistogram(nodes: DataFrame): DataFrame =
    nodes.groupBy(col("level"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg_ok").cast("int")).cast("boolean").as("deg_ok"))

  /** q172's rows for any vector set: build its isotropic shard graphs and
    * histogram their node claims.
    */
  private[graft] def buildGate(s: SparkSession, src: Dataset[VecRow])
      : DataFrame = {
    import s.implicits._
    levelHistogram(s.createDataset(buildIndexRows(src).map(nodeClaims))
      .toDF(nodeClaimCols: _*))
  }

  /** Build gate: the level histogram is fully oracle-mirrorable (the
    * integer level rule), and the degree bound is the q165-style
    * hardcoded-contract column.
    */
  val q172HnswBuild = Q(
    "q172_hnsw_build",
    (s, d) => buildGate(s, vecRows(s, d)),
    Some("""
      WITH h AS (
        SELECT CAST('0x' || substr(md5('hnsw-' || CAST(vec_id AS VARCHAR)),
                 1, 15) AS BIGINT) AS h
        FROM embeddings),
      l AS (
        SELECT CASE
          WHEN h % 65536 = 0 THEN 8 WHEN h % 16384 = 0 THEN 7
          WHEN h % 4096 = 0 THEN 6 WHEN h % 1024 = 0 THEN 5
          WHEN h % 256 = 0 THEN 4 WHEN h % 64 = 0 THEN 3
          WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS level
        FROM h)
      SELECT level, count(*) AS n_nodes, TRUE AS deg_ok
      FROM l GROUP BY level
    """),
  )

  /** Query gate, DIFFERENTIAL (VERDICT r10 #5): the engine emits its exact
    * global top-K per probe — hash-checked against DuckDB's independent
    * brute-force cosine — with the per-probe HNSW recall@K ≥ 0.9 contract
    * as a column. A shared similarity/merge bug now fails against DuckDB's
    * arithmetic; a search regression flips recall_ok.
    */
  val q173HnswQuery = Q(
    "q173_hnsw_query",
    (s, d) => differentialOf(shardHits(s, d)).select(isoCols: _*),
    Some(sqlExactTopK("", "")),
  )

  // -------------------------------------------------------------------
  // Persisted index (VERDICT r13 #1). The reference's physical index
  // SURVIVES the process (Chroma PersistentClient, ref api/main.py:152);
  // until round 14 ours was rebuilt from the embeddings table on every
  // run, so PERF.md's "the build amortizes over production query volume"
  // argument could never actually amortize. The index is a parquet table
  // of [[IndexRow]] partitioned by shard: a search job loads ONLY the
  // index (vectors ride the rows), per-shard files keep the load
  // embarrassingly parallel, and at 100 TB the table is just another
  // distributed dataset — no driver state, no single-file bottleneck.
  //
  // Freshness: an index directory is keyed by (variant, sfDir) and
  // carries an implicit fingerprint — (row count, sum of vec_ids) must
  // match the source frame it claims to cover. A stale or missing index
  // is rebuilt and overwritten; a fresh one is NEVER rebuilt, which is
  // what makes q183's bench median a true search-only cost (pass 1 pays
  // build+write, later passes load).

  val IndexDirConf = "graft.hnsw.indexDir"

  private def indexPath(s: SparkSession, d: String, variant: String): String = {
    val root = s.conf.get(IndexDirConf,
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_hnsw_index")
    root + "/" + variant + "_" + d.replaceAll("[^A-Za-z0-9._-]", "_")
  }

  /** (n rows, Σ vec_id) — the cheap identity a stored index must share
    * with the vector set it covers. Catches missing/partial/foreign
    * indexes; content corruption beyond that is the parquet layer's CRC's
    * job (and HnswSpec pins round-trip equality).
    */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("vec_id"))).first()
    (r.getLong(0),
      Option(r.getAs[java.lang.Long](1)).map(_.longValue).getOrElse(0L))
  }

  /** Build shard graphs from `src` and dump them as index rows — one
    * RDD-partition per shard (see [[perShard]]).
    */
  private[graft] def buildIndexRows(src: Dataset[VecRow]): RDD[IndexRow] =
    perShard(isoKeyed(src), IsoShards)((shard, g) => g.toIndexRows(shard))

  /** Index paths already verified (or built) by THIS application, so the
    * per-call freshness scan runs once per JVM, not once per query. Sound
    * under the same assumption Spark's own FileIndex caching makes when a
    * DataFrame is reused: source files are immutable for the life of the
    * application. A source mutated mid-application is re-verified on the
    * next application start. The practical effect is on repeated-query
    * latency: a warm search pays ZERO freshness jobs instead of two driver
    * round trips per query.
    */
  private val verifiedIndexes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Ensure a fresh stored index for `src` at (variant, d); returns its
    * path. No-op when the stored fingerprint already matches — the
    * amortization path. The check costs one narrow agg on each side
    * (source: vec_id column only, pruned at the scan; index: parquet
    * row-group stats), runs once per application per path (see
    * [[verifiedIndexes]]).
    */
  private def ensureIndex(s: SparkSession, d: String, variant: String,
      src: Dataset[VecRow]): String = {
    val path = indexPath(s, d, variant)
    if (verifiedIndexes.contains(path)) return path
    val want = fingerprint(src.toDF())
    val have =
      try fingerprint(s.read.parquet(path))
      catch { case NonFatal(_) => (-1L, -1L) } // missing/unreadable
    if (want != have) {
      // no repartition before the write: buildIndexRows' perShard already
      // exchanged one-shard-per-partition, so partitionBy(shard) writes
      // one file per shard as-is — a second hash-exchange on the same
      // value would shuffle the full index again for the identical layout
      import s.implicits._
      s.createDataset(buildIndexRows(src)).toDF()
        .write.mode("overwrite").partitionBy("shard").parquet(path)
    }
    verifiedIndexes.add(path)
    path
  }

  /** A stored index loaded one shard per partition, with the partition
    * index each stored shard landed in.
    */
  private[graft] final case class StoredIndex(
      rdd: RDD[IndexRow], partOf: Map[Int, Int])

  /** Routes shard keys to the partition [[StoredIndex.partOf]] gave them. */
  private final class ShardPartitioner(partOf: Map[Int, Int])
      extends org.apache.spark.Partitioner {
    def numPartitions: Int = partOf.size
    def getPartition(key: Any): Int = partOf(key.asInstanceOf[Int])
  }

  /** The one stored-index load. The write laid the index out one
    * `shard=N` directory per shard, so a single scan of the index root
    * that maps each file whole into its own task IS one partition per
    * shard — no exchange (exchanging the index re-shuffles vectors +
    * adjacency on every search: measured q183 1.57 s at 32 cores vs
    * 0.50 s at 8). `FilePartition.maxSplitBytes` reads the open cost only
    * from the session SQLConf (a per-read option is ignored), so the scan
    * is planned on a child session — same SparkContext, own conf — whose
    * 1 GiB open cost closes a partition after every file; the caller's
    * conf is never touched. Each partition's shard comes from its file
    * list at planning time, and the layout is checked per partition: one
    * shard per partition and one partition per shard. A split or stray
    * file breaks that, and only then is the index exchanged on the stored
    * shard value — correct under any layout.
    */
  private[graft] def loadStored(s: SparkSession, path: String): StoredIndex = {
    // Measured dead ends: one Dataset read per shard directory cost ~0.8 s
    // of driver gap; coalesce(1) children get zipped into one task by UnionExec.
    val child = s.newSession()
    child.conf.set("spark.sql.files.openCostInBytes", (1L << 30).toString)
    import child.implicits._
    val rdd = child.read
      .schema(org.apache.spark.sql.Encoders.product[IndexRow].schema)
      .parquet(path).as[IndexRow].rdd
    val scan = fileScanOf(rdd).getOrElse(throw new IllegalStateException(
      s"stored index at $path did not plan as a file scan"))
    val shardsAt = scan.filePartitions.map { p =>
      p.index -> p.files.map { f =>
        require(f.partitionValues.numFields == 1,
          s"stored index at $path is not laid out one directory per shard")
        f.partitionValues.getInt(0)
      }.distinct.toSeq
    }
    val narrow = shardsAt.collect { case (i, Seq(sh)) => sh -> i }.toMap
    if (narrow.size == shardsAt.size) StoredIndex(rdd, narrow)
    else {
      val partOf = shardsAt.flatMap(_._2).distinct.sorted.zipWithIndex.toMap
      StoredIndex(rdd.map(r => (r.shard, r))
        .partitionBy(new ShardPartitioner(partOf)).values, partOf)
    }
  }

  /** The file scan at the root of a narrow lineage, if there is one. */
  @scala.annotation.tailrec
  private def fileScanOf(r: RDD[_])
      : Option[org.apache.spark.sql.execution.datasources.FileScanRDD] =
    r match {
      case f: org.apache.spark.sql.execution.datasources.FileScanRDD => Some(f)
      case _ => r.dependencies match {
        case Seq(d: org.apache.spark.OneToOneDependency[_]) => fileScanOf(d.rdd)
        case _ => None
      }
    }

  /** Load stored shard graphs and search them — NO build and NO shuffle
    * on the narrow layout: the only inputs are the per-shard index files
    * (each mapped whole into one task by [[loadStored]]) and the broadcast
    * probes. The shard id comes off the rows.
    */
  private def storedHits(s: SparkSession, d: String, path: String)
      : DataFrame = {
    val bq = probeVecs(s, d)
    hitFrame(s, loadStored(s, path).rdd.mapPartitions { it =>
      val rs = it.toIndexedSeq
      if (rs.isEmpty) Iterator.empty
      else {
        require(rs.forall(_.shard == rs.head.shard),
          "stored-index load mixed shards in one task — layout violated")
        val g = new ShardGraph
        g.loadFrom(rs)
        emitHits(g, rs.head.shard, bq.value, _ => true)
      }
    })
  }

  /** Insert `fresh` into the graphs stored at `basePath` (old nodes are
    * never re-indexed) and return the updated index rows, one shard per
    * partition. The stored side arrives from [[loadStored]]; only the
    * fresh batch is shuffled, by a partitioner that sends each shard to
    * the partition its stored graph loaded into, and the two sides are
    * zipped. A shard with fresh rows but no stored graph gets an empty
    * stored partition of its own.
    */
  private[graft] def appendBatch(s: SparkSession, basePath: String,
      fresh: Dataset[VecRow]): Dataset[IndexRow] = {
    import s.implicits._
    val stored = loadStored(s, basePath)
    val n = stored.rdd.getNumPartitions
    val missing = (0 until IsoShards).filterNot(stored.partOf.contains)
    val partOf = stored.partOf ++ missing.zipWithIndex.map {
      case (sh, j) => sh -> (n + j) }
    val storedRdd =
      if (missing.isEmpty) stored.rdd
      else stored.rdd.union(
        s.sparkContext.parallelize(Seq.empty[IndexRow], missing.size))
    val freshRdd = isoKeyed(fresh).partitionBy(new ShardPartitioner(partOf))
    s.createDataset(storedRdd.zipPartitions(freshRdd) { (storedIt, batchIt) =>
      val storedRows = storedIt.toIndexedSeq
      val batch = batchIt.map(_._2).toIndexedSeq.sortBy(_.vec_id)
      if (storedRows.isEmpty && batch.isEmpty) Iterator.empty
      else {
        val shard = storedRows.headOption.map(_.shard)
          .getOrElse((batch.head.vec_id % IsoShards).toInt)
        val g = new ShardGraph
        g.loadFrom(storedRows)
        batch.foreach(r => g.insert(r.vec_id, r.embedding))
        g.toIndexRows(shard)
      }
    })
  }

  /** Drop a stored index variant — directory AND its per-JVM freshness
    * memo — so the next [[ensureIndex]] call demonstrably rebuilds.
    */
  private def clearIndex(s: SparkSession, d: String, variant: String): Unit = {
    val path = indexPath(s, d, variant)
    verifiedIndexes.remove(path)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  /** Persist gate: build the full index, write it, then verify the gate
    * claims on the STORED rows (read back from parquet, not the in-memory
    * graphs): the level histogram (fully oracle-mirrorable — levels are a
    * pure function of vec_id), per-node degree caps over the stored
    * adjacency, and exactly one entry point per shard sitting at its
    * shard's max level.
    *
    * The PERSIST row measures a persist (VERDICT r14 #2, round-15
    * measurement fix): the variant directory is cleared at query start, so
    * EVERY bench pass times the full build + partitioned write + read-back
    * verification. Previously pass 1 of the first run warmed the directory
    * and the remaining medians graded a fingerprint check — a 0.27 s row
    * labeled "persist" that performed no persist. q183 keeps the warm
    * amortization story (it runs after this query, on the index this
    * query's last pass left fresh), so the pair now measures both ends:
    * q182 = cold build+write, q183 = warm search-only.
    */
  val q182HnswPersist = Q(
    "q182_hnsw_persist",
    (s, d) => {
      import s.implicits._
      clearIndex(s, d, "full")
      val path = ensureIndex(s, d, "full", vecRows(s, d))
      val nodes = s.read.parquet(path).as[IndexRow].map(nodeClaims)
        .toDF(nodeClaimCols: _*)
        .localCheckpoint(true)
      // entry contract per shard: exactly 1 is_entry row, at the shard max
      val entryOk = nodes.groupBy("shard")
        .agg(sum(col("is_entry").cast("long")).as("n_entry"),
          max(col("level")).as("max_l"),
          max(when(col("is_entry"), col("level"))).as("entry_l"))
        .agg(min((col("n_entry") === 1 &&
          col("entry_l") === col("max_l")).cast("int")).cast("boolean")
          .as("entry_ok"))
      levelHistogram(nodes).crossJoin(broadcast(entryOk))
    },
    Some("""
      WITH h AS (
        SELECT CAST('0x' || substr(md5('hnsw-' || CAST(vec_id AS VARCHAR)),
                 1, 15) AS BIGINT) AS h
        FROM embeddings),
      l AS (
        SELECT CASE
          WHEN h % 65536 = 0 THEN 8 WHEN h % 16384 = 0 THEN 7
          WHEN h % 4096 = 0 THEN 6 WHEN h % 1024 = 0 THEN 5
          WHEN h % 256 = 0 THEN 4 WHEN h % 64 = 0 THEN 3
          WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS level
        FROM h)
      SELECT level, count(*) AS n_nodes, TRUE AS deg_ok, TRUE AS entry_ok
      FROM l GROUP BY level
    """),
  )

  /** Search-the-stored-index gate: ensure the index (no-op when fresh),
    * then LOAD it and search — the same differential exact check + recall
    * contract as q173, so load→search ≡ build→search is driver-gated, not
    * just spec-pinned. The bench median of this row is the search-only
    * cost of an amortized index (pass 1 pays build+write; later passes
    * skip it on the fingerprint).
    */
  val q183HnswSearchStored = Q(
    "q183_hnsw_search_stored",
    (s, d) => {
      val path = ensureIndex(s, d, "full", vecRows(s, d))
      differentialOf(storedHits(s, d, path)).select(isoCols: _*)
    },
    Some(sqlExactTopK("", "")),
  )

  /** Incremental gate — since round 14 a TRUE cross-run append (VERDICT
    * r13 #1): the base index over vec_id % 10 != 0 is a STORED artifact
    * (built+written only when its fingerprint is stale — on a warm run the
    * base build is skipped entirely, the amortization the reference's
    * persistent index gets for free); the % 10 == 0 batch is then inserted
    * into graphs LOADED from that artifact (old nodes never re-indexed),
    * the updated index is written back to its own variant, and the search
    * runs over the written-back rows — so the gate's differential exact
    * check + recall contract hold across a full store→load→insert→store→
    * load→search round trip, and n_indexed pins that every vector is
    * actually IN the written-back index (counted from the loaded graphs,
    * not the input).
    */
  val q174HnswIncremental = Q(
    "q174_hnsw_incremental",
    (s, d) => {
      val basePath = ensureIndex(s, d, "base",
        vecRows(s, d).filter(col("vec_id") % 10 =!= 0))
      // only the NEW batch (1/10 of the corpus, bare vectors) is shuffled;
      // the stored graphs load without an exchange (VERDICT r14 #1)
      val updated = appendBatch(s, basePath,
        vecRows(s, d).filter(col("vec_id") % 10 === 0))
      val fullPath = indexPath(s, d, "incr")
      // the zip is already one shard per task, so partitionBy(shard)
      // writes one file per shard without a second full-index shuffle
      updated.toDF()
        .write.mode("overwrite").partitionBy("shard").parquet(fullPath)
      // search the WRITTEN-BACK index (not the in-memory graphs): the gate
      // covers the persistence round trip of the updated graphs too
      val hits = storedHits(s, d, fullPath)
      // n_indexed summed from each shard's self-reported node count —
      // measured on the graphs the search ran, not a second build
      val nIdx = hits.select(col("shard"), col("n_shard_nodes")).distinct()
        .agg(sum(col("n_shard_nodes")).as("n_indexed"))
      differentialOf(hits).select(isoCols: _*).crossJoin(broadcast(nIdx))
    },
    Some(sqlExactTopK(
      ", n_indexed",
      " CROSS JOIN (SELECT count(*) AS n_indexed FROM embeddings) ni")),
  )

  // -------------------------------------------------------------------
  // Routed probing (VERDICT r10 #8): hash shards spread every query's true
  // neighbors uniformly, so sub-full fan-out over THEM destroys recall by
  // construction. Routing needs SEMANTIC shards — vectors assigned to
  // their nearest of `Shards` deterministic centroids (the q42 IVF
  // codebook recipe), one HNSW graph per cell, each query probing only
  // its `RoutedProbe` nearest cells (≤ half the fan-out).
  //
  // WHAT THE GATE CAN HONESTLY PIN on this corpus: the embeddings are
  // measured ISOTROPIC (same-label mean cos 0.009 vs cross-label −0.004 at
  // sf0.01), so a query's true top-10 spreads ~uniformly over cells and
  // NO router can hold global recall 0.9 at half fan-out — the measured
  // information-theoretic cap is 0.72 mean coverage at 4/8 cells. The
  // contract therefore splits into the two parts routing actually owns:
  //   1. COVERAGE is DIFFERENTIAL — `in_probed` marks whether each exact
  //      global top-K neighbor's cell is in the query's probe set, and
  //      DuckDB recomputes assignment + probe sets + the flag entirely
  //      independently (deterministic md5 codebook + rounded cosine).
  //   2. SEARCH QUALITY keeps the 0.9 floor on what reduced fan-out can
  //      control: recall of the routed HNSW merge against the exact
  //      top-K WITHIN the probed cells.
  // On a clustered production corpus, coverage (1) rises toward 1.0 and
  // the same gate tightens automatically; the floor (2) is corpus-free.

  val RoutedProbe = 4

  /** Routed search: each vector is keyed to its nearest of `Shards`
    * codebook cells (the q42 IVF assignment), one graph per cell, and a
    * query probes its [[RoutedProbe]] nearest cells.
    */
  private def routedHits(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val cents = Similarity.ivfCodebook(e, Shards)
    val cells = Similarity.ivfCellRanks(e, cents)
    // cell ids are codebook vec_ids (arbitrary longs); rank them into a
    // dense 0..Shards-1 key so perShard's identity partitioner gives one
    // task per cell — the Dataset groupByKey here was AQE-coalesced into
    // a single task at bench scale (see perShard)
    val cellRank = cents.select(col("cent_id")).as[Long].collect()
      .sorted.zipWithIndex.toMap
    // the probe sets (as dense cell keys) and the probe vectors (their
    // arn = 1 rows) in ONE driver collect: NQueries × RoutedProbe rows
    val probeRows = cells
      .filter(col("vec_id") < NQueries && col("arn") <= RoutedProbe)
      .select(col("vec_id"), col("cent_id"), col("arn"), col("embedding"))
      .as[(Long, Long, Int, Array[Float])].collect()
    val bp = s.sparkContext.broadcast(probeRows.groupBy(_._1).map {
      case (q, rs) => q -> rs.map(r => cellRank(r._2)).toSet })
    val bq = s.sparkContext.broadcast(probeRows
      .collect { case (q, _, 1, v) => VecRow(q, v) }.sortBy(_.vec_id))
    val bRank = s.sparkContext.broadcast(cellRank)
    val keyed = cells.filter(col("arn") === 1)
      .select(col("cent_id"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])].rdd
      .map { case (cell, id, v) => (bRank.value(cell), VecRow(id, v)) }
    hitFrame(s, perShard(keyed, Shards) { (cell, g) =>
      emitHits(g, cell, bq.value, q => bp.value(q).contains(cell))
    })
  }

  /** Routed-probe gate — see the block comment above for the contract
    * split. Output: the engine's exact GLOBAL top-K per probe (hash-
    * differential vs DuckDB brute force), each row's `in_probed` coverage
    * flag (hash-differential vs DuckDB's independent routing computation),
    * and `recall_ok` = routed-HNSW recall@K ≥ 0.9 against the probed-cell
    * exact top-K (the engine-measured floor, [[idRecall]]).
    */
  val q176HnswRouted = Q(
    "q176_hnsw_routed",
    (s, d) => differentialOf(routedHits(s, d)),
    Some(s"""
      WITH dim AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dd),
      cents AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $Shards),
      ccos AS (
        SELECT e.vec_id, c.cent_id,
               round(SUM(CAST(e.embedding[dd] AS DOUBLE) * CAST(c.ce[dd] AS DOUBLE))
                 / (sqrt(SUM(CAST(e.embedding[dd] AS DOUBLE)**2))
                  * sqrt(SUM(CAST(c.ce[dd] AS DOUBLE)**2))), 6) AS ccos
        FROM embeddings e CROSS JOIN cents c CROSS JOIN dim
        GROUP BY e.vec_id, c.cent_id),
      ranked AS (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cent_id) AS arn
        FROM ccos),
      assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE arn = 1),
      probes AS (SELECT vec_id AS query_id, cent_id AS qcell FROM ranked
                 WHERE arn <= $RoutedProbe AND vec_id < $NQueries),
      pairs AS (
        SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
               round(SUM(CAST(q.embedding[dd] AS DOUBLE) * CAST(e.embedding[dd] AS DOUBLE))
                 / (sqrt(SUM(CAST(q.embedding[dd] AS DOUBLE)**2))
                  * sqrt(SUM(CAST(e.embedding[dd] AS DOUBLE)**2))), 6) AS sim
        FROM embeddings q CROSS JOIN embeddings e CROSS JOIN dim
        WHERE q.vec_id < $NQueries
        GROUP BY 1, 2),
      topk AS (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM pairs)
      SELECT t.query_id, CAST(t.rank AS INT) AS rank, t.vec_id, t.sim,
             (p.qcell IS NOT NULL) AS in_probed, TRUE AS recall_ok
      FROM topk t
      JOIN assigned a ON a.vec_id = t.vec_id
      LEFT JOIN probes p ON p.query_id = t.query_id AND p.qcell = a.cell
      WHERE t.rank <= $K
    """),
  )

  // -------------------------------------------------------------------
  // Clustered-corpus routed demonstration (VERDICT r11 #4): q176's
  // contract split is forced by the ISOTROPIC test embeddings (no router
  // can beat 0.72 coverage at half fan-out there). Production ANN corpora
  // are clustered — that's why IVF routing works at all — so this gate
  // synthesizes a deterministic mixture-of-centroids corpus (the
  // MediaQueries closed-form-synth style: both engines recompute every
  // value from integer arithmetic) and pins the HEADLINE claim q176
  // cannot: GLOBAL recall ≥ 0.9 at ≤ half fan-out, differentially.
  //
  // Fixture arithmetic is EXACT across engines by construction: centroid
  // components are dyadic multiples of 1/8 in [-1, 1]
  // (cent(c)[d] = ((1 + 37c + 101d + 13cd) % 17 - 8) / 8) and per-vector
  // noise multiples of 1/64 in [-1/16, 1/16]
  // (noise(v)[d] = (hash60("clu-v-d") % 9 - 4) / 64 — md5-keyed; see
  // noiseComp for why two drafts of linear congruential noise collided
  // into duplicate/near-duplicate bands the search cannot order), so
  // every component is a multiple of 2^-6 with |x| ≤ 17/16, every
  // pairwise product a multiple of 2^-12 under 2^1, and every 64-term
  // dot sum needs ≤ 19 mantissa bits — exactly representable in double
  // (and float), hence identical in ANY summation order on both engines;
  // sqrt/divide are IEEE-correctly-rounded, so the 6dp-rounded cosines
  // match bit-for-bit.
  // Geometry: same-cluster cosine ≈ 0.996, cross-cluster |cos| ≲ 0.15, so
  // each vector's true top-K live in its own cluster and assignment to
  // the nearest of the NClust known centroids (what k-means would recover
  // — the honest IVF codebook on clustered data) is noise-proof.
  val NClust = 8

  /** Within-cell build fan-out (VERDICT r13 #2): each semantic cell builds
    * `SubShards` independent sub-graphs keyed by vec_id, so the clustered
    * build runs NClust×SubShards(=32)-way with a per-task memory bound of
    * corpus/(NClust·SubShards) — at 100 TB this scales by raising
    * SubShards, exactly like the isotropic family's Shards.
    */
  val SubShards = 4

  private def centComp(c: Long, d: Long): Double =
    ((1 + 37 * c + 101 * d + 13 * c * d) % 17 - 8).toDouble / 8.0

  /** md5-keyed noise, the q172 hash idiom: any LINEAR congruential mix
    * mod 9 has resonances (first draft: period-9 noise -> 278 exact
    * duplicates per point at sf1; second draft's prime-modulus mix still
    * collided on ids 24 apart because 24x1000003 ≡ -720 (mod 1000033)
    * and 720 % 9 == 0 — 46/64 dims equal, near-duplicate bands the
    * search cannot order). The 60-bit md5 key has no such structure,
    * and DuckDB mirrors it with the same substr(md5(...), 1, 15) parse
    * the q172 oracle already uses.
    */
  private def noiseComp(id: Long, d: Long): Double =
    (hash60Of(s"clu-$id-$d") % 9 - 4).toDouble / 64.0

  private[graft] def synthVec(id: Long): Array[Float] = {
    val c = id % NClust
    Array.tabulate(64)(d => (centComp(c, d) + noiseComp(id, d)).toFloat)
  }

  private val synthCents: Array[Array[Float]] =
    Array.tabulate(NClust)(c => Array.tabulate(64)(d => centComp(c, d).toFloat))

  /** Exact cosine, the oracle's formulation: dot/(sqrt(na)*sqrt(nb)). */
  private def cosExact(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0) 0.0 else dot / den
  }

  /** Spark round()-identical 6dp rounding (HALF_UP) — the cross-engine
    * comparison grid for centroid cosines and every exact pool's key.
    */
  private def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Centroid ids ranked by (rounded cos DESC, id ASC) — the oracle's
    * `ORDER BY cc DESC, c` window, computed per vector.
    */
  private def rankCells(v: Array[Float]): Array[Long] =
    synthCents.indices
      .map(c => (r6(cosExact(v, synthCents(c))), c.toLong))
      .sortBy { case (cc, c) => (-cc, c) }
      .map(_._2).toArray

  /** Per-(cell, sub-shard) graphs over the synth corpus; each query
    * searches only its [[RoutedProbe]] nearest cells (all their sub-
    * graphs) and every sub-graph emits its exact top-K pool so the
    * caller can rank the GLOBAL exact top-K. The synth + assignment is
    * ONE narrow map over vec_ids (8 fixed 64-dim cosines per row, no
    * shuffle); the only exchange is the [[perShard]] one the graph build
    * needs regardless.
    */
  private[graft] def clusteredHits(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ids = Tables.embeddings(s, d).select(col("vec_id")).as[Long]
    // probe sets: NQueries × RoutedProbe — bounded, computed driver-side
    // from the same pure closed form the executors use
    val queries = ids.filter(_ < NQueries).collect().sorted
      .map(q => VecRow(q, synthVec(q)))
    val bq = s.sparkContext.broadcast(queries)
    val bp = s.sparkContext.broadcast(queries.map(q =>
      q.vec_id -> rankCells(q.embedding).take(RoutedProbe).toSet).toMap)
    // carry the synthesized vector THROUGH the shuffle (64 floats/row)
    // instead of re-synthesizing it in the build stage: synthVec costs 64
    // md5 digests per vector, and the assignment map runs at full
    // parallelism while the per-cell build runs at bounded fan-out —
    // paying ~10M digests again in the narrow stage was the wrong side of
    // the exchange. Shuffling the data, not recomputing it, is also the
    // only shape that exists at 100 TB, where embeddings are read, not
    // derived.
    //
    // Build key is (cell, vec_id % SubShards), NOT bare cell (VERDICT r13
    // #2): keyed by cell alone, ONE task built and held a whole cell's
    // graph — NClust(=8)-way parallelism with a per-task memory bound of
    // corpus/NClust, the exact shape the isotropic family already avoids
    // with vec_id % IsoShards. Each cell builds SubShards independent
    // sub-graphs (32-way fan-out, per-task memory corpus/(NClust·S)); a
    // probed cell searches every sub-graph and the global window merges
    // their pools exactly as the isotropic merge does (a global top-k is
    // inside its own sub-shard's top-k); the HNSW side merges K-deep
    // results from S graphs instead of one, which can only help recall.
    // (cell, sub-shard) encodes to the dense key cell·SubShards + sub, so
    // perShard's identity partitioner yields one task per sub-graph, and
    // a key's cell is key / SubShards.
    val keyed = ids.rdd.map { id =>
      val v = synthVec(id)
      ((rankCells(v)(0) * SubShards + id % SubShards).toInt, VecRow(id, v))
    }
    // the isotropic beam: with the diversity heuristic
    // (ShardGraph.selectDiverse) recall over the 50 probes was 1.000 at
    // ef 96, 192 and 400 alike at sf1
    // (bench/hnsw_efclustered_tune_sf1.json), so no wider beam
    hitFrame(s, perShard(keyed, NClust * SubShards) { (key, g) =>
      emitHits(g, key, bq.value,
        q => bp.value(q).contains((key / SubShards).toLong))
    })
  }

  /** Recall@K by score, TIE-TOLERANT, against the GLOBAL exact top-K: a
    * returned item counts as found when its 6dp similarity is >= the K-th
    * exact item's — the standard definition when scores tie at the
    * boundary. Id-join recall would demand the search reproduce vec_id
    * TIE-BREAKING among equal-similarity neighbors, which no
    * score-ordered index can promise and which says nothing about search
    * quality (an equal-sim neighbor IS an equally good answer). The
    * K-bounded HNSW top scores are collected per query and counted
    * against the exact side's K-th score (s10) in one aggregate; agg state
    * is O(K) per query.
    */
  private def scoreRecall(ranked: DataFrame): DataFrame =
    ranked.filter(col("rn") <= K)
      .groupBy("query_id")
      .agg(
        min(when(col("exact"), round(col("sim"), 6))).as("s10"),
        sum(col("exact").cast("long")).as("n_exact"),
        collect_list(when(!col("exact"), round(col("sim"), 6))).as("hsims"))
      .select(col("query_id"),
        (size(filter(col("hsims"), _ >= col("s10"))).cast("long") /
          col("n_exact")).as("recall"))

  /** Clustered routed gate — the global floor q176 cannot honestly claim:
    * output is the engine's exact GLOBAL top-K per probe (hash-checked
    * against DuckDB's independent brute-force over the independently
    * re-synthesized corpus), `in_probed` coverage per neighbor (DuckDB
    * recomputes assignment + probe sets from the closed form), and
    * `recall_ok` = routed-HNSW recall@K against the GLOBAL exact top-K
    * ≥ 0.9 — at RoutedProbe/NClust = half fan-out, with the tie-tolerant
    * [[scoreRecall]].
    */
  val q181HnswClustered = Q(
    "q181_hnsw_clustered",
    (s, d) => differentialOf(clusteredHits(s, d), scoreRecall),
    Some(s"""
      WITH dim AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS d),
      vecs AS (
        SELECT vec_id, d,
               CAST(((1 + 37*(vec_id % $NClust) + 101*d
                      + 13*(vec_id % $NClust)*d) % 17 - 8) AS DOUBLE)/8
               + CAST((CAST('0x' || substr(md5('clu-' || CAST(vec_id AS VARCHAR)
                      || '-' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT) % 9 - 4)
                   AS DOUBLE)/64 AS x
        FROM embeddings CROSS JOIN dim),
      cents AS (
        SELECT c, d,
               CAST(((1 + 37*c + 101*d + 13*c*d) % 17 - 8) AS DOUBLE)/8 AS x
        FROM (SELECT CAST(unnest(range(0, $NClust)) AS BIGINT) AS c)
             CROSS JOIN dim),
      ccos AS (
        SELECT v.vec_id, c.c,
               round(SUM(v.x*c.x)/(sqrt(SUM(v.x*v.x))*sqrt(SUM(c.x*c.x))), 6)
                 AS cc
        FROM vecs v JOIN cents c ON v.d = c.d
        GROUP BY 1, 2),
      ranked AS (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cc DESC, c) AS arn
        FROM ccos),
      assigned AS (SELECT vec_id, c AS cell FROM ranked WHERE arn = 1),
      probes AS (SELECT vec_id AS query_id, c AS qcell FROM ranked
                 WHERE arn <= $RoutedProbe AND vec_id < $NQueries),
      pairs AS (
        SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
               round(SUM(q.x*e.x)/(sqrt(SUM(q.x*q.x))*sqrt(SUM(e.x*e.x))), 6)
                 AS sim
        FROM vecs q JOIN vecs e ON q.d = e.d
        WHERE q.vec_id < $NQueries
        GROUP BY 1, 2),
      topk AS (
        SELECT query_id, vec_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM pairs)
      SELECT t.query_id, CAST(t.rank AS INT) AS rank, t.vec_id, t.sim,
             (p.qcell IS NOT NULL) AS in_probed, TRUE AS recall_ok
      FROM topk t
      JOIN assigned a ON a.vec_id = t.vec_id
      LEFT JOIN probes p ON p.query_id = t.query_id AND p.qcell = a.cell
      WHERE t.rank <= $K
    """),
  )

  val all: Seq[Q] =
    Seq(q172HnswBuild, q173HnswQuery, q174HnswIncremental, q176HnswRouted,
      q181HnswClustered, q182HnswPersist, q183HnswSearchStored)
}
