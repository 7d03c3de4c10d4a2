package graft

import graft.operators.TextCuration

/** Curation operators on crafted micro-corpora: repetition metrics match
  * hand-computed values, PII scrub counts/redacts exactly, tf-idf ranks by
  * the exact rational score with the documented tiebreak.
  */
class TextCurationSpec extends SparkSpec {

  private def mkNorm(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "norm")
  }

  test("repetitionMetrics: token shares and duplicated-5-gram fraction") {
    val df = TextCuration.repetitionMetrics(mkNorm(Seq(
      1L -> "a a a b c",                           // 5 tokens, one 5-gram
      2L -> "x y",                                 // too short for 5-grams
      3L -> "p q r s t p q r s t p q r s t",       // period-5 repetition
    ))).collect().map(r => r.getLong(0) -> r).toMap

    val d1 = df(1L)
    assert(d1.getLong(1) === 5L && d1.getLong(2) === 3L)
    assert(d1.getDouble(3) === 0.6)     // "a" 3/5
    assert(d1.getDouble(4) === 0.0)     // 1 gram, 1 distinct

    assert(df(2L).isNullAt(4))          // no 5-grams → null, not 0/0

    val d3 = df(3L)
    // 11 windows, 5 distinct (cyclic) → 6/11 duplicated
    assert(d3.getDouble(4) === math.rint(6.0 / 11 * 1e6) / 1e6)
  }

  test("piiScrub counts appended + pre-existing PII and redacts all of it") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain words only"),
      (2L, "reach me at alice@corp.io today"), // one extra email in the body
    ).toDF("doc_id", "text")
    val got = TextCuration.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got(1L)._1 === 2 && got(1L)._2 === 1) // the two appended emails + phone
    assert(got(2L)._1 === 3 && got(2L)._2 === 1)

    val aug = "plain words only contact user1@example.com or " +
      "user1@mail.example.org call 555-1 now"
    val scrubbed = aug
      .replaceAll(TextCuration.EmailRe, "<EMAIL>")
      .replaceAll(TextCuration.PhoneRe, "<PHONE>")
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(scrubbed.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L)._3 === hex)
  }

  test("tfidfTerms ranks by exact tf*N/df with term tiebreak") {
    val norm = mkNorm(Seq(
      1L -> "apple apple banana",
      2L -> "banana cherry",
      3L -> "cherry cherry cherry date",
    ))
    val got = TextCuration.tfidfTerms(norm, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getDouble(5))))
      .toMap
    assert(got((1L, 1)) === (("apple", 6.0)))   // 2*3/1
    assert(got((1L, 2)) === (("banana", 1.5))) // 1*3/2
    assert(got((3L, 1)) === (("cherry", 4.5))) // 3*3/2
    assert(got((3L, 2)) === (("date", 3.0)))   // 1*3/1
    // doc 2: equal scores (1*3/2) for banana and cherry → term asc tiebreak
    assert(got((2L, 1))._1 === "banana" && got((2L, 2))._1 === "cherry")
  }

  test("heavyHitters: deterministic sample, exact ranking, honest contract") {
    val norm = graft.operators.Pipeline.normDocs(
      graft.core.Tables.documents(spark, "/root/testdata/sf0.01"))
    val rows = TextCuration.heavyHitters(norm, 20).collect()
    assert(rows.length === 20)
    val ranks = rows.map(_.getInt(1)).sorted
    assert(ranks === (1 to 20).toArray)
    // exact counts strictly ordered by (count desc, term)
    val byRank = rows.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getString(0)))
    assert(byRank.sliding(2).forall { case Array((a, ta), (b, tb)) =>
      a > b || (a == b && ta < tb) })
    // partition-invariant (hash sample is a pure function of doc_id)
    val again = TextCuration.heavyHitters(norm.repartition(13), 20).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet
    assert(again === rows.map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet)
  }

  test("winsorBounds equals the exact percentile on BOTH code paths") {
    import org.apache.spark.sql.functions._
    // deterministic 2-decimal values with heavy ties (the money-column
    // contract winsorBounds documents); LCG keeps the fixture seedable
    def fixture(n: Int): org.apache.spark.sql.DataFrame =
      spark.range(n).select(
        (((col("id") * 1103515245L + 12345L) % 100000L + 100000L) % 100000L)
          .cast("double").divide(100.0).as("v"))
    // independent exact reimplementation of quantile_cont over the sorted
    // values in BigDecimal — winsorBounds must match BIT-EXACTLY (it is
    // MORE exact than Spark's own `percentile`, whose double interpolation
    // drifts ~1e-13; that drift is the ulp fragility the decimal form
    // removes, so `percentile` only gets a tolerance cross-check)
    def exact(sorted: Array[Double], p: String): Double = {
      val pos = BigDecimal(sorted.length - 1) * BigDecimal(p)
      val k = pos.toBigInt.toInt // pos >= 0, floor == truncate
      val d = pos - BigDecimal(k)
      val a = BigDecimal(sorted(k))
      val b = BigDecimal(sorted(math.min(k + 1, sorted.length - 1)))
      (a + d * (b - a)).toDouble
    }
    // the kernel: one sketch, the cells over its two bands, one rank window
    def bounds(df: org.apache.spark.sql.DataFrame) = {
      import graft.operators.Quantiles
      val br = Quantiles.brackets(df, col("v"), Nil, TextCuration.WinsorProbes)
      val cells = Quantiles.cells(df, col("v"), Nil, Nil,
        br.view.mapValues(_.bands(2)).toMap, Nil)
      TextCuration.winsorBounds(cells, Nil, br).collect().head
    }
    // small-N path (full histogram) and bracket path (n >= 100k cutoff)
    for (n <- Seq(5000, 150000)) {
      val df = fixture(n)
      val got = bounds(df)
      val sorted = df.orderBy("v").collect().map(_.getDouble(0))
      assert(got.getDouble(0) === exact(sorted, "0.01"), s"lo at n=$n")
      assert(got.getDouble(1) === exact(sorted, "0.99"), s"hi at n=$n")
      val sp = df.agg(
        expr("percentile(v, 0.01)"), expr("percentile(v, 0.99)")).collect().head
      assert(math.abs(got.getDouble(0) - sp.getDouble(0)) < 1e-9, s"lo vs percentile at n=$n")
      assert(math.abs(got.getDouble(1) - sp.getDouble(1)) < 1e-9, s"hi vs percentile at n=$n")
    }
    // partition-invariant: same bounds under a different layout
    val df = fixture(150000)
    val a = bounds(df)
    val b = bounds(df.repartition(17))
    assert((a.getDouble(0), a.getDouble(1)) === (b.getDouble(0), b.getDouble(1)))
  }

  test("token divergence: KL is zero iff the source matches the corpus mix") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a a b"), ("s1", "a b b"), // s1: a=3, b=3
      ("s2", "a b a b a b"),            // s2: a=3, b=3 — same distribution
      ("s3", "a a a a a b"),            // s3: skewed toward a
    ).toDF("source", "text")
    val kl = TextCuration.tokenDivergence(docs)
      .collect().map(r => r.getString(0) -> r).toMap
    // s1 and s2 have the identical (a: 1/2, b: 1/2) distribution, so their
    // divergence from the corpus mix is identical; s3 is skewed
    assert(kl("s1").getAs[Double]("kl") === kl("s2").getAs[Double]("kl"))
    assert(kl("s3").getAs[Double]("kl") > kl("s1").getAs[Double]("kl"))
    assert(kl("s1").getAs[Long]("n_tokens") === 6L)
    assert(kl("s1").getAs[Long]("n_terms") === 2L)
    // a uniform corpus: every source IS the corpus → KL exactly 0
    val uni = Seq(("u1", "x y"), ("u2", "x y")).toDF("source", "text")
    TextCuration.tokenDivergence(uni).collect()
      .foreach(r => assert(r.getAs[Double]("kl") === 0.0))
  }

  test("lmPerplexity: add-one bigram model matches hand computation") {
    import spark.implicits._
    // corpus: doc1 "a b a b", doc2 "a b" → V=2
    // bigram counts: (a,b)=3, (b,a)=1; context counts: a=3, b=1
    // P(b|a)=(3+1)/(3+2)=0.8  P(a|b)=(1+1)/(1+2)=2/3
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextCuration.lmPerplexity(docs).collect()
      .map(r => r.getLong(0) -> r).toMap

    val pBA = 4.0 / 5
    val pAB = 2.0 / 3
    val h1 = -(2 * math.log(pBA) + math.log(pAB)) / 3
    val h2 = -math.log(pBA)
    assert(got(1L).getLong(1) === 3L)
    assert(got(2L).getLong(1) === 1L)
    assert(got(1L).getDouble(2) === math.rint(h1 * 1e6) / 1e6)
    assert(got(2L).getDouble(2) === math.rint(h2 * 1e6) / 1e6)
    assert(got(2L).getDouble(3) === math.rint(math.exp(h2) * 1e6) / 1e6)
    // the doc made of the corpus' most likely transitions scores lower
    assert(got(2L).getDouble(2) < got(1L).getDouble(2))
  }

  test("qualityGate: each rule sets its own bit; clean doc passes") {
    import spark.implicits._
    // 40 words, 30 stopword hits, mean word len (195-40+1)/40 = 3.9
    val clean = (("the and of to a " * 6) + ("wonderful " * 10)).trim
    val norm = Seq(
      (1L, clean),                        // passes everything
      (2L, "the and cat dog fox"),        // 5 words, mean len 3.0 → bit 0 only
      (3L, ("aaaaaaaaaaaa " * 40).trim),  // 12-char words, no stops → bits 1,3
      (4L, ("111 222 the the " * 10).trim), // alpha 0.5, mean len 3.0 → bit 2
    ).toDF("doc_id", "norm")
    val got = TextCuration.qualityGate(norm).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getInt(5) === 0 && got(1L).getBoolean(6))
    assert(got(2L).getInt(5) === 1)
    assert(got(3L).getInt(5) === (2 | 8))
    assert(got(4L).getInt(5) === 4 && !got(4L).getBoolean(6))
    assert(got(4L).getLong(1) === 40L) // n_words
  }

  test("pmiCollocations: exclusive pair tops the list, promiscuous pair sinks") {
    import spark.implicits._
    // "x y" always together (5 times); "a b" frequent but a,b also pair
    // with everything else → pmi(x,y) > pmi(a,b)
    val docs = Seq(
      (1L, "x y x y x y x y x y"),
      (2L, ("a b " * 5 + "a c a d a e b c b d b e").trim),
    ).toDF("doc_id", "text")
    val got = TextCuration.pmiCollocations(docs, minCount = 5, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.head._1 === "x" && got.head._2 === "y")
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains(("a", "b")))
    val pmiXY = got.head._4
    val pmiAB = got.find(t => t._1 == "a" && t._2 == "b").get._4
    assert(pmiXY > pmiAB)
    // every survivor meets min support
    assert(got.forall(_._3 >= 5))
  }

  test("NfcNormalize composes decomposed marks; ASCII takes the identity fast path") {
    import graft.functions.NfcNormalize
    import org.apache.spark.unsafe.types.UTF8String
    // decomposed e + U+0301 -> precomposed U+00E9
    val dec = UTF8String.fromString("cafe\u0301")
    assert(NfcNormalize.norm(dec).toString === "caf\u00e9")
    // already-NFC input returns the SAME UTF8String instance (no copy)
    val ascii = UTF8String.fromString("plain ascii text")
    assert(NfcNormalize.norm(ascii) eq ascii)
    val pre = UTF8String.fromString("caf\u00e9")
    assert(NfcNormalize.norm(pre) eq pre)
    // idempotent
    assert(NfcNormalize.norm(NfcNormalize.norm(dec)).toString === "caf\u00e9")
    // through the Column API (codegen path) on a real frame, incl. null
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(Some("nai\u0308ve"), Some("abc"), None).toDF("t")
    val got = df.select(NfcNormalize(col("t")).as("n"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(got.toSeq === Seq("na\u00efve", "abc", null))
    // registered as a SQL function via the extensions
    graft.functions.GraftExtensions.register(spark)
    df.createOrReplaceTempView("nfc_test")
    val viaSql = spark.sql(
      "SELECT nfc_normalize(t) AS n FROM nfc_test WHERE t IS NOT NULL")
      .collect().map(_.getString(0)).toSet
    assert(viaSql === Set("na\u00efve", "abc"))
  }

  test("bm25: hand-computed scores, tf saturation, length normalization") {
    import spark.implicits._
    // doc 1: 'spark' once in 4 tokens; doc 2: 'spark' 3x in 4 tokens;
    // doc 3: 'spark' once in 12 tokens; doc 4: no query term
    val docs = Seq(
      (1L, "spark a b c"),
      (2L, "spark spark spark c"),
      (3L, "spark a b c d e f g h i j k"),
      (4L, "x y z w"),
    ).toDF("doc_id", "norm")
    val got = TextCuration
      .bm25(docs, TextCuration.Bm25Terms.toDF("term"), 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got.contains(4L), "doc without query terms must not score")
    def score(tf: Double, dl: Double): Double = {
      val idf = math.log((4 - 3 + 0.5) / (3 + 0.5) + 1.0)
      val avgdl = (4 + 4 + 12 + 4) / 4.0
      val c = idf * (tf * 2.2) / (tf + (0.25 + (dl * 0.75) / avgdl) * 1.2)
      math.rint(c * 1e6) / 1e6
    }
    assert(got(1L) === score(1, 4))
    assert(got(2L) === score(3, 4))
    assert(got(3L) === score(1, 12))
    // saturation: 3x the tf gives less than 3x the score
    assert(got(2L) > got(1L) && got(2L) < 3 * got(1L))
    // length normalization: same tf, longer doc scores lower
    assert(got(3L) < got(1L))
  }

  test("phraseSearch: consecutive positions only, occurrences counted") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a table hash b table hash"), // two occurrences
      (2L, "hash table"), // reversed order: no match
      (3L, "table x hash"), // non-adjacent: no match
      (4L, "table hash"), // one occurrence
      (5L, "no query terms at all"),
    ).toDF("doc_id", "norm")
    val got = TextCuration.phraseSearch(docs, Seq("table", "hash"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 4L -> 1L), got.toString)
  }
}
