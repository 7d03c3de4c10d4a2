package graft

import graft.api.{AskAi, HttpFacade, LlmPorts, MiniJson}
import graft.core.Num
import graft.forecast.Forecasters
import graft.intent.{IntentParser, SalesView}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.collection.concurrent.TrieMap

/** End-to-end HTTP coverage of the facade: every reference endpoint
  * (`/root/reference/api/main.py:629-1505`) served by the engine and hit
  * through a real socket with the JDK HTTP client.
  */
class HttpFacadeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val facade = new HttpFacade(spark, sf).start()
  private lazy val client = HttpClient.newHttpClient()
  private def base = s"http://127.0.0.1:${facade.boundPort}"

  /** Spark jobs and shuffle bytes written per job group, with each
    * group's description.
    */
  private object groups extends SparkListener {
    val description = TrieMap.empty[String, String]
    val jobs = TrieMap.empty[String, Int]
    val shuffleWritten = TrieMap.empty[String, Long]
    val ended = TrieMap.empty[String, Unit]
    private val groupOfJob = TrieMap.empty[Int, String]
    private val groupOfStage = TrieMap.empty[Int, String]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          description(g) = e.properties.getProperty("spark.job.description")
          jobs(g) = jobs.getOrElse(g, 0) + 1
          groupOfJob(e.jobId) = g
          e.stageIds.foreach(groupOfStage(_) = g)
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      groupOfJob.get(e.jobId).foreach(ended(_) = ())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (g <- groupOfStage.get(e.stageId); m <- Option(e.taskMetrics))
        shuffleWritten(g) = shuffleWritten.getOrElse(g, 0L) +
          m.shuffleWriteMetrics.bytesWritten
  }
  spark.sparkContext.addSparkListener(groups)
  private val fences = new java.util.concurrent.atomic.AtomicInteger()

  /** Waits until the listener has seen every event posted so far: the bus
    * delivers in order, so a job run here ends after all earlier ones.
    */
  private def drainListener(): Unit = {
    val g = s"fence-${fences.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(g, "listener fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!groups.ended.contains(g)) {
      assert(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(5)
    }
  }

  /** Runs `request` and returns its one job group's (description, jobs,
    * shuffle bytes written).
    */
  private def sparkWork(request: => Any): (String, Int, Long) = {
    drainListener()
    val before = groups.description.keySet
    request
    drainListener()
    val mine = groups.description.keySet.diff(before).filter(_.startsWith("http-"))
    assert(mine.size === 1, s"request job groups: $mine")
    val g = mine.head
    (groups.description(g), groups.jobs(g), groups.shuffleWritten.getOrElse(g, 0L))
  }

  override def afterAll(): Unit = {
    try facade.stop()
    finally {
      spark.sparkContext.removeSparkListener(groups)
      super.afterAll()
    }
  }

  private def get(path: String): (Int, Any) = getAt(base, path)

  private def getAt(at: String, path: String): (Int, Any) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"$at$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), MiniJson.parse(r.body()))
  }

  private def post(path: String, body: String): (Int, Any) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"$base$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), MiniJson.parse(r.body()))
  }

  private def asObj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  private def asArr(v: Any): List[Any] = v.asInstanceOf[List[Any]]

  test("health and json-ok respond") {
    val (c1, b1) = get("/health")
    assert(c1 === 200)
    assert(asObj(b1)("status") === "ok")
    val (c2, b2) = get("/debug/json-ok")
    assert(c2 === 200)
    assert(asObj(b2)("answer") === 42.0)
  }

  test("data/inspect reports the sales view shape") {
    val (c, b) = get("/data/inspect")
    assert(c === 200)
    val o = asObj(b)
    assert(o("row_count").asInstanceOf[Double] > 0)
    assert(asArr(o("columns")).contains("region"))
    assert(asArr(o("sample_rows")).length === 3)
  }

  test("analytics/kpi returns the four KPI fields") {
    val (c, b) = get("/analytics/kpi")
    assert(c === 200)
    val o = asObj(b)
    assert(o("total_sales").asInstanceOf[Double] > 0)
    assert(o("avg_satisfaction").asInstanceOf[Double] > 0)
    assert(o("top_region").asInstanceOf[String].nonEmpty)
    assert(o("top_product").asInstanceOf[String].nonEmpty)
  }

  test("bi endpoints return rows+columns payloads") {
    val (c1, b1) = get("/bi/region-divergence")
    assert(c1 === 200)
    assert(asArr(asObj(b1)("columns")) ===
      List("region", "slope_sales", "slope_sat", "n"))

    val (c2, b2) = get("/bi/top-products-under-30?limit=1")
    assert(c2 === 200)
    assert(asArr(asObj(b2)("rows")).length === 1)
    // reference payload parity: (product, total_sales, n)
    assert(asArr(asObj(b2)("columns")) === List("product", "total_sales", "n"))

    val (c3, b3) = get("/bi/region-trends?regions=North,South")
    assert(c3 === 200)
    val o3 = asObj(b3)
    assert(asArr(o3("regions")) === List("North", "South"))
    assert(asArr(o3("columns")) ===
      List("month", "region", "sales", "satisfaction"))
    assert(asArr(o3("rows")).nonEmpty)

    val (c4, b4) = get("/bi/region-trends?regions=")
    assert(c4 === 200)
    assert(asArr(asObj(b4)("rows")).isEmpty)
  }

  test("ts/sales-daily returns the full history with its count") {
    val (c, b) = get("/ts/sales-daily")
    assert(c === 200)
    val o = asObj(b)
    val rows = asArr(o("rows"))
    assert(rows.nonEmpty)
    assert(o("n") === rows.length.toDouble)
    // rows are [date, sales] with ISO dates
    val first = asArr(rows.head)
    assert(first.head.asInstanceOf[String].matches("\\d{4}-\\d{2}-\\d{2}"))
  }

  test("ts-forecast-v2 produces h forecast days continuing the history") {
    val (c, b) = get("/api/ts-forecast-v2?h=5&algo=drift&window=10")
    assert(c === 200)
    val o = asObj(b)
    assert(o("model") === "drift")
    val hist = asArr(o("history"))
    val fc = asArr(o("forecast"))
    assert(fc.length === 5)
    val lastHist = asArr(hist.last).head.asInstanceOf[String]
    val firstFc = asArr(fc.head).head.asInstanceOf[String]
    assert(firstFc > lastHist) // ISO dates compare lexicographically
    // legacy alias serves the same contract
    val (cl, bl) = get("/api/ts-forecast?h=3&algo=seasonal7")
    assert(cl === 200)
    assert(asArr(asObj(bl)("forecast")).length === 3)
    // out-of-range h is a 422 (see the FastAPI-parity test below)
    assert(get("/api/ts-forecast-v2?h=0")._1 === 422)
  }

  test("route decides data vs docs with a reason") {
    val (c1, b1) = get("/route?query=" + java.net.URLEncoder.encode(
      "average sales by region last quarter", "UTF-8"))
    assert(c1 === 200)
    assert(asObj(b1)("route") === "data")

    // NB not "summarize" — it CONTAINS tabular keyword "sum" (substring
    // match, reference parity) and would tie-break to data
    val (c2, b2) = post("/route", """{"query": "explain the whitepaper"}""")
    assert(c2 === 200)
    assert(asObj(b2)("route") === "docs")
    assert(asObj(b2)("route_reason").asInstanceOf[String].nonEmpty)
  }

  test("/router/route serves the same decision as /route, GET and POST") {
    val q = "average sales by region last quarter"
    val (c1, b1) = get("/router/route?query=" +
      java.net.URLEncoder.encode(q, "UTF-8"))
    assert(c1 === 200)
    assert(asObj(b1)("route") === "data")
    assert(asObj(b1)("source_used") === "data")

    val (c2, b2) = post("/router/route", """{"query": "explain the whitepaper"}""")
    assert(c2 === 200)
    assert(asObj(b2)("route") === "docs")

    // both mounts answer identically for the same query
    val (_, bare) = get("/route?query=" + java.net.URLEncoder.encode(q, "UTF-8"))
    assert(asObj(bare) === asObj(b1))
  }

  test("/debug/routes dumps every registered route with path and methods") {
    val (c, b) = get("/debug/routes")
    assert(c === 200)
    val routes = asArr(b).map(asObj)
    val paths = routes.map(_("path")).toSet
    // the reference surface: every endpoint the facade serves shows up
    for (p <- Seq("/health", "/data/inspect", "/analytics/kpi",
        "/bi/region-divergence", "/bi/top-products-under-30",
        "/bi/region-trends", "/ts/sales-daily", "/api/ts-forecast",
        "/api/ts-forecast-v2", "/route", "/router/route", "/rag/query",
        "/rag/stats", "/debug/routes"))
      assert(paths.contains(p), s"missing $p in /debug/routes dump")
    routes.foreach { r =>
      assert(r("name").asInstanceOf[String].nonEmpty)
      assert(asArr(r("methods")).nonEmpty)
    }
  }

  test("rag/query answers data questions from the sales engine") {
    val (c, b) = post("/rag/query",
      """{"query": "What are the top two products for customers under 30?"}""")
    assert(c === 200)
    val o = asObj(b)
    assert(o("source_used") === "sales_data")
    assert(o("stage") === "template")
    val table = asObj(o("table"))
    assert(asArr(table("rows")).nonEmpty)
    assert(o("answer").asInstanceOf[String].nonEmpty)
  }

  test("rag/query answers doc questions with citations") {
    val (c, b) = post("/rag/query",
      """{"query": "Summarize the key ideas from the whitepaper", "k": 2}""")
    assert(c === 200)
    val o = asObj(b)
    assert(o("source_used") === "docs")
    val cites = asArr(o("citations"))
    assert(cites.length === 2)
    assert(asObj(cites.head)("index") === 1.0)
    assert(o("answer").asInstanceOf[String].nonEmpty)
  }

  test("malformed JSON bodies are a 400, not a 500") {
    val (c, b) = post("/rag/query", """{"query": "unterminated""")
    assert(c === 400)
    assert(asObj(b)("detail").asInstanceOf[String].contains("malformed JSON"))
  }

  test("rag/query with an empty question asks for one") {
    val (c, b) = post("/rag/query", """{"query": ""}""")
    assert(c === 200)
    assert(asObj(b)("answer") === "Please provide a question.")
    assert(asObj(b)("source_used") === null)
  }

  test("rag/stats and unknown paths") {
    val (c, b) = get("/rag/stats")
    assert(c === 200)
    assert(asObj(b)("ok") === true)
    assert(asArr(asObj(b)("sample_ids")).nonEmpty)

    val (c404, b404) = get("/no/such/endpoint")
    assert(c404 === 404)
    assert(asObj(b404)("detail").asInstanceOf[String].contains("/no/such/endpoint"))
  }

  test("prefix near-misses of real routes are 404, not served (FastAPI parity)") {
    // com.sun.net.httpserver would route these to /health and
    // /analytics/kpi by longest-prefix without the exact-path check
    assert(get("/healthz")._1 === 404)
    assert(get("/analytics/kpi2")._1 === 404)
    assert(get("/analytics/kpi/extra")._1 === 404)
    assert(get("/analytics/kpi")._1 === 200) // the exact route still serves
  }

  test("out-of-range forecast params are a 422, not clamped (FastAPI parity)") {
    for (bad <- Seq("h=0", "h=366", "window=0", "window=61")) {
      val (c, b) = get(s"/api/ts-forecast-v2?$bad")
      assert(c === 422, s"$bad should 422")
      val detail = asArr(asObj(b)("detail"))
      assert(asObj(detail.head)("msg").asInstanceOf[String]
        .contains("between"), s"$bad detail: $b")
    }
    // boundary values still serve
    assert(get("/api/ts-forecast-v2?h=1&window=60")._1 === 200)
  }

  test("MiniJson rejects truncated input with IllegalArgumentException") {
    for (bad <- Seq("""{"a":1""", """[1,2""", """{"a""", """"abc""",
        """{"a":"x\""", "\"\\" + "u00")) { // a truncated "\u00 escape
      val e = intercept[Exception](MiniJson.parse(bad))
      assert(e.isInstanceOf[IllegalArgumentException],
        s"$bad threw ${e.getClass.getName}")
    }
  }

  test("MiniJson round-trips nested values") {
    val src = """{"a": [1, 2.5, "x\ny", true, null], "b": {"c": "é"}}"""
    val v = asObj(MiniJson.parse(src))
    assert(asArr(v("a")) === List(1.0, 2.5, "x\ny", true, null))
    assert(asObj(v("b"))("c") === "é")
    // writer escapes control chars and quotes
    assert(MiniJson.write("a\"b\n\u0001") === "\"a\\\"b\\n\\u0001\"")
  }

  // ---- resident inputs ----------------------------------------------------

  private def rowsOf(v: Any): List[List[Any]] = asArr(v).map(asArr)
  /** Spark rows in the shape the facade renders them. */
  private def rendered(rows: Array[org.apache.spark.sql.Row]): List[List[Any]] =
    rows.toList.map(r => asArr(MiniJson.parse(MiniJson.write(r.toSeq))))
  private def sorted(rows: List[List[Any]]): List[String] =
    rows.map(_.toString).sorted

  private val intentPrompt = "What positive trends are evident in each of the regions?"
  private def askBody(q: String) = MiniJson.obj("query" -> q).json

  test("a warm BI request runs one Spark job and writes no shuffle") {
    val path = "/bi/top-products-under-30?limit=2"
    assert(get(path)._1 === 200)
    val (description, jobs, shuffle) = sparkWork(assert(get(path)._1 === 200))
    assert(description === "GET /bi/top-products-under-30")
    assert(jobs === 1)
    assert(shuffle === 0L)
  }

  test("a warm intent-stage /rag/query runs one Spark job and writes no shuffle") {
    val (c0, b0) = post("/rag/query", askBody(intentPrompt))
    assert(c0 === 200)
    assert(asObj(b0)("stage") === "intent")
    val (description, jobs, shuffle) =
      sparkWork(assert(post("/rag/query", askBody(intentPrompt))._1 === 200))
    assert(description === "POST /rag/query")
    assert(jobs === 1)
    assert(shuffle === 0L)
  }

  test("a warm /analytics/kpi runs one Spark job, writes no shuffle and keeps its payload") {
    val path = "/analytics/kpi"
    assert(get(path)._1 === 200)
    var body: Map[String, Any] = Map.empty
    val (description, jobs, shuffle) = sparkWork {
      val (c, b) = get(path)
      assert(c === 200)
      body = asObj(b)
    }
    assert(description === s"GET $path")
    assert(jobs === 1)
    assert(shuffle === 0L)
    // the payload of the earlier three-aggregate form: totals plus two
    // sorted top-1 lookups, each over the rows
    val sv = SalesView(spark, sf)
    val totals = sv.agg(Num.dsum(col("sales")), Num.davg(col("satisfaction"))).head()
    def top(k: String): String = sv.groupBy(k).agg(Num.dsum(col("sales")).as("v"))
      .orderBy(col("v").desc, col(k)).head().getString(0)
    val want = rendered(Array(org.apache.spark.sql.Row(
      totals.get(0), totals.get(1), top("region"), top("product")))).head
    assert(Seq("total_sales", "avg_satisfaction", "top_region", "top_product")
      .map(body) === want)
  }

  test("a warm forecast runs at most 4 Spark jobs") {
    val path = "/api/ts-forecast-v2?h=7&algo=seasonal7"
    assert(get(path)._1 === 200)
    val (_, jobs, _) = sparkWork(assert(get(path)._1 === 200))
    assert(jobs <= 4)
  }

  private val algos = Seq("ma7_baseline", "drift", "seasonal7")

  test("a warm forecast runs at most 3 Spark jobs and writes no shuffle, for every algo") {
    // the history-length count, the history preview and the forecast
    for (algo <- algos) {
      val path = s"/api/ts-forecast-v2?h=7&algo=$algo"
      assert(get(path)._1 === 200, algo)
      val (_, jobs, shuffle) = sparkWork(assert(get(path)._1 === 200, algo))
      assert(jobs <= 3, algo)
      assert(shuffle === 0L, algo)
    }
  }

  test("each forecast equals the reference recurrence over /ts/sales-daily") {
    val daily = rowsOf(asObj(get("/ts/sales-daily")._2)("rows"))
    val values = daily.map(_(1).asInstanceOf[Double])
    val lastDate = java.time.LocalDate.parse(daily.last.head.asInstanceOf[String])
    for (algo <- algos; (h, window) <- Seq((9, 7), (16, 30))) {
      val (c, b) = get(s"/api/ts-forecast-v2?h=$h&algo=$algo&window=$window")
      assert(c === 200, algo)
      val fc = rowsOf(asObj(b)("forecast"))
      assert(fc.map(r => java.time.LocalDate.parse(r.head.asInstanceOf[String])) ===
        (1 to h).map(i => lastDate.plusDays(i.toLong)), s"$algo h=$h")
      val got = fc.map(_(1).asInstanceOf[Double])
      val want = Forecasters.referenceForecast(values, h, algo, window)
      assert(got.length === want.length, s"$algo h=$h")
      got.zip(want).foreach { case (g, e) =>
        assert(math.abs(g - e) <= 1e-9 * math.max(1.0, math.abs(e)),
          s"$algo h=$h window=$window: $g vs $e")
      }
    }
  }

  test("the facade answers the golden data prompts and the daily series as a plain sales view does") {
    val plain = SalesView(spark, sf)
    val domains = IntentParser.discoverDomains(plain)
    GoldenPromptsSpec.dataGolden.map(_._1).foreach { q =>
      val (c, b) = post("/rag/query", askBody(q))
      assert(c === 200, q)
      val table = asObj(asObj(b)("table"))
      val got = rowsOf(table("rows"))
      AskAi.answer(spark, q, plain, domains,
        Some(qq => LlmPorts.fakeSqlGen(qq, ""))) match {
        case Right(a) =>
          assert(asObj(b)("stage") === a.stage, q)
          assert(asArr(table("headers")) === a.table.columns.toList, q)
          val want = rendered(a.table.collect())
          // the facade previews 200 rows of an unordered result: a larger
          // answer must contain them, a smaller one equal them
          assert(got.length === math.min(want.length, 200), q)
          if (want.length <= 200) assert(sorted(got) === sorted(want), q)
          else assert(sorted(got).diff(sorted(want)).isEmpty, q)
        case Left(r) => fail(s"unexpected docs route for: $q ($r)")
      }
    }
    val daily = plain.groupBy(col("date")).agg(Num.dsum(col("sales")).as("sales"))
      .orderBy("date").collect()
    assert(rowsOf(asObj(get("/ts/sales-daily")._2)("rows")) === rendered(daily))
  }

  test("stopping one facade leaves another on the same session answering") {
    val kpi = rendered(graft.operators.Kpi.q50Kpi.plan(spark, sf).collect()).head
    val daily = asObj(get("/ts/sales-daily")._2)("rows")
    val second = new HttpFacade(spark, sf).start()
    try {
      val at = s"http://127.0.0.1:${second.boundPort}"
      val first = new HttpFacade(spark, sf).start()
      // both load the same inputs, so they share the cached frames
      try {
        assert(getAt(s"http://127.0.0.1:${first.boundPort}", "/ts/sales-daily")._1 === 200)
        assert(getAt(at, "/ts/sales-daily")._1 === 200)
      } finally first.stop()
      assert(asObj(getAt(at, "/ts/sales-daily")._2)("rows") === daily)
      val o = asObj(getAt(at, "/analytics/kpi")._2)
      assert(Seq("total_sales", "avg_satisfaction", "top_region", "top_product")
        .map(o) === kpi)
    } finally second.stop()
  }
}
