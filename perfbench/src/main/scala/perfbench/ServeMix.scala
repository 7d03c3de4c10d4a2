package perfbench

import graft.api.{AskAi, HttpFacade, LlmPorts, MiniJson, Rag, ResultTable}
import graft.core.{Num, Tables}
import graft.forecast.Forecasters
import graft.guard.SqlGuard
import graft.intent.{IntentCompiler, IntentParser, Router, SalesView, Templates}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

/** serve_mix: a closed loop of clients over loopback HTTP against the
  * engine's HTTP facade, started the way the service main starts it, with
  * the deterministic fake chat, SQL-generation and embedding ports. This is
  * what users wait on: driver planning and many small Spark jobs over the
  * sales view, through the api, intent, guard and forecast layers.
  */
object ServeMix extends Workload {

  final class State(val spark: SparkSession, val facade: HttpFacade)

  /** One answered request. */
  final case class Rec(req: Req, startNs: Long, endNs: Long, error: Option[String]) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Closed-loop clients: at most 4, and never more than the cores. */
  private def clients(ctx: Ctx) = math.min(4, ctx.cores)
  /** p90 needs 100 samples to leave 10 beyond it. */
  private val MinSamples = 100
  private val Rounds = 20

  val conf: Seq[(String, String)] = Nil

  def prepare(spark: SparkSession, ctx: Ctx): State = {
    // the facade loads its tables and the sales domains on first use, so
    // those loads fall into the warm-up
    val facade = new HttpFacade(spark, ctx.dataDir, 0, LlmPorts.fakeChat, Rag.hashEmbedder).start()
    val (status, _) = send(HttpClient.newHttpClient(), facade.boundPort, Req("health", "/health", Nil))
    require(status == 200, s"/health answered HTTP $status")
    new State(spark, facade)
  }

  def close(st: State): Unit = st.facade.stop()

  private def send(c: HttpClient, port: Int, r: Req): (Int, String) = {
    val uri = URI.create(s"http://127.0.0.1:$port${r.path}" +
      (if (r.params.nonEmpty) s"?${r.query}" else ""))
    val b = HttpRequest.newBuilder(uri).timeout(java.time.Duration.ofSeconds(120))
    val req = if (r.isPost) b.POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
      else b.GET().build()
    val resp = c.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Runs `n` clients, each taking the next request of `list` until
    * `stop` holds, and returns every answered request.
    */
  private def loop(ctx: Ctx, port: Int, list: IndexedSeq[Req], next: AtomicInteger,
      n: Int, stop: Int => Boolean): Seq[Rec] = {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    val threads = (1 to n).map { _ =>
      new Thread(() => {
        val c = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        var i = next.getAndIncrement()
        while (!stop(i)) {
          val r = list(i % list.size)
          val t0 = System.nanoTime()
          val err =
            try { val (s, body) = send(c, port, r); verify(ctx, r, s, body) }
            catch { case e: Exception => Some(s"${r.key}: $e") }
          recs.add(Rec(r, t0, System.nanoTime(), err))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    recs.asScala.toSeq.sortBy(_.startNs)
  }

  /** Half a round under load: it loads the facade's tables and compiles
    * the common plan shapes, and keeps a run within its time budget.
    */
  def warmup(st: State, ctx: Ctx): Unit = {
    val list = Requests.build(ctx.seed, 1).toIndexedSeq
    loop(ctx, st.facade.boundPort, list, new AtomicInteger(), clients(ctx), _ >= list.size / 2)
  }

  /** Whole rounds, so every run times the same mix, until the run has
    * lasted `seconds` and holds at least MinSamples requests.
    */
  def measure(st: State, ctx: Ctx): Outcome = {
    val list = Requests.build(ctx.seed, Rounds).toIndexedSeq
    val perRound = list.size / Rounds
    val t0 = System.nanoTime()
    // the first client to find both conditions met fixes the end at the
    // next round boundary; every request before it is sent
    val end = new AtomicInteger(Int.MaxValue)
    val recs = loop(ctx, st.facade.boundPort, list, new AtomicInteger(), clients(ctx), { i =>
      if (i >= MinSamples && (System.nanoTime() - t0) / 1e9 >= ctx.seconds)
        end.accumulateAndGet((i + perRound - 1) / perRound * perRound, math.min)
      i >= end.get
    })
    report(ctx, recs)
    val ms = recs.map(_.ms)
    def p50(cls: String) = Stats.median(recs.filter(_.req.cls == cls).map(_.ms))
    Outcome(recs.size, recs.count(_.error.nonEmpty), Seq(
      ("throughput_per_s", recs.size / ((recs.map(_.endNs).max - t0) / 1e9), "1/s"),
      ("p50_ms", Stats.median(ms), "ms"),
      ("p90_ms", Stats.percentile(ms, 90), "ms"),
      ("geomean_ms", Stats.geomean(ms), "ms"),
      ("class_a_p50_ms", p50("ask"), "ms"),
      ("class_b_p50_ms", p50("bi"), "ms")))
  }

  private def report(ctx: Ctx, recs: Seq[Rec]): Unit = {
    recs.flatMap(_.error).distinct.take(10).foreach(e => ctx.report(s"check failed: $e"))
    val byCls = recs.groupBy(_.req.cls).toSeq.sortBy(_._1).map { case (c, rs) =>
      f"$c n=${rs.size} p50=${Stats.median(rs.map(_.ms))}%.1f ms" }
    ctx.report(s"requests=${recs.size} (p${Stats.supportedPercentile(recs.size).getOrElse(0)} " +
      s"is the highest percentile with 10 beyond it) ${byCls.mkString(", ")}")
  }

  // ---- payload checks -----------------------------------------------------

  private def asMap(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  private def asList(v: Any): List[Any] = v.asInstanceOf[List[Any]]
  private def rows(v: Any): Seq[Seq[Any]] = asList(v).map(asList)

  /** None when the response has the right status, keys and pinned result. */
  def verify(ctx: Ctx, r: Req, status: Int, body: String): Option[String] =
    if (status != 200) Some(s"${r.key}: HTTP $status")
    else {
      val m = asMap(MiniJson.parse(body))
      def need(keys: String*): Option[String] =
        Option(keys.filterNot(m.contains)).filter(_.nonEmpty)
          .map(ks => s"${r.key}: missing ${ks.mkString(",")}")
      def expect(cond: Boolean, what: => String) =
        Option.when(!cond)(s"${r.key}: $what")
      def pin(cells: Seq[Seq[Any]]) = ctx.check(r.key, Digest.cells(cells))
      val param = r.params.toMap
      r.kind match {
        case "kpi" =>
          val ks = Seq("total_sales", "avg_satisfaction", "top_region", "top_product")
          need(ks: _*).orElse(pin(Seq(ks.map(m))))
        case "forecast" =>
          need("model", "history", "forecast").orElse {
            val fc = rows(m("forecast"))
            expect(fc.size == param("h").toInt, s"${fc.size} forecast rows for h=${param("h")}")
              .orElse(pin(rows(m("history")) ++ fc))
          }
        case "route" =>
          need("route", "route_reason", "source_used")
            .orElse(pin(Seq(Seq(m("route"), m("route_reason")))))
        case "ask_data" =>
          need("answer", "table", "stage").orElse(
            expect(m("stage") == r.expectStage, s"stage ${m("stage")}, expected ${r.expectStage}"))
            .orElse(pin(rows(asMap(m("table"))("rows"))))
        case "ask_doc" =>
          need("answer", "citations", "source_used").orElse {
            val cites = asList(m("citations")).map(c => asMap(c).values.toSeq)
            expect(m("source_used") == "docs", s"source ${m("source_used")}")
              .orElse(expect(cites.size == math.max(1, math.min(r.k, 10)),
                s"${cites.size} citations for k=${r.k}"))
              .orElse(pin(cites))
          }
        case "top_under_30" =>
          need("rows", "columns").orElse {
            val rs = rows(m("rows"))
            expect(rs.size <= param("limit").toInt, s"${rs.size} rows for limit ${param("limit")}")
              .orElse(pin(rs))
          }
        case _ => need("rows", "columns").orElse(pin(rows(m("rows"))))
      }
    }

  // ---- traced run ---------------------------------------------------------

  def traced(st: State, ctx: Ctx): Outcome = {
    val list = Requests.build(ctx.seed, 1).toIndexedSeq
    val probe = new SparkProbe(st.spark)
    val http = loop(ctx, st.facade.boundPort, list, new AtomicInteger(), 1, _ >= list.size)

    // each direct replay gets a fresh session, so its table loads and
    // domain discovery run cold, as the facade's did
    val plain = replay(ctx, new DirectApi(st.spark.newSession(), ctx.dataDir, new Tracer(false)), list)
    val tr = new Tracer(true)
    val api = new DirectApi(st.spark.newSession(), ctx.dataDir, tr)
    val gc0 = (JvmProbe.gcMs, JvmProbe.gcCount)
    val t0 = System.nanoTime()
    val direct = replay(ctx, api, list)
    val tracedNs = System.nanoTime() - t0
    val jvm = PerLayer.jvm(gc0)

    val jobs = probe.jobsIn(t0, t0 + tracedNs)
    val planMs = probe.planMsIn(t0, t0 + tracedNs)
    val reqSpans = tr.all.filter(_.name == "api.request")
    PerLayer.addJobSpans(tr, jobs)
    val gapMs = reqSpans.map(s =>
      Stats.gapLength(s.startNs, s.endNs, jobs.map(j => (j.startNs, j.endNs)))).sum / 1e6
    probe.stop()
    tr.dump(ctx.workDir.getParent.resolve("traces").resolve("serve_mix.jsonl"))

    val spans = tr.all
    def meanMs(name: String) = {
      val ss = spans.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(_.durNs).sum / 1e6 / ss.size
    }
    val c = tr.counters
    def cnt(k: String) = c.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val overheadMs = http.zip(plain).map { case (h, p) => h.ms - p.ms }
    val recs = http ++ plain ++ direct
    recs.flatMap(_.error).distinct.take(10).foreach(e => ctx.report(s"check failed: $e"))
    Outcome(recs.size, recs.count(_.error.nonEmpty),
      PerLayer.spark(jobs, tracedNs, ctx.cores, planMs, gapMs) ++ jvm ++
        PerLayer.selfTimes(spans) ++ Seq(
        ("api.http_overhead_ms", Stats.median(overheadMs), "ms"),
        ("api.preview_ms", meanMs("api.preview"), "ms"),
        ("api.render_ms", meanMs("api.render"), "ms"),
        ("api.summarize_ms", meanMs("api.summarize"), "ms"),
        ("api.rag_embed_ms", meanMs("api.rag_embed"), "ms"),
        ("api.rag_topk_ms", meanMs("api.rag_topk"), "ms"),
        ("api.rag_context_ms", meanMs("api.rag_context"), "ms"),
        ("api.askai_stage.template", cnt("stage.template"), "count"),
        ("api.askai_stage.intent", cnt("stage.intent"), "count"),
        ("api.askai_stage.llm-sql", cnt("stage.llm-sql"), "count"),
        ("api.askai_fallthrough_ratio", ratio(cnt("stage.fallthrough"), cnt("stage.tried")), "ratio"),
        ("intent.route_us", meanMs("intent.route") * 1000, "us"),
        ("intent.template_ms", meanMs("intent.template"), "ms"),
        ("intent.compile_ms", meanMs("intent.compile"), "ms"),
        ("intent.domains_ms", meanMs("intent.domains"), "ms"),
        ("guard.run_ms", meanMs("guard.run"), "ms"),
        ("guard.reject_ratio", ratio(cnt("guard.rejected"), cnt("guard.runs")), "ratio"),
        ("forecast.build_ms", meanMs("forecast.build"), "ms"),
        ("core.table_load_ms", spans.filter(_.name == "core.table_load").map(_.durNs).sum / 1e6, "ms"),
        ("trace.overhead_ratio", direct.map(_.ms).sum / plain.map(_.ms).sum - 1, "ratio")))
  }

  /** One client replaying `list` through direct calls. */
  private def replay(ctx: Ctx, api: DirectApi, list: Seq[Req]): Seq[Rec] =
    list.zipWithIndex.map { case (r, i) =>
      api.tr.op = i
      val t0 = System.nanoTime()
      val err =
        try { val (s, body) = api.tr.span("api.request")(api.handle(r)); verify(ctx, r, s, body) }
        catch { case e: Exception => Some(s"${r.key}: $e") }
      Rec(r, t0, System.nanoTime(), err)
    }

  def pin(st: State, ctx: Ctx): Unit = {
    val list = Requests.universe.toIndexedSeq
    val recs = loop(ctx, st.facade.boundPort, list, new AtomicInteger(), 1, _ >= list.size)
    recs.flatMap(_.error).foreach(e => ctx.report(s"pin: $e"))
  }
}

/** The facade's request handlers as direct calls into the engine's public
  * functions, with a span around each call into a layer. Each handler builds
  * the same plan and the same JSON payload as its HTTP counterpart, so the
  * difference between the two replays is the HTTP layer itself.
  */
final class DirectApi(spark: SparkSession, dir: String, val tr: Tracer) {
  import MiniJson.{arr, obj, Raw}

  private val sales = tr.span("core.table_load")(SalesView(spark, dir))
  private val domains = tr.span("intent.domains")(IntentParser.discoverDomains(sales))
  private val documents = tr.span("core.table_load")(Tables.documents(spark, dir))
  private val embeddings = tr.span("core.table_load")(Tables.embeddings(spark, dir))

  private def tableOf(df: DataFrame, max: Int = 5000): ResultTable =
    tr.span("api.preview")(ResultTable.preview(df, max))
  private def rowsJson(t: ResultTable): Raw = arr(t.rows.map(arr))
  private def render(f: => Raw): (Int, String) = 200 -> tr.span("api.render")(f.json)

  private def daily: DataFrame =
    sales.groupBy(col("date").as("d")).agg(Num.dsum(col("sales")).as("v"))

  def handle(r: Req): (Int, String) = {
    val p = r.params.toMap
    r.kind match {
      case "kpi" =>
        val row = tr.span("api.preview")(
          graft.operators.Kpi.q50Kpi.plan(spark, dir).collect().head)
        render(obj(
          "total_sales" -> row.getAs[Any]("total_sales"),
          "avg_satisfaction" -> row.getAs[Any]("avg_satisfaction"),
          "top_region" -> row.getAs[Any]("top_region"),
          "top_product" -> row.getAs[Any]("top_product")))
      case "divergence" =>
        val t = tableOf(tr.span("intent.template")(Templates.regionsGrowthVsCsat(sales)))
        render(obj(
          "question" -> "Which regions have growing sales but declining satisfaction?",
          "rows" -> rowsJson(t), "columns" -> arr(t.headers), "source_table" -> "sales_v"))
      case "top_under_30" =>
        val t = tableOf(sales.filter(col("age") < 30).groupBy(col("product"))
          .agg(Num.dsum(col("sales")).as("total_sales"), count(lit(1)).as("n"))
          .orderBy(col("total_sales").desc, col("product")).limit(p("limit").toInt))
        render(obj(
          "question" -> "What are the top products by sales for customers under 30?",
          "rows" -> rowsJson(t), "columns" -> arr(t.headers), "source_table" -> "sales_v"))
      case "region_trends" =>
        val regions = p("regions").split(",").toSeq
        val t = tableOf(sales.filter(col("region").isin(regions: _*))
          .groupBy(date_trunc("month", col("date")).cast("date").as("month"), col("region"))
          .agg(Num.dsum(col("sales")).as("sales"), Num.davg(col("satisfaction")).as("satisfaction"))
          .orderBy(col("month"), col("region")))
        render(obj("regions" -> arr(regions), "rows" -> rowsJson(t),
          "columns" -> arr(t.headers), "source_table" -> "sales_v"))
      case "sales_daily" =>
        val t = tableOf(daily.select(col("d").as("date"), col("v").as("sales")).orderBy("date"))
        render(obj("columns" -> arr(t.headers), "rows" -> rowsJson(t),
          "source_table" -> "sales_v", "n" -> t.rows.length))
      case "forecast" =>
        val (algo, h, window) = (p("algo"), p("h").toInt, p("window").toInt)
        val fc = tr.span("forecast.build") {
          val d = daily
          Forecasters.requirePoints(d, algo)
          algo match {
            case "seasonal7" => Forecasters.seasonal7(d, h)
            case "drift" => Forecasters.drift(d, h, window)
            case _ => Forecasters.ma7Baseline(d, h, window)
          }
        }
        val hist = tableOf(daily.select(col("d").as("date"), col("v").as("sales")).orderBy("date"))
        val fct = tableOf(fc.orderBy("date"))
        render(obj("model" -> algo,
          "history_columns" -> arr(Seq("date", "sales")), "history" -> rowsJson(hist),
          "forecast_columns" -> arr(Seq("date", "sales_hat")), "forecast" -> rowsJson(fct)))
      case "route" =>
        val (route, reason) = tr.span("intent.route")(Router.decideSimple(r.prompt))
        render(obj("route" -> route.name, "route_reason" -> reason, "source_used" -> route.name))
      case _ => ask(r)
    }
  }

  /** /rag/query: the AskAi cascade (template, intent, guarded LLM-SQL) for
    * data questions, retrieval plus the chat port for doc questions.
    */
  private def ask(r: Req): (Int, String) = {
    val q = r.prompt
    val (isData, reason) = tr.span("intent.route")(Router.wantsData(q))
    if (isData) cascade(q) match {
      case Some(ans) =>
        val t = tableOf(ans.table, 200)
        val answer = tr.span("api.summarize")(LlmPorts.summarizeTable(q, t, LlmPorts.fakeChat))
        render(obj("answer" -> answer,
          "table" -> obj("headers" -> arr(t.headers), "rows" -> rowsJson(t)),
          "stage" -> ans.stage, "source_used" -> "sales_data",
          "route_reason" -> s"$reason; stage=${ans.stage}"))
      case None =>
        render(obj("answer" -> "no confident answer from the data engine",
          "citations" -> arr(Nil), "source_used" -> "sales_data", "route_reason" -> reason))
    }
    else {
      val vec = tr.span("api.rag_embed")(Rag.hashEmbedder(q))
      val hits = tr.span("api.rag_topk")(Rag.topK(embeddings, vec, r.k)
        .join(documents, col("vec_id") === documents("doc_id"))
        .select(col("vec_id"), col("source"), col("text")).collect()
        .map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq)
      val (context, cites) = tr.span("api.rag_context")(Rag.assembleContext(hits))
      val answer = tr.span("api.summarize")(LlmPorts.fakeChat(
        s"""You are a concise BI analyst. Use ONLY the provided context.
           |QUESTION: $q
           |CONTEXT:
           |$context
           |Answer in <=120 words.""".stripMargin))
      render(obj("answer" -> answer,
        "citations" -> arr(cites.map(c => obj("index" -> c.index, "source" -> c.source, "id" -> c.id))),
        "source_used" -> "docs", "route_reason" -> reason))
    }
  }

  /** AskAi.answer's stages, one span and one count each. */
  private def cascade(q: String): Option[AskAi.Answer] = {
    def tried(answered: Boolean): Unit = {
      tr.count("stage.tried")
      if (!answered) tr.count("stage.fallthrough")
    }
    val ans = tr.span("intent.template")(Templates.maybeAnswer(q, sales))
      .map { case (name, plan) => AskAi.Answer("template", name, plan) }
    tried(ans.nonEmpty)
    ans.orElse {
      val compiled =
        try Some(tr.span("intent.compile")(IntentCompiler.compile(q, sales, domains)))
        catch { case _: Exception => None }
      tried(compiled.nonEmpty)
      compiled.map { case (plan, why) => AskAi.Answer("intent", why, plan) }
    }.orElse {
      sales.createOrReplaceTempView("sales")
      val guarded = tr.span("guard.run")(
        SqlGuard.runGuarded(spark, LlmPorts.fakeSqlGen(q, "")))
      tr.count("guard.runs")
      if (guarded.isLeft) tr.count("guard.rejected")
      tried(guarded.isRight)
      guarded.toOption.map(df => AskAi.Answer("llm-sql", "generated", df))
    }.map { a => tr.count(s"stage.${a.stage}"); a }
  }
}
