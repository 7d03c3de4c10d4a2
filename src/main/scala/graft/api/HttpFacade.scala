package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.core.Tables
import graft.forecast.Forecasters
import graft.intent.{IntentParser, Router, SalesView, Templates}
import graft.operators.Kpi
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.net.InetSocketAddress

/** Minimal JSON writer/reader for the HTTP facade — the payloads are small
  * (API-edge previews, forecast arrays), so a dependency-free pair of
  * functions beats pulling a codec library the build doesn't have.
  */
object MiniJson {

  /** Pre-rendered JSON (from [[obj]]/[[arr]]) embedded verbatim. */
  final case class Raw(json: String)

  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}:${write(v)}" }
      .mkString("{", ",", "}"))

  def arr(items: Iterable[Any]): Raw =
    Raw(items.map(write).mkString("[", ",", "]"))

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.underlying.toPlainString
    case seq: scala.collection.Seq[_] => arr(seq.toSeq).json
    case a: Array[_] => arr(a.toSeq).json
    // dates/timestamps/anything else renders as its quoted string form
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').result()
  }

  /** Parse a JSON document: objects → Map[String, Any] (insertion-ordered),
    * arrays → List[Any], numbers → Double, plus String/Boolean/null.
    */
  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.skipWs()
    require(p.eof, s"trailing content at ${p.pos}")
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!eof && Character.isWhitespace(s.charAt(pos))) pos += 1
    private def expect(c: Char): Unit = {
      require(!eof && s.charAt(pos) == c, s"expected '$c' at $pos")
      pos += 1
    }
    def value(): Any = {
      skipWs()
      require(!eof, "unexpected end of input")
      s.charAt(pos) match {
        case '{' => objVal()
        case '[' => arrVal()
        case '"' => strVal()
        case 't' => lit("true", true)
        case 'f' => lit("false", false)
        case 'n' => lit("null", null)
        case _ => numVal()
      }
    }
    private def lit(word: String, v: Any): Any = {
      require(s.regionMatches(pos, word, 0, word.length), s"bad literal at $pos")
      pos += word.length; v
    }
    private def objVal(): Map[String, Any] = {
      expect('{'); skipWs()
      val m = scala.collection.mutable.LinkedHashMap[String, Any]()
      if (!eof && s.charAt(pos) == '}') { pos += 1; return m.toMap }
      while (true) {
        skipWs()
        val k = strVal()
        skipWs(); expect(':')
        m(k) = value()
        skipWs()
        require(!eof, s"unterminated object at $pos")
        s.charAt(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; return m.toMap
          case c => throw new IllegalArgumentException(s"bad obj char '$c' at $pos")
        }
      }
      m.toMap
    }
    private def arrVal(): List[Any] = {
      expect('['); skipWs()
      val b = List.newBuilder[Any]
      if (!eof && s.charAt(pos) == ']') { pos += 1; return b.result() }
      while (true) {
        b += value()
        skipWs()
        require(!eof, s"unterminated array at $pos")
        s.charAt(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; return b.result()
          case c => throw new IllegalArgumentException(s"bad arr char '$c' at $pos")
        }
      }
      b.result()
    }
    private def strVal(): String = {
      expect('"')
      val sb = new StringBuilder
      while ({ require(!eof, s"unterminated string at $pos")
               s.charAt(pos) != '"' }) {
        s.charAt(pos) match {
          case '\\' =>
            pos += 1
            require(!eof, s"unterminated escape at $pos")
            s.charAt(pos) match {
              case '"' => sb.append('"')
              case '\\' => sb.append('\\')
              case '/' => sb.append('/')
              case 'b' => sb.append('\b')
              case 'f' => sb.append('\f')
              case 'n' => sb.append('\n')
              case 'r' => sb.append('\r')
              case 't' => sb.append('\t')
              case 'u' =>
                require(pos + 5 <= s.length, s"truncated \\u escape at $pos")
                sb.append(Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar)
                pos += 4
              case c => throw new IllegalArgumentException(s"bad escape '$c'")
            }
          case c => sb.append(c)
        }
        pos += 1
      }
      pos += 1
      sb.result()
    }
    private def numVal(): Double = {
      val start = pos
      while (!eof && "+-.eE0123456789".indexOf(s.charAt(pos)) >= 0) pos += 1
      s.substring(start, pos).toDouble
    }
  }
}

/** JSON-over-HTTP facade exposing the engine through the reference
  * service's endpoints (`/root/reference/api/main.py:629-1505`): KPI, BI,
  * time-series + forecast, routing, and RAG — so a client of the reference
  * API resolves against this engine unchanged. Built on the JDK's
  * `com.sun.net.httpserver` (SURVEY §7.1 scopes HTTP as a thin last-mile
  * layer; no framework needed, and the build adds no dependencies).
  *
  * Every handler is a thin shim: parse params → call the same library
  * entrypoints the catalog queries use → preview/collect at the API edge
  * (mirroring the reference, which fetchall()s every endpoint) → render
  * JSON. The LLM and embedding ports default to the deterministic fakes.
  *
  * The sales, documents and embeddings inputs (and the daily sales series
  * over a resident sales) are held resident in memory as one declared
  * partition when Spark already plans their scan as one split, so each
  * request plan over them runs as a single job with no shuffle; an input
  * that scans as several splits keeps its plain plan.
  * Every request runs under its own Spark job group, `http-<seq>`.
  */
final class HttpFacade(
    spark: SparkSession,
    sfDir: String,
    port: Int = 0,
    chat: LlmPorts.ChatFn = LlmPorts.fakeChat,
    embed: String => Array[Float] = Rag.hashEmbedder) {

  import MiniJson.{arr, obj, Raw}

  // the frames this facade persisted, released by stop()
  private val residents =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private lazy val sales: DataFrame = resident(SalesView(spark, sfDir))
  private lazy val domains: Map[String, Seq[String]] =
    IntentParser.discoverDomains(sales)
  private lazy val documents: DataFrame = resident(Tables.documents(spark, sfDir))
  private lazy val embeddings: DataFrame = resident(Tables.embeddings(spark, sfDir))

  /** `df` cached as one declared partition when Spark plans its scan as one
    * split (`getNumPartitions` on a scan runs no job). The cached plan then
    * reports `SinglePartition`, so no aggregate, window, sort or join built
    * on it needs an Exchange: each request runs as one job. A scan of
    * several splits keeps its plan, uncached.
    */
  private def resident(df: DataFrame): DataFrame =
    if (df.rdd.getNumPartitions != 1) df
    else {
      val one = df.coalesce(1).persist()
      one.count() // materialize once, inside the warm-up
      residents.add(one)
      one
    }

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  def boundPort: Int = server.getAddress.getPort

  def start(): HttpFacade = { routes(); server.start(); this }
  // shut the pool down too: its threads are non-daemon, so a standalone
  // program that stops the facade would otherwise never exit
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    // plan-equal frames share one cache entry across facades and sessions:
    // another facade's requests then plan over the scan again, still as
    // one partition
    residents.forEach(_.unpersist())
    residents.clear()
  }

  // ---- plumbing ----------------------------------------------------------

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  // registration order, dumped by /debug/routes (`api/main.py:83-92`
  // iterates app.routes the same way)
  private val registered = scala.collection.mutable.ArrayBuffer.empty[String]

  private val requestSeq = new java.util.concurrent.atomic.AtomicLong()

  private def handle(path: String)(f: HttpExchange => (Int, Raw)): Unit = {
    registered += path
    server.createContext(path, new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        // ties every Spark job of this request to it; cleared because the
        // pool threads serve the next request
        val sc = spark.sparkContext
        sc.setJobGroup(s"http-${requestSeq.incrementAndGet()}",
          s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}")
        try serve(ex)
        finally sc.clearJobGroup()
      }
      private def serve(ex: HttpExchange): Unit = {
        val (status, body) =
          // com.sun.net.httpserver dispatches by longest raw PREFIX, so
          // /healthz or /analytics/kpi2 would land on the /health or
          // /analytics/kpi context. The reference's FastAPI routes match
          // exactly — mismatches fall through to the 404 payload.
          if (path != "/" && ex.getRequestURI.getPath != path)
            404 -> obj(
              "detail" -> s"no such endpoint: ${ex.getRequestURI.getPath}")
          else try f(ex)
          catch {
            // reference parity: precondition violations are HTTP 400
            // (`api/main.py:884,895` raise HTTPException(status_code=400))
            case e: IllegalArgumentException =>
              400 -> obj("detail" -> Option(e.getMessage).getOrElse("bad request"))
            case scala.util.control.NonFatal(e) =>
              500 -> obj("detail" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        respond(ex, status, body.json)
      }
    })
  }

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").iterator.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def bodyJson(ex: HttpExchange): Map[String, Any] = {
    val raw = new String(ex.getRequestBody.readAllBytes(), "UTF-8").trim
    if (raw.isEmpty) Map.empty
    else {
      // surface ANY parse failure as 400 (the handler wrapper maps
      // IllegalArgumentException to it), not a 500 from an index error
      val parsed =
        try MiniJson.parse(raw)
        catch {
          case scala.util.control.NonFatal(e) =>
            throw new IllegalArgumentException(s"malformed JSON body: $e")
        }
      parsed match {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case _ => Map.empty
      }
    }
  }

  /** API-edge collect through a limit (F8 — never a full collect). */
  private def tableOf(df: DataFrame, max: Int = 5000): ResultTable =
    ResultTable.preview(df, max)

  private def rowsJson(t: ResultTable): Raw = arr(t.rows.map(arr))

  // ---- endpoint plans ----------------------------------------------------

  /** `/ts/sales-daily` + forecast history (`api/main.py:843-860,917-925`).
    * Resident exactly when `sales` is: over one partition it has no
    * Exchange, so it is one partition too. Over a wider `sales` it keeps
    * its plan (its partition count would need the shuffle to run).
    */
  private lazy val daily: DataFrame = {
    val d = Forecasters.dailySeries(sales)
    if (residents.contains(sales)) resident(d) else d
  }

  // ---- routes ------------------------------------------------------------

  private def routes(): Unit = {
    // `api/main.py:629-631`
    handle("/debug/json-ok") { _ => 200 -> obj("ok" -> true, "answer" -> 42) }

    // `api/main.py:633-643` — no model server / vector db to probe; report
    // the engine + the warehouse it serves
    handle("/health") { _ =>
      200 -> obj(
        "status" -> "ok",
        "engine" -> "graft-spark",
        "sf_dir" -> sfDir)
    }

    // `api/main.py:645-662`
    handle("/data/inspect") { _ =>
      val (n, schema, sample) = ResultTable.inspect(sales)
      200 -> obj(
        "table" -> "sales_v",
        "row_count" -> n,
        "columns" -> arr(schema.map(_._1)),
        "sample_rows" -> rowsJson(sample))
    }

    // `api/main.py:665-688` — the q50 plan over the facade's sales: one
    // aggregation pass, one job over the resident input
    handle("/analytics/kpi") { _ =>
      val row = Kpi.kpi(sales).collect().head
      200 -> obj(
        "total_sales" -> row.getAs[Any]("total_sales"),
        "avg_satisfaction" -> row.getAs[Any]("avg_satisfaction"),
        "top_region" -> row.getAs[Any]("top_region"),
        "top_product" -> row.getAs[Any]("top_product"))
    }

    // `api/main.py:691-718`
    handle("/bi/region-divergence") { _ =>
      val t = tableOf(Templates.regionsGrowthVsCsat(sales))
      200 -> obj(
        "question" -> "Which regions have growing sales but declining satisfaction?",
        "rows" -> rowsJson(t),
        "columns" -> arr(t.headers),
        "source_table" -> "sales_v")
    }

    // `api/main.py:721-741` — the reference payload carries an `n` count
    // column beyond the q75 template's (product, total_sales)
    handle("/bi/top-products-under-30") { ex =>
      val limit = params(ex).get("limit").map(_.toInt).getOrElse(2)
      val t = tableOf(sales.filter(col("age") < 30)
        .groupBy(col("product"))
        .agg(
          graft.core.Num.dsum(col("sales")).as("total_sales"),
          count(lit(1)).as("n"))
        .orderBy(col("total_sales").desc, col("product"))
        .limit(limit))
      200 -> obj(
        "question" -> "What are the top products by sales for customers under 30?",
        "rows" -> rowsJson(t),
        "columns" -> arr(t.headers),
        "source_table" -> "sales_v")
    }

    // `api/main.py:743-767`
    handle("/bi/region-trends") { ex =>
      val regions = params(ex).getOrElse("regions", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (regions.isEmpty)
        200 -> obj(
          "regions" -> arr(Nil),
          "rows" -> arr(Nil),
          "columns" -> arr(Seq("month", "region", "sales", "satisfaction")),
          "source_table" -> "sales_v")
      else {
        val t = tableOf(Kpi.regionTrends(sales, regions))
        200 -> obj(
          "regions" -> arr(regions),
          "rows" -> rowsJson(t),
          "columns" -> arr(t.headers),
          "source_table" -> "sales_v")
      }
    }

    // `api/main.py:843-860`
    handle("/ts/sales-daily") { _ =>
      val t = tableOf(
        daily.select(col("d").as("date"), col("v").as("sales")).orderBy("date"))
      200 -> obj(
        "columns" -> arr(t.headers),
        "rows" -> rowsJson(t),
        "source_table" -> "sales_v",
        "n" -> t.rows.length)
    }

    // `api/main.py:927-961` (+ legacy alias `:963-966`). The forecasters
    // are the engine's closed-form plans, not a driver loop.
    def forecast(ex: HttpExchange): (Int, Raw) = {
      val p = params(ex)
      val h = p.get("h").map(_.toInt).getOrElse(30)
      val algo = p.getOrElse("algo", "ma7_baseline").toLowerCase
      val window = p.get("window").map(_.toInt).getOrElse(7)
      // reference parity (`api/main.py` Query(ge=1, le=365) / (ge=1, le=60)):
      // out-of-range inputs are a FastAPI-style 422, never silently clamped
      def range422(name: String, v: Int, lo: Int, hi: Int): Option[(Int, Raw)] =
        if (v < lo || v > hi) Some(422 -> obj("detail" -> arr(Seq(obj(
          "loc" -> arr(Seq("query", name)),
          "msg" -> s"ensure this value is between $lo and $hi",
          "type" -> "value_error")))))
        else None
      range422("h", h, 1, 365)
        .orElse(range422("window", window, 1, 60))
        .getOrElse {
          Forecasters.requirePoints(daily, algo) // 400 on too-short history
          val fc = algo match {
            case "seasonal7" => Forecasters.seasonal7(daily, h)
            case "drift" => Forecasters.drift(daily, h, window)
            case _ => Forecasters.ma7Baseline(daily, h, window)
          }
          val hist = tableOf(
            daily.select(col("d").as("date"), col("v").as("sales"))
              .orderBy("date"))
          val fct = tableOf(fc.orderBy("date"))
          200 -> obj(
            "model" -> algo,
            "history_columns" -> arr(Seq("date", "sales")),
            "history" -> rowsJson(hist),
            "forecast_columns" -> arr(Seq("date", "sales_hat")),
            "forecast" -> rowsJson(fct))
        }
    }
    handle("/api/ts-forecast-v2")(forecast)
    handle("/api/ts-forecast")(forecast)

    // `api/main.py:59-80` — GET ?query= and POST {"query": ...}. The
    // reference mounts the router at both the bare and the /router prefix
    // path; a reference client calls /router/route, so both are served.
    val routeEndpoint: HttpExchange => (Int, Raw) = { ex =>
      val q =
        if (ex.getRequestMethod == "POST")
          bodyJson(ex).get("query").map(_.toString).getOrElse("")
        else params(ex).getOrElse("query", "")
      val (route, reason) = Router.decideSimple(q)
      200 -> obj(
        "route" -> route.name,
        "route_reason" -> reason,
        "source_used" -> route.name)
    }
    handle("/route")(routeEndpoint)
    handle("/router/route")(routeEndpoint)

    // `api/main.py:83-92` — route introspection dump. Reads the
    // registration list at request time, so it includes every route no
    // matter where in routes() it sits (itself included).
    handle("/debug/routes") { _ =>
      200 -> arr(registered.toSeq.map(p => obj(
        "path" -> p,
        "name" -> (if (p == "/") "root"
          else p.stripPrefix("/").replace('/', '_').replace('-', '_')),
        "methods" -> arr(Seq("GET", "POST")))))
    }

    // `api/main.py:1301-1495` — the full ask cascade; data questions go
    // through AskAi (template → intent → guarded LLM-SQL), doc questions
    // through RAG retrieval + the chat port
    handle("/rag/query") { ex =>
      val body = bodyJson(ex)
      val q = body.get("query").map(_.toString).getOrElse("")
      val k = body.get("k").map(_.toString.toDouble.toInt).getOrElse(3)
      if (q.trim.isEmpty)
        200 -> obj(
          "answer" -> "Please provide a question.",
          "citations" -> arr(Nil),
          "source_used" -> null)
      else {
        val (isData, reason) = Router.wantsData(q)
        if (isData) {
          AskAi.answer(spark, q, sales, domains,
            Some(qq => LlmPorts.fakeSqlGen(qq, ""))) match {
            case Right(ans) =>
              val t = tableOf(ans.table, max = 200)
              200 -> obj(
                "answer" -> LlmPorts.summarizeTable(q, t, chat),
                "table" -> obj(
                  "headers" -> arr(t.headers),
                  "rows" -> rowsJson(t)),
                "stage" -> ans.stage,
                "source_used" -> "sales_data",
                "route_reason" -> s"$reason; stage=${ans.stage}")
            case Left(msg) =>
              200 -> obj(
                "answer" -> msg,
                "citations" -> arr(Nil),
                "source_used" -> "sales_data",
                "route_reason" -> reason)
          }
        } else {
          val (context, cites) =
            Rag.retrieve(spark, documents, embeddings, q, k, embed)
          val answer = chat(LlmPorts.analystPrompt(q, context))
          200 -> obj(
            "answer" -> answer,
            "citations" -> arr(cites.map(c =>
              obj("index" -> c.index, "source" -> c.source, "id" -> c.id))),
            "source_used" -> "docs",
            "route_reason" -> reason)
        }
      }
    }

    // `api/main.py:1497-1505`
    handle("/rag/stats") { _ =>
      val sample = embeddings.select(col("vec_id")).orderBy("vec_id")
        .limit(1).collect().map(_.getLong(0))
      200 -> obj(
        "collection" -> "docs",
        "ok" -> true,
        "sample_ids" -> arr(sample.toSeq))
    }

    // catch-all 404 for unknown paths
    handle("/") { ex =>
      404 -> obj("detail" -> s"no such endpoint: ${ex.getRequestURI.getPath}")
    }
  }
}
