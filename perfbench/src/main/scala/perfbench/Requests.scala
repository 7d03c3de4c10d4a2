package perfbench

/** One request the serve_mix clients send. `key` names its pinned digest;
  * `cls` is "ask" (/rag/query), "bi" (the dashboard GETs) or "route".
  */
final case class Req(kind: String, path: String, params: Seq[(String, String)],
    prompt: String = "", k: Int = 0, expectStage: String = "") {
  def cls: String = kind match {
    case "ask_data" | "ask_doc" => "ask"
    case "route"                => "route"
    case _                      => "bi"
  }
  def isPost: Boolean = path == "/rag/query"
  def key: String = (kind +: params.collect { case (k, v) if k != "query" => s"$k=$v" } ++:
    (if (prompt.nonEmpty) Seq(s"prompt=${Requests.promptId(prompt)}") else Nil) ++:
    (if (kind == "ask_doc") Seq(s"k=$k") else Nil)).mkString(" ")
  def query: String = params.map { case (k, v) =>
    s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }.mkString("&")
  def body: String = graft.api.MiniJson.obj("query" -> prompt, "k" -> k).json
}

/** The seeded request list. It mirrors the reference UI: the dashboard
  * GETs, the router probe, and the 22 data and 4 doc prompts of the UI's
  * prompt list with the answering stage each one is pinned to.
  */
object Requests {

  /** (prompt, stage that answers it). */
  val dataPrompts: Seq[(String, String)] = Seq(
    "Which regions have growing sales but declining satisfaction?" -> "template",
    "What are the top two products for customers under 30?" -> "template",
    "How did satisfaction change in the North region last quarter?" -> "template",
    "What month showed the highest overall sales growth?" -> "template",
    "Are there any correlations between gender and average satisfaction?" -> "template",
    "How does customer satisfaction compare between each region based on age?" -> "intent",
    "What positive trends are evident in each of the regions?" -> "intent",
    "What are the monthly sales trends for each product over the entire time period? Identify any seasonal patterns or anomalies." -> "intent",
    "Which product-region combinations generate the highest revenue, and are there any underperforming combinations that need attention?" -> "intent",
    "Compare year-over-year sales performance by quarter. Which periods showed the strongest growth or decline?" -> "intent",
    "Analyze customer satisfaction scores across different age groups. Are there specific age segments that are consistently more or less satisfied?" -> "intent",
    "What is the relationship between customer age and average purchase size? Are certain age demographics more valuable?" -> "intent",
    "Compare purchasing patterns and satisfaction levels between male and female customers across different products and regions." -> "intent",
    "Rank all products by total revenue, average transaction size, and customer satisfaction. Which products are the best overall performers?" -> "intent",
    "Identify products with high sales volume but low customer satisfaction scores. What might explain this discrepancy?" -> "intent",
    "Which regions consistently outperform others in sales, and what factors might contribute to this success?" -> "intent",
    "Are there regional differences in customer demographics or satisfaction levels that could inform targeted marketing strategies?" -> "intent",
    "What is the correlation between transaction value and customer satisfaction? Do higher-value purchases lead to better satisfaction?" -> "intent",
    "Identify the characteristics of transactions with satisfaction scores below 2.0. What patterns emerge regarding product, region, or customer demographics?" -> "intent",
    "Which customer segments (by age, gender, and region) represent the greatest untapped opportunity for revenue growth?" -> "intent",
    "Analyze the bottom 10% of sales transactions. What common factors contribute to these low-performing sales?" -> "intent",
    "Based on historical patterns, what are the projected sales for the next quarter by product and region, and where should we allocate additional resources?" -> "intent",
  )

  val docPrompts: Seq[String] = Seq(
    "What are some of the domains that are accepting of time series analysis and predictions?",
    "Summarize the key ideas from the Walmart PDF",
    "How can AI be a core component of value creation in a business model?",
    "What does business intelligence refer to and what are it's ultimate goals?",
  )

  private val allPrompts = dataPrompts.map(_._1) ++ docPrompts
  def promptId(p: String): Int = allPrompts.indexOf(p)

  val regions = Seq("North", "South", "East", "West")
  val algos = Seq("ma7_baseline", "drift", "seasonal7")
  val horizons = Seq(7, 14, 30, 60, 90)
  val windows = Seq(3, 7, 14)
  val limits = 1 to 5
  val ks = 1 to 5

  private def forecast(algo: String, h: Int, w: Int) =
    Req("forecast", "/api/ts-forecast-v2",
      Seq("algo" -> algo, "h" -> h.toString, "window" -> w.toString))
  private def topUnder30(l: Int) =
    Req("top_under_30", "/bi/top-products-under-30", Seq("limit" -> l.toString))
  private def trends(rs: Seq[String]) =
    Req("region_trends", "/bi/region-trends", Seq("regions" -> rs.mkString(",")))
  private def route(p: String) = Req("route", "/route", Seq("query" -> p), p)
  private def ask(p: String, stage: String, k: Int) =
    if (stage.isEmpty) Req("ask_doc", "/rag/query", Nil, p, k)
    else Req("ask_data", "/rag/query", Nil, p, k, stage)

  private val regionSubsets: Seq[Seq[String]] =
    (1 to regions.size).flatMap(regions.combinations)

  /** One round: every request kind once, parameters drawn from `rnd`,
    * in a shuffled order.
    */
  def round(rnd: scala.util.Random): Seq[Req] = {
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val dashboard = Seq(
      Req("kpi", "/analytics/kpi", Nil),
      Req("divergence", "/bi/region-divergence", Nil),
      topUnder30(pick(limits)),
      trends(pick(regionSubsets)),
      Req("sales_daily", "/ts/sales-daily", Nil)) ++
      algos.map(a => forecast(a, pick(horizons), pick(windows)))
    val routes = Seq.fill(4)(route(pick(allPrompts)))
    val asks = dataPrompts.map { case (p, s) => ask(p, s, pick(ks)) } ++
      docPrompts.map(p => ask(p, "", pick(ks)))
    rnd.shuffle(dashboard ++ routes ++ asks)
  }

  /** `rounds` rounds drawn from one generator seeded with `seed`. */
  def build(seed: Long, rounds: Int): Seq[Req] = {
    val rnd = new scala.util.Random(seed)
    (1 to rounds).flatMap(_ => round(rnd))
  }

  /** Every distinct request the rounds can draw: the set whose result
    * digests are pinned.
    */
  def universe: Seq[Req] =
    Seq(Req("kpi", "/analytics/kpi", Nil), Req("divergence", "/bi/region-divergence", Nil),
      Req("sales_daily", "/ts/sales-daily", Nil)) ++
      limits.map(topUnder30) ++ regionSubsets.map(trends) ++
      (for (a <- algos; h <- horizons; w <- windows) yield forecast(a, h, w)) ++
      allPrompts.map(route) ++
      dataPrompts.map { case (p, s) => ask(p, s, 1) } ++
      (for (p <- docPrompts; k <- ks) yield ask(p, "", k))
}
