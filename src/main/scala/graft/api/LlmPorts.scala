package graft.api

/** External-model ports — refs J6/J7/K10. In the reference these are HTTP
  * calls to a local model server (`api/main.py:1242-1269`, `:771-840`,
  * `:1442-1481`); the engine depends only on these function types, and
  * ships deterministic fakes so every downstream path is testable with no
  * model in the loop.
  */
object LlmPorts {

  /** J6/J7 — chat generation: (prompt) => answer text. */
  type ChatFn = String => String

  /** K10 — NL → SQL generation: (question, schemaDoc) => raw SQL. */
  type SqlGenFn = (String, String) => String

  /** Deterministic ChatFn fake: echoes a bounded digest of the prompt —
    * stands in for the ≤120-word summarization contract
    * (`api/main.py:1252-1257`).
    */
  val fakeChat: ChatFn = prompt => {
    val words = prompt.split("\\s+").take(120)
    s"[fake-llm] ${words.take(24).mkString(" ")}"
  }

  /** Deterministic SqlGenFn fake: emits a grouped aggregate in the T-SQL
    * flavor LLMs tend to produce, exercising the full sanitizer path.
    */
  val fakeSqlGen: SqlGenFn = (question, _) =>
    s"""-- for: ${question.take(60)}
       |SELECT TOP 100 region,
       |  CAST(SUM(CAST(sales AS DECIMAL(18,2))) AS DOUBLE) AS total
       |FROM sales_data GROUP BY region ORDER BY total DESC""".stripMargin

  /** The chat prompt that answers `question` from `context` alone
    * (`api/main.py:1252-1257`). The margin strip runs after the context is
    * spliced in, as it always has: a context line that starts with `|`
    * (a markdown table row) loses that bar.
    */
  def analystPrompt(question: String, context: String): String =
    s"""You are a concise BI analyst. Use ONLY the provided context.
       |QUESTION: $question
       |CONTEXT:
       |$context
       |Answer in <=120 words.""".stripMargin

  /** J7 — table → summary: markdown-render the preview and summarize
    * through the chat port (`api/main.py:1234-1269`).
    */
  def summarizeTable(question: String, table: ResultTable,
      chat: ChatFn = fakeChat): String =
    chat(analystPrompt(question, table.toMarkdown(maxRows = 8)))
}
