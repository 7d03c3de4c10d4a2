package graft

import graft.api.{HttpFacade, LlmPorts, OllamaClient, OllamaConfig, Rag}
import graft.core.Session

/** Service main: start the HTTP facade over a local SparkSession and block.
  *
  * ```
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 SPARK_GRAFT_PORT=8000 \
  *   sbt "runMain graft.Serve"
  * curl localhost:8000/analytics/kpi
  * ```
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val port = sys.env.getOrElse("SPARK_GRAFT_PORT", "8000").toInt
    val spark = Session.local()
    // config-gated real model backends (reference env wiring): with
    // OLLAMA_BASE_URL set, chat/embed speak real HTTP through the
    // retry/backoff contract; otherwise the deterministic fakes serve
    val (chat, embed) = OllamaConfig.fromEnv() match {
      case Some(cfg) =>
        val client = new OllamaClient(cfg)
        (client.chatFn, Rag.ResilientEmbedder(client.embed): String => Array[Float])
      case None => (LlmPorts.fakeChat, Rag.hashEmbedder _)
    }
    val facade = new HttpFacade(spark, sfDir, port, chat, embed).start()
    println(s"graft engine serving http://127.0.0.1:${facade.boundPort} over $sfDir" +
      OllamaConfig.fromEnv().map(c => s" (ollama: ${c.baseUrl})").getOrElse(""))
    Thread.currentThread().join() // serve until killed
  }
}
