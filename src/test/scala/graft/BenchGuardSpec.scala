package graft

/** Relative-cost regression guards (VERDICT r8 #6). PlanSpec pins plan
  * SHAPES; nothing pinned relative COST, so a straggler-prone shape (the
  * r8 q132 driver pathology: a Zipf-keyed raw-occurrence shuffle) could
  * land with every shape assertion green. These guards time the flagged
  * queries against a healthy same-family baseline (q104 tf-idf: same
  * table, same normalize+explode front end) at sf0.01 and fail on a
  * LARGE relative blowout. Bounds are deliberately generous (10×): the
  * point is to catch the 15-30× pathology class, not to flake on host
  * noise — both sides run in the same JVM back-to-back, so host speed
  * divides out. Timing goes through Bench's own per-query runner, so the
  * guard measures what the bench measures.
  */
class BenchGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def withRunner[A](body: Bench.Runner => A): A = {
    val r = new Bench.Runner(spark)
    try body(r) finally r.close()
  }

  test("q132/q137 stay within 10x of the q104 family baseline at sf0.01") {
    val Seq(base, q132, q137) = withRunner { r =>
      Seq("q104_tfidf_terms", "q132_lm_perplexity", "q137_pmi_collocations").map { n =>
        r.warm(n, Bench.WarmDir)
        r.measure(n, dir).headS
      }
    }
    assert(q132 < 10 * base + 2.0,
      f"q132 $q132%.2f s vs q104 baseline $base%.2f s — the r8 straggler " +
        "pathology shape may have returned (raw-occurrence shuffle?)")
    assert(q137 < 10 * base + 2.0,
      f"q137 $q137%.2f s vs q104 baseline $base%.2f s — relative blowout")
  }

  test("bench counters repeat across runs and fit inside the pass wall") {
    // warmed first, as Bench does: a session's first read of a table runs
    // one more job than every later one
    val Seq(a, b) = withRunner { r =>
      r.warm("q01_pricing_summary", Bench.WarmDir)
      Seq.fill(2)(r.pass("q01_pricing_summary", Bench.WarmDir))
    }
    def work(c: Bench.Counters) = (c.jobs, c.stages, c.tasks, c.shuffleWriteB, c.shuffleReadB)
    assert(work(a.counters) == work(b.counters))
    Seq(a, b).foreach { p =>
      assert(p.counters.jobs >= 1)
      assert(p.counters.gapMs >= 0 && p.counters.gapMs <= p.wallS * 1000, p)
    }
  }

  test("SPARK_GRAFT_ONLY picks exact qNN prefixes and names an unknown one") {
    assert(SparkEntry.select(Some("q17")) == Seq("q17_qoq_delta"))
    assert(SparkEntry.select(None).size == SparkEntry.queries.size)
    val e = intercept[IllegalArgumentException](SparkEntry.select(Some("q17, q9x")))
    assert(e.getMessage.contains("q9x") && !e.getMessage.contains("q17"))
  }
}
