package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Bench's per-key protocol on three registry keys and a key that throws. */
class BenchSpec extends SparkSpec {
  private val mapper = new ObjectMapper()

  private lazy val (full, headline) = Bench.lap(spark, sf, Seq(
    "core" -> Seq("q1_agg", "project").map(k => k -> SparkEntry.queries(k)),
    "window" -> Seq("batch_fixed" -> SparkEntry.queries("batch_fixed")),
    "stub" -> Seq("stub" -> ((_, _) => throw new IllegalStateException("stub broke")))))
  private lazy val fullJson = mapper.readTree(full)
  private def key(name: String): JsonNode = fullJson.get("queries").get(name)
  private def doubles(n: JsonNode): Seq[Double] = n.elements().asScala.map(_.asDouble).toSeq

  test("each key has one cold and two warm samples; sec is the faster warm one") {
    Seq("q1_agg", "project", "batch_fixed", "stub").foreach { k =>
      assert(key(k).get("samples").size == 3, k)
      assert(key(k).get("loads").size == 3 && key(k).get("builds").size == 3, k)
      assert(key(k).get("evictions").size == 3, k)
    }
    Seq("q1_agg", "project", "batch_fixed").foreach { k =>
      val s = doubles(key(k).get("samples"))
      assert(s.forall(_ > 0), k)
      assert(key(k).get("sec").asDouble == s.tail.min, k)
      assert(key(k).get("sec_cold").asDouble == s.head, k)
      assert(key(k).get("errors").isEmpty, k)
    }
  }

  test("the last warm sample's jobs, stages, tasks and job sites are recorded") {
    val q = key("q1_agg")
    assert(q.get("jobs").asInt > 0)
    assert(q.get("stages").asInt >= q.get("jobs").asInt)
    assert(q.get("tasks").asInt >= q.get("stages").asInt)
    assert(q.get("job_sites").size == q.get("jobs").asInt)
    assert(key("stub").get("jobs").asInt == 0)
  }

  test("adaptive query-stage jobs are named by their SQL execution, not Spark's pool call site") {
    // batch_fixed's global row index runs its range-sampling and count
    // jobs outside any SQL execution; they carry a job description
    Seq("q1_agg", "batch_fixed").foreach { k =>
      val sites = key(k).get("job_sites").elements().asScala.map(_.asText).toSeq
      assert(sites.nonEmpty, k)
      assert(!sites.exists(_.contains("CompletableFuture")), s"$k: $sites")
    }
  }

  test("a key that throws is failed, with its exception class and message, and a negative time") {
    assert(fullJson.get("failed").elements().asScala.map(_.asText).toSeq == Seq("stub"))
    val errors = key("stub").get("errors").elements().asScala.toSeq
    assert(errors.map(_.get("sample").asInt) == Seq(0, 1, 2))
    errors.foreach { e =>
      assert(e.get("exception").asText == "java.lang.IllegalStateException")
      assert(e.get("message").asText == "stub broke")
    }
    val h = mapper.readTree(headline)
    assert(h.get("queries").get("stub").asDouble < 0)
    assert(h.get("queries").get("q1_agg").asDouble >= 0)
    // totals count successful keys only
    assert(fullJson.get("families").get("stub").asDouble == 0.0)
    assert(fullJson.get("value").asDouble == Seq("q1_agg", "project", "batch_fixed")
      .map(key(_).get("sec").asDouble).sum)
  }

  test("the headline is one JSON line with the six headline fields") {
    assert(!headline.contains('\n'))
    val h = mapper.readTree(headline)
    assert(h.fieldNames().asScala.toSet ==
      Set("metric", "unit", "queries", "failed", "value", "sf"))
    assert(h.get("metric").asText == "total" && h.get("unit").asText == "sec")
    assert(h.get("sf").asDouble == 0.001)
    assert(h.get("queries").fieldNames().asScala.toSeq == Seq("q1_agg", "project", "batch_fixed", "stub"))
    assert(h.get("failed").elements().asScala.map(_.asText).toSeq == Seq("stub"))
  }

  test("memo_mb holds each memo label's cached MB, read before the family's cache clear") {
    val (lapFull, _) = Bench.lap(spark, sf, Seq(
      "window" -> Seq("session_concurrency" -> SparkEntry.queries("session_concurrency"))))
    val mb = mapper.readTree(lapFull).get("memo_mb")
    assert(mb != null && mb.isObject)
    assert(mb.get("sessionCore").asDouble > 0, mb.toString)
    assert(fullJson.has("memo_mb"))
  }
}
