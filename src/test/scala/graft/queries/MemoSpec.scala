package graft.queries

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** [[Memo]]'s rule: one build per key under concurrency, per-key locks,
  * rebuild on an in-place rewrite of the dir, re-persist after a cache
  * clear; and the in-place rewrite drill on one relation memo, one
  * driver-value memo and one catalog-table memo.
  */
class MemoSpec extends graft.SparkSpec {
  private def tmpDir(prefix: String): String = {
    val t = java.nio.file.Files.createTempDirectory(prefix)
    t.toFile.deleteOnExit()
    t.toString
  }

  /** Write `df` as `<dir>/<name>.parquet`, replacing what is there the
    * way another process would: written elsewhere, then moved in, so
    * this session's cache manager never hears of the rewrite.
    */
  private def write(dir: String, name: String, df: DataFrame): String = {
    import java.nio.file.{Files, Paths}
    val staged = Paths.get(tmpDir("graft_staged"), name)
    df.write.parquet(staged.toString)
    val target = Paths.get(dir, s"$name.parquet")
    if (Files.exists(target)) {
      val old = Files.list(target)
      try old.forEach(f => Files.delete(f)) finally old.close()
      Files.delete(target)
    }
    Files.move(staged, target)
    dir
  }

  test("eight threads asking for one key build it once") {
    val d = tmpDir("graft_memo")
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(8)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val got = Await.result(Future.sequence((1 to 8).map(_ => Future {
        Memo.value(spark, d, "memoSpec/once") { Thread.sleep(200); builds.incrementAndGet() }
      })), 60.seconds)
      assert(builds.get == 1)
      assert(got.toSet == Set(1))
    } finally pool.shutdownNow()
  }

  test("a nested build from a pool thread completes, and other keys never wait on a build") {
    val d = tmpDir("graft_memo")
    val pool = Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // the outer build waits on a pool thread that builds an inner key
      val nested = Memo.value(spark, d, "memoSpec/outer") {
        Await.result(Future(Memo.value(spark, d, "memoSpec/inner")(41)), 30.seconds) + 1
      }
      assert(nested == 42)
      // while one key's build is blocked, another key builds and is served
      val release = new CountDownLatch(1)
      val blocked = Future(Memo.value(spark, d, "memoSpec/blocked") {
        release.await(30, TimeUnit.SECONDS); "blocked"
      })
      val other = Future(Memo.value(spark, d, "memoSpec/other")("other"))
      assert(Await.result(other, 10.seconds) == "other")
      assert(!blocked.isCompleted)
      release.countDown()
      assert(Await.result(blocked, 30.seconds) == "blocked")
    } finally pool.shutdownNow()
  }

  test("a cache clear re-persists a relation; an in-place rewrite drops the stale cache and rebuilds") {
    val d = tmpDir("graft_memo")
    val builds = new AtomicInteger
    def rel() = Memo.relation(spark, d, "memoSpec/rel") {
      builds.incrementAndGet()
      spark.read.parquet(s"$d/t.parquet").groupBy().agg(sum(col("id")).as("s"))
    }
    write(d, "t", spark.range(10).toDF())
    val first = rel()
    assert(first.head().getLong(0) == 45L)
    assert(rel() eq first)
    assert(builds.get == 1)
    assert(Memo.cachedMb(spark).getOrElse("memoSpec/rel", 0.0) > 0.0)

    spark.catalog.clearCache()
    MemoTrace.drain()
    assert(rel() eq first)
    assert(first.storageLevel != StorageLevel.NONE)
    assert(MemoTrace.drain() == Seq("memoSpec/rel:repersist"))

    write(d, "t", spark.range(100).toDF())
    val second = rel()
    assert(builds.get == 2)
    // the rebuilt plan equals the stale one, so Spark's cache would serve
    // the stale blocks (45) had the stale relation not been unpersisted
    assert(second.head().getLong(0) == 4950L)
  }

  /** The rewrite drill: run `key` on `first`, rewrite the dir's `table`
    * in place with `second`, and run it again in the same session; the
    * result must equal `key` on a fresh dir holding `second`.
    */
  private def drill(key: String, table: String, first: DataFrame, second: DataFrame): Unit = {
    def run(d: String) = graft.SparkEntry.queries(key)(spark, d).collect().toSeq
    val d = tmpDir("graft_rewrite")
    val before = run(write(d, table, first))
    val after = run(write(d, table, second))
    val fresh = run(write(tmpDir("graft_fresh"), table, second))
    assert(before != fresh, key) // the two datasets are told apart
    assert(after == fresh, key)
  }

  test("sessionize (a relation memo) after an in-place rewrite of events equals a fresh dir") {
    val ev = graft.sources.Tables.events(spark, sf)
    drill("sessionize", "events", ev, ev.filter(col("event_id") % 3 =!= 0))
  }

  /** The embeddings with every odd dimension negated: the same norms,
    * different learned centroids.
    */
  private def flipped(e: DataFrame): DataFrame =
    e.withColumn("embedding", expr("transform(embedding, (x, i) -> IF(i % 2 = 1, -x, x))"))

  test("ann_ivf_kmeans (a value memo) after an in-place rewrite of embeddings equals a fresh dir") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    drill("ann_ivf_kmeans", "embeddings", e, flipped(e))
  }

  test("ann_ivf_persisted (a catalog-table memo) after an in-place rewrite of embeddings equals a fresh dir") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    drill("ann_ivf_persisted", "embeddings", e, flipped(e))
  }

  test("the incremental keys' published tables are rebuilt after an in-place rewrite of documents") {
    val docs = graft.sources.Tables.documents(spark, sf)
    Seq("corpus_diversity_incremental", "epoch_plan_incremental", "data_card_incremental")
      .foreach(k => drill(k, "documents", docs, docs.filter(col("doc_id") % 2 === 0)))
  }

  test("a warm build of dedup_cluster runs no job and rebuilds no textClusterLabels") {
    val dedupCluster = graft.SparkEntry.queries("dedup_cluster")
    dedupCluster(spark, sf) // the warm-up build runs the size probe
    val jobs = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    MemoTrace.drain()
    spark.sparkContext.addSparkListener(listener)
    try {
      dedupCluster(spark, sf)
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} job(s) ran while building the DataFrame")
    val events = MemoTrace.drain()
    assert(!events.exists(_.startsWith("textClusterLabels")), events)
  }
}
