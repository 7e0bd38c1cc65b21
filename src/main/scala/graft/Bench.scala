package graft

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.queries.{Memo, MemoTrace, Registry}
import java.nio.file.{Files, Paths}
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, col}
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

/** Benchmark entrypoint: times every registry key at `SPARK_GRAFT_SF_DIR`
  * on `local[SPARK_GRAFT_CPUS]`, or only the keys named in the optional
  * argument (comma-separated; an unknown name fails before the session
  * starts).
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Bench [q1,q2]"
  *
  * Protocol, per key: one COLD sample, then [[WarmSamples]] WARM samples,
  * each timed around `fn(spark, sfDir).count()`. Keys run in family order,
  * alphabetical within a family, and the cache is cleared after each
  * family, so the cold sample pays what the key needs first: a shared memo
  * build or re-persist, new plan shapes. `sec` is the fastest warm sample
  * and `sec_cold` the cold one; cold and warm are reported as separate
  * numbers, as Shark does. Nothing is re-selected: the load average before
  * each sample and each sample's MemoTrace build events are recorded so a
  * reader can attribute a delta from the artifact alone.
  *
  * Outputs:
  *  - `bench_full.json` in the working directory. Per key: `sec`,
  *    `sec_cold`, `samples`, `loads`, `builds`, `evictions` (RDD blocks
  *    dropped during each sample), the Spark `jobs`, `stages`, `tasks` and
  *    `job_sites` of the last warm sample, the `harness` flag, and the
  *    exception class and message of each failed sample (`errors`). Plus
  *    family totals with and without the eval-harness keys, the mean
  *    recall of every ann_recall* key at each sibling scale, and
  *    `memo_mb`: per [[graft.queries.Memo]] label, the most MB (memory +
  *    disk) its relations held at the end of a family, before the cache
  *    clear.
  *  - the headline, the LAST stdout line: a consumer keeps only the tail
  *    of stdout, so it holds just `metric`, `unit`, `queries` (per-key
  *    `sec` to 2 decimals), `failed`, `sf` and `value` (the total), and
  *    build.sbt sets `showSuccess := false` so sbt's trailer cannot follow
  *    it. A key with any failed sample is in `failed` and reports a
  *    negative time.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  val WarmSamples = 2

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  /** A Spark job: its stage and task counts at submission, and its job
    * description, else its call site, else its result stage's name.
    */
  private final case class Job(stages: Int, tasks: Int, site: String)

  private final case class Sample(sec: Double, load: Double, builds: Seq[String],
                          evictions: Long, jobs: Seq[Job], error: Option[Throwable])

  final case class Failure(sample: Int, exception: String, message: String)

  /** One key's object in bench_full.json. */
  final case class KeyReport(sec: Double, secCold: Double, samples: Seq[Double],
      loads: Seq[Double], builds: Seq[Seq[String]], evictions: Seq[Long],
      jobs: Int, stages: Int, tasks: Int, jobSites: Seq[String],
      harness: Boolean, errors: Seq[Failure])

  /** Records every job start and counts RDD-block evictions until taken.
    * Samples run one at a time and the listener bus is drained before and
    * after each, so what is taken after a sample is exactly that sample's,
    * including jobs the query submits from its own threads. (A local
    * property set around the sample would miss those: a pool thread keeps
    * the property of the sample that created it, and 22 of
    * ann_recall_kmeans's 25 warm jobs carried its cold sample's tag.)
    */
  private final class Profile extends SparkListener {
    private var jobs = Vector.empty[Job]
    private var evicted = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("spark.job.description").orElse(prop("callSite.short"))
        .getOrElse(e.stageInfos.maxBy(_.stageId).name)
      val job = Job(e.stageInfos.size, e.stageInfos.map(_.numTasks).sum, site)
      synchronized { jobs :+= job }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && !info.storageLevel.isValid) synchronized { evicted += 1 }
    }

    def take(): (Seq[Job], Long) = synchronized {
      val taken = (jobs, evicted)
      jobs = Vector.empty
      evicted = 0
      taken
    }
  }

  private def sample(spark: SparkSession, sfDir: String, fn: Query, profile: Profile): Sample = {
    val sc = spark.sparkContext
    GraftBus.drain(sc) // earlier work's events must not land in this sample
    profile.take()
    MemoTrace.drain()
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val t0 = System.nanoTime()
    val error = try { fn(spark, sfDir).count(); None } catch { case e: Throwable => Some(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    GraftBus.drain(sc)
    val (jobs, evicted) = profile.take()
    Sample(if (error.isEmpty) sec else -sec, load, MemoTrace.drain(), evicted, jobs, error)
  }

  private def measure(spark: SparkSession, sfDir: String, name: String, fn: Query,
                      profile: Profile): KeyReport = {
    val ss = (0 to WarmSamples).map(_ => sample(spark, sfDir, fn, profile))
    val secs = ss.map(_.sec)
    val errors = ss.zipWithIndex.flatMap { case (s, i) =>
      s.error.map(e => Failure(i, e.getClass.getName, e.getMessage))
    }
    val jobs = ss.last.jobs
    KeyReport(
      // a failed sample is negative, so a failed key reports a negative time
      sec = if (errors.isEmpty) secs.tail.min else secs.min,
      secCold = secs.head, samples = secs, loads = ss.map(_.load),
      builds = ss.map(_.builds), evictions = ss.map(_.evictions),
      jobs = jobs.size, stages = jobs.map(_.stages).sum, tasks = jobs.map(_.tasks).sum,
      jobSites = jobs.map(_.site), harness = Registry.harnessKeys(name), errors = errors)
  }

  /** Mean recall of every ann_recall* key at `dir`, split by the variant
    * column when the key has one. Runs after the timed samples, on warm
    * memos; a key that fails is left out.
    */
  private def recalls(spark: SparkSession, dir: String,
                      keys: Seq[(String, Query)]): ListMap[String, Double] =
    ListMap(keys.filter(_._1.startsWith("ann_recall")).sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, dir)
          Seq("n_probe", "method", "quantizer", "dims").find(df.columns.contains) match {
            case Some(v) => df.groupBy(col(v)).agg(avg(col("recall"))).collect().toSeq
              .map(r => s"$name:${r.get(0)}" -> r.getDouble(1))
            case None => Seq(name -> df.agg(avg(col("recall"))).head().getDouble(0))
          }
        } catch { case NonFatal(_) => Nil }
    }: _*)

  /** Measures `families` in order and returns the bench_full.json text and
    * the headline line.
    */
  def lap(spark: SparkSession, sfDir: String,
          families: Seq[(String, Seq[(String, Query)])]): (String, String) = {
    val profile = new Profile
    spark.sparkContext.addSparkListener(profile)
    // largest cached MB of each memo label at the end of a family
    var memoMb = Map.empty[String, Double]
    val measured = try families.map { case (family, keys) =>
      val reports = keys.map { case (name, fn) => name -> measure(spark, sfDir, name, fn, profile) }
      Memo.cachedMb(spark).foreach { case (label, mb) =>
        memoMb += label -> math.max(mb, memoMb.getOrElse(label, 0.0))
      }
      spark.catalog.clearCache()
      family -> reports
    } finally spark.sparkContext.removeSparkListener(profile)

    val reports = measured.flatMap(_._2)
    def total(ks: Seq[(String, KeyReport)]) = ks.map(k => math.max(k._2.sec, 0.0)).sum
    val failed = reports.collect { case (name, r) if r.errors.nonEmpty => name }
    val keys = families.flatMap(_._2)
    val here = recalls(spark, sfDir, keys)
    val sfPath = Paths.get(sfDir).toAbsolutePath
    val recallsBySf = ListMap(Seq("sf0.001", "sf0.01", "sf0.1").flatMap { sub =>
      Option(sfPath.getParent).map(_.resolve(sub)).filter(Files.isDirectory(_)).map { dir =>
        sub -> (if (Files.isSameFile(dir, sfPath)) here else recalls(spark, dir.toString, keys))
      }
    }: _*)
    val full = ListMap(
      "metric" -> "total", "unit" -> "sec", "value" -> total(reports), "sf" -> sfDir,
      "failed" -> failed,
      "families" -> ListMap(measured.map { case (f, ks) => f -> total(ks) }: _*),
      "families_op" -> ListMap(measured.map { case (f, ks) => f -> total(ks.filterNot(_._2.harness)) }: _*),
      "harness_total" -> total(reports.filter(_._2.harness)),
      "recalls" -> here, "recalls_by_sf" -> recallsBySf,
      "memo_mb" -> ListMap(memoMb.toSeq.sortBy(_._1): _*),
      "queries" -> ListMap(reports: _*))
    // a failure rounded to 2 decimals must stay visibly negative
    def r2(v: Double) = { val r = math.rint(v * 100) / 100; if (v < 0) math.min(r, -0.01) else r }
    val sf: Any = "sf([0-9]+(?:\\.[0-9]+)?)/?$".r.findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble).getOrElse("unknown")
    val headline = ListMap(
      "metric" -> "total", "unit" -> "sec",
      "queries" -> ListMap(reports.map { case (n, r) => n -> r2(r.sec) }: _*),
      "failed" -> failed, "sf" -> sf,
      "value" -> math.rint(total(reports) * 1000) / 1000)
    (mapper.writeValueAsString(full), mapper.writeValueAsString(headline))
  }

  def main(args: Array[String]): Unit = {
    val only = args.headOption.map(_.split(",").toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up the codegen compiler, the shuffle machinery and EVERY
    // table's footer and memoized schema, so the first key that reads a
    // table is not charged seconds of JVM and footer start-up.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      try graft.sources.Tables.table(spark, sfDir, t).limit(1).collect()
      catch { case NonFatal(_) => () }
    }
    val families = Registry.families
      .map { case (f, ks) =>
        f -> ks.filter(k => only.forall(_(k))).map(k => k -> SparkEntry.queries(k))
      }
      .filter(_._2.nonEmpty)
    val (full, headline) = lap(spark, sfDir, families)
    Files.writeString(Paths.get("bench_full.json"), full + "\n")
    println(headline)
    spark.stop()
  }
}
