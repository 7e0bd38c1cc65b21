package epochbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** Registry keys over a generated `events` table. Prepare builds every
  * key's DataFrame and forces its physical plan, so jobs run at build time
  * land there; the epoch runs each plan once, hashing the full output
  * (see [[OutputHash]]) against the hash of the key's DuckDB oracle SQL
  * on the same file.
  */
final class RegistryWorkload(dir: String, expected: Map[String, String]) extends Workload {
  import RegistryWorkload.Keys

  /** In probe runs the second pass was within 15% of the timed passes; a
    * third warm-up pass did not fit the time budget of 22 runs.
    */
  val warmPasses = 2

  private def build(spark: SparkSession, key: String): DataFrame = {
    val df = Registry.queries(key)(spark, dir)
    df.queryExecution.executedPlan
    df
  }

  private def check(key: String, df: DataFrame): Option[Failure] =
    try {
      val got = OutputHash.of(df)
      val want = expected.getOrElse(key, "(no oracle hash)")
      if (got == want) None
      else Some(Failure(key, "HashMismatch", s"output hash $got, oracle $want"))
    } catch { case t: Throwable => Some(Failure.of(key, t)) }

  def pass(spark: SparkSession): Pass = {
    val failures = mutable.ArrayBuffer.empty[Failure]
    val (built, prepareS) = Workload.seconds(Keys.flatMap { k =>
      try Some(k -> build(spark, k))
      catch { case t: Throwable => failures += Failure.of(k, t); None }
    })
    val (checked, epochS) = Workload.seconds(built.map { case (k, df) => check(k, df) })
    failures ++= checked.flatten
    Pass(prepareS, epochS, Workload.cachedMb(spark), Keys.size, failures.toSeq)
  }

  /** The registry's memos are the steady state this workload measures,
    * so nothing is released between passes.
    */
  def release(spark: SparkSession): Unit = ()

  def tracedPass(spark: SparkSession, tracer: Tracer): TracedPass = {
    val metrics = mutable.Map.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[Failure]
    val (_, root) = tracer.span("pass") {
      Keys.foreach { k =>
        try {
          val (df, b) = tracer.span(s"queries.$k.build")(build(spark, k))
          val (failure, r) = tracer.span(s"queries.$k")(check(k, df))
          failures ++= failure
          metrics(s"queries.$k.build_s") = b.seconds
          metrics(s"queries.$k.build_jobs") = tracer.counts(b).jobs.toDouble
          metrics(s"queries.$k.s") = r.seconds
          metrics(s"queries.$k.jobs") = tracer.counts(r).jobs.toDouble
        } catch { case t: Throwable => failures += Failure.of(k, t) }
      }
    }
    TracedPass(metrics.toMap, root.seconds, Keys.size, failures.toSeq)
  }
}

object RegistryWorkload {
  /** Time-series keys, the ones that read `events`. */
  val Keys: Seq[String] = Seq("resample_up_explode", "resample_up_linear", "fill_forward",
    "fill_interpolate", "fill_policy", "pipeline_resample", "session_concurrency", "batch_fixed")

  def oracleSql: Map[String, String] = Keys.map(k => k -> Registry.oracleSql(k)).toMap
}
