package epochbench

import org.apache.spark.sql.SparkSession

/** A check that failed or threw: the operation, the exception class and
  * its message.
  */
final case class Failure(op: String, cls: String, message: String)

object Failure {
  def of(op: String, t: Throwable): Failure =
    Failure(op, t.getClass.getName, String.valueOf(t.getMessage).take(500))
}

/** One closed-loop pass: seconds to prepare, seconds per epoch, cached MB
  * held after it, and the checked operations it ran.
  */
final case class Pass(prepareS: Double, epochS: Double, cacheMb: Double,
                      attempted: Int, failures: Seq[Failure]) {
  def totalS: Double = prepareS + epochS
}

/** Per-layer readings of one traced pass, by metric name. */
final case class TracedPass(metrics: Map[String, Double], totalS: Double,
                            attempted: Int, failures: Seq[Failure])

trait Workload {
  /** Untimed passes before the timed ones. The first is cold (class
    * loading, code generation, JIT). A fixed count keeps the set-up work
    * the same in every run.
    */
  def warmPasses: Int

  /** One untraced pass. */
  def pass(spark: SparkSession): Pass

  /** The same work, composed from the public calls of each layer, with a
    * span around each call; must yield the same output as [[pass]].
    */
  def tracedPass(spark: SparkSession, tracer: Tracer): TracedPass

  /** Drop what the last pass cached, so the next pass starts from the
    * same state.
    */
  def release(spark: SparkSession): Unit
}

object Workload {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** MB held by cached RDD blocks, in memory and on disk. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Wait until no cached block is left, up to `limitS` seconds. */
  def awaitNoCache(spark: SparkSession, limitS: Double = 30): Unit = {
    val deadline = System.nanoTime() + (limitS * 1e9).toLong
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  /** Stage metric names reported for the pipeline layers. */
  val Stages: Seq[String] = Seq("sources.scan", "pipeline.derive", "operators.order",
    "operators.audit", "operators.resample", "operators.adapt", "operators.apply",
    "operators.split", "operators.window", "operators.batch")
  val StageFields: Seq[String] = Seq("s", "jobs", "par", "shuffle_mb", "rows")
}
