package epochbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.config.RunConfig
import graft.operators.{FeatureSpace, Quality, Resample, WindowOps}
import graft.pipeline.Pipeline
import graft.sources.CsvSource

/** The reference pipeline on a generated smart-meter CSV: `Pipeline.run`
  * is the prepare phase, and an epoch consumes every batch of
  * `batchedExamples(supervisedExamples(prep, 10), 10)`.
  *
  * The epoch's sink groups the batches by split and reduces each split to
  * (examples, batches, XOR of a 64-bit hash of every batch), so it reads
  * every column of every batch and yields the checked counts in the same
  * pass.
  */
final class PipelineWorkload(csv: String, cfg: RunConfig, expected: Generate.Expected)
    extends Workload {
  import PipelineWorkload._

  /** In probe runs with two warm-up passes the first timed pass was still
    * 10-20% slower than the later ones; with three it was not.
    */
  val warmPasses = 3

  private var prepared: Option[Pipeline.Prepared] = None
  private var reference: Option[Map[String, Split]] = None

  private def run(spark: SparkSession): Pipeline.Prepared =
    Pipeline.run(spark, cfg, pathOverride = Some(csv), auditInterval = true)

  def pass(spark: SparkSession): Pass = {
    val (prep, prepareS) = Workload.seconds(run(spark))
    prepared = Some(prep)
    val failures = mutable.ArrayBuffer.empty[Failure]
    checkAdapt(prep.stats).foreach(failures += _)
    val (out, epochS) = Workload.seconds {
      try Right(sink(Pipeline.batchedExamples(
        Pipeline.supervisedExamples(prep, Window, Fractions), Batch)))
      catch { case t: Throwable => Left(Failure.of("epoch", t)) }
    }
    out match {
      case Left(f) => failures += f
      case Right(o) => failures ++= checkCounts(o) ++ checkHash(o)
    }
    Pass(prepareS, epochS, Workload.cachedMb(spark), PassChecks, failures.toSeq)
  }

  def release(spark: SparkSession): Unit = {
    prepared.foreach(_.release())
    prepared = None
    Workload.awaitNoCache(spark)
  }

  /** Examples and batches per split against the plain-Scala expectation. */
  private def checkCounts(out: Map[String, Split]): Option[Failure] = {
    val got = out.map { case (k, s) => k -> (s.examples, s.batches) }
    val want = expected.splits.collect { case (k, c) if c.batches > 0 => k -> (c.batches * Batch, c.batches) }
    if (got == want) None
    else Some(Failure("epoch", "CountMismatch", s"(examples, batches) per split $got, expected $want"))
  }

  /** The output hash against the first untraced pass of this process. */
  private def checkHash(out: Map[String, Split]): Option[Failure] = reference match {
    case None => reference = Some(out); None
    case Some(r) if r != out => Some(Failure("epoch", "HashMismatch", s"output $out differs from the first pass $r"))
    case _ => None
  }

  private def checkAdapt(stats: FeatureSpace.FeatureStats): Option[Failure] = {
    val bad = expected.adapt.toSeq.sortBy(_._1).flatMap { case (c, (mean, variance)) =>
      stats.numeric.get(c) match {
        case None => Some(s"$c: no stats")
        case Some(s) if !close(s.mean, mean) || !close(s.varPop, variance) =>
          Some(s"$c: mean ${s.mean} var_pop ${s.varPop}, expected $mean and $variance")
        case _ => None
      }
    }
    if (bad.isEmpty) None else Some(Failure("adapt", "StatsMismatch", bad.mkString("; ")))
  }

  /** The same flow as `Pipeline.run` → `supervisedExamples` →
    * `batchedExamples`, rebuilt from each layer's public call. Every
    * stage's output is persisted and counted inside its span, so the next
    * stage starts from it. The window output is too large to persist
    * (tens of doubles a row), so `operators.window` is timed by hashing it
    * and `operators.batch` recomputes it: batch self time is its span
    * minus the window span.
    */
  def tracedPass(spark: SparkSession, tracer: Tracer): TracedPass = {
    val ex = cfg.dataPipeline.extraction
    val tr = cfg.dataPipeline.transformation
    val metrics = mutable.Map.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[Failure]
    val held = mutable.ArrayBuffer.empty[DataFrame]

    def record(stage: String, span: Span, selfS: Double, c: Counts, rows: Long): Unit = {
      metrics(s"$stage.s") = selfS
      metrics(s"$stage.jobs") = c.jobs.toDouble
      metrics(s"$stage.par") = if (span.seconds > 0) c.runMs / 1000.0 / span.seconds else 0
      metrics(s"$stage.shuffle_mb") = c.shuffleBytes / 1048576.0
      metrics(s"$stage.rows") = rows.toDouble
    }
    def stage(name: String)(build: => DataFrame): (DataFrame, Long) = {
      val ((df, rows), span) = tracer.span(name) {
        val d = build.persist(StorageLevel.MEMORY_AND_DISK)
        held += d
        (d, d.count())
      }
      record(name, span, span.seconds, tracer.counts(span), rows)
      (df, rows)
    }

    val (_, root) = tracer.span("pass") {
      val (raw, rawRows) = stage("sources.scan")(CsvSource.read(spark, csv,
        useExistingColumnNames = ex.useExistingColumnnames, columnsOriginal = ex.columnsOriginal,
        columnsSelected = Nil, nRows = ex.nRows))
      val (selected, _) = stage("pipeline.derive") {
        val dict = ex.columnDatetimedict + ("column_datetime" ->
          ex.columnDatetimedict.getOrElse("column_datetime", ex.columnDatetime))
        val derived = Pipeline.addDerivedColumns(raw, ex.columnsAdded, dict)._1
        derived.select((ex.columnsSelected ++ ex.columnsAdded).distinct.map(col): _*)
      }

      val tsCol = ex.columnDatetime
      val (cached, orderedRows) = stage("operators.order")(
        WindowOps.withRowIdx(selected, Seq.empty, Seq(tsCol), "row_idx"))

      val (auditOk, auditSpan) = tracer.span("operators.audit") {
        val interval = WindowOps.lagInterval(col(tsCol).cast("double"), Seq.empty, Seq("row_idx"))
        Quality.constantInterval(cached.select(interval.as("i")).filter(col("i").isNotNull),
          col("i"), ex.timeIntervalOriginal).head().getBoolean(0)
      }
      record("operators.audit", auditSpan, auditSpan.seconds, tracer.counts(auditSpan), orderedRows)
      if (!auditOk) failures += Failure("audit", "IntervalMismatch",
        s"interval not constant at ${ex.timeIntervalOriginal} s")

      val (resampled, resampledRows) = stage("operators.resample") {
        val up = Resample.upsampleRepeatEpoch(cached, col(tsCol).cast("long"),
            ex.timeIntervalOriginal, tr.timeIntervalDesired)
          .withColumn(tsCol, col("ts_up").cast("double")).drop("ts_up", "row_idx")
        WindowOps.withRowIdx(up, Seq.empty, Seq(tsCol), "row_idx")
      }

      if (resampledRows != expected.resampledRows) failures += Failure("resample", "CountMismatch",
        s"$resampledRows rows after the upsample, expected ${expected.resampledRows}")

      val specs = tr.features.flatMap(Pipeline.toSpecs)
      val (stats, adaptSpan) = tracer.span("operators.adapt") {
        FeatureSpace.adapt(resampled.orderBy(col("row_idx")), specs, Some(tr.nRowsToAdaptFeaturespace))
      }
      record("operators.adapt", adaptSpan, adaptSpan.seconds, tracer.counts(adaptSpan),
        math.min(resampledRows, tr.nRowsToAdaptFeaturespace))
      checkAdapt(stats).foreach(failures += _)

      val outCols = specs.flatMap(s => FeatureSpace.expand(s, stats).map(_._1))
      val (applied, _) = stage("operators.apply")(
        resampled.select(FeatureSpace.apply(resampled, specs, stats, keep = Seq("row_idx")): _*))
      val (split, _) = stage("operators.split") {
        val vec = array(outCols.map(c => col(c).cast("double")): _*)
        WindowOps.prefixSplit(applied.withColumn("vec", vec), Fractions, Seq.empty, Seq("row_idx"))
      }

      val windowed = WindowOps.supervisedWindow(split.drop("rn"), col("vec"), Window,
          Seq("split"), Seq("row_idx"))
        .select(col("split"), col("row_idx"), col("input"), col("target"))
      val (windows, windowSpan) = tracer.span("operators.window") {
        windowed.groupBy(col("split"))
          .agg(count(lit(1)), bit_xor(xxhash64(col("row_idx"), col("input"), col("target"))))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      record("operators.window", windowSpan, windowSpan.seconds, tracer.counts(windowSpan),
        windows.values.sum)
      val wantWindows = expected.splits.collect { case (k, c) if c.windows > 0 => k -> c.windows }
      if (windows != wantWindows) failures += Failure("window", "CountMismatch",
        s"windows per split $windows, expected $wantWindows")

      val (out, batchSpan) = tracer.span("operators.batch") {
        try Some(sink(Pipeline.batchedExamples(windowed, Batch)))
        catch { case t: Throwable => failures += Failure.of("epoch", t); None }
      }
      record("operators.batch", batchSpan, batchSpan.seconds - windowSpan.seconds,
        tracer.counts(batchSpan), out.map(_.values.map(_.batches).sum).getOrElse(0L))
      out.foreach { o =>
        failures ++= checkCounts(o)
        if (!reference.contains(o)) failures += Failure("trace", "HashMismatch",
          s"traced output $o differs from the untraced output ${reference.getOrElse("(none)")}")
      }
    }
    held.foreach(_.unpersist(blocking = true))
    TracedPass(metrics.toMap, root.seconds, TracedChecks, failures.toSeq)
  }
}

object PipelineWorkload {
  /** Checks per pass: adapt stats, counts per split, output hash. A check
    * that cannot run because the epoch threw is covered by that one failure.
    */
  val PassChecks = 3
  /** Checks per traced pass: audit, rows after the upsample, adapt stats,
    * windows per split, counts per split, traced-vs-untraced hash.
    */
  val TracedChecks = 6
  val Window = 10
  val Batch = 10
  val Fractions: (Double, Double, Double) = (0.7, 0.2, 0.1)

  final case class Split(examples: Long, batches: Long, hash: Long)

  def sink(batched: DataFrame): Map[String, Split] =
    batched.groupBy(col("split"))
      .agg(sum(size(col("inputs"))), count(lit(1)),
        bit_xor(xxhash64(col("batch_id"), col("inputs"), col("targets"))))
      .collect()
      .map((r: Row) => r.getString(0) -> Split(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  def close(got: Double, want: Double): Boolean =
    math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))
}
