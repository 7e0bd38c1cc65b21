package epochbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.config.PipelineConfig

/** Closed-loop benchmark of the reference pipeline and the operator
  * registry. One caller runs each pass after the previous one ends.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--inputs <dir>] [--expect <file>]
  *   Main --oracle-sql <file>
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics;
  * with `--trace 1` it carries the per-layer metrics of a traced run.
  * The line before it holds every raw per-pass reading.
  */
object Main {
  val Workloads: Seq[String] = Seq("meter_upsample", "registry_events")

  private val MinPasses = 3
  private val MinTracedPairs = 2
  private val MaxPasses = 40

  /** Renders the result lines; the Scala module maps Scala maps and
    * sequences to JSON objects and arrays.
    */
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    opts.get("oracle-sql") match {
      case Some(out) => write(out, Json.writeValueAsString(RegistryWorkload.oracleSql))
      case None => run(opts)
    }
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Seconds the JIT compilers have spent, summed over their threads. */
  private def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** Collect garbage outside the timed region. */
  private def quiesce(): Unit = { System.gc(); Thread.sleep(100) }

  private def run(opts: Map[String, String]): Unit = {
    val name = opts("workload")
    require(Workloads.contains(name), s"unknown workload $name; known: ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0

    val (make, genS) = Workload.seconds(workload(name, seed, work, opts))
    val cpus = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = GraftSession.configure(builder, cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val w = make()
      val failures = mutable.ArrayBuffer.empty[Failure]
      var attempted = 0
      def safePass(): Option[Pass] =
        try {
          val p = w.pass(spark)
          attempted += p.attempted
          failures ++= p.failures
          Some(p)
        } catch { case t: Throwable => attempted += 1; failures += Failure.of("pass", t); None }
        finally w.release(spark)

      val warm = Seq.fill(w.warmPasses)(safePass().map(_.totalS).getOrElse(Double.NaN))

      val setupS = System.currentTimeMillis() / 1000.0 - jvmStart - genS
      val raw = mutable.LinkedHashMap[String, Any](
        "workload" -> name, "seed" -> seed, "cpus" -> cpus, "gen_s" -> genS,
        "setup_s" -> setupS, "warmup_pass_s" -> warm)

      val metrics: Seq[(String, Double, String)] =
        if (!traced) {
          val passes = mutable.ArrayBuffer.empty[Pass]
          val gcS, jitS = mutable.ArrayBuffer.empty[Double]
          val t0 = System.nanoTime()
          def elapsed = (System.nanoTime() - t0) / 1e9
          var runs = 0
          while (runs < MinPasses || (elapsed < seconds && runs < MaxPasses)) {
            quiesce()
            val (gc0, jit0) = (gcSeconds, jitSeconds)
            safePass().foreach(passes += _)
            gcS += gcSeconds - gc0
            jitS += jitSeconds - jit0
            runs += 1
          }
          raw ++= Seq("prepare_s" -> passes.map(_.prepareS), "epoch_s" -> passes.map(_.epochS),
            "cache_mb" -> passes.map(_.cacheMb), "gc_s" -> gcS, "jit_s" -> jitS)
          Seq(("setup_s", setupS, "s"), ("prepare_s", median(passes.map(_.prepareS).toSeq), "s"),
            ("epoch_s", median(passes.map(_.epochS).toSeq), "s"),
            ("cache_mb", median(passes.map(_.cacheMb).toSeq), "MB"))
        } else {
          val tracer = new Tracer(spark)
          val plain = mutable.ArrayBuffer.empty[(Pass, Counts, Double, Double)]
          val tracedPasses = mutable.ArrayBuffer.empty[TracedPass]
          val t0 = System.nanoTime()
          def elapsed = (System.nanoTime() - t0) / 1e9
          var runs = 0
          while (runs < MinTracedPairs || (elapsed < seconds && runs < MaxPasses)) {
            runs += 1
            quiesce()
            val gc0 = gcSeconds
            val (p, span) = tracer.span("pass")(safePass())
            val gc = gcSeconds - gc0
            p.foreach(x => plain += ((x, tracer.counts(span), span.seconds, gc)))
            quiesce()
            try {
              val tp = w.tracedPass(spark, tracer)
              attempted += tp.attempted
              failures ++= tp.failures
              tracedPasses += tp
            } catch { case t: Throwable => attempted += 1; failures += Failure.of("traced pass", t) }
            finally w.release(spark)
          }
          tracer.close()
          val layerNames = perLayer
          val layer = layerNames.map { n =>
            n -> median(tracedPasses.map(_.metrics.getOrElse(n, 0.0)).toSeq)
          }.toMap
          def perPass(f: ((Pass, Counts, Double, Double)) => Double) = median(plain.map(f).toSeq)
          val overall = Map(
            "spark.jobs" -> perPass(_._2.jobs.toDouble),
            "spark.tasks" -> perPass(_._2.tasks.toDouble),
            "spark.par" -> perPass(x => x._2.runMs / 1000.0 / x._3),
            "spark.shuffle_mb" -> perPass(_._2.shuffleBytes / 1048576.0),
            "spark.spill_mb" -> perPass(_._2.spillBytes / 1048576.0),
            "jvm.gc_s" -> perPass(_._4),
            "trace.overhead_s" -> (median(tracedPasses.map(_.totalS).toSeq) - perPass(_._1.totalS)))
          raw ++= Seq("untraced_pass_s" -> plain.map(_._1.totalS), "traced_pass_s" -> tracedPasses.map(_.totalS),
            "spans" -> tracer.spans.map(s => Seq(s.id, s.name, s.parent, s.start, s.end)))
          layerNames.map(n => (n, overall.getOrElse(n, layer(n)), unit(n)))
        }

      raw += "failures" -> failures.map(f => Map("op" -> f.op, "class" -> f.cls, "message" -> f.message))
      println(Json.writeValueAsString(Map("raw" -> raw)))
      val result = mutable.LinkedHashMap[String, Any](
        "correct" -> failures.isEmpty,
        "attempted" -> math.max(attempted, 1),
        "failed" -> failures.size,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
          n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
      println(Json.writeValueAsString(result))
    } finally spark.stop()
  }

  /** Every per-layer metric name, in the order BENCHMARK.json lists them. */
  val perLayer: Seq[String] =
    Workload.Stages.flatMap(s => Workload.StageFields.map(f => s"$s.$f")) ++
      RegistryWorkload.Keys.flatMap(k => Seq("s", "jobs", "build_s", "build_jobs").map(f => s"queries.$k.$f")) ++
      Seq("spark.jobs", "spark.tasks", "spark.par", "spark.shuffle_mb", "spark.spill_mb", "jvm.gc_s",
        "trace.overhead_s")

  private def unit(n: String): String = n.split('.').last match {
    case "s" | "build_s" | "gc_s" | "overhead_s" => "s"
    case "shuffle_mb" | "spill_mb" => "MB"
    case "par" => "ratio"
    case _ => "count"
  }

  /** Generate the workload's inputs and return how to build it once the
    * session is up.
    */
  private def workload(name: String, seed: Long, work: java.nio.file.Path,
                       opts: Map[String, String]): () => Workload = {
    Files.createDirectories(work)
    name match {
      case "meter_upsample" =>
        val csv = work.resolve("meter.csv").toString
        Generate.Meter.write(csv, seed, MeterRows)
        val cfg = PipelineConfig.fromJson(meterConfig(csv))
        val tr = cfg.dataPipeline.transformation
        val expected = Generate.Meter.expected(seed, MeterRows, tr.timeIntervalDesired,
          tr.nRowsToAdaptFeaturespace, PipelineWorkload.Fractions, PipelineWorkload.Window,
          PipelineWorkload.Batch)
        () => new PipelineWorkload(csv, cfg, expected)
      case "registry_events" =>
        val text = new String(Files.readAllBytes(Paths.get(opts("expect"))), StandardCharsets.UTF_8)
        val hashes = Json.readValue(text, classOf[java.util.Map[String, String]]).asScala.toMap
        () => new RegistryWorkload(opts("inputs"), hashes)
    }
  }

  /** A2 smart meter: three years of half-hourly rows. */
  val MeterRows = 52560L
  val MeterAdaptRows = 300000L

  private def meterConfig(csv: String): String =
    s"""{"data_pipeline": {
       |  "extraction": {
       |    "csv_folder": "", "csv_file_train": ${Json.writeValueAsString(csv)},
       |    "use_existing_columnnames": true,
       |    "columns_selected": ["date_block", "time_block", "Load_residential_single_0",
       |      "Load_residential_single_1", "Load_residential_single_2"],
       |    "column_datetimedict": {"column_date": "date_block", "column_time": "time_block"},
       |    "columns_added": ["datetimestamp", "datetimestampseconds"],
       |    "column_datetime": "datetimestampseconds", "time_interval_original": 1800},
       |  "transformation": {
       |    "features": [
       |      {"feature_type": "numerical", "output_mode": "normalized", "features": ["Load_residential_single_0",
       |        "Load_residential_single_1", "Load_residential_single_2"]},
       |      {"feature_type": "datetimestamp_seconds", "output_mode": "cyclical_minute_hour_day", "features": ["datetimestampseconds"]}],
       |    "time_interval_desired": 300, "n_rows_to_adapt_featurespace": $MeterAdaptRows}}}""".stripMargin
}
