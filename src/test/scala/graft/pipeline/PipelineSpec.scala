package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.config.PipelineConfig
import graft.operators.WindowOps
import graft.sources.CsvSource

/** Reference-parity tests: synthesize the three CSV shapes of FIXTURES.md
  * (A1 DER, A2 smart-meter, A3 node-load), drive the config-driven
  * pipeline end-to-end with configs shaped exactly like the reference's
  * datafusion_config_*.json, and assert hand-computed outputs.
  */
class PipelineSpec extends SparkSpec {

  private def writeTemp(name: String, lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft_fix")
    val p = dir.resolve(name)
    Files.write(p, lines.mkString("\n").getBytes)
    p.toString
  }

  // --- A1: DER telemetry — headered, epoch-seconds column, 1s interval ---
  lazy val derCsv: String = {
    val header = "datetimestampseconds,W,DCW,AphA,PhVphA"
    // 1200 rows at 1s from a 300s-aligned epoch so downsampling to 300s keeps 4 rows
    val rows = (0 until 1200).map { i =>
      val t = 1672531200 + i
      s"$t.0,${100.0 + i},${50.0 + i},${1.0 + i * 0.1},${230.0 + i * 0.01}"
    }
    writeTemp("der.csv", header +: rows)
  }

  lazy val derConfigJson: String =
    """{
      |  "data_pipeline": {
      |    "extraction": {
      |      "csv_folder": "ignored", "csv_file_train": "der.csv",
      |      "use_existing_columnnames": true, "n_rows": 200000,
      |      "columns_original": [],
      |      "columns_selected": ["datetimestampseconds","W","DCW","AphA","PhVphA"],
      |      "columns_added": [], "column_datetime": "datetimestampseconds",
      |      "time_interval_original": 1
      |    },
      |    "transformation": {
      |      "features": [
      |        {"feature_type":"numerical","output_mode":"normalized","features":["W","DCW","AphA","PhVphA"]},
      |        {"feature_type":"datetimestamp_seconds","output_mode":"cyclical_minute","features":["datetimestampseconds"]}],
      |      "time_interval_desired": 300,
      |      "n_rows_to_adapt_featurespace": 10000
      |    }
      |  },
      |  "logging": {"plot_enabled": false, "plot_directory": "plots/"}
      |}""".stripMargin

  test("A1 DER: config parses, pipeline downsamples 1s->300s and normalizes") {
    val cfg = PipelineConfig.fromJson(derConfigJson)
    assert(cfg.dataPipeline.extraction.timeIntervalOriginal == 1L)
    val prep = Pipeline.run(spark, cfg, pathOverride = Some(derCsv), auditInterval = true)
    val rows = prep.df.orderBy("row_idx").collect()
    assert(rows.length == 4) // 1200s span / 300s alignment
    // output order = spec order: W,DCW,AphA,PhVphA then sin/cos minute
    assert(prep.outputColumns == Seq("W", "DCW", "AphA", "PhVphA",
      "datetimestampseconds_sin_minute", "datetimestampseconds_cos_minute"))
    // normalization stats come from the PRE-resample... no: adapt runs on
    // resampled frame; W values kept are 100,400,700,1000 -> mean 550
    val w = prep.stats.numeric("W")
    assert(math.abs(w.mean - 550.0) < 1e-6)
    // first row W_norm = (100-550)/sigma_pop; sigma = sqrt(var)
    val expected = (100.0 - w.mean) / math.sqrt(w.varPop)
    assert(math.abs(rows.head.getAs[Double]("W") - expected) < 1e-9)
    // 300s-aligned epochs are whole minutes -> sin(minute phase) == 0, cos == 1
    assert(math.abs(rows.head.getAs[Double]("datetimestampseconds_sin_minute")) < 1e-9)
    assert(math.abs(rows.head.getAs[Double]("datetimestampseconds_cos_minute") - 1.0) < 1e-9)
  }

  test("A1 DER: skipRows mirrors the examples' .skip() warm-up drop") {
    val cfg = PipelineConfig.fromJson(derConfigJson)
    val prep = Pipeline.run(spark, cfg, pathOverride = Some(derCsv), skipRows = 600)
    // rows 601..1200 remain; aligned epochs among them: 1672531800+{0,300}
    assert(prep.df.count() == 2)
  }

  // --- A2: smart-meter — date/time string columns, derived datetime ---
  lazy val smCsv: String = {
    val header = "date_block,time_block,Load_residential_single_0,Load_residential_single_1,Load_residential_single_2"
    val rows = (0 until 8).map { i =>
      val mm = (i * 30) % 60
      val hh = (i * 30) / 60
      f"2016-02-01,$hh%02d:$mm%02d:00,${1.0 + i},${2.0 + i},${3.0 + i}"
    }
    writeTemp("sm.csv", header +: rows)
  }

  lazy val smConfigJson: String =
    """{
      |  "data_pipeline": {
      |    "extraction": {
      |      "csv_folder": "ignored", "csv_file_train": "sm.csv",
      |      "use_existing_columnnames": true, "n_rows": 2000,
      |      "columns_original": [],
      |      "columns_selected": ["date_block","time_block","Load_residential_single_0","Load_residential_single_1"],
      |      "column_datetimedict": {"column_date":"date_block","column_time":"time_block"},
      |      "columns_added": ["datetimestamp","datetimestampseconds"],
      |      "column_datetime": "datetimestampseconds",
      |      "time_interval_original": 1800
      |    },
      |    "transformation": {
      |      "features": [
      |        {"feature_type":"numerical","output_mode":"normalized","features":["Load_residential_single_0","Load_residential_single_1"]},
      |        {"feature_type":"datetimestamp_seconds","output_mode":"cyclical_minute_hour_day","features":["datetimestampseconds"]}],
      |      "time_interval_desired": 300,
      |      "n_rows_to_adapt_featurespace": 1000000
      |    }
      |  },
      |  "logging": {"plot_enabled": false, "plot_directory": "plots/"}
      |}""".stripMargin

  test("A2 smart-meter: derives datetime from date+time strings, upsamples 1800s->300s") {
    val cfg = PipelineConfig.fromJson(smConfigJson)
    val prep = Pipeline.run(spark, cfg, pathOverride = Some(smCsv), auditInterval = true)
    // upsample repeat: 8 rows * (1800/300) = 48
    assert(prep.df.count() == 48)
    assert(prep.outputColumns.size == 2 + 6) // 2 normalized + 6 cyclical
  }

  // --- A3: node-load — single datetime string column ---
  lazy val nlCsv: String = {
    val header = "datetime,s1a,s2b,s4c"
    val rows = (0 until 8).map { i =>
      val mm = (i * 15) % 60
      val hh = (i * 15) / 60
      f"2023-06-01 $hh%02d:$mm%02d:00,${10.0 + i},${20.0 + i},${30.0 + i}"
    }
    writeTemp("nl.csv", header +: rows)
  }

  lazy val nlConfigJson: String =
    """{
      |  "data_pipeline": {
      |    "extraction": {
      |      "csv_folder": "ignored", "csv_file_train": "nl.csv",
      |      "use_existing_columnnames": true, "n_rows": 2000,
      |      "columns_original": [],
      |      "columns_selected": ["datetime","s1a","s2b","s4c"],
      |      "column_datetimedict": {"column_datetime":"datetime"},
      |      "columns_added": ["datetimestampseconds"],
      |      "column_datetime": "datetimestampseconds",
      |      "time_interval_original": 900
      |    },
      |    "transformation": {
      |      "features": [
      |        {"feature_type":"numerical","output_mode":"normalized","features":["s1a","s2b","s4c"]},
      |        {"feature_type":"datetimestamp_seconds","output_mode":"cyclical_minute_hour_day","features":["datetimestampseconds"]}],
      |      "time_interval_desired": 300,
      |      "n_rows_to_adapt_featurespace": 1000000
      |    }
      |  },
      |  "logging": {"plot_enabled": false, "plot_directory": "plots/"}
      |}""".stripMargin

  test("A3 node-load: parses datetime strings and upsamples 900s->300s") {
    val cfg = PipelineConfig.fromJson(nlConfigJson)
    val prep = Pipeline.run(spark, cfg, pathOverride = Some(nlCsv), auditInterval = true)
    assert(prep.df.count() == 24) // 8 * (900/300)
  }

  test("supervised examples: window shapes and prefix split") {
    val cfg = PipelineConfig.fromJson(derConfigJson)
    val prep = Pipeline.run(spark, cfg, pathOverride = Some(derCsv))
    val ex = Pipeline.supervisedExamples(prep, windowSize = 2, fractions = (0.5, 0.25, 0.25))
    val first = ex.orderBy("row_idx").head()
    val input = first.getSeq[scala.collection.Seq[Double]](first.fieldIndex("input"))
    assert(input.head.size == 6)
  }

  test("supervised examples v2: per-column split (target = feature 0, every window row)") {
    val cfg = PipelineConfig.fromJson(derConfigJson)
    val prep = Pipeline.run(spark, cfg, pathOverride = Some(derCsv))
    val ex = Pipeline.supervisedExamplesV2(prep, windowSize = 2, fractions = (0.5, 0.25, 0.25))
    val first = ex.orderBy("row_idx").head()
    val input = first.getSeq[scala.collection.Seq[Double]](first.fieldIndex("input"))
    val target = first.getSeq[Double](first.fieldIndex("target"))
    assert(input.length == 2)            // every window row contributes
    assert(input.head.size == 5)         // D-1 features (6 outputs - col 0)
    assert(target.length == 2)           // one target per window row
    // target is column 0 = normalized W of each window row; input row = cols 1..
    val applied = prep.df.orderBy("row_idx").collect()
    val expectW = applied(0).getAs[Double](prep.outputColumns.head)
    assert(math.abs(target.head - expectW) < 1e-12)
    assert(math.abs(input.head.head - applied(0).getAs[Double](prep.outputColumns(1))) < 1e-12)
  }

  test("supervised examples select: name-driven feature/target gather from config features") {
    val cfg = PipelineConfig.fromJson(derConfigJson)
    val prep = Pipeline.run(spark, cfg, pathOverride = Some(derCsv))
    // target by NAME (the get_input_target_dataset contract): predict DCW
    // from (PhVphA, W) — arbitrary order, resolved to indices internally
    val ex = Pipeline.supervisedExamplesSelect(prep, windowSize = 2,
      inputFeatures = Seq("PhVphA", "W"), targetFeatures = Seq("DCW"),
      fractions = (0.5, 0.25, 0.25))
    val first = ex.orderBy("row_idx").head()
    val input = first.getSeq[scala.collection.Seq[Double]](first.fieldIndex("input"))
    val target = first.getSeq[scala.collection.Seq[Double]](first.fieldIndex("target"))
    assert(input.length == 2 && input.head.size == 2)
    assert(target.length == 2 && target.head.size == 1)
    val applied = prep.df.orderBy("row_idx").collect()
    assert(math.abs(input.head.head - applied(0).getAs[Double]("PhVphA")) < 1e-12)
    assert(math.abs(input.head(1) - applied(0).getAs[Double]("W")) < 1e-12)
    assert(math.abs(target.head.head - applied(0).getAs[Double]("DCW")) < 1e-12)
    // unknown name is a config error, not silent index garbage
    intercept[IllegalArgumentException] {
      Pipeline.supervisedExamplesSelect(prep, 2, Seq("nope"), Seq("DCW"))
    }
  }

  test("batchedExamples packs full batches of (inputs, targets) per split") {
    val cfg = PipelineConfig.fromJson(derConfigJson)
    val prep = Pipeline.run(spark, cfg, pathOverride = Some(derCsv))
    // 4 resampled rows -> W=2 windows per split; batch B=1 keeps them all
    val ex = Pipeline.supervisedExamples(prep, windowSize = 2, fractions = (0.5, 0.25, 0.25))
    val batched = Pipeline.batchedExamples(ex, batchSize = 1)
    val row = batched.orderBy("split", "batch_id").head()
    val inputs = row.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](
      row.fieldIndex("inputs"))
    assert(inputs.length == 1)          // batch dimension
    assert(inputs.head.length == 1)     // window rows (W-1)
    assert(inputs.head.head.length == 6) // features
    val targets = row.getSeq[scala.collection.Seq[Double]](row.fieldIndex("targets"))
    assert(targets.length == 1 && targets.head.length == 6)
    // drop_remainder: batch of 2 over a 1-window split yields nothing
    val b2 = Pipeline.batchedExamples(ex.filter(col("split") === "eval"), batchSize = 5)
    assert(b2.count() == 0)
  }

  test("full example flow: skip -> resample -> featurespace -> split -> gather -> batches") {
    // mirrors examples/datapipeline_test.py end-to-end (the
    // prepare_final_dataset branch): DER config, .skip() warm-up drop,
    // 1s -> 300s resample, adapt+apply, 0.8/0.2/0.0 split (no eval),
    // name-driven input/target selection, windowing, fixed batches
    val csv = {
      val header = "datetimestampseconds,W,DCW,AphA,PhVphA"
      val rows = (0 until 3600).map { i =>
        val t = 1672531200 + i
        s"$t.0,${100.0 + i},${50.0 + i},${1.0 + i * 0.1},${230.0 + i * 0.01}"
      }
      writeTemp("der_full.csv", header +: rows)
    }
    val cfg = PipelineConfig.fromJson(derConfigJson)
    val prep = Pipeline.run(spark, cfg, pathOverride = Some(csv),
      auditInterval = true, skipRows = 600)
    // 3600 1s-rows, drop first 600 -> epochs in (600, 3600]; 300s-aligned -> 10
    assert(prep.df.count() == 10)
    val ex = Pipeline.supervisedExamplesSelect(prep, windowSize = 2,
      inputFeatures = Seq("W", "DCW"), targetFeatures = Seq("W"),
      fractions = (0.8, 0.2, 0.0))
    val splits = ex.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits == Set("train", "test")) // eval fraction 0.0 -> no eval rows
    val batched = Pipeline.batchedExamples(ex, batchSize = 2)
    val row = batched.orderBy("split", "batch_id").head()
    val inputs = row.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](
      row.fieldIndex("inputs"))
    assert(inputs.length == 2)           // batch dimension
    assert(inputs.head.length == 2)      // window rows (W)
    assert(inputs.head.head.length == 2) // selected input features (W, DCW)
    val targets = row.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](
      row.fieldIndex("targets"))
    assert(targets.length == 2 && targets.head.length == 2 && targets.head.head.length == 1)
    prep.release() // long-session hygiene: drop the internal scan cache
    assert(prep.df.count() == 10) // derived frames recompute correctly after release
  }

  test("interval audit rejects an irregular grid") {
    val bad = writeTemp("bad.csv", Seq(
      "datetimestampseconds,W",
      "1000.0,1.0", "1001.0,2.0", "1003.0,3.0"))
    val cfg = PipelineConfig.fromJson(derConfigJson.replace(
      "\"columns_selected\": [\"datetimestampseconds\",\"W\",\"DCW\",\"AphA\",\"PhVphA\"]",
      "\"columns_selected\": [\"datetimestampseconds\",\"W\"]")
      .replace("\"features\":[\"W\",\"DCW\",\"AphA\",\"PhVphA\"]", "\"features\":[\"W\"]"))
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, cfg, pathOverride = Some(bad), auditInterval = true)
    }
  }

  // --- the chunk-keyed examples against the composition they replaced ---

  /** 40 half-hourly smart-meter rows: 240 rows once upsampled to 300 s. */
  lazy val smLongCsv: String = {
    val rows = (0 until 40).map { i =>
      f"2016-02-01,${i / 2}%02d:${i % 2 * 30}%02d:00,${1.0 + i * i % 7},${2.0 + i % 5},${3.0 + i}"
    }
    writeTemp("sm_long.csv", ("date_block,time_block,Load_residential_single_0," +
      "Load_residential_single_1,Load_residential_single_2") +: rows)
  }

  /** 30,000 one-second DER rows: 100 rows once downsampled to 300 s. */
  lazy val derLongCsv: String = writeTemp("der_long.csv", "datetimestampseconds,W,DCW,AphA,PhVphA" +:
    (0 until 30000).map { i =>
      s"${1672531200 + i}.0,${100.0 + i % 977},${50.0 + i % 313},${1.0 + i * 0.1},${230.0 + i * 0.01}"
    })

  private def rows(df: DataFrame, order: String*): Seq[Row] = df.orderBy(order.map(col): _*).collect().toSeq

  /** `prep.df`'s `row_idx` is exactly 1..rows. */
  private def assertDense(prep: Pipeline.Prepared): Unit =
    assert(rows(prep.df.select("row_idx"), "row_idx").map(_.getLong(0)) == (1L to prep.rows))

  /** All three builders and `batchedExamples` against the old composition:
    * `WindowOps.prefixSplit`'s own global index, the window partitioned by
    * `split`, and `fixedBatches` (examples without positions take it).
    */
  private def assertParity(prep: Pipeline.Prepared, w: Int, fractions: (Double, Double, Double),
                           batch: Int): Unit = {
    val vec = array(prep.outputColumns.map(c => col(c).cast("double")): _*)
    val split = WindowOps.prefixSplit(prep.df.withColumn("vec", vec), fractions, Seq.empty,
      Seq("row_idx")).drop("rn")
    val by = (Seq("split"), Seq("row_idx"))
    val (inNames, targetNames) = (prep.outputColumns.take(2).reverse, prep.outputColumns.take(1))
    val idx = prep.outputColumns.zipWithIndex.toMap
    val variants = Seq(
      "v1" -> (Pipeline.supervisedExamples(prep, w, fractions),
        WindowOps.supervisedWindow(split, col("vec"), w, by._1, by._2)),
      "v2" -> (Pipeline.supervisedExamplesV2(prep, w, fractions),
        WindowOps.supervisedWindowV2(split, col("vec"), w, by._1, by._2)),
      "select" -> (Pipeline.supervisedExamplesSelect(prep, w, inNames, targetNames, fractions),
        WindowOps.windowGather(split, col("vec"), w, inNames.map(idx), targetNames.map(idx),
          by._1, by._2)))
    val cols = Seq("split", "row_idx", "input", "target").map(col)
    variants.foreach { case (name, (got, old)) =>
      val want = rows(old.select(cols: _*), "row_idx")
      assert(rows(got.select(cols: _*), "row_idx") == want, s"$name W=$w $fractions")
      assert(rows(Pipeline.batchedExamples(got, batch), "split", "batch_id") ==
        rows(Pipeline.batchedExamples(old.select(cols: _*), batch), "split", "batch_id"),
        s"$name W=$w $fractions batch $batch")
    }
  }

  test("chunk-keyed examples equal the split-partitioned composition on an upsampled series") {
    val prep = Pipeline.run(spark, PipelineConfig.fromJson(smConfigJson),
      pathOverride = Some(smLongCsv), auditInterval = true)
    assert(prep.rows == 240)
    assertDense(prep)
    val partitions = spark.sessionState.conf.numShufflePartitions
    // halos and split ends inside a chunk: n spans more than two chunks
    assert(prep.rows > 2 * WindowOps.chunkRows(prep.rows, 9, partitions))
    assertParity(prep, 10, (0.7, 0.2, 0.1), 4)
    // eval (24 rows) is shorter than the window: no eval examples
    assert(prep.rows > 2 * WindowOps.chunkRows(prep.rows, 29, partitions))
    assertParity(prep, 30, (0.7, 0.2, 0.1), 3)
    assertParity(prep, 10, (0.8, 0.2, 0.0), 5)
    assertParity(prep, 1, (0.7, 0.2, 0.1), 7)
    prep.release()
  }

  test("skip and downsample branches end with row_idx dense 1..rows and keep example parity") {
    val noResample = PipelineConfig.fromJson(derConfigJson.replace(
      "\"time_interval_desired\": 300", "\"time_interval_desired\": 1"))
    val skipped = Pipeline.run(spark, noResample, pathOverride = Some(derCsv), skipRows = 600)
    assert(skipped.rows == 600)
    assertDense(skipped)
    // the rebase: row_idx 1 is the first kept row, epoch 1672531200 + 600
    assert(skipped.df.filter(col("row_idx") === 1).count() == 1)
    assertParity(skipped, 4, (0.7, 0.2, 0.1), 8)
    skipped.release()

    val down = Pipeline.run(spark, PipelineConfig.fromJson(derConfigJson),
      pathOverride = Some(derLongCsv), auditInterval = true)
    assert(down.rows == 100)
    assertDense(down)
    assertParity(down, 3, (0.7, 0.2, 0.1), 4)
    down.release()
  }

  test("building the examples and batches runs no Spark job") {
    val prep = Pipeline.run(spark, PipelineConfig.fromJson(smConfigJson), pathOverride = Some(smLongCsv))
    val jobs = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val built = Seq(Pipeline.supervisedExamples(prep, 10), Pipeline.supervisedExamplesV2(prep, 10),
        Pipeline.supervisedExamplesSelect(prep, 10, prep.outputColumns.take(1), prep.outputColumns.take(1)))
      (built :+ Pipeline.batchedExamples(built.head, 10)).foreach(_.queryExecution.executedPlan)
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} job(s) ran while building the examples")
    prep.release()
  }

  test("CSV validation: header detection, empty-cell audit, schema typing") {
    val headerless = writeTemp("h.csv", Seq("1.0,2.0", "3.0,4.0"))
    assert(!CsvSource.detectHeader(spark, headerless))
    assert(CsvSource.detectHeader(spark, derCsv))
    val withEmpty = writeTemp("e.csv", Seq("a,b", "1.0,", "2.0,3.0"))
    val report = CsvSource.investigate(spark, withEmpty, failOnEmpty = false)
    assert(report.nEmptyCells == 1 && report.nRows == 2)
    intercept[IllegalArgumentException] { CsvSource.investigate(spark, withEmpty) }
    val typed = CsvSource.read(spark, derCsv)
    assert(typed.schema("datetimestampseconds").dataType.typeName == "double")
    assert(typed.schema("W").dataType.typeName == "float")
  }

  test("config validation rejects bad specs") {
    intercept[IllegalArgumentException] {
      PipelineConfig.fromJson(derConfigJson.replace("\"normalized\"", "\"bogus\""))
    }
  }
}
