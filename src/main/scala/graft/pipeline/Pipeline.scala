package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{FeatureSpecJson, RunConfig}
import graft.functions.{Cyclical, TimeFns}
import graft.operators.{FeatureSpace, Quality, Resample, WindowOps}
import graft.sources.CsvSource

/** Config-driven orchestrator: the Spark re-expression of the reference's
  * canonical flow (`examples/datapipeline_test.py` →
  * `get_dictdataset_from_csv` → `add_select_resample_csvdataset` →
  * `get_featurespace` → apply; SURVEY §3.1), driven by the same JSON
  * config shape.
  *
  * Laziness mirrors tf.data: the returned DataFrame is a plan; audits and
  * adapt are the only actions. Unlike the reference — which re-reads the
  * CSV from disk on every audit/adapt (≥4 full passes, SURVEY §4) — the
  * post-derivation frame is cached once before the multi-pass stage.
  *
  * Row index contract: every branch of [[run]] ends with `row_idx` dense
  * 1..n in time order, and [[Prepared]] records n as `rows` (the total the
  * index build already summed on the driver). `skipRows` rebases the
  * index (the first kept row is 1, not `skipRows + 1`), and downsampling
  * re-indexes the rows its alignment filter keeps. So each split's start,
  * each example's position in its split and each batch id are arithmetic
  * on `row_idx` and n: building examples or batches runs no job, and the
  * sliding window runs keyed by chunk ([[WindowOps.haloChunks]]), not as
  * one task per split.
  */
object Pipeline {

  /** `rows` is n, the count of the dense `row_idx` 1..n of `df`. */
  case class Prepared(df: DataFrame, stats: FeatureSpace.FeatureStats,
                      outputColumns: Seq[String], specs: Seq[FeatureSpace.FeatureSpec],
                      rows: Long, private val cachedSource: Option[DataFrame] = None) {
    /** Release the pipeline's internal scan cache. `run` caches the
      * post-derivation frame so audit/adapt/output don't re-read the
      * CSV (the reference re-reads it per pass); call this when done
      * with the Prepared in a long-lived session — derived frames stay
      * correct (they recompute from the source if re-used).
      */
    def release(): Unit = cachedSource.foreach(_.unpersist(false))
  }

  /** Map a config feature spec to engine specs
    * (`get_featurespace_definitions`, datapipeline.py:273-361; the int
    * one_hot depth-5 hardcode is datapipeline.py:239).
    */
  def toSpecs(j: FeatureSpecJson): Seq[FeatureSpace.FeatureSpec] = {
    import FeatureSpace._
    j.features.flatMap { c =>
      (j.featureType, j.outputMode) match {
        case ("numerical", "plain") => Seq(Plain(c))
        case ("numerical", "normalized") => Seq(Normalized(c))
        case ("numerical", "rescaled") => Seq(Rescaled(c))
        case ("int", "int") => Seq(Plain(c))
        case ("int", "one_hot") => Seq(OneHotInt(c, 5))
        case ("string", "int") => Seq(StringIndexed(c))
        case ("string", "one_hot") => Seq(OneHotString(c))
        case ("datetimestamp_seconds", "plain") => Seq(Plain(c))
        case ("datetimestamp_seconds", "cyclical_minute") =>
          Seq(CyclicalTime(c, Seq(Cyclical.SecondsPerMinute)))
        case ("datetimestamp_seconds", "cyclical_hour") =>
          Seq(CyclicalTime(c, Seq(Cyclical.SecondsPerHour)))
        case ("datetimestamp_seconds", "cyclical_day") =>
          Seq(CyclicalTime(c, Seq(Cyclical.SecondsPerDay)))
        case ("datetimestamp_seconds", "cyclical_minute_hour_day") =>
          Seq(CyclicalTime(c, Seq(Cyclical.SecondsPerMinute, Cyclical.SecondsPerHour,
            Cyclical.SecondsPerDay)))
        case (t, m) => throw new IllegalArgumentException(s"unsupported spec $t/$m")
      }
    }
  }

  /** Derived-column dispatcher (`add_columns_to_csvdataset`,
    * tfdataset_utilities.py:142-160): "datetimestamp" concatenates the
    * configured date+time string columns (and becomes the new datetime
    * column); "datetimestampseconds" parses the datetime column to epoch
    * seconds (float64 in the reference → double here).
    */
  def addDerivedColumns(df: DataFrame, columnsAdded: Seq[String],
                        datetimeDict: Map[String, String]): (DataFrame, Map[String, String]) = {
    var cur = df
    var dict = datetimeDict
    columnsAdded.foreach {
      case "datetimestamp" =>
        cur = cur.withColumn("datetimestamp",
          TimeFns.dtConcat(col(dict("column_date")), col(dict("column_time"))))
        dict = dict + ("column_datetime" -> "datetimestamp")
      case "datetimestampseconds" =>
        cur = cur.withColumn("datetimestampseconds",
          TimeFns.dtToEpoch(col(dict("column_datetime"))).cast("double"))
      case other =>
        // reference prints "not supported" and continues — keep that
        org.slf4j.LoggerFactory.getLogger(getClass).warn(s"column $other not supported")
    }
    (cur, dict)
  }

  /** Full extraction + transformation flow from a config. `pathOverride`
    * points at the actual CSV (reference configs carry absolute paths
    * from the original machines). `skipRows` mirrors the DER example's
    * `.skip(45000)` warm-up drop (examples/datapipeline_test.py:45); the
    * kept rows are re-numbered from 1.
    */
  def run(spark: SparkSession, cfg: RunConfig, pathOverride: Option[String] = None,
          auditInterval: Boolean = false, skipRows: Long = 0): Prepared = {
    val ex = cfg.dataPipeline.extraction
    val tr = cfg.dataPipeline.transformation

    // 1. scan (projection+limit pushdown; schema by the name rule)
    val raw = CsvSource.read(spark, pathOverride.getOrElse(ex.csvPath),
      useExistingColumnNames = ex.useExistingColumnnames,
      columnsOriginal = ex.columnsOriginal,
      columnsSelected = Nil, nRows = ex.nRows)

    // 2. derive datetime columns, then project selected + added
    val (derived, dict) = addDerivedColumns(raw, ex.columnsAdded,
      ex.columnDatetimedict + ("column_datetime" ->
        ex.columnDatetimedict.getOrElse("column_datetime", ex.columnDatetime)))
    val selected =
      if (ex.columnsSelected.nonEmpty)
        derived.select((ex.columnsSelected ++ ex.columnsAdded).distinct.map(col): _*)
      else derived

    // 3. explicit order (the reference inherits file order; SURVEY §7.4),
    //    rebased past the skipped rows so the index stays 1..n
    val tsCol = ex.columnDatetime
    val (ordered, total) = WindowOps.withDenseRowIdx(selected, Seq(tsCol), "row_idx")
    val afterSkip =
      if (skipRows > 0) ordered.filter(col("row_idx") > skipRows)
        .withColumn("row_idx", col("row_idx") - skipRows)
      else ordered
    val cachedRows = math.max(0L, total - skipRows)

    // cache: everything below re-scans (audit, adapt, output) — the
    // reference re-reads the CSV each pass; we pay the scan once.
    val cached = afterSkip.cache()

    // 4. interval audit (add_select_resample_csvdataset,
    //    datapipeline.py:629-638): constant step == declared original
    if (auditInterval) {
      val audit = Quality.constantInterval(intervals(cached, tsCol, cachedRows),
        col("i"), ex.timeIntervalOriginal).head()
      require(audit.getBoolean(0),
        s"sampling interval not constant == ${ex.timeIntervalOriginal}s")
    }

    // 5. resample to the desired interval. Upsampling REPLACES the
    //    datetime column with the generated grid timestamps (the
    //    reference's upsample emits new-timestamp records with repeated
    //    measurements, tfdataset_resampling.py:11-30); both directions
    //    re-derive row_idx so it stays dense on the new grid.
    val (resampled, rows) =
      if (tr.timeIntervalDesired > 0 && tr.timeIntervalDesired != ex.timeIntervalOriginal) {
        if (tr.timeIntervalDesired > ex.timeIntervalOriginal) {
          val (kept, n) = WindowOps.withDenseRowIdx(
            cached.filter(col(tsCol).cast("long") % tr.timeIntervalDesired === 0)
              .withColumnRenamed("row_idx", "_src_idx"),
            Seq("_src_idx"), "row_idx")
          (kept.drop("_src_idx"), n)
        } else {
          val up = Resample.upsampleRepeatEpoch(cached, col(tsCol).cast("long"),
              ex.timeIntervalOriginal, tr.timeIntervalDesired)
            .withColumn(tsCol, col("ts_up").cast("double")).drop("ts_up", "row_idx")
          WindowOps.withDenseRowIdx(up, Seq(tsCol), "row_idx")
        }
      } else (cached, cachedRows)

    // 6. featurespace adapt (first N rows) + apply, preserving spec order.
    //    The first N rows in time order are `row_idx <= N` on the dense
    //    index. They meet in one task in row order: avg and var_pop over
    //    doubles depend on the order rows are added in, and a parallel
    //    merge changes the stats' last bits, and so every output value,
    //    from run to run
    val specs = tr.features.flatMap(toSpecs)
    val stats = FeatureSpace.adapt(
      resampled.filter(col("row_idx") <= tr.nRowsToAdaptFeaturespace)
        .repartition(1).sortWithinPartitions(col("row_idx")), specs, None)
    val outCols = specs.flatMap(s => FeatureSpace.expand(s, stats).map(_._1))
    val applied = resampled.select(
      FeatureSpace.apply(resampled, specs, stats, keep = Seq("row_idx")): _*)

    Prepared(applied, stats, outCols, specs, rows, cachedSource = Some(cached))
  }

  /** The audit's adjacent-row intervals `i` over a dense 1..n `row_idx`:
    * `lead` keyed by chunk with a one-row halo, not one global window.
    */
  private[graft] def intervals(df: DataFrame, tsCol: String, n: Long): DataFrame =
    WindowOps.haloChunks(df.select(col(tsCol), col("row_idx")), "row_idx", n, 1)
      .select(col("_home"),
        WindowOps.lagInterval(col(tsCol).cast("double"), Seq("_chunk"), Seq("row_idx")).as("i"))
      .filter(col("_home") && col("i").isNotNull)

  /** The examples of all three builders: vectorize the feature columns,
    * label the sequential prefix split, and window (size W, shift 1,
    * drop_remainder) within each split; `supervision` projects each
    * window `win` to `(input, target)`.
    *
    * The split ends and each split's window count follow from n
    * ([[WindowOps.prefixSplitEnds]]), so the split is literals on
    * `row_idx`. The window runs over [[WindowOps.haloChunks]] with a halo
    * of W − 1 rows, and an anchor is kept in its home chunk when its whole
    * window lies inside its split — the same windows as partitioning by
    * `split`, in as many tasks as there are shuffle partitions.
    *
    * Returns `(split, row_idx, input, target, pos_in_split,
    * split_windows)`: the anchor's 0-based position among its split's
    * examples and the split's example count, which [[batchedExamples]]
    * numbers batches from.
    */
  private def examples(prepared: Prepared, windowSize: Int, fractions: (Double, Double, Double))
                      (supervision: Column => (Column, Column)): DataFrame = {
    require(windowSize >= 1, s"window size must be positive, got $windowSize")
    val n = prepared.rows
    val (trainEnd, testEnd) = WindowOps.prefixSplitEnds(n, fractions)
    val idx = col("row_idx")
    // train, test and eval: each one's first row_idx and window count
    val starts = Seq(1L, trainEnd + 1, testEnd + 1)
    val windows = starts.zip(Seq(trainEnd, testEnd, n))
      .map { case (first, last) => math.max(0L, last - first + 2 - windowSize) }
    def bySplit(values: Seq[Any]): Column =
      when(idx <= trainEnd, values(0)).when(idx <= testEnd, values(1)).otherwise(values(2))
    val vec = array(prepared.outputColumns.map(c => col(c).cast("double")): _*)
    val keyed = WindowOps.haloChunks(prepared.df.select(idx, vec.as("vec")), "row_idx", n,
      windowSize - 1)
    val (input, target) = supervision(col("win"))
    WindowOps.slidingWindow(keyed, col("vec"), windowSize, Seq("_chunk"), Seq("row_idx"))
      .withColumn("pos_in_split", idx - bySplit(starts))
      .withColumn("split_windows", bySplit(windows))
      .filter(col("_home") && col("pos_in_split") < col("split_windows"))
      .select(bySplit(Seq("train", "test", "eval")).as("split"), idx, input.as("input"),
        target.as("target"),
        col("pos_in_split"), col("split_windows"))
  }

  /** §3.2 training-set assembly: vectorize the feature columns, window
    * (size W, shift 1, drop_remainder), split into next-step-supervision
    * (input = first W−1 rows, target = last), sequential prefix split.
    * Returns `(split, row_idx, input: array<array<double>>,
    * target: array<double>, pos_in_split, split_windows)`.
    */
  def supervisedExamples(prepared: Prepared, windowSize: Int,
                         fractions: (Double, Double, Double) = (0.7, 0.2, 0.1)): DataFrame =
    examples(prepared, windowSize, fractions)(WindowOps.nextStep(_, windowSize))

  /** `windowed_dataset_v2` training-set assembly (tfdataset.py:265-271):
    * same vectorize→split→window flow as [[supervisedExamples]], but the
    * supervision split is per COLUMN, not per row — every window row
    * contributes `input` = features 1.. and `target` = feature 0.
    * Returns `(split, row_idx, input: array<array<double>>,
    * target: array<double>, pos_in_split, split_windows)`.
    */
  def supervisedExamplesV2(prepared: Prepared, windowSize: Int,
                           fractions: (Double, Double, Double) = (0.7, 0.2, 0.1)): DataFrame =
    examples(prepared, windowSize, fractions)(WindowOps.columnSplit)

  /** Name-driven feature/target selection + window gather — the engine's
    * `get_input_target_dataset` (datapipeline.py:427-474): the reference
    * builds separate input/target datasets from feature-NAME lists, then
    * windows both and zips; index-wise that is exactly
    * `windowed_dataset_to_windowed_dataset_select_features_targets`
    * (tfdataset.py:274-283) applied to the combined feature vector, so we
    * resolve names → indices into `outputColumns` and gather once
    * (one window pass, no zip of two windowed datasets).
    */
  def supervisedExamplesSelect(prepared: Prepared, windowSize: Int,
                               inputFeatures: Seq[String], targetFeatures: Seq[String],
                               fractions: (Double, Double, Double) = (0.7, 0.2, 0.1)): DataFrame = {
    val idxOf = prepared.outputColumns.zipWithIndex.toMap
    def resolve(names: Seq[String], role: String): Seq[Int] = names.map { n =>
      idxOf.getOrElse(n, throw new IllegalArgumentException(
        s"$role feature '$n' not among output columns ${prepared.outputColumns.mkString(", ")}"))
    }
    val featureIdx = resolve(inputFeatures, "input")
    val targetIdx = resolve(targetFeatures, "target")
    examples(prepared, windowSize, fractions)(WindowOps.gatherSplit(_, featureIdx, targetIdx))
  }

  /** The reference's final training shape (`tfdataset_to_batched_tfdataset`,
    * tfdataset.py:290-298): group supervised windows into fixed batches
    * (drop_remainder), packing `inputs: array<array<array<double>>>`
    * (batch × window × features) and `targets: array<array<double>>` —
    * the "dataset ready for model.fit" boundary where the reference's
    * data plane ends (SURVEY §7.5).
    *
    * Examples from the builders above carry `pos_in_split` and
    * `split_windows`, so `batch_id`, `pos_in_batch` and the full-batch
    * filter are arithmetic on them; examples without those columns are
    * numbered by [[WindowOps.fixedBatches]] within each split by `row_idx`.
    */
  def batchedExamples(examples: DataFrame, batchSize: Int): DataFrame = {
    val numbered =
      if (Seq("pos_in_split", "split_windows").forall(examples.columns.contains))
        WindowOps.batchesAt(examples, batchSize, col("pos_in_split"), col("split_windows"))
      else WindowOps.fixedBatches(examples, batchSize, Seq("split"), Seq("row_idx"))
    numbered.groupBy(col("split"), col("batch_id"))
      .agg(
        sort_array(collect_list(struct(col("pos_in_batch"), col("input"), col("target"))))
          .as("packed"))
      .select(col("split"), col("batch_id"),
        transform(col("packed"), p => p.getField("input")).as("inputs"),
        transform(col("packed"), p => p.getField("target")).as("targets"))
  }
}
