package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered (time-series) operators: adjacent-row intervals, sliding
  * windows, supervised window splits, fixed batching, prefix splits,
  * row offsets.
  *
  * Reference (cites into /root/reference/):
  *  - `get_interval_dataset` (tfdataset_utilities.py:162-170): adjacent-row
  *    timestamp difference via zip(cur, next). Quirk (SURVEY §2.12): it
  *    computes `cur − next` (negative interval); we default to the
  *    principled `next − cur` sign with a flag for parity.
  *  - `tfdataset_to_windowed_tfdataset` (tfdataset.py:197-203): sliding
  *    window size W, shift 1, drop_remainder=True.
  *  - `windowed_dataset_v1` (tfdataset.py:256-263): window → (first W−1
  *    rows = input, last row = target).
  *  - `tfdataset_to_batched_tfdataset` (tfdataset.py:290-298): fixed
  *    batches, drop_remainder=True.
  *  - `get_train_test_eval_dataset` (datapipeline.py:404-424): sequential
  *    prefix split by fractions (NOT random — correct for time-series).
  *  - `.skip(45000)` offset (examples/datapipeline_test.py:45).
  *
  * Order semantics (SURVEY §7.4): the reference assumes file order. We make
  * order explicit — every operator takes partition + order columns. At
  * scale the series key (`user_id`/device id) partitions the window so
  * work parallelizes per series; a single ordered series with a dense
  * 1..n index is keyed by [[haloChunks]]; a global (unpartitioned) window
  * is only for small parity tests.
  */
object WindowOps {

  /** Window spec builder. An EMPTY `partitionBy` is the ordered-stream
    * PARITY MODE (single global window, one task — Spark warns
    * `WindowExec: No Partition Defined`): it reproduces the reference's
    * file-order semantics and is bounded only at reference scale (one
    * config's ordered stream). The 100 TB path is ALWAYS the
    * chunk-keyed variant: pass the series key, or for a true global
    * order use the decomposed forms this file already provides —
    * [[withRowIdx]]/[[prefixSplit]] route empty-partition calls to the
    * range-partitioned [[globalRowIdx]], a bounded frame over a dense
    * 1..n index partitions by [[haloChunks]]' chunk key (the pipeline's
    * examples and interval audit, `graft.pipeline.Pipeline`), and running
    * sums decompose as per-chunk prefix sums + broadcast exclusive offsets
    * (the quantile_bucket / session_concurrency shape).
    */
  private def w(partitionBy: Seq[String], orderBy: Seq[String]) = {
    val base = if (partitionBy.isEmpty) Window.partitionBy() else Window.partitionBy(partitionBy.map(col): _*)
    base.orderBy(orderBy.map(col): _*)
  }

  /** The range-partitioned, partition-locally-sorted input the global
    * row index is computed over — package-visible so PlanShapeSpec can
    * assert the REAL code path plans a RangePartitioning exchange with a
    * partition-local (never single-task global) sort.
    */
  private[graft] def rangeSortedForIndex(df: DataFrame, orderBy: Seq[String]): DataFrame = {
    require(orderBy.nonEmpty, "a global row index needs an explicit total order")
    val n = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    val keys = orderBy.map(col)
    df.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
  }

  /** Distributed 1-based GLOBAL row index by total order — the scale-safe
    * replacement for `row_number() OVER (ORDER BY …)` with no PARTITION
    * BY, which plans a single task sorting the entire table.
    *
    * Mechanism (the classic two-job zipWithIndex over ONE shared RDD):
    *  1. range-repartition by the order keys and sort within partitions
    *     (partition p's keys all precede partition p+1's);
    *  2. a tiny first job collects per-partition row counts; the driver
    *     scan-sums them into start offsets (≤ numPartitions longs);
    *  3. the main job adds offset + local position per partition.
    * Both jobs run over the SAME RDD instance, so they share one shuffle
    * dependency: range boundaries are sampled once and the map side runs
    * once; only the reduce-side sort is evaluated twice.
    *
    * Deliberately NOT expressed as a pure DataFrame plan: the tempting
    * formulation — `monotonically_increasing_id()` after the local sort
    * joined against `groupBy(spark_partition_id())` counts — evaluates
    * the two nondeterministic leaves in two subtrees of one plan, and
    * under AQE the two reads of the range exchange need not agree on
    * partition ids (observed empirically: duplicated and gapped indices,
    * run-to-run flaky). Pinning one RDD is what makes the ids consistent.
    *
    * Rows with equal order keys land in the same range partition, so ties
    * behave exactly as in the window formulation.
    *
    * The range boundaries' sampling job and the count job run here, at
    * build time and outside any SQL execution, so they carry the job
    * description `globalRowIdx(<order keys>)`. Returns the indexed frame
    * and the row total the driver summed.
    */
  private def globalRowIdx(df: DataFrame, orderBy: Seq[String], idxCol: String,
                           totalCol: Option[String]): (DataFrame, Long) = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    val spark = df.sparkSession
    val sorted = rangeSortedForIndex(df, orderBy)
    val sc = spark.sparkContext
    val description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"globalRowIdx(${orderBy.mkString(", ")})")
    // The pinned RDD is taken at the INTERNAL row level (queryExecution
    // .toRdd) and re-enters the plan via internalCreateDataFrame: no
    // InternalRow→Row→InternalRow conversion on either edge, and the
    // resulting scan participates in WholeStageCodegen downstream (the
    // previous .rdd/createDataFrame formulation paid a per-field external
    // conversion both ways — ~1 s per million rows of local overhead).
    val (rdd, counts) = try {
      val r = sorted.queryExecution.toRdd
      (r, r.mapPartitions { it =>
        var c = 0L; while (it.hasNext) { it.next(); c += 1 }; Iterator.single(c)
      }.collect())
    } finally sc.setJobDescription(description)
    val offsets = counts.scanLeft(0L)(_ + _)
    val total = offsets.last
    val extraWidth = 1 + totalCol.size
    val indexed = rdd.mapPartitionsWithIndex { case (pid, it) =>
      var i = offsets(pid)
      // per-partition scratch rows: the JoinedRow view is consumed (and
      // copied by the downstream unsafe projection) before the next
      // element mutates it — the standard InternalRow-reuse contract
      val extra = new GenericInternalRow(extraWidth)
      if (extraWidth == 2) extra.update(1, total)
      val joined = new JoinedRow
      it.map { r => i += 1; extra.update(0, i); joined(r, extra): org.apache.spark.sql.catalyst.InternalRow }
    }
    val fields = sorted.schema.fields ++
      (org.apache.spark.sql.types.StructField(idxCol, org.apache.spark.sql.types.LongType, nullable = false) +:
        totalCol.map(tc => org.apache.spark.sql.types.StructField(tc, org.apache.spark.sql.types.LongType, nullable = false)).toSeq)
    (org.apache.spark.sql.GraftSqlBridge.internalCreateDataFrame(spark, indexed,
      org.apache.spark.sql.types.StructType(fields)), total)
  }

  /** Dense 1-based global row index by total order, plus its row count n —
    * the total [[globalRowIdx]] already sums on the driver, so knowing n
    * costs no job beyond the index's own.
    */
  def withDenseRowIdx(df: DataFrame, orderBy: Seq[String], idxCol: String): (DataFrame, Long) =
    globalRowIdx(df, orderBy, idxCol, None)

  /** Row index (1-based) within each partition by the given order; with an
    * EMPTY `partitionBy` this is a total-order global index and takes the
    * distributed [[globalRowIdx]] path (no single-task global sort).
    * LongType in both branches.
    */
  def withRowIdx(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String], idxCol: String = "rn"): DataFrame =
    if (partitionBy.nonEmpty)
      df.withColumn(idxCol, row_number().over(w(partitionBy, orderBy)).cast("long"))
    else globalRowIdx(df, orderBy, idxCol, None)._1

  /** [[withRowIdx]] plus the per-partition (or grand) total row count —
    * operators that need "position AND N" (batching, prefix splits) get
    * both from one pass instead of a second unpartitioned window max,
    * which would be another single-task bottleneck in the global case.
    */
  def withRowIdxAndTotal(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[String],
                         idxCol: String, totalCol: String): DataFrame =
    if (partitionBy.nonEmpty)
      df.withColumn(idxCol, row_number().over(w(partitionBy, orderBy)).cast("long"))
        .withColumn(totalCol,
          count(lit(1)).over(Window.partitionBy(partitionBy.map(col): _*)))
    else globalRowIdx(df, orderBy, idxCol, Some(totalCol))._1

  /** Adjacent-row interval of an epoch-seconds column. `referenceSign=true`
    * reproduces the reference's negative `cur − next` quirk.
    */
  def lagInterval(tsSecCol: Column, partitionBy: Seq[String], orderBy: Seq[String],
                  referenceSign: Boolean = false): Column = {
    val nxt = lead(tsSecCol, 1).over(w(partitionBy, orderBy))
    if (referenceSign) tsSecCol - nxt else nxt - tsSecCol
  }

  /** Chunks per shuffle partition in [[haloChunks]]: hash partitioning
    * spreads many small chunk keys evenly over the tasks, where one chunk
    * per partition would leave some tasks two chunks and others none.
    */
  private val ChunksPerPartition = 16

  /** Rows per chunk of [[haloChunks]] for n rows: about
    * [[ChunksPerPartition]] chunks per shuffle partition, and more than
    * `halo` rows, so a chunk's halo comes from the next chunk alone.
    */
  private[graft] def chunkRows(n: Long, halo: Int, partitions: Int): Long =
    math.max(halo + 1L, (n + ChunksPerPartition.toLong * partitions - 1) /
      (ChunksPerPartition.toLong * partitions))

  /** Key the rows of a dense 1..n index `idxCol` by chunk, so a frame
    * reaching at most `halo` rows forward runs partitioned by `_chunk`
    * instead of as one global (or one per label) task: chunk k holds rows
    * k·C+1 .. (k+1)·C ([[chunkRows]]) plus a copy of chunk k+1's first
    * `halo` rows. `_home` marks a row in its own chunk; keep only those
    * after the window, and every frame `rowsBetween(0, halo)` over
    * `partitionBy(_chunk).orderBy(idxCol)` then equals the global one.
    */
  def haloChunks(df: DataFrame, idxCol: String, n: Long, halo: Int): DataFrame = {
    require(halo >= 0, s"halo must be non-negative, got $halo")
    val c = chunkRows(n, halo, df.sparkSession.sessionState.conf.numShufflePartitions)
    val pos = col(idxCol) - 1
    val home = floor(pos / c)
    df.withColumn("_chunk", explode(when(home > 0 && pos % c < halo, array(home, home - 1))
        .otherwise(array(home))))
      .withColumn("_home", col("_chunk") === home)
  }

  /** Sliding windows of `size`, shift 1, only complete windows
    * (drop_remainder). Adds `win: array<valueCol-type>` anchored at each
    * window's first row.
    */
  def slidingWindow(df: DataFrame, valueCol: Column, size: Int,
                    partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    df.withColumn("win", collect_list(valueCol).over(w(partitionBy, orderBy).rowsBetween(0, size - 1)))
      .filter(org.apache.spark.sql.functions.size(col("win")) === size)

  private def withSupervision(df: DataFrame, split: (Column, Column)): DataFrame =
    df.withColumn("input", split._1).withColumn("target", split._2)

  /** Next-step supervision split of a sliding window: `input` = first
    * W−1 elements, `target` = last element (`windowed_dataset_v1`).
    */
  def supervisedWindow(df: DataFrame, valueCol: Column, size: Int,
                       partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    withSupervision(slidingWindow(df, valueCol, size, partitionBy, orderBy), nextStep(col("win"), size))

  /** `(input, target)` of a window column of `size` rows:
    * [[supervisedWindow]]'s next-step split.
    */
  def nextStep(win: Column, size: Int): (Column, Column) =
    (slice(win, 1, size - 1), element_at(win, size))

  /** Column-split supervision of a sliding window of row-VECTORS
    * (`windowed_dataset_v2`, tfdataset.py:265-271): every row of the
    * window contributes — `input` = each row's vector minus its first
    * element (`window[:, 1:]`), `target` = each row's first element
    * (`window[:, 0]`). Output `input: array<array<_>>` (W × (D−1)),
    * `target: array<_>` (W).
    *
    * The per-window `transform`/`slice` lambdas evaluate interpreted, but
    * this is the model-boundary restructuring step — O(W·D) work per
    * window on data already materialized by `collect_list`; no shuffle
    * beyond the window's own.
    */
  def supervisedWindowV2(df: DataFrame, vecCol: Column, size: Int,
                         partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    withSupervision(slidingWindow(df, vecCol, size, partitionBy, orderBy), columnSplit(col("win")))

  /** `(input, target)` of a window of row vectors: [[supervisedWindowV2]]'s
    * per-column split.
    */
  def columnSplit(win: Column): (Column, Column) =
    (transform(win, r => slice(r, lit(2), org.apache.spark.sql.functions.size(r) - 1)),
      transform(win, r => element_at(r, 1)))

  /** Arbitrary per-window feature/target index gather
    * (`windowed_dataset_to_windowed_dataset_select_features_targets`,
    * tfdataset.py:274-283): `input` = `window[:, featureIdx]`, `target` =
    * `window[:, targetIdx]` — `tf.gather(axis=1)` semantics, indices
    * 0-based, any order, overlap allowed. Output
    * `input: array<array<_>>` (W × |featureIdx|), `target: array<array<_>>`
    * (W × |targetIdx|).
    */
  def windowGather(df: DataFrame, vecCol: Column, size: Int,
                   featureIdx: Seq[Int], targetIdx: Seq[Int],
                   partitionBy: Seq[String], orderBy: Seq[String]): DataFrame = {
    val split = gatherSplit(col("win"), featureIdx, targetIdx)
    withSupervision(slidingWindow(df, vecCol, size, partitionBy, orderBy), split)
  }

  /** `(input, target)` of a window of row vectors: [[windowGather]]'s
    * index gather, indices validated.
    */
  def gatherSplit(win: Column, featureIdx: Seq[Int], targetIdx: Seq[Int]): (Column, Column) = {
    require(featureIdx.nonEmpty && targetIdx.nonEmpty, "gather needs feature and target indices")
    // element_at interprets negative positions as from-the-end; tf.gather
    // rejects them — validate here so a bad index fails loudly at
    // construction, not as a silently wrong gather
    require((featureIdx ++ targetIdx).forall(_ >= 0),
      s"gather indices must be non-negative 0-based positions, got ${(featureIdx ++ targetIdx).filter(_ < 0).mkString(", ")}")
    def gather(idx: Seq[Int])(r: Column): Column =
      array(idx.map(i => element_at(r, i + 1)): _*)
    (transform(win, gather(featureIdx) _), transform(win, gather(targetIdx) _))
  }

  /** Fixed batching with drop_remainder: assign `batch_id` by position,
    * keep only full batches of `batchSize`. Returns one row per (batch,
    * element) — callers `collect_list` if they need the packed form.
    */
  def fixedBatches(df: DataFrame, batchSize: Int,
                   partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    batchesAt(withRowIdxAndTotal(df, partitionBy, orderBy, "rn", "_n"), batchSize,
      col("rn") - 1, col("_n")).drop("_n")

  /** [[fixedBatches]]' numbering from a known 0-based position `pos` among
    * `total` rows: `batch_id`, `pos_in_batch`, and only full batches kept.
    */
  def batchesAt(df: DataFrame, batchSize: Int, pos: Column, total: Column): DataFrame =
    df.withColumn("batch_id", floor(pos / batchSize).cast("long"))
      .withColumn("pos_in_batch", (pos % batchSize).cast("long"))
      .filter((col("batch_id") + 1) * batchSize <= total)

  /** Where [[prefixSplit]] ends `train` and `test` for n rows: the last
    * 1-based position of each, by the same `floor(n · f)` double arithmetic.
    */
  def prefixSplitEnds(n: Long, fractions: (Double, Double, Double)): (Long, Long) = {
    checkFractions(fractions)
    val trainEnd = math.floor(n * fractions._1).toLong
    (trainEnd, trainEnd + math.floor(n * fractions._2).toLong)
  }

  private def checkFractions(fractions: (Double, Double, Double)): Unit =
    require(math.abs(fractions._1 + fractions._2 + fractions._3 - 1.0) < 1e-9,
      "fractions must sum to 1.0")

  /** Sequential prefix split by fractions (sums to 1.0). Two-pass like the
    * reference: requires total N per partition (window max), then labels
    * rows `train` / `test` / `eval` by position.
    */
  def prefixSplit(df: DataFrame, fractions: (Double, Double, Double),
                  partitionBy: Seq[String], orderBy: Seq[String]): DataFrame = {
    val (fTrain, fTest, _) = fractions
    checkFractions(fractions)
    val n = col("_n")
    withRowIdxAndTotal(df, partitionBy, orderBy, "rn", "_n")
      .withColumn("split",
        when(col("rn") <= floor(n * fTrain), "train")
          .when(col("rn") <= floor(n * fTrain) + floor(n * fTest), "test")
          .otherwise("eval"))
      .drop("_n")
  }

  /** Skip the first `n` rows in order (reference `.skip(45000)`). */
  def offsetSkip(df: DataFrame, n: Long, partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    withRowIdx(df, partitionBy, orderBy).filter(col("rn") > n).drop("rn")

  /** Seeded whole-dataset shuffle — the scalable analog of the
    * reference's buffered shuffle (`get_shuffled_tfdataset`,
    * tfdataset.py:285-288, buffer=1000). Sorts by a content hash salted
    * with the seed rather than `rand(seed)`: `rand` seeds per
    * *partition*, so its "seeded" order silently changes with input
    * partitioning — a content hash is identical on any cluster layout.
    * Ties (fully duplicate rows) stay adjacent, which is acceptable for
    * a shuffle.
    */
  def shuffled(df: DataFrame, seed: Long): DataFrame =
    df.orderBy(xxhash64(lit(seed) +: df.columns.map(col): _*))
}
