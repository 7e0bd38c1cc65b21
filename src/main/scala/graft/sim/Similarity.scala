package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline; the scale paths
  * are (a) random-hyperplane LSH bucketing (per-row integer-coefficient
  * dot products → sign bits → bucket id; candidates only join within a
  * bucket) and (b) IVF-style partitioning by a coarse key (here the
  * `label` column stands in for a learned coarse quantizer): centroid
  * stats per partition, search within the probed partition only.
  *
  * All dot products run in double precision via `aggregate(zip_with(...))`
  * — deterministic left-to-right summation, cross-engine reproducible.
  */
object Similarity {

  /** Driver-side replica of Spark `round(_, 4)`: BigDecimal HALF_UP on
    * the canonical double — THE one definition for every bounded-budget
    * driver path that must emit the same rounded value the distributed
    * pipeline (and the DuckDB oracle) would (graphBeamSearchLocal, the
    * MMR greedy, the coreset greedy). The rounding mode is load-bearing
    * for cross-engine bit-identity; do not re-type it at call sites.
    */
  def round4(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Double-precision dot product of two array columns — a native
    * codegen'd Catalyst expression (see [[graft.plans.ArrayDotProduct]]);
    * same left-to-right summation as the composable
    * `aggregate(zip_with(...))` form but ~an order of magnitude faster
    * (primitive loop inside WholeStageCodegen vs interpreted lambdas).
    */
  def dot(a: Column, b: Column): Column = graft.plans.ArrayDotProduct.dot(a, b)

  /** The composable built-ins-only formulation (kept for reference and
    * as the cross-check in SimilaritySpec).
    */
  def dotViaAggregate(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query row (filtered by
    * `isQuery`), the k nearest non-self rows by cosine, rank-ordered
    * (ties break on neighbor id). Norms are precomputed per side so the
    * cross join multiplies, not re-norms. The query side is broadcast —
    * the candidate scan stays partition-parallel.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     isQuery: Column, k: Int): DataFrame = {
    val withNorm = df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
    val q = withNorm.filter(isQuery)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"), col("nrm").as("q_nrm"))
    val c = withNorm
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"), col("nrm").as("n_nrm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", dot(col("q_vec"), col("n_vec")) / (col("q_nrm") * col("n_nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** Filtered top-k: like [[bruteForceTopK]] but candidates are first
    * restricted by a per-(query, candidate) attribute predicate `keep`
    * — the production "filtered ANN" shape (search within a metadata
    * slice: language, license, freshness, not-my-own-cluster). The
    * ORDER matters and is the point: filter-THEN-rank returns the true
    * top-k of the allowed set; the tempting rank-then-filter
    * post-processing of an unfiltered top-k under-fills k and silently
    * drops allowed near matches whenever disallowed ones crowd the
    * shortlist. The predicate lands on the scan side of the broadcast
    * join, so disallowed candidates are never scored.
    */
  def filteredTopK(df: DataFrame, idCol: String, vecCol: String, attrCol: String,
                   isQuery: Column, keep: (Column, Column) => Column, k: Int): DataFrame = {
    val withNorm = df.select(col(idCol), col(vecCol), col(attrCol), norm(col(vecCol)).as("nrm"))
    val q = withNorm.filter(isQuery)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        col(attrCol).as("q_attr"), col("nrm").as("q_nrm"))
    val c = withNorm
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        col(attrCol).as("n_attr"), col("nrm").as("n_nrm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id") && keep(col("q_attr"), col("n_attr")))
      .withColumn("cos", dot(col("q_vec"), col("n_vec")) / (col("q_nrm") * col("n_nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** Deterministic pseudo-hyperplane coefficient for (plane j, dim i):
    * small signed integers, exactly representable — sign decisions are
    * then reproducible across engines.
    */
  def planeCoef(j: Int, i: Column): Column = ((i * 37 + j * 101) % 19 - 9).cast("double")

  /** Random-hyperplane LSH bucket id from `nPlanes` sign bits.
    * `planeOffset` selects a disjoint plane family — table t of an
    * OR-amplified multi-table scheme passes `t * nPlanes` so its
    * hyperplanes are independent of table 0's.
    *
    * A native codegen'd expression (see [[graft.plans.HyperplaneBuckets]])
    * — the built-ins-only formulation below evaluates one interpreted
    * lambda chain per plane per row and measured ~10× slower on the
    * multi-table dedup query.
    */
  def hyperplaneBucket(vec: Column, nPlanes: Int, planeOffset: Int = 0): Column =
    graft.plans.HyperplaneBuckets.buckets(vec, nPlanes, planeOffset)

  /** The composable built-ins-only formulation (kept as the cross-check
    * in SimilaritySpec, like [[dotViaAggregate]]). Null elements are
    * coalesced to 0 before summing so the semantics match the codegen
    * expression and DuckDB's null-ignoring `list_sum` (a bare `acc + x`
    * would null the whole plane sum on the first null element).
    */
  def hyperplaneBucketViaAggregate(vec: Column, nPlanes: Int, planeOffset: Int = 0): Column = {
    val bits = (0 until nPlanes).map { j =>
      val d = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => coalesce(x.cast("double") * planeCoef(planeOffset + j, i), lit(0.0))),
        lit(0.0), (acc, x) => acc + x)
      when(d > 0, lit(1L << j)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Per-cell centroids learned from the data: mean per (cell, dim) as
    * ONE aggregation — [[graft.plans.VectorSumAgg]] keeps an
    * `Array[Double]` buffer per cell per task (map-side combined), so
    * only O(cells) buffers cross the exchange. The earlier composable
    * form (`posexplode` + per-(cell,dim) `avg`) shuffled O(rows·dims)
    * records — 64× the corpus — which matters once k-means multiplies
    * centroid passes by its iteration count. Components are rounded to
    * 6 digits: centroid means are independently recomputed per engine
    * at oracle time, and the rounding makes the downstream argmax cell
    * assignment engine-stable.
    */
  def ivfCentroids(df: DataFrame, cellCol: String, vecCol: String): DataFrame =
    df.groupBy(col(cellCol).cast("long").as("cell"))
      .agg(graft.plans.VectorSumAgg.vectorSum(col(vecCol)).as("vsum"),
        count(col(vecCol)).as("n"))
      .filter(col("vsum").isNotNull)
      .select(col("cell"),
        transform(col("vsum"), x => round(x / col("n"), 6)).as("cvec"))
      .withColumn("cnrm", norm(col("cvec")))

  /** A centroid row collected to the driver: (cell id, rounded
    * components, norm). Bounded — at most 2^nPlanes (k-means) or
    * #distinct cells rows — the same bounded-collect contract as the
    * broadcast it replaces.
    */
  final case class Centroid(cell: Long, cvec: Seq[Double], cnrm: Double)

  /** Collect a [[ivfCentroids]]-shaped frame (cell, cvec, cnrm) to a
    * bounded local list, cell-ordered.
    */
  def collectCentroids(cent: DataFrame): Seq[Centroid] =
    cent.select(col("cell"), col("cvec"), col("cnrm"))
      .collect()
      .map(r => Centroid(r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_.cell).toSeq

  /** Persist a learned codebook (IVF coarse centroids, a PQ subspace
    * codebook — anything [[Centroid]]-shaped) as a catalog table, cell-
    * bucketed via [[graft.operators.Scale.writeBucketed]]. A production
    * index is built ONCE and queried many times; saving the learned
    * artifact is what separates the two phases — re-learning per query
    * re-pays the full Lloyd corpus scans on every search.
    */
  def saveCentroids(spark: SparkSession, cents: Seq[Centroid], table: String): Unit = {
    import spark.implicits._
    graft.operators.Scale.writeBucketed(
      cents.map(c => (c.cell, c.cvec, c.cnrm)).toDF("cell", "cvec", "cnrm"),
      table, "cell", 4)
  }

  /** Reload a [[saveCentroids]] table into the bounded local form every
    * quantizer consumer takes. Parquet doubles round-trip bit-exactly,
    * so a loaded codebook assigns and scores identically to the
    * freshly-learned one (AnnPersistSpec pins this).
    */
  def loadCentroids(spark: SparkSession, table: String): Seq[Centroid] =
    collectCentroids(spark.table(table))

  /** Argmax cell assignment as ONE codegen expression
    * ([[graft.plans.NearestCentroid]]) — a pure projection, zero
    * shuffle, k-independent generated code: during Lloyd iterations the
    * corpus never moves — only the O(cells) partial-agg buffers of the
    * next centroid pass do — and that now holds at ANY k (the earlier
    * expression-tree argmax hit JIT method limits near k ≈ 64; the
    * earlier relational fallback exchanged one row per corpus row per
    * pass). Score is `dot(vec, cvec) / cnrm` summed left-to-right (the
    * query-side norm is a positive constant per row, so dividing by it
    * cannot change the argmax), ties to the SMALLEST cell id; oracles
    * replicate THIS exact formula so floating-point near-ties order
    * identically.
    */
  def nearestCentroid(vec: Column, cents: Seq[Centroid]): Column = {
    require(cents.nonEmpty, "nearestCentroid needs at least one centroid")
    graft.plans.NearestCentroid.assign(vec,
      cents.map(_.cell), cents.map(_.cvec), cents.map(_.cnrm))
  }

  /** The composable built-ins-only formulation (the cross-check in
    * SimilaritySpec, like [[dotViaAggregate]]): a higher-order
    * `aggregate()` fold over a `typedLit` array-of-struct codebook,
    * keeping the running best as a (score, -cell) struct — max score
    * wins, ties to the smallest cell. Interpreted lambda evaluation
    * (HOFs don't codegen), so the native expression is the production
    * path; this form documents the semantics in pure Spark SQL algebra.
    */
  def nearestCentroidViaAggregate(vec: Column, cents: Seq[Centroid]): Column = {
    require(cents.nonEmpty, "nearestCentroidViaAggregate needs at least one centroid")
    val codebook = typedLit(cents.map(c => (c.cell, c.cvec, c.cnrm)))
    val folded = aggregate(codebook,
      struct(lit(null).cast("double").as("score"), lit(null).cast("bigint").as("negcell")),
      (acc, c) => {
        val cand = struct((dot(vec, c.getField("_2")) / c.getField("_3")).as("score"),
          (-c.getField("_1")).as("negcell"))
        when(acc.getField("score").isNull || cand > acc, cand).otherwise(acc)
      })
    -folded.getField("negcell")
  }

  /** The retired expression-tree argmax (a `greatest` over k inline
    * `struct(score, -cell)` dot products), kept as a second independent
    * formulation for the spec's path-equivalence checks: analysis and
    * codegen cost grow with k and the generated method nears the JIT's
    * 64 KB limit around k ≈ [[MaxExprCells]] × 64 dims, which is why
    * [[nearestCentroid]] supersedes it in every caller.
    */
  def argmaxCell(vec: Column, cents: Seq[Centroid]): Column = {
    require(cents.nonEmpty, "argmaxCell needs at least one centroid")
    val scored = cents.map { c =>
      struct((dot(vec, typedLit(c.cvec)) / lit(c.cnrm)).as("score"),
        lit(-c.cell).as("negcell"))
    }
    // greatest() keeps each struct subtree ONCE — a when(b > a, b) fold
    // duplicates both operands per step, growing the expression tree
    // 2^k-fold (measured: 6s/query at k=8 from analysis+codegen alone)
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    -best.getField("negcell")
  }

  /** The old expression-tree/join crossover (assignment no longer
    * dispatches on k — [[nearestCentroid]] is k-independent); retained
    * because the spec sizes its large-k fixtures against it.
    */
  val MaxExprCells: Int = 48

  /** Attach a learned-quantizer cell column as a [[nearestCentroid]]
    * pure projection — zero exchanges at any k (plan-guarded); scores
    * `dot(vec, cvec) / cnrm` with ties to the smallest cell.
    */
  def kmeansAssign(df: DataFrame, vecCol: String, cent: DataFrame,
                   cellName: String): DataFrame =
    df.withColumn(cellName, nearestCentroid(col(vecCol), collectCentroids(cent)))

  /** Re-materialize collected centroids as a LOCAL relation (cell, cvec,
    * cnrm). A learned-centroid DataFrame's plan re-runs the whole Lloyd
    * chain (seed agg + iters corpus passes) every time an action
    * consumes it — e.g. once per probe variant in a recall sweep;
    * localizing the ≤2^nPlanes rows makes each consumer pay a
    * LocalTableScan broadcast instead.
    */
  def localizeCentroids(spark: org.apache.spark.sql.SparkSession,
                        cents: Seq[Centroid]): DataFrame = {
    import spark.implicits._
    cents.toDF("cell", "cvec", "cnrm")
  }

  /** Hyperplane count for a cardinality-scaling quantizer: cells ≈ √N.
    * planes = ⌈⌈log2(n)⌉ / 2⌉ (min 2), so the 2^planes seed buckets
    * track √N as the corpus grows — the classic IVF cell-count rule,
    * and the property that keeps [[knnGraph]] construction sub-quadratic
    * (per-src candidate pool ∝ probeCells·N/√N = O(√N), total scored
    * pairs O(N^1.5) instead of O(N²/constant)). Integer-exact (no
    * floating log) so every engine that re-derives it from a row count
    * lands on the same value.
    */
  def adaptivePlanes(n: Long): Int = {
    val clog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.max(2, (clog2 + 1) / 2)
  }

  /** Probe budget for a cardinality-scaling IVF index: nProbe =
    * max(2, ⌈cells/8⌉), so the probe count grows WITH the cell count
    * instead of sitting at a fixed constant while cells ∝ √N multiply.
    *
    * The probed-fraction arithmetic this pins: with cells ≈ √N and
    * ≈ N/cells ≈ √N members per cell, a FIXED nProbe scans
    * nProbe·√N/N = nProbe/√N of the corpus — a fraction that shrinks
    * as the corpus grows, so recall decays BY DESIGN at fixed probe
    * (measured r19: 0.12/0.28 at the largest sf — the same
    * fixed-constant-vs-scaling-structure defect the graph quantizer
    * fixed with [[adaptivePlanes]]). With nProbe = ⌈cells/8⌉ the
    * probed fraction is ⌈cells/8⌉/cells ≈ 1/8 of the corpus at
    * EVERY scale, so recall holds flat as N grows (per-sf floors
    * pinned in AnnIvfAdaptiveSpec). The trade is per-query scan cost
    * ≈ N/8 — linear in N, 8× under brute force; the graph index
    * ([[graphBeamSearch]], O(hops·beam·degree) per query) is the
    * sublinear-serving alternative when that matters more than the
    * IVF index's O(1)-cost maintenance. Integer-exact so the oracle
    * re-derives the identical budget from its own cell count
    * (greatest(2, (cells + 7) // 8)).
    */
  def adaptiveNProbe(nCells: Int): Int = math.max(2, (nCells + 7) / 8)

  /** Deterministic Lloyd k-means over an embedding column — the learned
    * coarse quantizer for IVF on unlabeled corpora (the production case:
    * real corpora carry no `label`). Mirrors the reference's
    * adapt-then-apply lifecycle (datapipeline.py:364-374 — statistics
    * learned from the data, then applied as a projection).
    *
    * Seeding is LSH-geometric, not random: the 2^nPlanes
    * [[hyperplaneBucket]] sign-buckets partition the space, and each
    * non-empty bucket's mean vector seeds one centroid — deterministic,
    * well-spread, and cross-engine reproducible (the oracle rebuilds the
    * same buckets from the same integer-coefficient planes). Then
    * `iters` Lloyd rounds: assign = [[nearestCentroid]] projection (the
    * corpus never shuffles, at any k), update = [[ivfCentroids]] (one
    * vector-sum agg, O(cells) rows shuffled), components re-rounded to
    * 6 digits each round so every engine's argmax sees identical
    * inputs. Cells that lose all members drop out (both engines
    * aggregate only assigned rows, so they drop identically).
    */
  def kmeansCentroids(df: DataFrame, vecCol: String, nPlanes: Int = 3,
                      iters: Int = 2): DataFrame = {
    val e = df.select(col(vecCol).as("__vec"))
    var cent = ivfCentroids(
      e.withColumn("__cell", hyperplaneBucket(col("__vec"), nPlanes)), "__cell", "__vec")
    for (_ <- 1 to iters) {
      val assigned = kmeansAssign(e, "__vec", cent, "__cell")
      cent = ivfCentroids(assigned, "__cell", "__vec")
    }
    cent
  }

  /** IVF-style ANN: learn [[ivfCentroids]] (one tiny aggregation), assign
    * each query vector to its nearest centroid by cosine (a broadcast of
    * ≤cells rows — the corpus never moves for assignment), then rank
    * candidates ONLY within the probed cell(s). The 100 TB shape of
    * similarity search: the per-query work is nProbe·|cell|, not
    * |corpus|, and the only corpus-wide pass is the centroid
    * aggregation. `nProbe` > 1 probes the n nearest cells — the standard
    * recall dial for points near cell boundaries.
    */
  def ivfSearch(df: DataFrame, idCol: String, vecCol: String, cellCol: String,
                isQuery: Column, k: Int, nProbe: Int = 1,
                centroids: Option[DataFrame] = None): DataFrame = {
    // default: per-cell means OF the given cells (the label-cell path);
    // a learned quantizer passes its own centroids so probe and member
    // assignment use the same model (textbook IVF)
    val cent = centroids.getOrElse(ivfCentroids(df, cellCol, vecCol))
    val queries = df.filter(isQuery)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    ivfServe(df, idCol, vecCol, cellCol, queries, k, nProbe, cent)
  }

  /** The SERVE half of IVF search, taking an EXTERNAL query relation
    * (q_id, q_vec) — what a streaming micro-batch or a query service
    * hands the index — against an already-assigned corpus and its
    * learned codebook. [[ivfSearch]] is the self-query special case
    * (queries drawn from the corpus itself). Probe assignment is a
    * broadcast of the ≤|cells| codebook into the (usually tiny) query
    * relation; candidates join the corpus ONLY on the probed cells —
    * per-query work is nProbe·|cell|, and a cell-bucketed corpus table
    * serves the join co-located at scale. Stateless by construction:
    * every query batch is independent.
    */
  def ivfServe(corpus: DataFrame, idCol: String, vecCol: String, cellCol: String,
               queries: DataFrame, k: Int, nProbe: Int, cent: DataFrame): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val q = queries.select(col("q_id"), col("q_vec"), norm(col("q_vec")).as("q_nrm"))
    val wa = Window.partitionBy(col("q_id")).orderBy(col("cos_c").desc, col("cell"))
    val assigned = q.crossJoin(broadcast(cent))
      .withColumn("cos_c", dot(col("q_vec"), col("cvec")) / (col("q_nrm") * col("cnrm")))
      .withColumn("rc", row_number().over(wa))
      .filter(col("rc") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("cell"))
    val c = corpus.select(col(idCol).as("n_id"), col(cellCol).cast("long").as("cell"),
      col(vecCol).as("n_vec"), norm(col(vecCol)).as("n_nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    c.join(broadcast(assigned), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", dot(col("q_vec"), col("n_vec")) / (col("q_nrm") * col("n_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"),
        col("cell"), round(col("cos"), 4).as("cos"))
  }

  /** Deterministic kNN graph over IVF cells — the navigable-graph index
    * (NSW-style, Malkov et al. 2014) built with a BOUNDED candidate
    * pool: each vector's out-edges are its `degree` nearest neighbors
    * (cosine, ties to smaller id) among the members of its
    * `probeCells` nearest cells (per-cell mean centroids, the
    * [[ivfCentroids]] model). Probing 2+ cells gives the graph its
    * cross-cell links — the long-range edges beam search needs to
    * escape a wrong entry cell, which a pure within-cell graph cannot
    * offer. Returns directed (src, dst, rank).
    *
    * Scale shape: the cells bound the quadratic — the candidate join
    * is one shuffle on cell with per-cell (|cell|·probeCells·n/cells)
    * work, the LSH-banding treatment applied to graph construction;
    * the output is corpus×degree rows, partitioned by src (at serving
    * scale: bucketed by src so each beam hop is a co-located lookup).
    * Build once, search many — callers memoize the edge relation.
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, cellCol: String,
               probeCells: Int, degree: Int,
               centroids: Option[DataFrame] = None,
               isSrc: Column = lit(true)): DataFrame = {
    // `centroids`: a frozen quantizer (the append path learns on the
    // base slice only — the ann_ivf_append no-relearn contract).
    // `isSrc`: restrict which vectors get OUT-edges (an increment batch
    // links into the full member set without recomputing base edges).
    val cent = centroids.getOrElse(ivfCentroids(df, cellCol, vecCol))
    val assigned = probeAssignment(df.filter(isSrc), idCol, vecCol, cent, probeCells)
    edgesFromPools(assigned, graphMembers(df, idCol, vecCol, cellCol), degree)
  }

  /** Probe-cell assignment half of [[knnGraph]]: each source vector's
    * `probeCells` nearest cells by centroid cosine (ties to the smaller
    * cell id) — (src, s_vec, s_nrm, cell), one row per probed cell. A
    * broadcast of the ≤|cells| centroid relation into the corpus plus a
    * src-keyed window; the corpus itself never shuffles for assignment.
    * The rank-1 row is the vector's primary cell: the per-row norm is a
    * positive constant inside the window, so this ranking equals
    * [[nearestCentroid]]'s `dot/cnrm` argmax.
    */
  def probeAssignment(df: DataFrame, idCol: String, vecCol: String,
                      cent: DataFrame, probeCells: Int): DataFrame = {
    val v = df.select(col(idCol).as("src"), col(vecCol).as("s_vec"),
      norm(col(vecCol)).as("s_nrm"))
    val wa = Window.partitionBy(col("src")).orderBy(col("cos_c").desc, col("cell"))
    v.crossJoin(broadcast(cent))
      .withColumn("cos_c", dot(col("s_vec"), col("cvec")) / (col("s_nrm") * col("cnrm")))
      .withColumn("rc", row_number().over(wa))
      .filter(col("rc") <= probeCells)
      .select(col("src"), col("s_vec"), col("s_nrm"), col("cell"))
  }

  /** Member side of the edge build: (dst, cell, d_vec, d_nrm). */
  private def graphMembers(df: DataFrame, idCol: String, vecCol: String,
                           cellCol: String): DataFrame =
    df.select(col(idCol).as("dst"), col(cellCol).cast("long").as("cell"),
      col(vecCol).as("d_vec"), norm(col(vecCol)).as("d_nrm"))

  /** Edge-selection half of [[knnGraph]]: join each source's probed
    * cells against the member relation, exact-score, keep the `degree`
    * nearest (ties to the smaller dst id).
    */
  private def edgesFromPools(assigned: DataFrame, members: DataFrame,
                             degree: Int): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    members.join(assigned, Seq("cell"))
      .filter(col("dst") =!= col("src"))
      // score BEFORE the src exchange and carry only (src, dst, cos):
      // the candidate relation is |corpus|·probeCells·|cell| rows, and
      // shuffling it with both 64-dim vectors still attached is a
      // ~40× wider shuffle than the 24-byte scored triple (measured
      // 10 s -> sub-second at sf0.1). At 100 TB this is the difference
      // between a GB-scale and a TB-scale exchange.
      .select(col("src"), col("dst"),
        (dot(col("s_vec"), col("d_vec")) / (col("s_nrm") * col("d_nrm"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= degree)
      .select(col("src"), col("dst"), col("rank").cast("long").as("rank"))
  }

  /** The source vectors an increment batch forces to recompute: every
    * vector (base or increment) whose probe-cell set touches a cell
    * that received increment members. An increment vector's own primary
    * cell is always among its probe cells (rank-1), so increments are
    * included by construction. `df` must carry the FROZEN-quantizer
    * cell assignment in `cellCol`.
    */
  def knnGraphAffectedSrcs(df: DataFrame, idCol: String, vecCol: String,
                           cellCol: String, cent: DataFrame, probeCells: Int,
                           isBase: Column): DataFrame = {
    val affCells = df.filter(!isBase)
      .select(col(cellCol).cast("long").as("cell")).distinct()
    probeAssignment(df, idCol, vecCol, cent, probeCells)
      .join(broadcast(affCells), Seq("cell"), "left_semi")
      .select(col("src")).distinct()
  }

  /** INCREMENTAL kNN-graph maintenance with bounded back-edge repair:
    * given the pre-existing base edges and a frozen quantizer, recompute
    * out-edges ONLY for sources whose probe-cell pools gained increment
    * members ([[knnGraphAffectedSrcs]]) and keep every other base edge
    * untouched. Because an unaffected source's candidate pool is
    * IDENTICAL before and after the batch (none of its probed cells
    * changed), the result is row-identical to a full
    * `knnGraph(df, centroids = frozen)` rebuild — the repair buys the
    * rebuild's answer at O(affected-cell members · cell) cost instead of
    * O(corpus · cell). This closes the no-back-edges gap of naive batch
    * insertion: base vertices in touched cells DO gain edges toward the
    * increment, so increment vectors are reachable mid-graph, not only
    * via entry heads (AnnGraphSpec pins both the rebuild equivalence and
    * the bounded recompute set).
    */
  def knnGraphAppend(df: DataFrame, idCol: String, vecCol: String,
                     cellCol: String, probeCells: Int, degree: Int,
                     cent: DataFrame, baseEdges: DataFrame,
                     isBase: Column): DataFrame = {
    val need = knnGraphAffectedSrcs(df, idCol, vecCol, cellCol, cent, probeCells, isBase)
    val kept = baseEdges.join(need, Seq("src"), "left_anti")
    val assigned = probeAssignment(df, idCol, vecCol, cent, probeCells)
      .join(need, Seq("src"), "left_semi")
    val repaired = edgesFromPools(assigned, graphMembers(df, idCol, vecCol, cellCol), degree)
    kept.unionByName(repaired)
  }

  /** Beam search over a [[knnGraph]] edge relation: queries enter at the
    * HEADS (min-id member) of their `entryCells` nearest cells, then
    * `hops` rounds of expand-score-prune — candidates are the current
    * beam plus its out-neighbors, scored by exact cosine against the
    * query, pruned to the best `beamWidth` (ties to smaller id). The
    * beam is monotone (candidates always include the previous beam), so
    * the final beam's top-k IS the best-of-visited answer. Fully
    * deterministic: fixed entries, fixed hop count, total tie-breaks.
    *
    * Cost per query is O(hops · beamWidth · degree) scored vertices —
    * independent of corpus size (vs nProbe cells scanned for IVF); the
    * per-hop joins are point lookups on the src-keyed edge relation.
    * Returns (q_id, rank, n_id, cos) like [[ivfSearch]].
    *
    * ENTRY DEGENERACY: entries exclude the query itself, and a corpus
    * query CAN be its own cell's head — with `entryCells = 1` such a
    * query gets no entry and silently returns no rows. A vector belongs
    * to exactly one cell, so it can equal at most ONE head: pass
    * `entryCells >= 2` to guarantee a non-self entry (AnnGraphSpec pins
    * the complete-graph ≡ brute-force equivalence under exactly this
    * contract; the registered keys use 3).
    */
  def graphBeamSearch(df: DataFrame, idCol: String, vecCol: String,
                      cellCol: String, edges: DataFrame, isQuery: Column,
                      entryCells: Int, beamWidth: Int, hops: Int, k: Int,
                      centroids: Option[DataFrame] = None,
                      maxLocalQueries: Int = 128,
                      localHeads: Option[Map[Long, Long]] = None,
                      localCents: Option[Seq[Centroid]] = None): DataFrame = {
    require(beamWidth >= k, s"beamWidth $beamWidth must be >= k $k")
    // the documented entry-degeneracy contract, loud instead of silent:
    // with one entry cell a query that heads its own cell gets no entry
    // and would return zero rows
    require(entryCells >= 2,
      s"entryCells $entryCells must be >= 2: entries exclude the query itself, " +
        "and a corpus query can head its own cell")
    val cent = centroids.getOrElse(ivfCentroids(df, cellCol, vecCol))
    // SMALL-QUERY-SET FAST PATH (the clusterLabels probe-pinning
    // pattern): collect up to maxLocalQueries+1 query rows; when the set
    // is bounded, carry the beam as a driver-side array between hops —
    // each hop is then ONE point-lookup job into the src-keyed edge
    // relation plus one vector fetch for unseen candidates, instead of a
    // checkpoint + distinct/window exchange pipeline (measured ~2 s →
    // sub-second per registered key at sf0.1). The distributed path
    // below remains the large-query-set shape and is pinned
    // row-identical by AnnGraphSpec.
    if (maxLocalQueries > 0) {
      val probe = df.filter(isQuery)
        .select(col(idCol).cast("long"), col(vecCol))
        .limit(maxLocalQueries + 1).collect()
      if (probe.length <= maxLocalQueries) {
        val qs = probe.map { r =>
          (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue()).toArray)
        }.toSeq
        return graphBeamSearchLocal(df, idCol, vecCol, cellCol, edges, qs,
          entryCells, beamWidth, hops, k,
          localCents.getOrElse(collectCentroids(cent)), localHeads)
      }
    }
    graphBeamSearchDistributed(df, idCol, vecCol, cellCol, edges, isQuery,
      entryCells, beamWidth, hops, k, cent)
  }

  /** The distributed beam search (the large-query-set shape of
    * [[graphBeamSearch]] — see its scaladoc for the algorithm and the
    * per-hop plan notes).
    */
  def graphBeamSearchDistributed(df: DataFrame, idCol: String, vecCol: String,
                                 cellCol: String, edges: DataFrame, isQuery: Column,
                                 entryCells: Int, beamWidth: Int, hops: Int, k: Int,
                                 cent: DataFrame): DataFrame = {
    val e = df.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("n_nrm"))
    val q = df.filter(isQuery)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        norm(col(vecCol)).as("q_nrm"))
    val heads = df.select(col(idCol).as("n_id"), col(cellCol).cast("long").as("cell"))
      .groupBy(col("cell")).agg(min(col("n_id")).as("n_id"))
    val wa = Window.partitionBy(col("q_id")).orderBy(col("cos_c").desc, col("cell"))
    val entry = q.crossJoin(broadcast(cent))
      .withColumn("cos_c", dot(col("q_vec"), col("cvec")) / (col("q_nrm") * col("cnrm")))
      .withColumn("rc", row_number().over(wa))
      .filter(col("rc") <= entryCells)
      .select(col("q_id"), col("cell"))
      .join(broadcast(heads), Seq("cell"))
      .select(col("q_id"), col("n_id"))
    // score a (q_id, n_id) candidate set and prune to the beam. BOTH
    // small sides broadcast — the candidate set (≤ queries·beam·(degree
    // +1) rows by construction) and the query vectors — so the corpus
    // relation `e` streams partition-parallel through the hash join and
    // is never shuffled per hop; only the matched ~|cand| rows reach
    // the q_id-keyed pruning window. This is the 100 TB shape: a beam
    // hop is a point-lookup join INTO the corpus, not a corpus shuffle.
    def prune(cand: DataFrame): DataFrame = {
      val wb = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
      e.join(broadcast(cand), Seq("n_id"))
        .join(broadcast(q), Seq("q_id"))
        .withColumn("cos", dot(col("q_vec"), col("n_vec")) / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(wb))
        .filter(col("rn") <= beamWidth)
        .select(col("q_id"), col("n_id"), col("cos"), col("rn"))
    }
    val beam0 = prune(entry.filter(col("n_id") =!= col("q_id")).distinct())
    val fin = (1 to hops).foldLeft(beam0) { (beam, hop) =>
      // CUT THE LINEAGE periodically: each hop references the previous
      // beam TWICE (carry-over ∪ expand), and Spark does not dedupe
      // shared subplans — left chained, the logical plan doubles per
      // hop (2^hops copies of the beam0 pipeline; measured 10 s of
      // pure analysis/exchange replay for 5 hops over ~300 candidate
      // rows — the Spark edition of the DuckDB non-materialized-CTE
      // blowup the oracle's AS MATERIALIZED fixes). The beam is
      // |queries|·beamWidth rows by construction, so an eager
      // localCheckpoint is a tiny one-task materialization (coalesce(1))
      // that replaces the whole subtree with one LogicalRDD. Checkpoint
      // EVERY hop: a skipped hop leaves two live copies of a pipeline
      // whose distinct/window EXCHANGES then execute twice — measured
      // slower (3.5 s vs 2.7 s) than paying the one-task checkpoint.
      val stable = beam.coalesce(1).localCheckpoint()
      val ids = stable.select(col("q_id"), col("n_id"))
      val cand = ids
        .union(ids.join(edges, col("n_id") === col("src"))
          .select(col("q_id"), col("dst").as("n_id")))
        .filter(col("n_id") =!= col("q_id"))
        .distinct()
      prune(cand)
    }
    fin.filter(col("rn") <= k)
      .select(col("q_id"), col("rn").cast("long").as("rank"), col("n_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** Driver-carried beam search — the bounded-query-set fast path of
    * [[graphBeamSearch]], row-identical to the distributed pipeline
    * (AnnGraphSpec pins the parity). The beam (≤ |queries|·beamWidth
    * ids) lives on the driver between hops; the CLUSTER still does what
    * must be distributed — each hop issues exactly two point-lookup
    * jobs: a broadcast semi-join of the beam's ids into the src-keyed
    * edge relation (the same co-located lookup the distributed hop
    * does) and a vector fetch for candidates not yet seen (the visited
    * cache makes this shrink hop over hop). What moves to the driver is
    * only the ≤ hops·beam·degree exact re-scores and the prune sort —
    * work proportional to the SEARCH budget, never to the corpus.
    * All arithmetic mirrors the distributed path bit-for-bit:
    * left-to-right double dot products, `dot/ (nrm·nrm)` cosine,
    * (cos desc, id asc) total-order pruning, Spark HALF_UP round(,4).
    *
    * `queries` carries (id, vector-as-doubles) — elements already cast
    * exactly as Spark's `cast("double")` would (Float.doubleValue is
    * the same widening).
    */
  def graphBeamSearchLocal(df: DataFrame, idCol: String, vecCol: String,
                           cellCol: String, edges: DataFrame,
                           queries: Seq[(Long, Array[Double])],
                           entryCells: Int, beamWidth: Int, hops: Int, k: Int,
                           cents: Seq[Centroid],
                           headsOpt: Option[Map[Long, Long]] = None,
                           hopTrace: Option[scala.collection.mutable.Map[Int,
                             Map[Long, Seq[Long]]]] = None): DataFrame = {
    require(beamWidth >= k, s"beamWidth $beamWidth must be >= k $k")
    require(entryCells >= 2, s"entryCells $entryCells must be >= 2")
    require(cents.nonEmpty, "graphBeamSearchLocal needs centroids")
    val spark = df.sparkSession
    import spark.implicits._
    def ddot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // entry heads: min-id member per cell — one tiny aggregation, or
    // the caller's memoized copy (entry points are part of a served
    // index's artifact, so registered keys pass them precomputed)
    val heads: Map[Long, Long] = headsOpt.getOrElse(df
      .select(col(cellCol).cast("long").as("cell"), col(idCol).cast("long").as("n_id"))
      .groupBy(col("cell")).agg(min(col("n_id")).as("n_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val qVec = queries.toMap
    val qNrm = queries.map { case (id, v) => id -> math.sqrt(ddot(v, v)) }.toMap
    // visited-vector cache: (vector, norm) per candidate id, fetched in
    // per-hop batches via a broadcast join into the corpus relation
    val cache = scala.collection.mutable.Map.empty[Long, (Array[Double], Double)]
    // §1.5 job labels: the beam loop issues several point-lookup jobs
    // per search — label them so the UI (and Bench's job_sites)
    // attributes the scheduler floor to the right round trip
    def labeled[T](desc: String)(body: => T): T = {
      spark.sparkContext.setJobDescription(desc)
      try body finally spark.sparkContext.setJobDescription(null)
    }
    // Point lookups ride an InSet PREDICATE, not a broadcast join (r22):
    // a broadcast of a driver-local id list plans a LocalTableScan whose
    // execution parallelizes into min(n, shuffle.partitions) tasks — the
    // broadcast-build job alone cost up to 32 near-empty tasks PER HOP
    // (measured: 2 jobs/hop, 37 tasks). The id set is bounded by the
    // search budget (≤ queries·beam ids), so an InSet literal is a
    // codegen'd hash-set probe evaluated partition-local on the one
    // src-keyed relation: ONE single-stage job per lookup.
    def fetchVecs(ids: Seq[Long]): Unit = {
      val missing = ids.distinct.filterNot(cache.contains)
      if (missing.nonEmpty) {
        labeled(s"graph: vec fetch (${missing.size} ids)") {
          df.filter(col(idCol).cast("long").isin(missing: _*))
            .select(col(idCol).cast("long"), col(vecCol)).collect()
        }.foreach { r =>
            val v = r.getSeq[Number](1).map(_.doubleValue()).toArray
            cache(r.getLong(0)) = (v, math.sqrt(ddot(v, v)))
          }
      }
    }
    // ONE job per hop: the beam's out-edges joined with the candidate
    // vectors — topology and payload in a single point-lookup round trip
    // (collecting an already-cached dst's vector again is cheaper than a
    // second job to fetch only the misses). When the caller passes a
    // PRE-FUSED adjacency⋈vector relation (a `__vec` column riding the
    // edge rows — the HNSW-style index layout where each neighbor entry
    // carries its payload, r22 VERDICT Next #2), the hop skips the
    // per-hop join into the corpus entirely: one broadcast semi-lookup
    // into ONE src-keyed relation, no second table scanned and no hash
    // relation built per hop.
    def fetchHop(srcs: Seq[Long]): Map[Long, Seq[Long]] = {
      val srcSet = srcs.distinct
      val hop = edges.filter(col("src").isin(srcSet: _*))
      val withVec =
        if (edges.columns.contains("__vec")) hop
        else hop.join(
          df.select(col(idCol).cast("long").as("dst"), col(vecCol).as("__vec")),
          Seq("dst"))
      labeled(s"graph: hop lookup (${srcSet.size} srcs)") {
        withVec.select(col("src"), col("dst"), col("__vec")).collect()
      }
        .map { r =>
          val dst = r.getLong(1)
          if (!cache.contains(dst)) {
            val v = r.getSeq[Number](2).map(_.doubleValue()).toArray
            cache(dst) = (v, math.sqrt(ddot(v, v)))
          }
          (r.getLong(0), dst)
        }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSeq }
    }
    def cosTo(qId: Long, nId: Long): Double = {
      val (v, n) = cache(nId)
      ddot(qVec(qId), v) / (qNrm(qId) * n)
    }
    // prune: exact-score the candidate set, total order (cos desc, id asc)
    def prune(qId: Long, cand: Seq[Long]): Seq[(Long, Double)] =
      cand.map(nId => (nId, cosTo(qId, nId)))
        .sortWith { case ((ida, ca), (idb, cb)) =>
          val c = java.lang.Double.compare(cb, ca)
          if (c != 0) c < 0 else ida < idb
        }
        .take(beamWidth)
    // entries: the query's entryCells nearest cells' heads, excluding self
    val entry: Map[Long, Seq[Long]] = queries.map { case (qId, v) =>
      val n = qNrm(qId)
      val cells = cents
        .map(c => (ddot(v, c.cvec.toArray) / (n * c.cnrm), c.cell))
        .sortWith { case ((ca, cella), (cb, cellb)) =>
          val c = java.lang.Double.compare(cb, ca)
          if (c != 0) c < 0 else cella < cellb
        }
        .take(entryCells).map(_._2)
      qId -> cells.flatMap(heads.get).filter(_ != qId).distinct
    }.toMap
    // beam0 = prune(entries): with entries <= beamWidth per query
    // (entryCells heads at most) the prune keeps everything and its
    // scores are never read again (hops >= 1 re-scores every candidate),
    // so the entry vector fetch + scoring job is skipped entirely; the
    // fetch only runs in the hops == 0 / over-wide-entry corner where
    // beam0's scores ARE the answer
    val entriesFit = entry.values.forall(_.size <= beamWidth)
    var beam: Map[Long, Seq[(Long, Double)]] =
      if (hops >= 1 && entriesFit)
        entry.map { case (qId, ids) => qId -> ids.map((_, Double.NaN)) }
      else {
        fetchVecs(entry.values.flatten.toSeq)
        queries.map { case (qId, _) => qId -> prune(qId, entry(qId)) }.toMap
      }
    // FIXED-POINT EARLY EXIT (r22): the hop body is a deterministic
    // function of the beam's id sequences — candidates are beam ∪
    // out-neighbors(beam), and the prune is a total order — so a hop
    // that leaves every query's id sequence unchanged is a fixed point:
    // every remaining hop would recompute the identical beam. Exiting
    // then is result-identical BY CONSTRUCTION (not an approximation)
    // and saves the stabilized hops' point-lookup jobs (r20 pathlen
    // data: most queries stabilize at hop 3-4 of the 5 budgeted).
    // hopTrace still records every budgeted hop (the fixed-point beam
    // repeats), so observability callers see the full curve.
    var h = 1
    var fixed = false
    while (h <= hops && !fixed) {
      val prevIds = beam.map { case (qId, b) => qId -> b.map(_._1) }
      val nbrs = fetchHop(beam.values.flatten.map(_._1).toSeq)
      val cand: Map[Long, Seq[Long]] = beam.map { case (qId, b) =>
        val ids = b.map(_._1)
        qId -> (ids ++ ids.flatMap(nbrs.getOrElse(_, Nil)))
          .filter(_ != qId).distinct
      }
      // carried ids are normally cache-hits (they were candidates in the
      // previous prune); the exception is hop 1's unscored entry heads
      // that are nobody's out-neighbor — fetch only those (no-op job
      // when the cache already covers the hop)
      fetchVecs(cand.values.flatten.toSeq)
      beam = cand.map { case (qId, c) => qId -> prune(qId, c) }
      // the hop-1 entry beam carries unscored (NaN) placeholders, never
      // a pruned sequence — only compare from hop 2 on
      fixed = h > 1 && beam.forall { case (qId, b) =>
        prevIds.get(qId).contains(b.map(_._1))
      }
      // per-hop top-k snapshot for observability callers: hop h's entry
      // equals a separate hops = h run's top-k BY PREFIX IDENTITY (the
      // loop body never reads the total budget), so one traced search
      // replaces GraphHops re-runs; on early exit the remaining hops'
      // entries are the fixed-point beam itself
      hopTrace.foreach { tr =>
        val snap = beam.map { case (qId, b) => qId -> b.take(k).map(_._1) }
        tr += h -> snap
        if (fixed) (h + 1 to hops).foreach(tr += _ -> snap)
      }
      h += 1
    }
    val rows = queries.flatMap { case (qId, _) =>
      beam(qId).take(k).zipWithIndex.map { case ((nId, c), i) =>
        (qId, (i + 1).toLong, nId, round4(c))
      }
    }
    // coalesce(1): a LocalTableScan otherwise executes with
    // min(rows, shuffle.partitions) near-empty tasks — the result is
    // bounded at queries·k rows, one task is the right parallelism
    rows.toDF("q_id", "rank", "n_id", "cos").coalesce(1)
  }

  /** Bucketed ANN: assign buckets, then search only within the query's
    * bucket. Returns (q_id, n_id, cos) for same-bucket candidate pairs.
    */
  def lshSearch(df: DataFrame, idCol: String, vecCol: String,
                isQuery: Column, nPlanes: Int, k: Int): DataFrame = {
    val b = df.select(col(idCol), col(vecCol),
      hyperplaneBucket(col(vecCol), nPlanes).as("bucket"),
      norm(col(vecCol)).as("nrm"))
    val q = b.filter(isQuery)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        col("bucket"), col("nrm").as("q_nrm"))
    val c = b.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      col("bucket"), col("nrm").as("n_nrm"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", dot(col("q_vec"), col("n_vec")) / (col("q_nrm") * col("n_nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"),
        round(col("cos"), 4).as("cos"))
  }
}
