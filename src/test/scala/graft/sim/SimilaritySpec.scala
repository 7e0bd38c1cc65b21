package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)), // close to 1
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f)),
    (5L, Array(-1.0f, 0.0f, 0.0f)) // antipode of 1
  ).toDF("vec_id", "embedding").cache()

  test("cosine: identity=1, orthogonal=0, antipodal=-1") {
    val r = vecs.filter($"vec_id" === 1).crossJoin(
        vecs.select($"vec_id".as("b_id"), $"embedding".as("b")))
      .select($"b_id", Similarity.cosine($"embedding", $"b").as("c"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - 1.0) < 1e-9)
    assert(math.abs(r(3L)) < 1e-9)
    assert(math.abs(r(5L) + 1.0) < 1e-9)
  }

  test("bruteForceTopK ranks the nearest first and excludes self") {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", $"vec_id" === 1, 2)
      .orderBy("rank").collect()
    assert(top.length == 2)
    assert(top(0).getAs[Long]("n_id") == 2L) // closest
    assert(top.forall(_.getAs[Long]("n_id") != 1L))
  }

  test("hyperplane bucketing groups identical vectors and is total over real data") {
    val e = Tables.embeddings(spark, sf)
    val b = e.select(Similarity.hyperplaneBucket(col("embedding"), 8).as("bucket"))
    val n = b.count()
    assert(n == e.count())
    val nb = b.distinct().count()
    assert(nb > 1 && nb <= 256)
  }

  test("lshSearch returns a subset of brute-force results with correct cosines") {
    val e = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 5, 50)
      .select($"q_id", $"n_id", $"cos").as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val lsh = Similarity.lshSearch(e, "vec_id", "embedding", col("vec_id") < 5, 8, 50)
      .select($"q_id", $"n_id", $"cos").as[(Long, Long, Double)].collect()
    // every LSH result that brute-force also ranked must agree on cosine
    lsh.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(bc => assert(math.abs(bc - c) < 1e-9)) }
    assert(lsh.nonEmpty)
  }

  test("codegen hyperplane buckets match the aggregate formulation on real data") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    for (offset <- Seq(0, 8, 24)) {
      val mismatch = emb.select(
        Similarity.hyperplaneBucket(col("embedding"), 8, offset).as("fast"),
        Similarity.hyperplaneBucketViaAggregate(col("embedding"), 8, offset).as("slow"))
        .filter(col("fast") =!= col("slow")).count()
      assert(mismatch == 0, s"offset $offset")
    }
  }

  test("hyperplane bucket of a NULL array is 0 (oracle CASE semantics), never null") {
    val df = spark.sql(
      "SELECT * FROM VALUES (CAST(NULL AS ARRAY<FLOAT>)), (array(CAST(1.0 AS FLOAT))) AS t(v)")
    val got = df.select(Similarity.hyperplaneBucket(col("v"), 8).as("b"))
      .collect().map(r => Option(r.get(0)))
    assert(got.forall(_.isDefined))           // never null
    assert(got.count(_ == Some(0L)) >= 1)     // the NULL row mapped to bucket 0
    // and matches the aggregate formulation on the same frame
    val agg = df.select(Similarity.hyperplaneBucketViaAggregate(col("v"), 8).as("b"))
      .collect().map(r => Option(r.get(0)))
    assert(got.toSeq == agg.toSeq)
  }

  test("ivfSearch: k ranked neighbors per query, all members of the probed cell") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val res = Similarity.ivfSearch(emb, "vec_id", "embedding", "label",
      col("vec_id") < 10, k = 5)
    val rows = res.collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 10)
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 5L)) // dense ranks
      assert(rs.map(_.getAs[Long]("cell")).distinct.length == 1)       // one probed cell
      // ranked by descending cosine
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // neighbors really belong to the probed cell
    val cells = emb.select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(cells(r.getAs[Long]("n_id")) == r.getAs[Long]("cell")))
  }

  test("kmeansCentroids: deterministic, bounded by 2^nPlanes cells, full-dim centroids") {
    val emb = Tables.embeddings(spark, sf)
    def run() = Similarity.collectCentroids(
      Similarity.kmeansCentroids(emb, "embedding", nPlanes = 3, iters = 2))
    val c1 = run()
    val c2 = run()
    assert(c1 == c2, "two identical runs must learn identical centroids")
    assert(c1.nonEmpty && c1.size <= 8)
    assert(c1.forall(_.cvec.length == 64))
    // rounded components: ×1e6 lands on integers
    c1.foreach(c => c.cvec.foreach(x =>
      assert(math.abs(x * 1e6 - math.rint(x * 1e6)) < 1e-6, s"unrounded component $x")))
  }

  test("argmaxCell assigns every vector to its genuinely best-scoring centroid") {
    val emb = Tables.embeddings(spark, sf)
    val cent = Similarity.kmeansCentroids(emb, "embedding", nPlanes = 3, iters = 1)
    val cents = Similarity.collectCentroids(cent)
    val got = emb.limit(50)
      .withColumn("cell", Similarity.argmaxCell(col("embedding"), cents))
      .select(col("vec_id"), col("cell"), col("embedding"))
      .collect()
    got.foreach { r =>
      val v = r.getSeq[Float](2).map(_.toDouble)
      def score(c: Similarity.Centroid): Double =
        v.zip(c.cvec).map { case (a, b) => a * b }.sum / c.cnrm
      // best = max score, ties to smallest cell — the documented contract
      val best = cents.map(c => (score(c), c.cell)).sortBy { case (s, id) => (-s, id) }.head._2
      assert(r.getLong(1) == best, s"vec ${r.getLong(0)}")
    }
  }

  test("nearestCentroid matches the retired expression-tree argmax and the HOF fold") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.collectCentroids(
      Similarity.kmeansCentroids(emb, "embedding", nPlanes = 3, iters = 1))
    val rows = emb.select(col("vec_id"),
        Similarity.nearestCentroid(col("embedding"), cents).as("fast"),
        Similarity.argmaxCell(col("embedding"), cents).as("tree"),
        Similarity.nearestCentroidViaAggregate(col("embedding"), cents).as("fold"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"vec ${r.getLong(0)}: fast vs tree")
      assert(r.getLong(1) == r.getLong(3), s"vec ${r.getLong(0)}: fast vs fold")
    }
  }

  test("nearestCentroid handles k=512 cells with correct argmax and a shuffle-free plan") {
    // the k≈√N IVF shape on the DEFAULT path: 512 synthetic unit-ish
    // centroids, assignments cross-checked against a driver-side argmax,
    // and the assignment subplan must contain NO exchange — the corpus
    // never moves during an assignment pass.
    val emb = Tables.embeddings(spark, sf)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val cents = (0 until 512).map { c =>
      val v = Seq.tabulate(dim)(i => math.sin(c * 37.0 + i * 11.0))
      Similarity.Centroid(c.toLong, v, math.sqrt(v.map(x => x * x).sum))
    }
    val assigned = Similarity.kmeansAssign(emb, "embedding",
      Similarity.localizeCentroids(spark, cents), "cell")
    val p = assigned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange"), p)
    val rows = assigned.select(col("vec_id"), col("embedding"), col("cell")).collect()
    assert(rows.length == emb.count())
    assert(rows.map(_.getLong(2)).distinct.length > 1) // not all one cell
    rows.take(25).foreach { r =>
      val vec = r.getSeq[Float](1)
      val best = cents.map { c =>
        val s = vec.zip(c.cvec).map { case (a, b) => a * b }.sum / c.cnrm
        (s, -c.cell)
      }.max._2 * -1
      assert(r.getLong(2) == best, s"vec ${r.getLong(0)}")
    }
  }

  test("nearestCentroid null semantics: null vec and dim mismatch yield null") {
    val cents = Seq(Similarity.Centroid(0L, Seq(1.0, 0.0), 1.0),
      Similarity.Centroid(1L, Seq(0.0, 1.0), 1.0))
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (CAST(NULL AS ARRAY<FLOAT>)),
        |  (array(CAST(1.0 AS FLOAT))),
        |  (array(CAST(0.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS t(v)""".stripMargin)
    val got = df.select(Similarity.nearestCentroid(col("v"), cents).as("c"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == Seq(None, None, Some(1L)))
  }

  test("large-k learning (nPlanes=6) converges through the projection path and stays deterministic") {
    val emb = Tables.embeddings(spark, sf)
    def run() = Similarity.collectCentroids(
      Similarity.kmeansCentroids(emb, "embedding", nPlanes = 6, iters = 1))
    val c1 = run()
    assert(c1 == run(), "two identical large-k runs must learn identical centroids")
    assert(c1.size > Similarity.MaxExprCells && c1.size <= 64,
      s"expected >48 and <=64 cells, got ${c1.size}") // genuinely past the old expr-tree limit
  }

  test("ann_ivf_kmeans256 learning lands at k>=256 cells (the k~sqrt(N) IVF shape)") {
    // the 2^11 sign-bucket seeding must keep the 256-cell query honest:
    // if the corpus or seeding drifted below 256 learned cells, the
    // query would silently stop exercising genuinely large k
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.collectCentroids(
      Similarity.kmeansCentroids(emb, "embedding", nPlanes = 11, iters = 1))
    assert(cents.size >= 256, s"only ${cents.size} learned cells")
  }

  test("PQ rerank recall floor, and the shortlist is the recall knob at fixed codebooks") {
    // Scale-probe conclusion (round 12, README table): at a FIXED
    // codebook budget, rerank recall@5 decays with corpus size through
    // the ADC shortlist (1.0@2k -> 0.72@20k isotropic at shortlist
    // 100), and the restoring knob is the SHORTLIST DEPTH, not codebook
    // bits (planes 6 -> 8 moved recall <= 0.04 everywhere; shortlist
    // 100 -> 400 restored 1.0 at every probed scale). This lock pins
    // both facts where CI runs: the baseline floor, and that deepening
    // the shortlist recovers what quantization loses.
    val e = Tables.embeddings(spark, sf)
    val r100 = graft.queries.SimQueries.pqRerankRecallAt(e, planes = 6, shortlist = 100)
    assert(r100 >= 0.8, s"baseline rerank recall collapsed: $r100")   // measured 0.84
    val r400 = graft.queries.SimQueries.pqRerankRecallAt(e, planes = 6, shortlist = 400)
    assert(r400 >= 0.95, s"deep-shortlist recall did not recover: $r400") // measured 1.0
    assert(r400 >= r100, s"widening the shortlist reduced recall: $r100 -> $r400")
  }

  test("IVF-PQ (residual codebooks) beats whole-vector ADC on recall@5 (the r13 acceptance bar)") {
    // the point of encoding RESIDUALS: the same 4×2^6 codebook budget
    // spends its resolution on the (smaller) residual space, so the
    // composed index must dominate plain-PQ raw ADC even while scanning
    // only the probed cells (measured 0.44 vs 0.16 at sf0.001,
    // 0.48 vs 0.20 at sf0.01)
    val rows = graft.queries.SimQueries.queries("ann_recall_pq")(spark, sf)
      .collect().groupBy(_.getString(1))
      .map { case (m, rs) => m -> rs.map(_.getDouble(3)).sum / rs.length }
    assert(rows("ivfpq") >= rows("adc"),
      s"ivfpq recall ${rows("ivfpq")} < plain-PQ adc ${rows("adc")}")
  }

  test("learned quantizer beats label cells on recall@5 (the round-9 acceptance bar)") {
    val rows = graft.queries.SimQueries.queries("ann_recall_kmeans")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(rows(("kmeans", 2L)) >= rows(("label", 2L)),
      s"kmeans nProbe=2 recall ${rows(("kmeans", 2L))} < label ${rows(("label", 2L))}")
    assert(rows(("kmeans", 1L)) >= rows(("label", 1L)),
      s"kmeans nProbe=1 recall ${rows(("kmeans", 1L))} < label ${rows(("label", 1L))}")
    // probing 2 cells can only add candidates
    assert(rows(("kmeans", 2L)) >= rows(("kmeans", 1L)))
    assert(rows(("label", 2L)) >= rows(("label", 1L)))
  }

  test("ivfSearch nProbe=2 never degrades the best neighbor and widens the cell pool") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    def top1(nProbe: Int): Map[Long, Double] =
      Similarity.ivfSearch(emb, "vec_id", "embedding", "label",
          col("vec_id") < 10, k = 1, nProbe = nProbe)
        .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    val p1 = top1(1)
    val p2 = top1(2)
    assert(p1.keySet == p2.keySet)
    // the 2-probe candidate pool is a superset, so the best cosine can
    // only improve or stay equal
    p1.foreach { case (q, c1) => assert(p2(q) >= c1, s"query $q: ${p2(q)} < $c1") }
    // and with 2 probes some query's neighbors may come from 2 cells
    val cellsPerQ = Similarity.ivfSearch(emb, "vec_id", "embedding", "label",
        col("vec_id") < 10, k = 5, nProbe = 2)
      .groupBy("q_id").agg(countDistinct("cell").as("nc"))
      .agg(max("nc")).head().getLong(0)
    assert(cellsPerQ >= 1 && cellsPerQ <= 2)
  }

  test("filteredTopK is filter-then-rank: full k of allowed hits, never a post-filter") {
    val e = Tables.embeddings(spark, sf)
    val filtered = Similarity.filteredTopK(e, "vec_id", "embedding", "label",
      col("vec_id") < 10, (qa, na) => na =!= qa, 5)
    // every returned neighbor respects the predicate
    val lab = e.select(col("vec_id"), col("label"))
    val labeled = filtered
      .join(lab.toDF("q_id", "ql"), Seq("q_id"))
      .join(lab.toDF("n_id", "nl"), Seq("n_id"))
    assert(labeled.filter(col("ql") === col("nl")).count() == 0)
    // and every query still gets its FULL k — which post-filtering the
    // unfiltered shortlist cannot deliver on this label-clustered corpus
    // (same-label vectors crowd the unfiltered top-5)
    assert(filtered.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
    val postFiltered = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        col("vec_id") < 10, 5)
      .join(lab.toDF("q_id", "ql"), Seq("q_id"))
      .join(lab.toDF("n_id", "nl"), Seq("n_id"))
      .filter(col("ql") =!= col("nl"))
    assert(postFiltered.count() < filtered.count(),
      "post-filter kept full k for every query — fixture no longer demonstrates the bug")
  }

  test("embed_outlier equals a driver-side exact-integer distance recompute; triage list well-formed") {
    // independent side: BigInt arithmetic over the raw float components,
    // quantized with the same e6 convention — the n_l²-scaled squared
    // distance D_v = Σ_d (n_l·qx − S_ld)², ranked (D desc, vec_id)
    // quantizer matches the engines' round (half-AWAY-from-zero on
    // exact halves), not math.round's half-toward-+infinity
    def q6(x: Float): BigInt = BigInt(new java.math.BigDecimal(x.toDouble * 1000000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())
    val rows = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(q6).toVector))
    val want = rows.groupBy(_._2).flatMap { case (label, vs) =>
      val nL = BigInt(vs.length)
      val dims = vs.head._3.indices
      val s = dims.map(d => vs.map(_._3(d)).sum)
      val dv = vs.map { case (id, _, q) =>
        id -> dims.map(d => { val t = nL * q(d) - s(d); t * t }).sum
      }
      val sumD = dv.map(_._2).sum
      dv.sortBy { case (id, dist) => (-dist, id) }.take(5).zipWithIndex.map {
        case ((id, dist), i) =>
          (label, (i + 1).toLong, id, vs.length.toLong,
            if (sumD == 0) 0L else ((nL * dist * 1000000) / sumD).toLong)
      }.toSeq
    }.toSet
    val got = graft.SparkEntry.queries("embed_outlier")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want,
      s"diff got-want ${(got -- want).take(5)} want-got ${(want -- got).take(5)}")
    // well-formed triage list: exactly K rows per label, ratios
    // non-increasing in rank, and the top row is at or above the mean
    got.groupBy(_._1).foreach { case (label, g) =>
      assert(g.size == 5, s"label $label: ${g.size} rows")
      val byRk = g.toSeq.sortBy(_._2).map(_._5)
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b },
        s"label $label ratios not non-increasing: $byRk")
      assert(byRk.head >= 1000000L, s"label $label max below mean")
    }
  }

  test("embed_outlier degenerate label (all vectors identical) emits ratio 0, never NULL") {
    import spark.implicits._
    // label 0 = a corrupted export writing one vector 6 times (ΣD = 0);
    // label 1 = two distinct vectors so the normal path runs alongside
    val same = Array.fill(4)(0.25f)
    val rows = (0L until 6L).map(i => (i, same, 0)) ++
      Seq((10L, Array(1f, 0f, 0f, 0f), 1), (11L, Array(0f, 1f, 0f, 0f), 1))
    val tmp = java.nio.file.Files.createTempDirectory("graft_eo_fixture")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(tmp.resolve("embeddings.parquet").toString)
    tmp.toFile.deleteOnExit()
    val out = graft.SparkEntry.queries("embed_outlier")(spark, tmp.toString).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(4)))
    val deg = out.filter(_._1 == 0)
    assert(deg.length == 5 && deg.forall(_._3 == 0L), deg.mkString(","))
    // the live label still reports real ratios (both vectors at the mean)
    assert(out.filter(_._1 == 1).forall(_._3 == 1000000L), out.mkString(","))
  }
}
