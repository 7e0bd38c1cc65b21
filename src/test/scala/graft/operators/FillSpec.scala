package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

class FillSpec extends SparkSpec {
  import spark.implicits._

  // t: 0,10,20,30,40 ; v: 1, null, null, 4, null
  lazy val df = Seq(
    (0L, 0.0, Some(1.0)), (1L, 10.0, None), (2L, 20.0, None),
    (3L, 30.0, Some(4.0)), (4L, 40.0, None)
  ).toDF("id", "t", "v").cache()

  test("ffill carries the last observation forward") {
    val got = df.select(Fill.ffill(col("v"), Seq.empty, Seq("id")).as("f"))
      .orderBy("id" /* deterministic via plan order of df */).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(1.0, 1.0, 1.0, 4.0, 4.0))
  }

  test("bfill carries the next observation backward") {
    val got = df.select(col("id"), Fill.bfill(col("v"), Seq.empty, Seq("id")).as("b"))
      .orderBy("id").collect().map(r => Option(r.get(1)))
    assert(got.toSeq == Seq(Some(1.0), Some(4.0), Some(4.0), Some(4.0), None))
  }

  test("interpolate is linear in the time axis with edge fallbacks") {
    val got = df.select(col("id"),
        Fill.interpolate(col("v"), col("t"), Seq.empty, Seq("id")).as("x"))
      .orderBy("id").collect().map(_.getDouble(1))
    assert(got.toSeq == Seq(1.0, 2.0, 3.0, 4.0, 4.0)) // 1 + (4-1)*(10-0)/(30-0) = 2.0 etc
  }

  test("duplicate timestamps around a null fall back to ffill, not NaN") {
    val dup = Seq((0L, 10.0, Some(1.0)), (1L, 10.0, Option.empty[Double]), (2L, 10.0, Some(4.0)))
      .toDF("id", "t", "v")
    val got = dup.select(Fill.interpolate(col("v"), col("t"), Seq.empty, Seq("id")).as("x"))
      .orderBy("x").collect().map(_.getDouble(0))
    assert(!got.exists(_.isNaN))
    assert(got.toSeq == Seq(1.0, 1.0, 4.0))
  }

  test("leading nulls fall back to bfill") {
    val lead = Seq((0L, 0.0, Option.empty[Double]), (1L, 10.0, Some(5.0)))
      .toDF("id", "t", "v")
    val got = lead.select(Fill.interpolate(col("v"), col("t"), Seq.empty, Seq("id")).as("x"))
      .collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(5.0, 5.0))
  }

  test("interpolateForward leaves leading nulls, interpolates interior, carries trailing") {
    // pandas interpolate(method='linear', limit_direction='forward'):
    // [nan, 1, nan, 3, nan] @ t=0,10,20,30,40 -> [nan, 1, 2, 3, 3]
    val s = Seq((0L, 0.0, Option.empty[Double]), (1L, 10.0, Some(1.0)),
      (2L, 20.0, Option.empty[Double]), (3L, 30.0, Some(3.0)), (4L, 40.0, Option.empty[Double]))
      .toDF("id", "t", "v")
    val got = s.select(col("id"),
        Fill.interpolateForward(col("v"), col("t"), Seq.empty, Seq("id")).as("x"))
      .orderBy("id").collect().map(r => Option(r.get(1)))
    assert(got.toSeq == Seq(None, Some(1.0), Some(2.0), Some(3.0), Some(3.0)))
  }

  test("fillMissing policy: ffill + >1-remaining backfill vs interpolate for avoided columns") {
    // reference fill_missing_values_in_df: instantaneous columns get
    // ffill (+ backfill only if >1 null remains); columns_to_avoid
    // (cumulative) get forward-only linear interpolation
    val s = Seq(
      // inst: 2 leading nulls -> ffill leaves 2 -> backfill kicks in
      // cum:  interior gap -> interpolated; leading null stays
      (0L, 0.0, Option.empty[Double], Option.empty[Double]),
      (1L, 10.0, Option.empty[Double], Some(10.0)),
      (2L, 20.0, Some(7.0), Option.empty[Double]),
      (3L, 30.0, Option.empty[Double], Some(30.0)),
      (4L, 40.0, Some(9.0), Some(40.0))
    ).toDF("id", "t", "inst", "cum")
    val got = Fill.fillMissing(s, Seq("inst", "cum"), Set("cum"), col("t"), Seq.empty, Seq("id"))
      .orderBy("id").collect()
      .map(r => (Option(r.get(r.fieldIndex("inst"))), Option(r.get(r.fieldIndex("cum")))))
    assert(got.toSeq == Seq(
      (Some(7.0), None),        // inst backfilled (2 > 1 remaining); cum leading null stays
      (Some(7.0), Some(10.0)),
      (Some(7.0), Some(20.0)),  // cum interpolated: 10 + (30-10)*(20-10)/(30-10)
      (Some(7.0), Some(30.0)),
      (Some(9.0), Some(40.0))))
  }

  test("fillMissing single residual leading null is left in place (reference >1 rule)") {
    val s = Seq(
      (0L, 0.0, Option.empty[Double]),
      (1L, 10.0, Some(5.0)),
      (2L, 20.0, Option.empty[Double])
    ).toDF("id", "t", "inst")
    val got = Fill.fillMissing(s, Seq("inst"), Set.empty, col("t"), Seq.empty, Seq("id"))
      .orderBy("id").collect().map(r => Option(r.get(r.fieldIndex("inst"))))
    // ffill -> [null, 5, 5]; exactly ONE null remains -> no backfill
    assert(got.toSeq == Seq(None, Some(5.0), Some(5.0)))
  }

  // ---- several series keys: every fill runs per key, never across keys

  // key 1: leading nulls; key 2: trailing nulls; key 3: all null;
  // key 4: one row; key 5: duplicate timestamps around a gap
  private lazy val keyed = Seq(
    (1, 0L, 0.0, Option.empty[Double]), (1, 1L, 10.0, None), (1, 2L, 20.0, Some(2.0)),
    (1, 3L, 30.0, Some(5.0)),
    (2, 4L, 0.0, Some(1.0)), (2, 5L, 10.0, Some(3.0)), (2, 6L, 20.0, None), (2, 7L, 30.0, None),
    (3, 8L, 0.0, None), (3, 9L, 10.0, None), (3, 10L, 20.0, None),
    (4, 11L, 5.0, Some(8.0)),
    (5, 12L, 0.0, Some(1.0)), (5, 13L, 10.0, Some(2.0)), (5, 14L, 10.0, None),
    (5, 15L, 10.0, Some(6.0)), (5, 16L, 20.0, None), (5, 17L, 30.0, Some(9.0))
  ).toDF("k", "id", "t", "v")

  private def keyedFill(f: (Column, Seq[String], Seq[String]) => Column): Seq[Option[Double]] =
    keyed.select(col("id"), f(col("v"), Seq("k"), Seq("t", "id")).as("x"))
      .orderBy("id").collect().map(r => Option(r.get(1)).map(_.asInstanceOf[Double])).toSeq

  test("keyed ffill / bfill stay inside each series") {
    assert(keyedFill(Fill.ffill) == Seq(
      None, None, Some(2.0), Some(5.0),
      Some(1.0), Some(3.0), Some(3.0), Some(3.0),
      None, None, None,
      Some(8.0),
      Some(1.0), Some(2.0), Some(2.0), Some(6.0), Some(6.0), Some(9.0)))
    assert(keyedFill(Fill.bfill) == Seq(
      Some(2.0), Some(2.0), Some(2.0), Some(5.0),
      Some(1.0), Some(3.0), None, None,
      None, None, None,
      Some(8.0),
      Some(1.0), Some(2.0), Some(6.0), Some(6.0), Some(9.0), Some(9.0)))
  }

  test("keyed interpolate: edges fall back per series, duplicate-ts gap carries forward") {
    assert(keyedFill(Fill.interpolate(_, col("t"), _, _)) == Seq(
      Some(2.0), Some(2.0), Some(2.0), Some(5.0),
      Some(1.0), Some(3.0), Some(3.0), Some(3.0),
      None, None, None,
      Some(8.0),
      // id 14 sits between two t=10 observations: slope 0/0 -> carry 2.0;
      // id 16 interpolates 6 + (9-6)*(20-10)/(30-10)
      Some(1.0), Some(2.0), Some(2.0), Some(6.0), Some(7.5), Some(9.0)))
  }

  test("keyed interpolateForward: leading nulls stay null in each series") {
    assert(keyedFill(Fill.interpolateForward(_, col("t"), _, _)) == Seq(
      None, None, Some(2.0), Some(5.0),
      Some(1.0), Some(3.0), Some(3.0), Some(3.0),
      None, None, None,
      Some(8.0),
      Some(1.0), Some(2.0), Some(2.0), Some(6.0), Some(7.5), Some(9.0)))
  }

  test("keyed fillMissing counts residual nulls per series") {
    val got = Fill.fillMissing(keyed, Seq("v"), Set.empty, col("t"), Seq("k"), Seq("t", "id"))
      .orderBy("id").collect().map(r => Option(r.get(r.fieldIndex("v")))).toSeq
    assert(got == Seq(
      Some(2.0), Some(2.0), Some(2.0), Some(5.0), // 2 residual nulls -> backfilled
      Some(1.0), Some(3.0), Some(3.0), Some(3.0),
      None, None, None,                           // nothing to backfill from
      Some(8.0),
      Some(1.0), Some(2.0), Some(2.0), Some(6.0), Some(6.0), Some(9.0)))
  }

  // ---- seeded randomized check against a plain-Scala reference of the
  // prev/next-non-null semantics

  private case class Obs(k: Int, id: Long, t: Double, v: Option[Double])

  /** Per key, in (t, id) order: each row's value after `fill(rows, i)`. */
  private def reference(rows: Seq[Obs])(fill: (IndexedSeq[Obs], Int) => Option[Double])
      : Map[Long, Option[Double]] =
    rows.groupBy(_.k).values.flatMap { g =>
      val s = g.sortBy(o => (o.t, o.id)).toIndexedSeq
      s.indices.map(i => s(i).id -> fill(s, i))
    }.toMap

  private def prevObs(s: IndexedSeq[Obs], i: Int) = (i - 1 to 0 by -1).map(s).find(_.v.isDefined)
  private def nextObs(s: IndexedSeq[Obs], i: Int) = (i + 1 until s.size).map(s).find(_.v.isDefined)
  private def ffillRef(s: IndexedSeq[Obs], i: Int) = s(i).v.orElse(prevObs(s, i).flatMap(_.v))
  private def bfillRef(s: IndexedSeq[Obs], i: Int) = s(i).v.orElse(nextObs(s, i).flatMap(_.v))

  private def linearRef(forwardOnly: Boolean)(s: IndexedSeq[Obs], i: Int): Option[Double] =
    (s(i).v, prevObs(s, i), nextObs(s, i)) match {
      case (Some(v), _, _) => Some(v)
      case (None, Some(p), Some(n)) if n.t != p.t =>
        Some(p.v.get + (n.v.get - p.v.get) * (s(i).t - p.t) / (n.t - p.t))
      case (None, Some(p), _) => p.v
      case (None, None, n) => if (forwardOnly) None else n.flatMap(_.v)
    }

  test("seeded random series: bfill, interpolate, interpolateForward, fillMissing match the reference") {
    for (seed <- Seq(7L, 42L, 2024L)) {
      val rnd = new scala.util.Random(seed)
      var nextId = 0L
      val rows = (1 to 12).flatMap { k =>
        val density = Seq(0.0, 0.2, 0.5, 0.8, 1.0)(rnd.nextInt(5))
        (0 until rnd.nextInt(25)).map { _ =>
          nextId += 1
          // a small time range forces duplicate timestamps
          val v = if (rnd.nextDouble() < density) None else Some(rnd.nextInt(1000) / 4.0)
          Obs(k, nextId, rnd.nextInt(40).toDouble, v)
        }
      }
      val df = rows.map(o => (o.k, o.id, o.t, o.v)).toDF("k", "id", "t", "v")
      val (key, order) = (Seq("k"), Seq("t", "id"))
      val got = df.select(col("id"),
          Fill.bfill(col("v"), key, order).as("b"),
          Fill.interpolate(col("v"), col("t"), key, order).as("i"),
          Fill.interpolateForward(col("v"), col("t"), key, order).as("f"))
        .collect().map(r => r.getLong(0) -> (1 to 3).map(j => Option(r.get(j)))).toMap
      def column(j: Int) = got.map { case (id, xs) => id -> xs(j).map(_.asInstanceOf[Double]) }
      assert(column(0) == reference(rows)(bfillRef), s"bfill, seed $seed")
      assert(column(1) == reference(rows)(linearRef(forwardOnly = false)), s"interpolate, seed $seed")
      assert(column(2) == reference(rows)(linearRef(forwardOnly = true)), s"interpolateForward, seed $seed")

      // fillMissing: "v" is instantaneous (ffill, backfill when >1 null
      // remains in the series), "c" (the same values) is cumulative
      val policy = Fill.fillMissing(df.withColumn("c", col("v")), Seq("v", "c"), Set("c"),
          col("t"), key, order)
        .collect().map(r => r.getLong(r.fieldIndex("id")) ->
          (Option(r.get(r.fieldIndex("v"))), Option(r.get(r.fieldIndex("c"))))).toMap
      val ffilled = reference(rows)(ffillRef)
      val remaining = rows.groupBy(_.k).map { case (k, g) => k -> g.count(o => ffilled(o.id).isEmpty) }
      val inst = reference(rows) { (s, i) =>
        ffilled(s(i).id).orElse(if (remaining(s(i).k) > 1) bfillRef(s, i) else None)
      }
      assert(policy.map { case (id, (v, _)) => id -> v } == inst, s"fillMissing inst, seed $seed")
      assert(policy.map { case (id, (_, c)) => id -> c } == reference(rows)(linearRef(forwardOnly = true)),
        s"fillMissing cum, seed $seed")
    }
  }
}
