package graft.operators

import org.apache.spark.sql.{Encoder, Encoders, TypedColumn}
import org.apache.spark.sql.expressions.Aggregator

/** Typed one-pass (count, mean, M2, min, max) aggregator with Welford /
  * Chan parallel merge — the streaming-friendly "adapt" primitive
  * (SURVEY §7.3 optional): numerically stable partial aggregation that
  * merges across partitions and micro-batches, usable with
  * `Dataset.select(WelfordAgg.stats)` or `KeyValueGroupedDataset.agg`.
  *
  * The built-in `avg`/`var_pop` pair already partial-aggregates (and
  * backs FeatureSpace.adapt); this exists for the typed-API surface and
  * for stateful streaming adapt where an explicit mergeable buffer is
  * the contract.
  */
object WelfordAgg {

  case class Buf(n: Long, mean: Double, m2: Double, min: Double, max: Double)
  case class Stats(n: Long, mean: Double, varPop: Double, min: Double, max: Double)

  val zero: Buf = Buf(0L, 0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity)

  def update(b: Buf, x: Double): Buf = {
    val n = b.n + 1
    val d = x - b.mean
    val mean = b.mean + d / n
    val m2 = b.m2 + d * (x - mean)
    Buf(n, mean, m2, math.min(b.min, x), math.max(b.max, x))
  }

  /** Chan et al. parallel merge of two partial states. */
  def merge(a: Buf, b: Buf): Buf =
    if (a.n == 0) b
    else if (b.n == 0) a
    else {
      val n = a.n + b.n
      val d = b.mean - a.mean
      val mean = a.mean + d * b.n / n
      val m2 = a.m2 + b.m2 + d * d * a.n * b.n / n
      Buf(n, mean, m2, math.min(a.min, b.min), math.max(a.max, b.max))
    }

  def finish(b: Buf): Stats =
    if (b.n == 0) Stats(0, Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    else Stats(b.n, b.mean, b.m2 / b.n, b.min, b.max)

  val aggregator: Aggregator[Double, Buf, Stats] = new Aggregator[Double, Buf, Stats] {
    override def zero: Buf = WelfordAgg.zero
    override def reduce(b: Buf, x: Double): Buf = update(b, x)
    override def merge(a: Buf, b: Buf): Buf = WelfordAgg.merge(a, b)
    override def finish(b: Buf): Stats = WelfordAgg.finish(b)
    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Stats] = Encoders.product[Stats]
  }

  /** Typed column for `Dataset[Double].select(...)` / typed agg. */
  def stats: TypedColumn[Double, Stats] = aggregator.toColumn
}
