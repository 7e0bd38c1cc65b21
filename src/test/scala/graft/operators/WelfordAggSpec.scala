package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

class WelfordAggSpec extends SparkSpec {
  import spark.implicits._

  test("typed one-pass stats match avg/var_pop/min/max on real data") {
    val values = Tables.events(spark, sf).select(col("value")).as[Double]
    val got = values.select(WelfordAgg.stats).head()
    val want = Tables.events(spark, sf)
      .agg(count(lit(1)), avg("value"), var_pop("value"), min("value"), max("value")).head()
    assert(got.n == want.getLong(0))
    assert(math.abs(got.mean - want.getDouble(1)) < 1e-9)
    assert(math.abs(got.varPop - want.getDouble(2)) < 1e-6)
    assert(got.min == want.getDouble(3) && got.max == want.getDouble(4))
  }

  test("merge is associative-enough: sharded merge equals single pass") {
    val xs = (1 to 1000).map(i => math.sin(i) * 100)
    val whole = xs.foldLeft(WelfordAgg.zero)(WelfordAgg.update)
    val shards = xs.grouped(137).map(_.foldLeft(WelfordAgg.zero)(WelfordAgg.update))
    val merged = shards.foldLeft(WelfordAgg.zero)(WelfordAgg.merge)
    assert(math.abs(WelfordAgg.finish(whole).varPop - WelfordAgg.finish(merged).varPop) < 1e-9)
    assert(whole.n == merged.n)
  }

  test("empty input yields NaN stats, zero count") {
    val st = WelfordAgg.finish(WelfordAgg.zero)
    assert(st.n == 0 && st.mean.isNaN)
  }
}
