package epochbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded generator for the reference's smart-meter CSV shape, plus the
  * values a correct pipeline must produce on it, computed in plain Scala
  * from the same row function. Every cell is a pure function of (seed, row,
  * column), so the expectation needs no second read of the file.
  */
object Generate {

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1) for (seed, row, column). */
  def unit(seed: Long, row: Long, column: Int): Double =
    (mix(mix(seed) ^ mix(row * 16 + column)) >>> 11) * (1.0 / (1L << 53))

  private def wave(t: Long, period: Long): Double = math.sin(2 * math.Pi * (t % period) / period)

  private def writeLines(path: String, header: String, n: Long)(line: (Long, java.lang.StringBuilder) => Unit): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.US_ASCII), 1 << 20)
    try {
      out.write(header)
      out.write('\n')
      val sb = new java.lang.StringBuilder(128)
      var i = 0L
      while (i < n) {
        sb.setLength(0)
        line(i, sb)
        sb.append('\n')
        out.append(sb)
        i += 1
      }
    } finally out.close()
  }

  /** What a correct run of the pipeline on a generated file yields. */
  final case class Expected(resampledRows: Long, adapt: Map[String, (Double, Double)],
                            splits: Map[String, SplitCount])

  /** Windows and full batches of one split. */
  final case class SplitCount(windows: Long, batches: Long)

  /** Windows and batches per split for `n` resampled rows: sequential
    * prefix split, windows of `window` rows with shift 1, batches of
    * `batch` windows, remainders dropped.
    */
  def splitCounts(n: Long, fractions: (Double, Double, Double), window: Int, batch: Int): Map[String, SplitCount] = {
    val train = math.floor(n * fractions._1).toLong
    val test = math.floor(n * fractions._2).toLong
    Map("train" -> train, "test" -> test, "eval" -> (n - train - test)).map { case (k, rows) =>
      val windows = math.max(0L, rows - window + 1)
      k -> SplitCount(windows, windows / batch)
    }
  }

  /** Population mean and variance of weighted values. */
  def meanVar(values: Iterator[(Double, Long)]): (Double, Double) = {
    val vs = values.toArray
    val n = vs.map(_._2).sum.toDouble
    val mean = vs.map { case (v, w) => v * w }.sum / n
    val m2 = vs.map { case (v, w) => (v - mean) * (v - mean) * w }.sum
    (mean, m2 / n)
  }

  /** A2 smart-meter loads: half-hourly date and time strings plus three
    * per-home float loads.
    */
  object Meter {
    val Columns: Seq[String] = Seq("Load_residential_single_0", "Load_residential_single_1",
      "Load_residential_single_2")
    val IntervalS = 1800L
    private val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
    private val timeFmt = DateTimeFormatter.ofPattern("HH:mm:ss")

    def start(seed: Long): Long = 1262304000L + java.lang.Math.floorMod(mix(seed), 3650L) * 86400L

    def values(seed: Long, i: Long): Array[Float] = {
      val t = start(seed) + i * IntervalS
      Columns.indices.map { c =>
        val evening = 0.5 + 0.5 * wave(t - 3600L * (12 + c), 86400)
        (0.2 + 0.3 * c + 1.1 * evening + 0.3 * unit(seed, i, c)).toFloat
      }.toArray
    }

    def write(path: String, seed: Long, rows: Long): Unit = {
      val t0 = start(seed)
      writeLines(path, ("date_block" +: "time_block" +: Columns).mkString(","), rows) { (i, sb) =>
        val dt = LocalDateTime.ofEpochSecond(t0 + i * IntervalS, 0, ZoneOffset.UTC)
        sb.append(dateFmt.format(dt)).append(',').append(timeFmt.format(dt))
        values(seed, i).foreach(v => sb.append(',').append(v))
      }
    }

    /** Every source row repeats `IntervalS / interval` times on the
      * upsampled grid, so the adapt prefix is whole source rows plus a
      * partial one.
      */
    def expected(seed: Long, rows: Long, interval: Long, adaptRows: Long,
                 fractions: (Double, Double, Double), window: Int, batch: Int): Expected = {
      val rep = IntervalS / interval
      val n = rows * rep
      val take = math.min(adaptRows, n)
      val whole = take / rep
      val weights = (0L until whole).iterator.map(_ -> rep) ++
        (if (take % rep > 0) Iterator(whole -> take % rep) else Iterator.empty)
      val weighted = weights.map { case (i, w) => (values(seed, i), w) }.toArray
      val adapt = Columns.indices.map { c =>
        Columns(c) -> meanVar(weighted.iterator.map { case (v, w) => (v(c).toDouble, w) })
      }.toMap
      Expected(n, adapt, splitCounts(n, fractions, window, batch))
    }
  }
}
