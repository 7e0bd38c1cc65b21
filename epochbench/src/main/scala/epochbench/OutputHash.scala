package epochbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Order-sensitive hash of a DataFrame's full output, computed by running
  * its already-planned physical plan: the same work as a `noop` write (all
  * columns, the final ORDER BY kept), with each row hashed instead of
  * dropped.
  *
  * A row is rendered canonically (columns sorted by name; numbers as the
  * bits of their double value, so an integer and a double of one value
  * agree; strings verbatim; nulls as `n`), hashed with SHA-256 and folded
  * into a polynomial hash modulo 2^61 − 1. Partitions fold in order, which
  * is the output order. `oracle.py` renders DuckDB rows the same way.
  */
object OutputHash {
  private val M = (1L << 61) - 1
  private val Base = 1000003L

  private def mulMod(a: Long, b: Long): Long = {
    val lo = a * b
    val hi = Math.multiplyHigh(a, b)
    var x = (lo & M) + ((lo >>> 61) | (hi << 3))
    x = (x & M) + (x >>> 61)
    if (x >= M) x - M else x
  }

  private def addMod(a: Long, b: Long): Long = { val x = a + b; if (x >= M) x - M else x }

  private def powMod(b: Long, e: Long): Long = {
    var result = 1L
    var base = b
    var k = e
    while (k > 0) {
      if ((k & 1) == 1) result = mulMod(result, base)
      base = mulMod(base, base)
      k >>= 1
    }
    result
  }

  private def number(sb: java.lang.StringBuilder, d: Double): Unit =
    sb.append('d').append(java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)))

  private def cell(sb: java.lang.StringBuilder, row: InternalRow, i: Int, t: DataType): Unit =
    if (row.isNullAt(i)) sb.append('n')
    else t match {
      case ByteType => number(sb, row.getByte(i).toDouble)
      case ShortType => number(sb, row.getShort(i).toDouble)
      case IntegerType => number(sb, row.getInt(i).toDouble)
      case LongType => number(sb, row.getLong(i).toDouble)
      case FloatType => number(sb, row.getFloat(i).toDouble)
      case DoubleType => number(sb, row.getDouble(i))
      case d: DecimalType => number(sb, row.getDecimal(i, d.precision, d.scale).toDouble)
      case StringType => sb.append('s').append(row.getUTF8String(i).toString)
      case BooleanType => sb.append(if (row.getBoolean(i)) "b1" else "b0")
      case other => throw new UnsupportedOperationException(s"no canonical form for $other")
    }

  /** (hash, rows) of one partition. */
  private def partition(it: Iterator[InternalRow], order: Array[Int], types: Array[DataType]): (Long, Long) = {
    val md = MessageDigest.getInstance("SHA-256")
    val sb = new java.lang.StringBuilder(256)
    var h = 0L
    var n = 0L
    while (it.hasNext) {
      val row = it.next()
      sb.setLength(0)
      var k = 0
      while (k < order.length) {
        if (k > 0) sb.append('\u001f')
        cell(sb, row, order(k), types(order(k)))
        k += 1
      }
      val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (d(j) & 0xff); j += 1 }
      h = addMod(mulMod(h, Base), (v & M) % M)
      n += 1
    }
    (h, n)
  }

  /** `<hash>:<rows>` of the frame's output. Runs the plan that building
    * the frame already produced, so planning is not repeated here.
    */
  def of(df: DataFrame): String = {
    val qe = df.queryExecution
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => fields(i).name).toArray
    val types = fields.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some("epochbench output hash")) {
      qe.executedPlan.execute().mapPartitions(it => Iterator.single(partition(it, order, types))).collect()
    }
    val (h, n) = parts.foldLeft((0L, 0L)) { case ((acc, rows), (ph, pn)) =>
      (addMod(mulMod(acc, powMod(Base, pn)), ph), rows + pn)
    }
    f"$h%016x:$n"
  }
}
