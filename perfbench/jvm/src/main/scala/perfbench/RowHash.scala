package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Order-independent hash of a result set, computed in the same pass that
  * forces it (`queryExecution.toRdd`), so checking a result costs no extra
  * Spark job.
  *
  * Each row becomes a canonical string — columns joined by `|`, NULL as `N`,
  * integers in decimal, doubles as `round(x * 1e6)` (half away from zero),
  * strings verbatim — whose md5's first 8 bytes are summed modulo 2^64.
  * `oracle.py` computes the identical digest over DuckDB results. */
final case class RowHash(rows: Long, sum: Long) {
  def hex: String = f"$rows:${java.lang.Long.toUnsignedString(sum)}"
}

object RowHash {

  /** Canonical string of one row under `schema`. */
  def canonical(row: InternalRow, schema: StructType): String = {
    val b = new java.lang.StringBuilder(64)
    var i = 0
    while (i < schema.length) {
      if (i > 0) b.append('|')
      if (row.isNullAt(i)) b.append('N')
      else schema(i).dataType match {
        case LongType => b.append(row.getLong(i))
        case IntegerType => b.append(row.getInt(i))
        case ShortType => b.append(row.getShort(i))
        case ByteType => b.append(row.getByte(i))
        case DoubleType => b.append(roundMicro(row.getDouble(i)))
        case FloatType => b.append(roundMicro(row.getFloat(i).toDouble))
        case StringType => b.append(row.getUTF8String(i).toString)
        case BooleanType => b.append(if (row.getBoolean(i)) "true" else "false")
        case other => throw new IllegalArgumentException(
          s"no canonical form for column ${schema(i).name}: $other")
      }
      i += 1
    }
    b.toString
  }

  private def roundMicro(x: Double): Long =
    new java.math.BigDecimal(x * 1e6).setScale(0, java.math.RoundingMode.HALF_UP)
      .longValueExact()

  def digest(s: String, md: MessageDigest): Long = {
    val d = md.digest(s.getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Force `df` (every row, every column) and return its hash. */
  def force(df: DataFrame): RowHash = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var s = 0L
      it.foreach { r => s += digest(canonical(r, schema), md); n += 1 }
      Iterator.single((n, s))
    }.collect()
    RowHash(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
