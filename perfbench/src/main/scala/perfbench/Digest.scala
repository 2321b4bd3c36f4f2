package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: the sorted column names, the
  * row count, and the sum modulo 2^64 of one MD5-derived 64-bit hash
  * per row. Row order and partitioning do not change it; a changed,
  * missing or extra row does. `digest.py` computes the same encoding
  * over DuckDB rows, which is where the expected digests come from.
  *
  * Computing it is the op's action: every column of every row is
  * materialized and hashed, in the op's own physical plan. */
object Digest {
  final case class Value(columns: Seq[String], rows: Long, sum: Long) {
    def hex: String = f"$sum%016x"
  }

  def of(df: DataFrame): Value = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val idx = fields.map(_._2)
    val types = fields.map(_._1.dataType)
    val (n, sum) = df.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(partition(it, idx, types)))
      .collect()
      .foldLeft((0L, 0L)) { case ((n0, s0), (n1, s1)) => (n0 + n1, s0 + s1) }
    Value(fields.map(_._1.name).toSeq, n, sum)
  }

  private def partition(it: Iterator[InternalRow], idx: Array[Int],
      types: Array[DataType]): (Long, Long) = {
    val md5 = MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = 0L
    while (it.hasNext) {
      val row = it.next()
      var i = 0
      while (i < idx.length) {
        md5.update(encode(row, idx(i), types(i)))
        i += 1
      }
      sum += ByteBuffer.wrap(md5.digest()).getLong
      n += 1
    }
    (n, sum)
  }

  /** One value's canonical bytes: a type tag, the payload, and a `;`.
    * Strings and binaries carry their byte length, so no payload can
    * run into the next value. */
  private def encode(row: InternalRow, i: Int, t: DataType): Array[Byte] = {
    val s: String =
      if (row.isNullAt(i)) "N"
      else t match {
        case BooleanType => if (row.getBoolean(i)) "B1" else "B0"
        case ByteType => "I" + row.getByte(i)
        case ShortType => "I" + row.getShort(i)
        case IntegerType => "I" + row.getInt(i)
        case LongType => "I" + row.getLong(i)
        case FloatType => float(row.getFloat(i).toDouble)
        case DoubleType => float(row.getDouble(i))
        case d: DecimalType =>
          float(row.getDecimal(i, d.precision, d.scale).toBigDecimal.toDouble)
        case StringType =>
          val b = row.getUTF8String(i).getBytes
          return ("S" + b.length + ":").getBytes(UTF_8) ++ b ++ Array(';'.toByte)
        case BinaryType =>
          val b = row.getBinary(i)
          return ("X" + b.length + ":").getBytes(UTF_8) ++ b ++ Array(';'.toByte)
        case DateType => "D" + row.getInt(i)
        case TimestampType | TimestampNTZType => "T" + row.getLong(i)
        case other => throw new IllegalArgumentException(
          s"no canonical encoding for a $other column")
      }
    (s + ";").getBytes(UTF_8)
  }

  /** IEEE bits, with -0.0 folded into 0.0 and one NaN. */
  private def float(d: Double): String = {
    val v = if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    "F" + java.lang.Double.doubleToLongBits(v)
  }
}
