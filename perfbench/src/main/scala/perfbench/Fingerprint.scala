package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: row count plus the sum,
  * modulo 2^64, of one 64-bit hash per row. Columns are taken in name
  * order and every value is written in an engine-neutral form, so DuckDB
  * results hashed by `fingerprint.py` give the same value. Keep the two in
  * lockstep:
  *
  *  - null `N`; boolean `B1`/`B0`; any integer `I<decimal>`;
  *    float and double `F<16 hex digits of the IEEE-754 double bits>`
  *    (NaN canonical); decimal `D<plain string without trailing zeros>`;
  *    string `S<text>`; date `d<yyyy-mm-dd>`; timestamp `t<epoch µs>`;
  *    binary `X<hex>`; array `[` elements; struct `{` fields; map `M` of
  *    entries sorted by their encoded key.
  *  - every encoded value is framed as `<utf-8 byte length>:<bytes>`.
  *  - row hash = first 8 bytes (big-endian) of SHA-256 over the framed
  *    values; the header hash covers the sorted column names.
  */
object Fingerprint {

  final case class Fp(rows: Long, hash: String, columns: Seq[String])

  def of(schema: StructType, rows: Array[Row]): Fp = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name).toIndexedSeq
    var sum = 0L
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val sb = new java.lang.StringBuilder
      order.foreach { case (f, i) => frame(sb, encode(f.dataType, if (r.isNullAt(i)) null else r.get(i))) }
      sum += head64(md.digest(sb.toString.getBytes(UTF_8)))
    }
    Fp(rows.length.toLong, f"$sum%016x", order.map(_._1.name))
  }

  private def head64(d: Array[Byte]): Long =
    (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))

  private def frame(sb: java.lang.StringBuilder, s: String): Unit =
    sb.append(s.getBytes(UTF_8).length).append(':').append(s)

  private def framed(parts: Iterable[String]): String = {
    val sb = new java.lang.StringBuilder
    parts.foreach(frame(sb, _))
    sb.toString
  }

  def encode(t: DataType, v: Any): String = if (v == null) "N" else t match {
    case BooleanType => if (v.asInstanceOf[Boolean]) "B1" else "B0"
    case ByteType | ShortType | IntegerType | LongType => "I" + v.toString
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case DoubleType => dbl(v.asInstanceOf[Double])
    case _: DecimalType =>
      val d = v.asInstanceOf[java.math.BigDecimal]
      "D" + (if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)
    case StringType | _: CharType | _: VarcharType => "S" + v.toString
    case DateType => "d" + (v match {
      case d: java.sql.Date => d.toLocalDate.toString
      case d: java.time.LocalDate => d.toString
    })
    case TimestampType | TimestampNTZType => "t" + (v match {
      case ts: java.sql.Timestamp => Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
      case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
      case l: java.time.LocalDateTime =>
        val i = l.toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond * 1000000L + i.getNano / 1000
    })
    case BinaryType => "X" + v.asInstanceOf[Array[Byte]].map(b => f"$b%02x").mkString
    case ArrayType(et, _) => "[" + framed(v.asInstanceOf[scala.collection.Seq[Any]].map(encode(et, _)))
    case st: StructType =>
      val r = v.asInstanceOf[Row]
      "{" + framed(st.fields.indices.map(i => encode(st.fields(i).dataType, if (r.isNullAt(i)) null else r.get(i))))
    case MapType(kt, vt, _) =>
      val kv = v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
        .map { case (k, x) => (encode(kt, k), encode(vt, x)) }.sortBy(_._1)
      "M" + framed(kv.flatMap { case (k, x) => Seq(k, x) })
    case other => "S" + v.toString + "#" + other.simpleString
  }

  private def dbl(d: Double): String =
    "F" + f"${java.lang.Double.doubleToLongBits(d)}%016x"
}

/** Prints the fingerprint of a parquet file as JSON; the benchmark's tests
  * compare it with `fingerprint.py` on the same file.
  */
object FingerprintFile {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val df = spark.read.parquet(args(0))
      val fp = Fingerprint.of(df.schema, df.collect())
      println(Json(Map("rows" -> fp.rows, "hash" -> fp.hash, "columns" -> fp.columns)))
    } finally spark.stop()
  }
}
