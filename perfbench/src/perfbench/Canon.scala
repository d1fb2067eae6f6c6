package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-free digest of a query result, identical to `canon.py`.
  *
  * Columns are taken by name (sorted), every value becomes a token,
  * each row is hashed and the sorted row hashes are hashed again with
  * the column header. Floats and decimals are rounded half-even to six
  * decimals of their exact binary value, the rule Python's `decimal`
  * module applies too, so both sides print the same text. Dates and
  * timestamps become epoch microseconds (a date at UTC midnight), as
  * the pandas comparison in tools/compare.py equates them.
  */
object Canon {

  def digest(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(schema.fieldNames(_)).mkString(",")
    val rowHashes = rows.map { r =>
      sha256(order.map(i => token(r.get(i))).mkString("\u001f"))
    }.sorted
    sha256(header + "\n" + rowHashes.mkString("\n"))
  }

  /** `name:type` pairs in column-name order: the check for queries
    * that have no oracle.
    */
  def schemaString(schema: StructType): String =
    schema.fields.sortBy(_.name).map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")

  def token(v: Any): String = v match {
    case null                     => "\\N"
    case b: Boolean               => if (b) "true" else "false"
    case x: Byte                  => x.toString
    case x: Short                 => x.toString
    case x: Int                   => x.toString
    case x: Long                  => x.toString
    case x: Float                 => number(x.toDouble)
    case x: Double                => number(x)
    case x: JBigDecimal           => number(x.doubleValue)
    case x: scala.math.BigDecimal => number(x.toDouble)
    case s: String                => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: java.sql.Date         => token(d.toLocalDate)
    case d: LocalDate             => micros(d.atStartOfDay.toInstant(ZoneOffset.UTC)).toString
    case t: java.sql.Timestamp    => micros(t.toInstant).toString
    case t: Instant               => micros(t).toString
    case t: LocalDateTime         => micros(t.toInstant(ZoneOffset.UTC)).toString
    case b: Array[Byte]           => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row                   => r.toSeq.map(token).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => token(k) + ":" + token(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(token).mkString("[", ",", "]")
    case other                    => other.toString
  }

  def number(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).toPlainString

  private def micros(i: Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(x => f"${x & 0xff}%02x").mkString
}
