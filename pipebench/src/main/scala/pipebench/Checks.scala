package pipebench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.json4s._

/** Output checks shared by the workloads. */
object Checks {

  /** Order-independent checksum of a frame: row count and the sum of
    * per-row xxhash64 over every column (sorted by name), summed as a
    * decimal so no row count can overflow it. */
  def checksum(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(20,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** A result value as JSON: numbers keep their integer/float kind, a
    * non-finite float is a string, anything else its string form. */
  def toJson(v: Any): JValue = v match {
    case null => JNull
    case d: Double => if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
    case f: Float => toJson(f.toDouble)
    case i: Int => JInt(i)
    case l: Long => JInt(l)
    case s: Short => JInt(s.toInt)
    case b: Byte => JInt(b.toInt)
    case b: Boolean => JBool(b)
    case s: String => JString(s)
    case d: java.math.BigDecimal => JString(d.toPlainString)
    case other => JString(other.toString)
  }

  /** `tools/check_oracle.py`'s rule: an integer never equals a float;
    * floats agree within 1e-9 relative; everything else exactly. */
  def valuesEqual(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JNull, JNull) => true
    case (JDouble(x), JDouble(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (JInt(x), JInt(y)) => x == y
    case _ => a == b
  }

  /** Columns sorted by name, rows in result order — the normalization
    * the oracle check applies before comparing. */
  final case class Table(columns: Seq[String], rows: Seq[Seq[JValue]])

  def table(columns: Seq[String], rows: Seq[Row]): Table = {
    val order = columns.zipWithIndex.sortBy(_._1)
    Table(order.map(_._1), rows.map(r => order.map { case (_, i) => toJson(r.get(i)) }))
  }

  /** None when `actual` matches `expected`, else the first difference. */
  def compare(actual: Table, expected: Table): Option[String] =
    if (actual.columns != expected.columns)
      Some(s"columns ${actual.columns} vs ${expected.columns}")
    else if (actual.rows.size != expected.rows.size)
      Some(s"rows ${actual.rows.size} vs ${expected.rows.size}")
    else actual.rows.zip(expected.rows).zipWithIndex.collectFirst {
      case ((ra, re), i) if !ra.zip(re).forall { case (x, y) => valuesEqual(x, y) } =>
        s"row $i: ${ra.map(jsonText)} vs ${re.map(jsonText)}"
    }

  def jsonText(v: JValue): String = org.json4s.jackson.JsonMethods.compact(v)

  def tableJson(t: Table): JValue =
    JObject("columns" -> JArray(t.columns.map(JString(_)).toList),
      "rows" -> JArray(t.rows.map(r => JArray(r.toList)).toList))

  def tableFromJson(v: JValue): Table = {
    val JArray(cols) = v \ "columns": @unchecked
    val JArray(rows) = v \ "rows": @unchecked
    Table(cols.collect { case JString(s) => s },
      rows.map { case JArray(vs) => vs; case other => sys.error(s"bad golden row $other") })
  }
}
