package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row

/** Output checks against oracle results computed by DuckDB (see
  * `perfbench/oracle.py`). Both sides are brought to one canonical form and
  * compared exactly, as the repository's own `tools/check.py` does: columns
  * sorted by name, rows in the query's total order, doubles compared bit for
  * bit (NaN equal to NaN), integers by value whatever their width.
  */
object Check {

  /** Canonical value of a Spark result cell. */
  def canon(v: Any): Any = v match {
    case null => null
    case b: Boolean => b
    case n: Byte => BigInt(n.toLong)
    case n: Short => BigInt(n.toLong)
    case n: Int => BigInt(n.toLong)
    case n: Long => BigInt(n)
    case f: Float => f.toDouble
    case d: Double => d
    case d: java.math.BigDecimal => d.stripTrailingZeros
    case s: String => s
    case r: Row => r.toSeq.map(canon).toList
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case other => sys.error(s"no canonical form for ${other.getClass.getName}")
  }

  /** Canonical value of one oracle cell, encoded by `oracle.py` as
    * `[tag, payload]`.
    */
  def fromJson(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else n.get(0).asText match {
      case "b" => n.get(1).asBoolean
      case "i" => BigInt(n.get(1).asText)
      case "d" => java.lang.Double.parseDouble(n.get(1).asText)
      case "x" => new java.math.BigDecimal(n.get(1).asText).stripTrailingZeros
      case "s" => n.get(1).asText
      case "l" => n.get(1).elements().asScala.map(fromJson).toList
      case t => sys.error(s"unknown oracle cell tag $t")
    }

  final case class Expected(columns: Seq[String], rows: Seq[List[Any]])

  def expected(file: File): Expected = {
    val root = Json.mapper.readTree(file)
    val cols = root.get("columns").elements().asScala.map(_.asText).toSeq
    val order = cols.indices.sortBy(cols(_))
    val rows = root.get("rows").elements().asScala.map { r =>
      val cells = r.elements().asScala.map(fromJson).toIndexedSeq
      order.map(cells).toList
    }.toSeq
    Expected(order.map(cols), rows)
  }

  /** `None` when `rows` (with `columns`) equals the oracle result. */
  def compare(columns: Seq[String], rows: Array[Row], want: Expected): Option[String] = {
    val order = columns.indices.sortBy(columns(_))
    val names = order.map(columns)
    if (names != want.columns)
      return Some(s"columns ${names.mkString(",")} vs ${want.columns.mkString(",")}")
    if (rows.length != want.rows.size)
      return Some(s"rows ${rows.length} vs ${want.rows.size}")
    var i = 0
    while (i < rows.length) {
      val got = order.map(j => canon(rows(i).get(j))).toList
      if (got != want.rows(i))
        return Some(s"row $i: got $got, want ${want.rows(i)}")
      i += 1
    }
    None
  }

  /** Rows of the flagship CSV export: the single part file must open with
    * the UTF-8 BOM and the reference's header; fields follow Spark's CSV
    * writer (quote `"`, escape `\`, null as an empty unquoted field).
    */
  def readCsv(dir: File): Either[String, Seq[List[String]]] = {
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    if (parts.length != 1) return Left(s"${parts.length} CSV part files in $dir")
    val bytes = Files.readAllBytes(parts.head.toPath)
    if (bytes.length < 3 || bytes(0) != 0xEF.toByte || bytes(1) != 0xBB.toByte ||
        bytes(2) != 0xBF.toByte)
      return Left("CSV does not start with the UTF-8 BOM")
    val text = new String(bytes, 3, bytes.length - 3, StandardCharsets.UTF_8)
    val settings = new com.univocity.parsers.csv.CsvParserSettings()
    settings.getFormat.setQuote('"')
    settings.getFormat.setQuoteEscape('\\')
    settings.getFormat.setLineSeparator("\n")
    settings.setNullValue(null)
    settings.setEmptyValue("")
    settings.setMaxCharsPerColumn(-1)
    val parsed = new com.univocity.parsers.csv.CsvParser(settings)
      .parseAll(new java.io.StringReader(text)).asScala.map(_.toList).toSeq
    val header = List("city", "location", "parameter", "value", "unit", "date")
    if (parsed.isEmpty || parsed.head != header)
      return Left(s"CSV header ${parsed.headOption} is not $header")
    Right(parsed.tail)
  }

  private val rowOrder: Ordering[List[String]] =
    Ordering.Iterable(Ordering.Option(Ordering.String)).on(_.map(Option(_)))

  /** Flagship rows compared as a sorted multiset: the pipeline orders its
    * output by (city, location, parameter, value, date), so rows equal on
    * that key may appear in either order.
    */
  def compareCsv(got: Seq[List[String]], want: Seq[List[String]]): Option[String] = {
    if (got.size != want.size) {
      val extra = got.diff(want).take(3).mkString("; ")
      val missing = want.diff(got).take(3).mkString("; ")
      return Some(s"rows ${got.size} vs ${want.size}; only in output: $extra; " +
        s"only in oracle: $missing")
    }
    val g = got.sorted(rowOrder)
    val w = want.sorted(rowOrder)
    g.zip(w).zipWithIndex.collectFirst {
      case ((a, b), i) if a != b => s"sorted row $i: got $a, want $b"
    }
  }
}
