package graft.perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded sheet contents. Every cell is a pure function of (seed, sheet,
  * row, column), so expected answers are computed here, independently of
  * the connector, and the same seed always yields the same sheets.
  */
object SheetData {

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rnd(seed: Long, sheet: Int, row: Int, col: Int): Long =
    mix(mix(mix(seed * 1000003L + sheet) + row) + col) >>> 1

  val Words: Array[String] = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa")

  /** Column kinds repeat every five columns: integer, two-decimal amount,
    * word, TRUE/FALSE, small integer. The first data row decides the
    * inferred type (DOUBLE, DOUBLE, STRING, BOOLEAN, DOUBLE). */
  def kind(col: Int): Int = col % 5

  def cell(seed: Long, sheet: Int, row: Int, col: Int): String = {
    val r = rnd(seed, sheet, row, col)
    kind(col) match {
      case 0 => (r % 1000000).toString
      case 1 => val cents = r % 10000000; s"${cents / 100}.${f"${cents % 100}%02d"}"
      case 2 => Words((r % Words.length).toInt) + (r >>> 20) % 100
      case 3 => if ((r & 1) == 0) "TRUE" else "FALSE"
      case _ => (r % 100).toString
    }
  }

  def header(cols: Int): Array[String] = Array.tabulate(cols)(c => s"c$c")

  /** Header row then `rows` data rows, generated lazily. */
  def grid(seed: Long, sheet: Int, rows: Int, cols: Int): Iterator[Array[String]] =
    Iterator.single(header(cols)) ++
      Iterator.range(0, rows).map(r => Array.tabulate(cols)(c => cell(seed, sheet, r, c)))

  /** The read workloads' aggregate: one SELECT list touching every
    * column, so the scan converts every cell, in an expression form the
    * connector does not push down. */
  def aggregateSql(cols: Int): Seq[String] =
    "count(*)" +: (0 until cols).map { c =>
      kind(c) match {
        case 0 | 4 => s"sum(cast(c$c as bigint))"
        case 1 => s"sum(cast(round(c$c * 100) as bigint))"
        case 2 => s"sum(length(c$c))"
        case _ => s"count_if(c$c)"
      }
    }

  /** Expected values of [[aggregateSql]], from the generator alone. */
  def expectedAggregate(seed: Long, sheet: Int, rows: Int, cols: Int): Seq[Long] = {
    val acc = new Array[Long](cols)
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        val v = cell(seed, sheet, r, c)
        acc(c) += (kind(c) match {
          case 0 | 4 => v.toLong
          case 1 => v.replace(".", "").toLong
          case 2 => v.length.toLong
          case _ => if (v == "TRUE") 1L else 0L
        })
        c += 1
      }
      r += 1
    }
    rows.toLong +: acc.toSeq
  }

  // ---- typed rows for the write workload -----------------------------

  val WriteSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("x", DoubleType),
    StructField("amount", DecimalType(12, 2)), StructField("day", DateType),
    StructField("ts", TimestampType), StructField("flag", BooleanType),
    StructField("label", StringType)))

  private val Epoch2020 = Instant.parse("2020-01-01T00:00:00Z").getEpochSecond
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Rows `first until first + n` of write batch `batch`. */
  def writeRows(seed: Long, batch: Int, first: Long, n: Int): Seq[Row] =
    (0 until n).map { i =>
      val id = first + i
      val r = rnd(seed, 1000 + batch, i, 0)
      val micros = (Epoch2020 + (r % 100000000L)) * 1000000L + (r >>> 40) % 1000000L
      Row(id,
        (r % 2000000).toDouble / 64.0 - 5000.0,
        JBigDecimal.valueOf(r % 100000000L, 2),
        LocalDate.ofEpochDay(18000 + r % 3000),
        Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L),
        (r & 4) == 0,
        Words((r % Words.length).toInt) + "-" + id)
    }

  /** The cell text the sheet should hold for a write row: Java renderings
    * of each value, timestamps as UTC `yyyy-MM-dd HH:mm:ss[.ffffff]` with
    * trailing zeros of the fraction dropped. */
  def expectedCells(row: Row): Vector[String] = {
    val ts = row.getAs[Instant](4)
    val ldt = LocalDateTime.ofEpochSecond(ts.getEpochSecond, ts.getNano, ZoneOffset.UTC)
    val micros = ts.getNano / 1000
    val frac = if (micros == 0) "" else "." + f"$micros%06d".replaceAll("0+$", "")
    Vector(row.getLong(0).toString, row.getDouble(1).toString,
      row.getAs[JBigDecimal](2).toPlainString, row.getAs[LocalDate](3).toString,
      ldt.format(TsFormat) + frac, row.getBoolean(5).toString, row.getString(6))
  }
}
