package graft.gsheets

import org.apache.spark.sql.SparkSession

/** Canned Sheets API payloads mirroring /root/repo/FIXTURES.md (derived
  * from the reference's shared live test spreadsheet) + a shared local
  * SparkSession for connector e2e suites.
  */
object Fixtures {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("gsheets-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS); Tables.events requires
      // this at session build (it no longer self-sets it).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Recursive temp-dir cleanup that CLOSES the walk stream (the
    * ADVICE-r12 handle-leak fix, extracted once after the same 5-line
    * block accreted in three suites and the fix had to chase each
    * copy). */
  def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { st =>
      st.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** `x` printed with every non-ASCII char as `\uXXXX`, for failure
    * messages about text that may hold an unpaired surrogate: the XML
    * test report cannot encode one, and the report writer then fails.
    */
  def ascii(x: Any): String =
    String.valueOf(x).flatMap(c => if (c < 0x80) c.toString else f"\\u${c.toInt}%04x")

  val SpreadsheetId = "11QdEasMWbETbFVxry-SsD8jVcdYIT1zBQszcF84MdE8"

  /** Metadata with the sheets the reference SQL tests exercise. */
  val metadataJson: String = s"""{
    "spreadsheetId": "$SpreadsheetId",
    "properties": {"title": "duckdb-gsheets-test", "locale": "en_US", "timeZone": "UTC"},
    "sheets": [
      {"properties": {"sheetId": 0, "title": "Sheet1", "index": 0, "sheetType": "GRID"}},
      {"properties": {"sheetId": 1, "title": "Sheet2", "index": 1, "sheetType": "GRID"}},
      {"properties": {"sheetId": 732080485, "title": "Issue34", "index": 2, "sheetType": "GRID"}},
      {"properties": {"sheetId": 1746330494, "title": "Issue47a", "index": 3, "sheetType": "GRID"}},
      {"properties": {"sheetId": 1961167280, "title": "Issue47b", "index": 4, "sheetType": "GRID"}},
      {"properties": {"sheetId": 1108445818, "title": "Issue47c", "index": 5, "sheetType": "GRID"}},
      {"properties": {"sheetId": 62001, "title": "62-header_only", "index": 6, "sheetType": "GRID"}},
      {"properties": {"sheetId": 62002, "title": "62-empty", "index": 7, "sheetType": "GRID"}},
      {"properties": {"sheetId": 9001, "title": "Sheet1!", "index": 8, "sheetType": "GRID"}},
      {"properties": {"sheetId": 341836654, "title": "write_fixture", "index": 9, "sheetType": "GRID"}}
    ]
  }"""

  private def vr(range: String, rows: Seq[Seq[String]]): String = {
    val values = rows.map(_.map(c =>
      "\"" + c.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""{"range":"$range","majorDimension":"ROWS","values":$values}"""
  }

  /** People sheet: ragged rows, blanks → NULL (FIXTURES.md §1). */
  val sheet1Rows: Seq[Seq[String]] = Seq(
    Seq("name", "age", "city"),
    Seq("Alice", "30", "Toronto"),
    Seq("Bob", "25", "New York"),
    Seq("Charlie", "45", "Chicago"),
    Seq("Drake"),
    Seq(),
    Seq("Archie", "99"))

  def sheet1Json(range: String = "Sheet1!A1:Z1000"): String = vr(range, sheet1Rows)

  /** Sheet1 restricted to A2:B7 (what the API returns for that range). */
  def sheet1RangeJson(range: String, rows: Seq[Seq[String]]): String = vr(range, rows)

  val sheet1A2B7: Seq[Seq[String]] = Seq(
    Seq("Alice", "30"), Seq("Bob", "25"), Seq("Charlie", "45"),
    Seq("Drake"), Seq(), Seq("Archie", "99"))

  val sheet1B1C7: Seq[Seq[String]] = Seq(
    Seq("age", "city"), Seq("30", "Toronto"), Seq("25", "New York"),
    Seq("45", "Chicago"), Seq(), Seq(), Seq("99"))

  /** Airports (FIXTURES.md §2). */
  val sheet2Rows: Seq[Seq[String]] = Seq(
    Seq("code", "val1", "val2", "city_state", "region"),
    Seq("AGA", "57.5", "27.0", "Agana GU", "Pacific"),
    Seq("ALB", "49.0", "21.5", "Albany NY", "Northeast"),
    Seq("ABQ", "30.0", "15.5", "Albuquerque NM", "Southwest"))

  /** Issue 34: empty numeric cell must not crash stod → NULL. */
  val issue34Rows: Seq[Seq[String]] = Seq(
    Seq("num", "val", "bla"),
    Seq("1", "value1", "blabla1"),
    Seq("2", "value2", "blabla2"),
    Seq("3", "value3", "blabla3"),
    Seq("", "value4", "blabla4"))

  /** Issue 47: blanks in first data row → those columns VARCHAR; width
    * from max(header, first row).
    */
  val issue47aRows: Seq[Seq[String]] = Seq(
    Seq("c1", "c2", "c3", "c4"),
    Seq("woot", "blah", ""),
    Seq("more wooting", "more blah", "", "should get this!"))

  /** Issue 47: missing trailing cells, booleans and doubles. */
  val issue47bRows: Seq[Seq[String]] = Seq(
    Seq("h1", "h2", "h3", "h4", "h5", "h6", "h7"),
    Seq("woot", "blah", "", "", "TRUE", "123", "should get this!"),
    Seq("more wooting", "more blah", "should handle blank to the right"),
    Seq("more wooting", "more blah", "", "", "FALSE", "456.789", "should get this!"))

  /** Issue 47: missing header cells → columnN fallback. */
  val issue47cRows: Seq[Seq[String]] = Seq(
    Seq("a", "b"),
    Seq("woot", "blah", "", "should get this!"),
    Seq("more wooting", "more blah", "", "should get this!"))

  val headerOnlyRows: Seq[Seq[String]] = Seq(Seq("h1", "h2"))

  def valueRangeJson(range: String, rows: Seq[Seq[String]]): String = vr(range, rows)

  def emptyRangeJson(range: String): String =
    s"""{"range":"$range","majorDimension":"ROWS"}"""
}
