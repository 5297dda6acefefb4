package graft.sources.gsheets.core

/** Google Sheets API wire model + exception taxonomy.
  *
  * Case-class ports of reference `src/include/sheets/types.hpp:11-133` with
  * hand-rolled JSON codecs over [[Json]] (the reference derives the same
  * codecs from nlohmann macros). Write-side bodies emit keys in sorted
  * order, matching nlohmann::json's alphabetically-ordered `dump()` so the
  * wire bytes line up with the reference's.
  *
  * Exceptions port `src/include/sheets/exception.hpp:9-59`, message-format
  * compatible.
  */
sealed abstract class SheetsException(message: String)
    extends RuntimeException(message)

final class SheetsApiException(val statusCode: Int, val apiMessage: String)
    extends SheetsException(
      s"Google Sheets API error ($statusCode): $apiMessage")

final class SheetsParseException(message: String)
    extends SheetsException(message)

final class SheetNotFoundException(val identifier: String)
    extends SheetsException(s"Sheet not found: $identifier")

final class SheetNotCreatedException(name: String)
    extends SheetsException(s"Sheet not created: $name")

/** `sheetType` enum (`types.hpp:11`); unknown strings decode to
  * Unspecified like nlohmann's serialize-enum fallback.
  */
sealed abstract class SheetType(val wire: String)
object SheetType {
  case object Unspecified extends SheetType("SHEET_TYPE_UNSPECIFIED")
  case object Grid extends SheetType("GRID")
  case object Obj extends SheetType("OBJECT")
  case object DataSource extends SheetType("DATA_SOURCE")
  val all: Seq[SheetType] = Seq(Unspecified, Grid, Obj, DataSource)
  def fromWire(s: String): SheetType =
    all.find(_.wire == s).getOrElse(Unspecified)
}

final case class SheetProperties(
    sheetId: Int = 0,
    title: String = "",
    index: Int = 0,
    sheetType: SheetType = SheetType.Unspecified)

final case class SheetMetadata(properties: SheetProperties = SheetProperties())

final case class SpreadsheetProperties(
    title: String = "",
    locale: String = "",
    timeZone: String = "")

final case class SpreadsheetMetadata(
    spreadsheetId: String = "",
    properties: SpreadsheetProperties = SpreadsheetProperties(),
    sheets: Vector[SheetMetadata] = Vector.empty)

/** `ValueRange` (`types.hpp:87-101`): every cell is a string on the wire. */
final case class ValueRange(
    range: String = "",
    majorDimension: String = "ROWS",
    values: Vector[Vector[String]] = Vector.empty)

final case class UpdateValuesResponse(
    spreadsheetId: String = "",
    updatedRange: String = "",
    updatedRows: Int = 0,
    updatedColumns: Int = 0,
    updatedCells: Int = 0)

final case class AppendValuesResponse(
    spreadsheetId: String = "",
    tableRange: String = "",
    updates: UpdateValuesResponse = UpdateValuesResponse())

final case class ClearValuesResponse(
    spreadsheetId: String = "",
    clearedRange: String = "")

object Model {

  // ---- decode --------------------------------------------------------

  def sheetMetadata(j: JValue): SheetMetadata = {
    val p = j("properties")
    SheetMetadata(SheetProperties(
      sheetId = p("sheetId").int,
      title = p("title").str,
      index = p("index").int,
      sheetType = SheetType.fromWire(p("sheetType").str)))
  }

  def spreadsheetMetadata(j: JValue): SpreadsheetMetadata = {
    val p = j("properties")
    SpreadsheetMetadata(
      spreadsheetId = j("spreadsheetId").str,
      properties = SpreadsheetProperties(
        title = p("title").str,
        locale = p("locale").str,
        timeZone = p("timeZone").str),
      sheets = j("sheets").arr.map(sheetMetadata))
  }

  /** The reference decoder; `values.get` bodies go through
    * [[Json.parseValueRange]], which returns the same value without the tree.
    */
  def valueRange(j: JValue): ValueRange = ValueRange(
    range = j("range").str,
    majorDimension = j("majorDimension").asOpt.map(_.str).getOrElse("ROWS"),
    values = j("values").arr.map(_.arr.map(_.str)))

  def updateValuesResponse(j: JValue): UpdateValuesResponse =
    UpdateValuesResponse(
      spreadsheetId = j("spreadsheetId").str,
      updatedRange = j("updatedRange").str,
      updatedRows = j("updatedRows").int,
      updatedColumns = j("updatedColumns").int,
      updatedCells = j("updatedCells").int)

  def appendValuesResponse(j: JValue): AppendValuesResponse =
    AppendValuesResponse(
      spreadsheetId = j("spreadsheetId").str,
      tableRange = j("tableRange").str,
      updates = updateValuesResponse(j("updates")))

  def clearValuesResponse(j: JValue): ClearValuesResponse =
    ClearValuesResponse(
      spreadsheetId = j("spreadsheetId").str,
      clearedRange = j("clearedRange").str)

  // ---- encode (request bodies; keys sorted = nlohmann dump() parity) --

  /** `ValueRange` body for values.update / values.append
    * (`values.cpp:17-29`): keys alphabetical.
    */
  def valueRangeBody(vr: ValueRange): String = Json.write(JObj.of(
    "majorDimension" -> JStr(vr.majorDimension),
    "range" -> JStr(vr.range),
    "values" -> JArr(vr.values.map(r => JArr(r.map(c => JStr(c): JValue))))))

  /** `batchUpdate` addSheet body (`spreadsheet.cpp:56-75`). */
  def addSheetBody(title: String): String = Json.write(JObj.of(
    "requests" -> JArr(Vector(JObj.of(
      "addSheet" -> JObj.of(
        "properties" -> JObj.of("title" -> JStr(title))))))))

  /** status≠200 → [[SheetsApiException]]; decode failure →
    * [[SheetsParseException]] (`response.hpp:11-21`).
    */
  def parseResponse[T](response: HttpResponse)(decode: JValue => T): T =
    parseBody(response)(body => decode(Json.parse(body)))

  /** [[parseResponse]] for a decoder that reads the body text itself
    * ([[Json.parseValueRange]]).
    */
  def parseBody[T](response: HttpResponse)(decode: String => T): T = {
    if (response.statusCode != 200)
      throw new SheetsApiException(response.statusCode, response.body)
    try decode(response.body)
    catch {
      case e: JsonParseException =>
        throw new SheetsParseException(s"Failed to parse response: ${e.getMessage}")
    }
  }
}
