package graft.sources.gsheets.core

/** Google Sheets v4 REST client, port of reference `src/sheets/client.hpp`
  * + `src/sheets/resources/{values,spreadsheet}.cpp`. URL shapes, query
  * params, methods and bodies are byte-identical to the reference's (unit
  * tests pin them like `test/unit/sheets/resources/test_values.cpp`).
  */
final class GoogleSheetsClient(
    http: SheetsHttp,
    auth: AuthProvider,
    baseUrl: String = GoogleSheetsClient.DefaultBaseUrl) {

  private def headers: Map[String, String] = Map(
    "Authorization" -> auth.authorizationHeader(),
    "Content-Type" -> "application/json",
    "Accept" -> "application/json",
    "User-Agent" -> s"graft-gsheets/${GoogleSheetsClient.Version}")

  // ---- values (`values.cpp:12-34`) -----------------------------------

  def valuesGet(spreadsheetId: String, range: A1Range): ValueRange = {
    val url = s"$baseUrl/spreadsheets/$spreadsheetId/values/${range.range}"
    Model.parseBody(http.get(url, headers))(Json.parseValueRange)
  }

  def valuesUpdate(spreadsheetId: String, range: A1Range,
      values: ValueRange): UpdateValuesResponse = {
    val url = s"$baseUrl/spreadsheets/$spreadsheetId/values/${range.range}" +
      "?valueInputOption=USER_ENTERED"
    Model.parseResponse(
      http.put(url, headers, Model.valueRangeBody(values)))(
      Model.updateValuesResponse)
  }

  def valuesAppend(spreadsheetId: String, range: A1Range,
      values: ValueRange): AppendValuesResponse = {
    val url = s"$baseUrl/spreadsheets/$spreadsheetId/values/${range.range}" +
      ":append?valueInputOption=USER_ENTERED"
    Model.parseResponse(
      http.post(url, headers, Model.valueRangeBody(values)))(
      Model.appendValuesResponse)
  }

  def valuesClear(spreadsheetId: String, range: A1Range): ClearValuesResponse = {
    val url = s"$baseUrl/spreadsheets/$spreadsheetId/values/${range.range}:clear"
    Model.parseResponse(http.post(url, headers, "{}"))(
      Model.clearValuesResponse)
  }

  // ---- spreadsheet metadata (`spreadsheet.cpp:16-75`) -----------------

  def spreadsheetGet(spreadsheetId: String): SpreadsheetMetadata = {
    val url = s"$baseUrl/spreadsheets/$spreadsheetId"
    Model.parseResponse(http.get(url, headers))(Model.spreadsheetMetadata)
  }

  def getSheetById(spreadsheetId: String, sheetId: Int): SheetMetadata =
    spreadsheetGet(spreadsheetId).sheets
      .find(_.properties.sheetId == sheetId)
      .getOrElse(throw new SheetNotFoundException(sheetId.toString))

  /** String overload parses first (`spreadsheet.cpp:30-33` uses stoi —
    * garbage throws before any lookup).
    */
  def getSheetById(spreadsheetId: String, sheetId: String): SheetMetadata = {
    val id = sheetId.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"Cannot convert sheet ID $sheetId to integer"))
    getSheetById(spreadsheetId, id)
  }

  def getSheetByName(spreadsheetId: String, name: String): SheetMetadata =
    spreadsheetGet(spreadsheetId).sheets
      .find(_.properties.title == name)
      .getOrElse(throw new SheetNotFoundException(name))

  def getSheetByIndex(spreadsheetId: String, index: Int): SheetMetadata =
    spreadsheetGet(spreadsheetId).sheets
      .find(_.properties.index == index)
      .getOrElse(throw new SheetNotFoundException(index.toString))

  /** `batchUpdate` addSheet (`spreadsheet.cpp:56-75`). */
  def createSheet(spreadsheetId: String, name: String): SheetMetadata = {
    val url = s"$baseUrl/spreadsheets/$spreadsheetId:batchUpdate"
    val replies = Model.parseResponse(
      http.post(url, headers, Model.addSheetBody(name)))(
      j => j("replies").arr)
    if (replies.isEmpty) throw new SheetNotCreatedException(name)
    Model.sheetMetadata(replies.head("addSheet"))
  }
}

object GoogleSheetsClient {
  val DefaultBaseUrl = "https://sheets.googleapis.com/v4"
  val Version = "0.1.0"
}
