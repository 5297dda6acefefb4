package graft.perfbench

import java.io.ByteArrayOutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One request as the endpoint saw it: what it was, when it arrived and
  * left (System.nanoTime), bytes in each direction, and how long the
  * handler worked apart from the injected delay.
  */
final case class EndpointRequest(kind: String, startNs: Long, endNs: Long,
    bytesUp: Long, bytesDown: Long, busyNs: Long, status: Int, rows: Int)

/** A loopback stand-in for the Google Sheets v4 REST API, served by the
  * JDK's `com.sun.net.httpserver` on 127.0.0.1.
  *
  * Covers `spreadsheets.get`, `values.get` (bare sheet, `Sheet!r1:r2`
  * row ranges, `Sheet!A1:B7` rectangles, `Sheet!C:E` columns),
  * `values:append`, `values:clear`, `values.update` and `batchUpdate`
  * addSheet. Like the real API it omits trailing empty rows and trailing
  * empty cells of each row, and answers 401 to a missing or wrong bearer
  * token. Bodies are parsed with Jackson, independently of the
  * connector's own JSON code.
  *
  * Every request sleeps `delayMs` before answering: a fixed stand-in for
  * the WAN round trip, so request counts show up in latency the way they
  * do against the real service. Read payloads are serialised once per
  * (sheet version, range) and served from that cache.
  */
final class FakeSheets(token: String, delayMs: Int, threads: Int) {

  final class Sheet(val sheetId: Int, val title: String, val index: Int) {
    val grid = ArrayBuffer.empty[Array[String]]
    @volatile var version = 0L
  }
  final class Spreadsheet(val id: String) {
    val sheets = ArrayBuffer.empty[Sheet]
  }

  private val books = new ConcurrentHashMap[String, Spreadsheet]()
  private val payloads = new ConcurrentHashMap[String, Array[Byte]]()
  val requests = new ConcurrentLinkedQueue[EndpointRequest]()

  private val mapper = new ObjectMapper()
  private val appended = ThreadLocal.withInitial[Int](() => 0)
  private val jf = new JsonFactory()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)
  server.createContext("/v4/", (ex: HttpExchange) => handle(ex))
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/v4"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  // ---- seeding and inspection (not requests) -------------------------

  def addSpreadsheet(id: String, sheets: (String, Iterator[Array[String]])*): Unit = {
    val book = new Spreadsheet(id)
    sheets.zipWithIndex.foreach { case ((title, rows), i) =>
      val sh = new Sheet(i * 1000 + 7, title, i)
      sh.grid ++= rows
      book.sheets += sh
    }
    books.put(id, book)
  }

  /** The stored grid of one sheet, trailing empty rows and cells trimmed
    * exactly as a full-sheet values.get would return them. */
  def grid(id: String, title: String): Vector[Vector[String]] = {
    val sh = sheet(books.get(id), title)
    sh.synchronized(trimmed(sh.grid.toVector.map(_.toVector)))
  }

  /** The full-sheet values.get payload, serialised now if it is not
    * cached yet (so the first timed read does not pay for it). */
  def payloadBytes(id: String, title: String): Array[Byte] =
    valuesGetPayload(books.get(id), title, title)

  // ---- request handling ----------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    var kind = "unknown"
    var status = 500
    var up = 0L
    var down = 0L
    var busy = 0L
    appended.set(0)
    try {
      val body = ex.getRequestBody.readAllBytes()
      up = body.length
      val (k, st, out) = route(ex, body)
      kind = k
      status = st
      busy = System.nanoTime() - t0
      if (delayMs > 0) Thread.sleep(delayMs)
      val b0 = System.nanoTime()
      ex.getResponseHeaders.add("Content-Type", "application/json; charset=UTF-8")
      ex.sendResponseHeaders(status, if (out.isEmpty) -1 else out.length)
      if (out.nonEmpty) ex.getResponseBody.write(out)
      down = out.length
      ex.close()
      busy += System.nanoTime() - b0
    } catch {
      case e: Throwable =>
        status = 500
        try {
          val msg = error(500, String.valueOf(e))
          ex.sendResponseHeaders(500, msg.length)
          ex.getResponseBody.write(msg)
        } catch { case _: Throwable => () }
        ex.close()
    } finally {
      requests.add(EndpointRequest(kind, t0, System.nanoTime(), up, down, busy, status,
        appended.get))
    }
  }

  private def error(code: Int, message: String): Array[Byte] = {
    val n = mapper.createObjectNode()
    val e = n.putObject("error")
    e.put("code", code)
    e.put("message", message)
    mapper.writeValueAsBytes(n)
  }

  /** → (request kind, status, response body). */
  private def route(ex: HttpExchange, body: Array[Byte]): (String, Int, Array[Byte]) = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getRawPath.stripPrefix("/v4/spreadsheets/")
    if (ex.getRequestHeaders.getFirst("Authorization") != s"Bearer $token")
      return ("unauthorized", 401, error(401, "Request had invalid authentication credentials."))

    val slash = path.indexOf('/')
    val idPart = if (slash < 0) path else path.substring(0, slash)
    if (method == "POST" && slash < 0 && idPart.endsWith(":batchUpdate"))
      return withBook(idPart.stripSuffix(":batchUpdate"))(b =>
        ("batch_update", 200, batchUpdate(b, mapper.readTree(body))))
    if (slash < 0) {
      if (method != "GET") return ("unknown", 405, error(405, s"$method $path"))
      return withBook(idPart)(b => ("spreadsheets_get", 200, metadata(b)))
    }
    val rest = path.substring(slash + 1)
    if (!rest.startsWith("values/")) return ("unknown", 404, error(404, path))
    val rawRange = rest.stripPrefix("values/")
    withBook(idPart) { b =>
      (method, rawRange) match {
        case ("GET", r) =>
          val range = decode(r)
          ("values_get", 200, valuesGetPayload(b, sheetTitle(range), range))
        case ("POST", r) if r.endsWith(":append") =>
          ("append", 200, append(b, decode(r.stripSuffix(":append")), mapper.readTree(body)))
        case ("POST", r) if r.endsWith(":clear") =>
          ("clear", 200, clear(b, decode(r.stripSuffix(":clear"))))
        case ("PUT", r) =>
          ("update", 200, update(b, decode(r), mapper.readTree(body)))
        case _ => ("unknown", 405, error(405, s"$method $path"))
      }
    }
  }

  private def withBook(id: String)(f: Spreadsheet => (String, Int, Array[Byte])) = {
    val b = books.get(id)
    if (b == null) ("not_found", 404, error(404, s"Requested entity was not found: $id"))
    else try f(b) catch {
      case e: NoSuchElementException => ("not_found", 400, error(400, e.getMessage))
    }
  }

  private def decode(s: String): String = URLDecoder.decode(s, UTF_8)

  private def sheetTitle(range: String): String = {
    val t = if (range.contains('!')) range.substring(0, range.lastIndexOf('!')) else range
    if (t.startsWith("'") && t.endsWith("'")) t.drop(1).dropRight(1).replace("''", "'") else t
  }

  private def sheet(b: Spreadsheet, title: String): Sheet =
    b.synchronized(b.sheets.find(_.title == title)).getOrElse(
      throw new NoSuchElementException(s"Unable to parse range: $title"))

  // ---- A1 ranges: (first row, last row, first col, last col), 0-based,
  // inclusive; -1 = open end ---------------------------------------------

  private final case class Rect(r0: Int, r1: Int, c0: Int, c1: Int)

  private def colIndex(letters: String): Int =
    letters.foldLeft(0)((acc, ch) => acc * 26 + (ch.toUpper - 'A' + 1)) - 1

  private def colName(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { val m = (n - 1) % 26; sb.insert(0, ('A' + m).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def rect(range: String): Rect = {
    if (!range.contains('!')) return Rect(0, -1, 0, -1)
    val a1 = range.substring(range.lastIndexOf('!') + 1).replace("$", "")
    def cell(s: String): (Int, Int) = {
      val letters = s.takeWhile(_.isLetter)
      val digits = s.drop(letters.length)
      (if (digits.isEmpty) -1 else digits.toInt - 1, if (letters.isEmpty) -1 else colIndex(letters))
    }
    a1.split(":") match {
      case Array(one) =>
        val (r, c) = cell(one)
        Rect(r.max(0), r, c.max(0), c)
      case Array(a, z) =>
        val (ra, ca) = cell(a)
        val (rz, cz) = cell(z)
        Rect(ra.max(0), rz, ca.max(0), cz)
    }
  }

  /** Drops trailing empty cells of every row, then trailing empty rows. */
  private def trimmed(rows: Vector[Vector[String]]): Vector[Vector[String]] = {
    val cut = rows.map(r => r.take(r.lastIndexWhere(c => c != null && c.nonEmpty) + 1))
    cut.take(cut.lastIndexWhere(_.nonEmpty) + 1)
  }

  private def valuesGetPayload(b: Spreadsheet, title: String, range: String): Array[Byte] = {
    val sh = sheet(b, title)
    val key = s"${b.id}/${sh.sheetId}/${sh.version}/$range"
    val hit = payloads.get(key)
    if (hit != null) return hit
    val out = sh.synchronized {
      val rc = rect(range)
      val width = sh.grid.iterator.map(_.length).maxOption.getOrElse(0)
      val r1 = if (rc.r1 < 0) sh.grid.length - 1 else math.min(rc.r1, sh.grid.length - 1)
      val c1 = if (rc.c1 < 0) width - 1 else rc.c1
      val rows = (rc.r0 to r1).iterator.map { r =>
        val row = sh.grid(r)
        val hi = math.min(c1, row.length - 1)
        var last = hi
        while (last >= rc.c0 && (row(last) == null || row(last).isEmpty)) last -= 1
        row.slice(rc.c0, last + 1)
      }.toVector
      val kept = rows.take(rows.lastIndexWhere(_.nonEmpty) + 1)
      val bos = new ByteArrayOutputStream(1 << 16)
      val g = jf.createGenerator(bos, JsonEncoding.UTF8)
      g.writeStartObject()
      val end = if (kept.isEmpty) rc.r0 + 1 else rc.r0 + kept.length
      val endCol = colName(math.max(c1, rc.c0))
      g.writeStringField("range", s"${quote(sh.title)}!${colName(rc.c0)}${rc.r0 + 1}:$endCol$end")
      g.writeStringField("majorDimension", "ROWS")
      if (kept.nonEmpty) {
        g.writeArrayFieldStart("values")
        kept.foreach { row =>
          g.writeStartArray()
          row.foreach(c => g.writeString(if (c == null) "" else c))
          g.writeEndArray()
        }
        g.writeEndArray()
      }
      g.writeEndObject()
      g.close()
      bos.toByteArray
    }
    payloads.put(key, out)
    out
  }

  private def quote(title: String): String =
    if (title.forall(c => c.isLetterOrDigit || c == '_')) title
    else "'" + title.replace("'", "''") + "'"

  private def mutated(b: Spreadsheet, sh: Sheet): Unit = {
    val prefix = s"${b.id}/${sh.sheetId}/"
    payloads.keySet().asScala.filter(_.startsWith(prefix)).foreach(payloads.remove)
    sh.version += 1
  }

  private def rowsOf(body: JsonNode): Vector[Array[String]] =
    body.path("values").elements().asScala.map(r =>
      r.elements().asScala.map(_.asText()).toArray).toVector

  private def updates(b: Spreadsheet, range: String, rows: Int, cols: Int) = {
    val n = mapper.createObjectNode()
    n.put("spreadsheetId", b.id)
    n.put("updatedRange", range)
    n.put("updatedRows", rows)
    n.put("updatedColumns", cols)
    n.put("updatedCells", rows * cols)
    n
  }

  private def append(b: Spreadsheet, range: String, body: JsonNode): Array[Byte] = {
    val sh = sheet(b, sheetTitle(range))
    val rows = rowsOf(body)
    appended.set(rows.length)
    val (start, cols) = sh.synchronized {
      // Appends land after the last non-empty row of the table.
      var last = sh.grid.length - 1
      while (last >= 0 && sh.grid(last).forall(c => c == null || c.isEmpty)) last -= 1
      sh.grid.dropRightInPlace(sh.grid.length - 1 - last)
      val start = sh.grid.length
      sh.grid ++= rows
      mutated(b, sh)
      (start, rows.iterator.map(_.length).maxOption.getOrElse(0))
    }
    val n = mapper.createObjectNode()
    n.put("spreadsheetId", b.id)
    n.put("tableRange", s"${quote(sh.title)}!A1:${colName(math.max(cols, 1) - 1)}$start")
    n.set[JsonNode]("updates", updates(b,
      s"${quote(sh.title)}!A${start + 1}:${colName(math.max(cols, 1) - 1)}${start + rows.length}",
      rows.length, cols))
    mapper.writeValueAsBytes(n)
  }

  private def clear(b: Spreadsheet, range: String): Array[Byte] = {
    val sh = sheet(b, sheetTitle(range))
    val rc = rect(range)
    sh.synchronized {
      if (!range.contains('!')) sh.grid.clear()
      else {
        val r1 = if (rc.r1 < 0) sh.grid.length - 1 else math.min(rc.r1, sh.grid.length - 1)
        for (r <- rc.r0 to r1) {
          val row = sh.grid(r)
          val c1 = if (rc.c1 < 0) row.length - 1 else math.min(rc.c1, row.length - 1)
          for (c <- rc.c0 to c1) row(c) = ""
        }
      }
      mutated(b, sh)
    }
    val n = mapper.createObjectNode()
    n.put("spreadsheetId", b.id)
    n.put("clearedRange", range)
    mapper.writeValueAsBytes(n)
  }

  private def update(b: Spreadsheet, range: String, body: JsonNode): Array[Byte] = {
    val sh = sheet(b, sheetTitle(range))
    val rc = rect(range)
    val rows = rowsOf(body)
    sh.synchronized {
      rows.zipWithIndex.foreach { case (vals, i) =>
        val r = rc.r0 + i
        while (sh.grid.length <= r) sh.grid += Array.empty[String]
        val old = sh.grid(r)
        val row = java.util.Arrays.copyOf(old, math.max(old.length, rc.c0 + vals.length))
        for (k <- old.length until row.length) row(k) = ""
        vals.indices.foreach(k => row(rc.c0 + k) = vals(k))
        sh.grid(r) = row
      }
      mutated(b, sh)
    }
    val cols = rows.iterator.map(_.length).maxOption.getOrElse(0)
    mapper.writeValueAsBytes(updates(b, range, rows.length, cols))
  }

  private def metadata(b: Spreadsheet): Array[Byte] = {
    val n = mapper.createObjectNode()
    n.put("spreadsheetId", b.id)
    val p = n.putObject("properties")
    p.put("title", s"book ${b.id}")
    p.put("locale", "en_US")
    p.put("timeZone", "Etc/GMT")
    val arr = n.putArray("sheets")
    b.synchronized(b.sheets.toVector).foreach(sh => arr.add(sheetNode(sh)))
    mapper.writeValueAsBytes(n)
  }

  private def sheetNode(sh: Sheet): JsonNode = {
    val s = mapper.createObjectNode()
    val p = s.putObject("properties")
    p.put("sheetId", sh.sheetId)
    p.put("title", sh.title)
    p.put("index", sh.index)
    p.put("sheetType", "GRID")
    s
  }

  private def batchUpdate(b: Spreadsheet, body: JsonNode): Array[Byte] = {
    val n = mapper.createObjectNode()
    n.put("spreadsheetId", b.id)
    val replies = n.putArray("replies")
    body.path("requests").elements().asScala.foreach { req =>
      val title = req.path("addSheet").path("properties").path("title").asText()
      val sh = b.synchronized {
        if (b.sheets.exists(_.title == title))
          throw new NoSuchElementException(s"A sheet with the name \"$title\" already exists.")
        val s = new Sheet(b.sheets.length * 1000 + 7, title, b.sheets.length)
        b.sheets += s
        s
      }
      replies.addObject().set[JsonNode]("addSheet", sheetNode(sh))
    }
    mapper.writeValueAsBytes(n)
  }
}
