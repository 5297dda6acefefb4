package graft.sources.gsheets.core

import scala.collection.immutable.VectorBuilder

/** Minimal dependency-free JSON codec for the Google Sheets API payloads
  * (the reference vendors `third_party/json.hpp` for the same purpose; no
  * external library per the offline build rules). Most payloads are small
  * (metadata, write responses, tokens), but a `values.get` body is not: a
  * 100k×20 sheet is a 17 MB response and the 10M-cell Sheets cap about five
  * times that. [[Json.parseValueRange]] therefore decodes that one shape
  * straight into a [[ValueRange]] through the same lexer, with no [[JValue]]
  * per cell.
  *
  * Numbers keep their raw token text ([[JNum.raw]]) so cell values can be
  * round-tripped without re-formatting.
  */
sealed trait JValue {
  def apply(key: String): JValue = this match {
    case o: JObj => o.get(key).getOrElse(JNull)
    case _       => JNull
  }
  def asOpt: Option[JValue] = if (this == JNull) None else Some(this)
  def str: String = this match {
    case JStr(s)      => s
    case JNum(raw)    => raw
    case JBool(true)  => "true"
    case JBool(false) => "false"
    case JNull        => ""
    case other        => Json.write(other)
  }
  /** Total: non-numeric content yields 0 (the reference's nlohmann
    * `value(key, default)` pattern — missing/garbage never throws here).
    */
  def int: Int = this match {
    case JNum(raw) => raw.toDoubleOption.map(_.toInt).getOrElse(0)
    case JStr(s)   => s.toDoubleOption.map(_.toInt).getOrElse(0)
    case _         => 0
  }
  def long: Long = this match {
    case JNum(raw) => raw.toDoubleOption.map(_.toLong).getOrElse(0L)
    case JStr(s)   => s.toDoubleOption.map(_.toLong).getOrElse(0L)
    case _         => 0L
  }
  def arr: Vector[JValue] = this match {
    case JArr(items) => items
    case _           => Vector.empty
  }
}
case object JNull extends JValue
final case class JBool(value: Boolean) extends JValue
final case class JNum(raw: String) extends JValue
final case class JStr(value: String) extends JValue
final case class JArr(items: Vector[JValue]) extends JValue
/** Insertion-ordered object so parse→write round-trips field order and
  * request bodies serialize with a deterministic key order (the reference's
  * nlohmann::json emits alphabetically-sorted keys; our client sorts at
  * build time instead — see the body builders in Model).
  */
final case class JObj(fields: Vector[(String, JValue)]) extends JValue {
  def get(key: String): Option[JValue] = fields.collectFirst {
    case (k, v) if k == key => v
  }
}
object JObj {
  def of(kvs: (String, JValue)*): JObj = JObj(kvs.toVector)
}

final class JsonParseException(msg: String) extends RuntimeException(msg)

object Json {

  def parse(s: String): JValue = {
    val p = new Parser(s)
    val v = p.parseValue()
    p.end()
    v
  }

  /** `Model.valueRange(Json.parse(s))` without the intermediate tree: the
    * same lexer, so the same inputs are accepted and the same errors
    * raised. A string cell is its decoded text; any other cell is its
    * [[JValue.str]] (numbers keep their raw text, `null` is ""). A row that
    * is not an array is empty, a `values` that is not an array is an empty
    * grid, a missing or `null` `majorDimension` is `ROWS`, unknown keys are
    * skipped and the first of duplicate keys wins — as the tree accessors
    * behave.
    */
  def parseValueRange(s: String): ValueRange = {
    val p = new Parser(s)
    val vr = p.parseValueRange()
    p.end()
    vr
  }

  private final class Parser(s: String) {
    private var pos = 0
    private def atEnd: Boolean = pos >= s.length
    private def skipWs(): Unit =
      while (!atEnd && (s.charAt(pos) == ' ' || s.charAt(pos) == '\t' ||
             s.charAt(pos) == '\n' || s.charAt(pos) == '\r')) pos += 1
    private def fail(msg: String) =
      throw new JsonParseException(s"$msg at offset $pos")
    private def expect(c: Char): Unit = {
      if (atEnd || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }
    private def expectWord(w: String): Unit = {
      if (!s.regionMatches(pos, w, 0, w.length)) fail(s"expected '$w'")
      pos += w.length
    }
    /** True when the next non-blank char is `c` (not consumed). */
    private def peekIs(c: Char): Boolean = {
      skipWs()
      !atEnd && s.charAt(pos) == c
    }

    def end(): Unit = {
      skipWs()
      if (!atEnd) throw new JsonParseException(s"trailing content at $pos")
    }

    def parseValue(): JValue = {
      skipWs()
      if (atEnd) fail("unexpected end of input")
      s.charAt(pos) match {
        case '{' => parseObj()
        case '[' => parseArr()
        case '"' => JStr(parseString())
        case 't' => expectWord("true"); JBool(true)
        case 'f' => expectWord("false"); JBool(false)
        case 'n' => expectWord("null"); JNull
        case c if c == '-' || (c >= '0' && c <= '9') => parseNum()
        case c   => fail(s"unexpected char '$c'")
      }
    }

    /** `{ "k": v, ... }`, calling `field(k)` with `pos` just past the
      * colon; `field` must consume the value.
      */
    private def eachField(field: String => Unit): Unit = {
      expect('{'); skipWs()
      if (!atEnd && s.charAt(pos) == '}') { pos += 1; return }
      var done = false
      while (!done) {
        skipWs()
        val k = parseString()
        skipWs(); expect(':')
        field(k)
        skipWs()
        if (!atEnd && s.charAt(pos) == ',') pos += 1
        else { expect('}'); done = true }
      }
    }

    /** `[ v, ... ]`, evaluating `item` once per element; it must consume
      * the element.
      */
    private def eachItem(item: => Unit): Unit = {
      expect('['); skipWs()
      if (!atEnd && s.charAt(pos) == ']') { pos += 1; return }
      var done = false
      while (!done) {
        item
        skipWs()
        if (!atEnd && s.charAt(pos) == ',') pos += 1
        else { expect(']'); done = true }
      }
    }

    private def parseObj(): JValue = {
      val fields = new VectorBuilder[(String, JValue)]
      eachField(k => fields += (k -> parseValue()))
      JObj(fields.result())
    }

    private def parseArr(): JValue = {
      val items = new VectorBuilder[JValue]
      eachItem(items += parseValue())
      JArr(items.result())
    }

    def parseValueRange(): ValueRange = {
      if (!peekIs('{')) { parseValue(); return ValueRange() }
      var range, major: JValue = null
      var values: Vector[Vector[String]] = null
      eachField {
        case "values" if values == null => values = parseGrid()
        case k =>
          val v = parseValue()
          if (k == "range" && range == null) range = v
          else if (k == "majorDimension" && major == null) major = v
      }
      ValueRange(
        range = if (range == null) "" else range.str,
        majorDimension = if (major == null || major == JNull) "ROWS" else major.str,
        values = if (values == null) Vector.empty else values)
    }

    private def parseGrid(): Vector[Vector[String]] = {
      if (!peekIs('[')) { parseValue(); return Vector.empty }
      val rows = new VectorBuilder[Vector[String]]
      eachItem {
        if (peekIs('[')) {
          val cells = new VectorBuilder[String]
          eachItem(cells += (if (peekIs('"')) parseString() else parseValue().str))
          rows += cells.result()
        } else { parseValue(); rows += Vector.empty }
      }
      rows.result()
    }

    /** A run without escapes is one `substring`; only strings holding a
      * backslash go through a builder.
      */
    private def parseString(): String = {
      expect('"')
      var sb: java.lang.StringBuilder = null
      var run = pos
      var out: String = null
      while (out == null) {
        while (!atEnd && { val c = s.charAt(pos); c != '"' && c != '\\' }) pos += 1
        if (atEnd) fail("unterminated string")
        if (s.charAt(pos) == '"') {
          out = if (sb == null) s.substring(run, pos) else sb.append(s, run, pos).toString
          pos += 1
        } else {
          if (sb == null) sb = new java.lang.StringBuilder(pos - run + 16)
          sb.append(s, run, pos)
          pos += 1
          if (atEnd) fail("bad escape")
          val e = s.charAt(pos); pos += 1
          e match {
            case '"'  => sb.append('"')
            case '\\' => sb.append('\\')
            case '/'  => sb.append('/')
            case 'b'  => sb.append('\b')
            case 'f'  => sb.append('\f')
            case 'n'  => sb.append('\n')
            case 'r'  => sb.append('\r')
            case 't'  => sb.append('\t')
            case 'u'  =>
              if (pos + 4 > s.length) fail("bad \\u escape")
              val hex = s.substring(pos, pos + 4)
              if (!hex.forall(h => (h >= '0' && h <= '9') ||
                  (h >= 'a' && h <= 'f') || (h >= 'A' && h <= 'F')))
                fail(s"bad \\u escape '\\u$hex'")
              sb.append(Integer.parseInt(hex, 16).toChar)
              pos += 4
            case other => fail(s"bad escape '\\$other'")
          }
          run = pos
        }
      }
      out
    }

    private def parseNum(): JValue = {
      val start = pos
      if (!atEnd && s.charAt(pos) == '-') pos += 1
      while (!atEnd && { val c = s.charAt(pos)
        (c >= '0' && c <= '9') || c == '.' || c == 'e' || c == 'E' || c == '+' || c == '-' }) pos += 1
      val raw = s.substring(start, pos)
      if (raw.isEmpty || raw == "-") fail("bad number")
      JNum(raw)
    }
  }

  def write(v: JValue): String = {
    val sb = new StringBuilder
    writeTo(v, sb)
    sb.toString
  }

  private def writeTo(v: JValue, sb: StringBuilder): Unit = v match {
    case JNull        => sb.append("null")
    case JBool(b)     => sb.append(if (b) "true" else "false")
    case JNum(raw)    => sb.append(raw)
    case JStr(s)      => writeString(s, sb)
    case JArr(items)  =>
      sb.append('[')
      var first = true
      items.foreach { it =>
        if (!first) sb.append(',')
        first = false
        writeTo(it, sb)
      }
      sb.append(']')
    case JObj(fields) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, value) =>
        if (!first) sb.append(',')
        first = false
        writeString(k, sb)
        sb.append(':')
        writeTo(value, sb)
      }
      sb.append('}')
  }

  private def writeString(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case '\b'          => sb.append("\\b")
      case '\f'          => sb.append("\\f")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"')
  }
}
