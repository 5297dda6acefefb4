package graft.gsheets

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sources.gsheets.GSheetsBind
import graft.sources.gsheets.core._

/** Property tests promised by SURVEY §5: generated inputs against the
  * A1 FSM, the type-inference rules, and the JSON codec round-trip.
  * (Plain ScalaCheck sampling — the scalatest/scalacheck bridge artifact
  * isn't in the offline cache.)
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic 200-sample sweep of `gen` through `check`. */
  private def forAll[A](gen: Gen[A])(check: A => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < 200 && attempts < 2000) {
      gen.apply(Gen.Parameters.default, seed) match {
        case Some(a) => check(a); produced += 1
        case None    => ()
      }
      seed = seed.next
      attempts += 1
    }
    assert(produced >= 100, s"generator too sparse: $produced samples")
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(check: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb)) { case (a, b) => check(a, b) }

  // --- A1 grammar generators ---------------------------------------

  private val colGen: Gen[String] = for {
    abs <- Gen.oneOf("", "$")
    n <- Gen.choose(1, 3)
    cs <- Gen.listOfN(n, Gen.alphaChar)
  } yield abs + cs.mkString

  // No `$` prefix: the reference FSM (range.cpp COL_ABS) requires `$` to
  // be followed by column LETTERS — `$167` rejects; row-absolute exists
  // only as `A$1` (cellGen's middle form).
  private val rowGen: Gen[String] = for {
    n <- Gen.choose(1, 7)
    ds <- Gen.listOfN(n, Gen.numChar)
  } yield ds.mkString

  /** `A1`, `$B$2`, `C`, `7` — single cell/col/row refs. The FSM accepts
    * `$` only before the leading column letters or row digits.
    */
  private val cellGen: Gen[String] = Gen.oneOf(
    for { c <- colGen; r <- rowGen } yield c + "$" + r,
    for { c <- colGen; r <- rowGen } yield c + r,
    colGen, rowGen)

  private val rangeGen: Gen[String] = Gen.oneOf(
    cellGen,
    for { a <- cellGen; b <- cellGen } yield s"$a:$b")

  private val quotedNameGen: Gen[String] = for {
    n <- Gen.choose(1, 8)
    cs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const(' '), 1 -> Gen.const('!')))
  } yield cs.mkString

  test("property: grammar-generated A1 strings validate") {
    forAll(rangeGen) { r => assert(A1Range(r).isValid, r) }
    forAll(quotedNameGen, rangeGen) { (name, r) =>
      val quoted = "'" + name.replace("'", "''") + "'"
      assert(A1Range(quoted).isValid, quoted)
      assert(A1Range(s"$quoted!$r").isValid, s"$quoted!$r")
    }
  }

  test("property: structural corruptions reject") {
    // A second ':' or '!' is always invalid.
    forAll(rangeGen) { r =>
      assert(!A1Range(s"$r:A1:B2").isValid)
      assert(!A1Range(s"Sheet1!$r!A1").isValid)
    }
    // Characters outside the cell grammar reject outside quotes.
    forAll(rangeGen, Gen.oneOf('#', ' ', '*', '(', '@', '%')) { (r, bad) =>
      assert(!A1Range(bad + r).isValid)
    }
  }

  test("property: splitSheetParam round-trips quoted names") {
    forAll(quotedNameGen) { name =>
      val (got, rest) = A1Range.splitSheetParam("'" + name.replace("'", "''") + "'")
      assert(got == name && rest.isEmpty)
    }
  }

  // --- type inference ----------------------------------------------

  private val cellValueGen: Gen[String] = Gen.oneOf(
    Gen.const("TRUE"), Gen.const("FALSE"),
    Gen.choose(-1e6, 1e6).map(_.toString),
    Gen.alphaStr.map(s => "w" + s),
    Gen.const(""))

  test("property: all_varchar forces every column to VARCHAR") {
    forAll(Gen.listOfN(4, Gen.listOfN(3, cellValueGen))) { rows0 =>
      val rows = rows0.map(_.toVector).toVector
      val schema = GSheetsBind.inferSchema(rows, header = false, allVarchar = true)
      assert(schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.StringType))
    }
  }

  test("property: width = max(header, first data row); columnN fallback names") {
    forAll(Gen.choose(0, 5), Gen.choose(1, 6)) { (hw, dw) =>
      val header = (1 to hw).map(i => s"h$i").toVector
      val data = (1 to dw).map(_ => "1").toVector
      val schema = GSheetsBind.inferSchema(Vector(header, data), header = true,
        allVarchar = false)
      assert(schema.size == math.max(hw, dw))
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (i < hw) assert(f.name == s"h${i + 1}")
        else assert(f.name == s"column${i + 1}")
      }
    }
  }

  // --- JSON round-trip ---------------------------------------------

  private val jsonLeafGen: Gen[JValue] = Gen.oneOf(
    Gen.const(JNull), Gen.oneOf(JBool(true), JBool(false)),
    Gen.choose(-1e9.toLong, 1e9.toLong).map(n => JNum(n.toString)),
    Gen.asciiPrintableStr.map(JStr(_)))

  private def jsonGen(depth: Int): Gen[JValue] =
    if (depth <= 0) jsonLeafGen
    else Gen.frequency(
      3 -> jsonLeafGen,
      1 -> Gen.listOfN(3, jsonGen(depth - 1)).map(v => JArr(v.toVector)),
      1 -> Gen.listOfN(3, Gen.zip(Gen.identifier, jsonGen(depth - 1)))
        .map(kvs => JObj(kvs.toVector)))

  test("property: Json.parse(Json.write(v)) == v") {
    forAll(jsonGen(3)) { v =>
      assert(Json.parse(Json.write(v)) == v)
    }
  }

  // --- values.get decoding -----------------------------------------

  /** A body as its token list, so whitespace can go between any two. */
  private type Toks = List[String]

  private def arrToks(items: List[Toks]): Toks =
    "[" :: items.zipWithIndex.flatMap { case (t, i) => if (i == 0) t else "," :: t } ::: List("]")

  private def objToks(fields: List[(String, Toks)]): Toks =
    "{" :: fields.zipWithIndex.flatMap { case ((k, v), i) =>
      (if (i == 0) Nil else List(",")) ::: k :: ":" :: v
    } ::: List("}")

  private val strLitGen: Gen[String] = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
    Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", "é", "日", "😀"),
      3 -> Gen.oneOf("\\\"", "\\\\", "\\/", "\\n", "\\t", "\\b", "\\f", "\\r",
        "\\u00e9", "\\u65E5", "\\uD83D\\uDE00", "\\uD800", "\\u0041"))))
    .map(_.mkString("\"", "", "\""))

  private val scalarToks: Gen[Toks] = Gen.frequency(
    6 -> strLitGen.map(List(_)),
    1 -> Gen.oneOf("0", "-12", "3.50", "1e5", "-0.0").map(List(_)),
    1 -> Gen.oneOf("true", "false", "null").map(List(_)))

  /** A cell: mostly strings, some numbers/booleans/nulls, and nested
    * values, which the tree decoder renders through `Json.write`.
    */
  private val cellToks: Gen[Toks] = Gen.frequency(
    8 -> scalarToks,
    1 -> Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, scalarToks)).map(arrToks),
    1 -> scalarToks.map(v => objToks(List("\"k\"" -> v))))

  private val rowToks: Gen[Toks] = Gen.frequency(
    8 -> Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, cellToks)).map(arrToks),
    1 -> cellToks)

  private val gridToks: Gen[Toks] = Gen.frequency(
    8 -> Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, rowToks)).map(arrToks),
    1 -> scalarToks)

  private val bodyToks: Gen[Toks] = {
    val keys: Gen[List[(String, Toks)]] = for {
      range <- Gen.option(strLitGen.map(v => "\"range\"" -> List(v)))
      major <- Gen.option(Gen.frequency(
        4 -> Gen.oneOf("\"ROWS\"", "\"COLUMNS\"").map(List(_)), 1 -> scalarToks)
        .map("\"majorDimension\"" -> _))
      values <- Gen.option(gridToks.map("\"values\"" -> _))
      escapedKey <- Gen.option(gridToks.map("\"\\u0076alues\"" -> _))
      unknown <- Gen.option(cellToks.map("\"nextPageToken\"" -> _))
      dup <- Gen.option(Gen.zip(Gen.oneOf("\"range\"", "\"values\"", "\"majorDimension\""),
        cellToks))
    } yield List(range, major, values, escapedKey, unknown, dup).flatten
    Gen.frequency(
      9 -> keys.flatMap(ks => Gen.listOfN(ks.size, Gen.choose(0, 1 << 20))
        .map(order => objToks(ks.zip(order).sortBy(_._2).map(_._1)))),
      1 -> Gen.oneOf(rowToks, cellToks))
  }

  private val bodyGen: Gen[String] = for {
    toks <- bodyToks
    ws <- Gen.listOfN(toks.size + 1, Gen.frequency(
      3 -> Gen.const(""), 1 -> Gen.oneOf(" ", "\t", "\n", "\r", " \r\n  ")))
  } yield ws.head + toks.zip(ws.tail).map { case (t, w) => t + w }.mkString

  /** What `valuesGet` returns for `body`, or the message it throws. */
  private def viaClient(body: String): Either[String, ValueRange] = {
    val mock = new MockHttp
    mock.addJson(body)
    val client = new GoogleSheetsClient(mock, new BearerTokenAuth("t"), "http://sheets.test")
    try Right(client.valuesGet("s", A1Range("Sheet1")))
    catch { case e: SheetsParseException => Left(e.getMessage) }
  }

  private def viaTree(body: String): Either[String, ValueRange] =
    try Right(Model.parseResponse(HttpResponse(200, body = body))(Model.valueRange))
    catch { case e: SheetsParseException => Left(e.getMessage) }

  test("property: valuesGet decodes like Model.valueRange(Json.parse(body))") {
    forAll(bodyGen) { body =>
      val (got, ref) = (viaClient(body), viaTree(body))
      val same = got.isRight && got == ref
      assert(same, Fixtures.ascii(s"$body\n$got\n$ref"))
    }
  }

  test("property: truncated or corrupted bodies fail like the tree decoder") {
    val cut = for { b <- bodyGen; k <- Gen.choose(0, b.length - 1) } yield b.take(k)
    val corrupt = for {
      b <- bodyGen
      k <- Gen.choose(0, b.length - 1)
      c <- Gen.oneOf("{", "}", "[", "]", ",", ":", "\"", "\\", "x", "-", "nul", "\\u12")
    } yield b.take(k) + c + b.drop(k + 1)
    forAll(Gen.oneOf(cut, corrupt)) { body =>
      val (got, ref) = (viaClient(body), viaTree(body))
      val same = got == ref && got.left.forall(_.startsWith("Failed to parse response: "))
      assert(same, Fixtures.ascii(s"$body\n$got\n$ref"))
    }
  }
}
