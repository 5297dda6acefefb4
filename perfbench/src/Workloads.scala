package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed operation: the cells it moved (sheet workloads) and a check
  * of its output, run after the clock stops. `None` = correct. */
final case class Op(cells: Long, check: () => Option[String])

trait Workload {
  /** Session, endpoint and inputs. The caller then runs untimed warm-up
    * cycles through the normal op path. */
  def setup(): Unit
  /** Op kinds of cycle `n`, in a seeded order. Runs are whole cycles. */
  def cycle(n: Int): Seq[String]
  def run(kind: String): Op
  def endpoint: Option[FakeSheets] = None
  def close(): Unit = ()
}

object Workloads {
  /** Per-request stand-in for the WAN round trip to the Sheets API. */
  val DelayMs = 20
  val SmallRows = 2000
  val SmallCols = 10
  val SmallSheets = 3
  val LargeRows = 100000
  val LargeCols = 20
  val OverwriteRows = 20000
  val AppendRows = 2000
  val WriteVariants = 3

  /** Warm registry queries, no connector: an outer join with aggregation,
    * the partial top-k aggregator, shingle cosine with a shuffle-heavy
    * pair join, a streaming window aggregate, a streaming dedup, and
    * append-mode streaming ANN with watermark-bounded state. All but q142b
    * take about a second, so the median falls inside a cluster of ten
    * samples of similar cost and the 90th percentile on q142b. */
  val EngineQueries: Seq[String] = Seq("q07_outer_join_agg", "q25b_topk_agg",
    "q103_shingle_cosine", "q31_stream_window", "q50_stream_dedup", "q142b_stream_ann_append")

  def url(id: String): String = s"https://docs.google.com/spreadsheets/d/$id/edit"

  /** Optimise, plan and execute `df`, one span per phase. */
  def execute(df: DataFrame): Array[Row] = {
    Trace.span("plan.optimize", "plan")(df.queryExecution.optimizedPlan)
    Trace.span("plan.physical", "plan")(df.queryExecution.executedPlan)
    Trace.span("exec.collect", "exec")(df.collect())
  }

  def newSession(base: SparkSession, fake: FakeSheets, token: String): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.gsheets.token", token)
    s.conf.set("spark.gsheets.baseUrl", fake.baseUrl)
    s
  }
}

import Workloads._

/** The paper's whole surface in one closed loop: reads through the
  * `FROM '<url>'` replacement scan over small and large sheets and the
  * DataFrame reader with executor-side fetch, interleaved with COPY-TO
  * writes, all against one loopback endpoint. */
final class Sheets(base: SparkSession, seed: Long, nproc: Int) extends Workload {
  private val token = s"perfbench-token-$seed"
  private var fake: FakeSheets = _
  private var reads: SheetReads = _
  private var writes: SheetWrites = _

  override def endpoint: Option[FakeSheets] = Option(fake)
  def largePayloadBytes: Long = reads.largePayloadBytes

  def setup(): Unit = {
    fake = new FakeSheets(token, DelayMs, nproc)
    val s = newSession(base, fake, token)
    reads = new SheetReads(s, fake, token, seed, nproc)
    writes = new SheetWrites(s, fake, token, seed)
  }

  /** The read and the write cycle, merged at seeded positions; the writes
    * keep their order (an overwrite, then the appends). */
  def cycle(n: Int): Seq[String] = {
    val r = new Random(seed * 7919 + n)
    val rs = r.shuffle(SheetReads.Cycle)
    val ws = writes.cycle(r)
    val isWrite = r.shuffle(Seq.fill(rs.length)(false) ++ Seq.fill(ws.length)(true))
    val (ri, wi) = (rs.iterator, ws.iterator)
    isWrite.map(w => if (w) wi.next() else ri.next())
  }

  def run(kind: String): Op =
    if (kind.startsWith("overwrite") || kind.startsWith("append")) writes.run(kind)
    else reads.run(kind)

  override def close(): Unit = if (fake != null) fake.stop()
}

object SheetReads {
  /** One large read of each kind per cycle, and five small ones. */
  val Cycle: Seq[String] =
    (0 until 5).map(i => s"small${i % SmallSheets}") ++ Seq("large_exec", "large_bind")
}

/** Reads: three 2k x 10 sheets through the replacement scan, a 100k x 20
  * sheet through the same scan and through the DataFrame reader with
  * `fetch_on_executor`. Each checks its aggregate against the seeded
  * generator. */
final class SheetReads(s: SparkSession, fake: FakeSheets, token: String, seed: Long, nproc: Int) {
  private val expected = mutable.Map.empty[String, Seq[Long]]

  for (i <- 0 until SmallSheets) {
    fake.addSpreadsheet(s"small$i", "Sheet1" -> SheetData.grid(seed, i, SmallRows, SmallCols))
    fake.payloadBytes(s"small$i", "Sheet1")
  }
  fake.addSpreadsheet("large", "Sheet1" -> SheetData.grid(seed, 100, LargeRows, LargeCols))
  fake.payloadBytes("large", "Sheet1")

  def largePayloadBytes: Long = fake.payloadBytes("large", "Sheet1").length.toLong

  private def expect(sheet: Int, rows: Int, cols: Int): Seq[Long] =
    expected.getOrElseUpdate(s"$sheet", SheetData.expectedAggregate(seed, sheet, rows, cols))

  private def checkRow(row: Row, want: => Seq[Long]): Option[String] = {
    val got = (0 until row.length).map(i => row.getLong(i))
    if (got == want) None else Some(s"aggregate ${got.take(4)}... != ${want.take(4)}...")
  }

  def run(kind: String): Op = kind match {
    case k if k.startsWith("small") =>
      val i = k.stripPrefix("small").toInt
      val rows = scan(s"small$i", SmallCols)
      Op(SmallRows.toLong * SmallCols, () => checkRow(rows.head, expect(i, SmallRows, SmallCols)))
    case "large_bind" =>
      val rows = scan("large", LargeCols)
      Op(LargeRows.toLong * LargeCols, () => checkRow(rows.head, expect(100, LargeRows, LargeCols)))
    case "large_exec" =>
      val df = Trace.span("connector.bind", "connector") {
        s.read.format("gsheets").option("token", token).option("baseUrl", fake.baseUrl)
          .option("fetch_on_executor", "true").option("numPartitions", nproc.toString)
          .load(url("large"))
      }
      val q = Trace.span("connector.analyze", "connector")(
        df.selectExpr(SheetData.aggregateSql(LargeCols): _*))
      val rows = execute(q)
      Op(LargeRows.toLong * LargeCols, () => checkRow(rows.head, expect(100, LargeRows, LargeCols)))
  }

  private def scan(id: String, cols: Int): Array[Row] = {
    val sql = s"SELECT ${SheetData.aggregateSql(cols).mkString(", ")} FROM `${url(id)}`"
    execute(Trace.span("connector.analyze", "connector")(s.sql(sql)))
  }
}

/** COPY-TO writes: a 20k-row typed overwrite followed by three 2k-row
  * appends per cycle. After every op the endpoint's stored grid must
  * equal the expected serialised rows, with no appended row twice. */
final class SheetWrites(s: SparkSession, fake: FakeSheets, token: String, seed: Long) {
  private val header = SheetData.WriteSchema.fieldNames.toVector
  private val overwriteRows = (0 until WriteVariants).map(v =>
    SheetData.writeRows(seed, v, v * 1000000L, OverwriteRows))
  private val appendRows = (0 until WriteVariants).map(a =>
    SheetData.writeRows(seed, 10 + a, 5000000L + a * 10000L, AppendRows))
  private val overwriteCells = overwriteRows.map(_.map(SheetData.expectedCells).toVector)
  private val appendCells = appendRows.map(_.map(SheetData.expectedCells).toVector)
  private val frames = (overwriteRows.map(r => s.createDataFrame(r.asJava, SheetData.WriteSchema)),
    appendRows.map(r => s.createDataFrame(r.asJava, SheetData.WriteSchema)))
  private val state = mutable.ArrayBuffer.empty[Vector[String]]

  fake.addSpreadsheet("wbook", "Data" -> Iterator.empty)

  def cycle(r: Random): Seq[String] =
    s"overwrite${r.nextInt(WriteVariants)}" +: r.shuffle((0 until WriteVariants).toVector).map(a => s"append$a")

  private def write(df: DataFrame, mode: String): Unit =
    Trace.span("connector.write", "connector") {
      df.write.format("gsheets").option("token", token).option("baseUrl", fake.baseUrl)
        .option("sheet", "Data").mode(mode).save(url("wbook"))
    }

  def run(kind: String): Op =
    if (kind.startsWith("overwrite")) {
      val v = kind.stripPrefix("overwrite").toInt
      write(frames._1(v), "overwrite")
      state.clear()
      state += header
      state ++= overwriteCells(v)
      Op((OverwriteRows + 1L) * header.length, check)
    } else {
      val a = kind.stripPrefix("append").toInt
      write(frames._2(a), "append")
      state ++= appendCells(a)
      Op(AppendRows.toLong * header.length, check)
    }

  private val check: () => Option[String] = () => {
    val got = fake.grid("wbook", "Data")
    val ids = got.drop(1).map(_.headOption.getOrElse(""))
    if (Hashing.grid(got) != Hashing.grid(state.toVector))
      Some(s"stored grid (${got.length} rows) != expected (${state.length} rows)")
    else if (ids.distinct.length != ids.length) Some("duplicated rows in the sheet")
    else None
  }
}

object Hashing {
  def grid(rows: Vector[Vector[String]]): Long =
    rows.foldLeft(17L)((h, r) => h * 1000003L + r.mkString("\u0001").hashCode)
}

/** Result signature of an engine query, insensitive to row order: row
  * count, the sum of a 64-bit hash over the exact (non-floating) columns
  * of each row, and the sum of each floating column (compared with a
  * relative tolerance, since parallel sums may differ in the last bits). */
final case class Signature(rows: Long, hash: String, floats: Seq[Double]) {
  def matches(o: Signature): Boolean =
    rows == o.rows && hash == o.hash && floats.length == o.floats.length &&
      floats.zip(o.floats).forall { case (a, b) =>
        (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-7 * math.max(math.abs(a), math.abs(b))
      }
}

object Signature {
  def of(df: DataFrame): Signature = {
    val fields = df.schema.fields
    val isFloat = (f: StructField) => f.dataType == DoubleType || f.dataType == FloatType
    val exact = fields.filterNot(isFloat).map(f => col(s"`${f.name}`"))
    val floats = fields.filter(isFloat).map(f => sum(col(s"`${f.name}`").cast(DoubleType)))
    val h = if (exact.isEmpty) lit(0L) else xxhash64(exact.toSeq: _*)
    val row = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0))) +: floats.toSeq: _*).head()
    Signature(row.getLong(0), String.valueOf(row.get(1)),
      (2 until row.length).map(i => if (row.isNullAt(i)) Double.NaN else row.getDouble(i)))
  }
}

/** Warm registry queries over the generated tables, no connector
  * involved. Each op builds the query's DataFrame (streaming queries run
  * their stream to completion here) and computes its [[Signature]]. */
final class Engine(base: SparkSession, queries: Seq[String],
    tablesDir: String, seed: Long, expected: Map[String, Signature]) extends Workload {
  private var s: SparkSession = _
  val recorded = mutable.LinkedHashMap.empty[String, Signature]

  def setup(): Unit = { s = base.newSession() }
  def cycle(n: Int): Seq[String] = new Random(seed * 7919 + n).shuffle(queries)

  def run(q: String): Op = {
    val df = Trace.span("operators.query", "operators")(graft.SparkEntry.queries(q)(s, tablesDir))
    val sig = Trace.span("exec.signature", "exec")(Signature.of(df))
    Op(0L, () => {
      recorded(q) = sig
      if (q.contains("_stream_")) org.apache.spark.sql.graft.Bridge.unloadStateStores()
      expected.get(q) match {
        case Some(want) if want.matches(sig) => None
        case Some(want) => Some(s"$q signature $sig != expected $want")
        case None => Some(s"$q has no committed signature")
      }
    })
  }
}
