package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  *   Main --workload sheets --seed 1 --seconds 10 --trace 0 \
  *        --tables DIR --expected perfbench/engine_expected.json --out OUT_DIR
  * }}}
  *
  * Set-up (session, endpoint, inputs and [[WarmupCycles]] untimed
  * cycles) is timed from JVM start. The closed loop then runs whole seeded
  * cycles for at least `--seconds` and at least [[MinCycles]] cycles.
  * With `--trace 1` it runs the loop twice, untraced then traced, and
  * measures the per-layer probes. Results go to OUT_DIR/result.json.
  */
object Main {
  /** Untimed cycles after set-up. They take most of the JIT's warm-up
    * (op latencies fall by 20-30% over a JVM's first three cycles); a third
    * does not fit the benchmark's time. */
  val WarmupCycles = 2
  /** At least three cycles per untraced run. On a 4-core VM three cycles
    * of either workload outlast `--seconds` (12), so every run times the
    * same cycles: with a time limit alone, fast runs would time one more
    * cycle than slow ones, and as latencies still drift down after the
    * warm-up, that extra cycle would pull their percentiles further apart. */
  val MinCycles = 3
  final case class Rec(op: Int, kind: String, startNs: Long, endNs: Long, cells: Long,
      error: Option[String], triggerMs: Double, collect: Map[String, Double]) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val out = args("out")
    val record = args.get("record")
    val nproc = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(out))

    val b = SparkSession.builder().master(s"local[$nproc]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sources.gsheets.GSheetsExtensions")
      .config("spark.local.dir", s"$out/local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
    if (trace) b.config("spark.extraListeners", classOf[ExecListener].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) CodegenLog.install()
    Collect.active = trace

    val expected = args.get("expected").map(p => Expected.read(p)).getOrElse(Map.empty)
    val w: Workload = workload match {
      case "sheets" => new Sheets(spark, seed, nproc)
      case "engine" => new Engine(spark, Workloads.EngineQueries, args("tables"), seed, expected)
      case other => sys.error(s"unknown workload $other")
    }

    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    var opSeq = 0
    def runOp(kind: String, traced: Boolean): Rec = {
      val before = if (traced) Collect.snapshot() else Map.empty[String, Double]
      Trace.currentOp = opSeq
      val t0 = System.nanoTime()
      var t1 = 0L
      val (cells, err) =
        try {
          val op = Trace.span(s"op.$kind", "bench")(w.run(kind))
          t1 = System.nanoTime()
          (op.cells, try op.check() catch { case e: Throwable => Some(s"check: $e") })
        } catch { case e: Throwable => t1 = System.nanoTime(); (0L, Some(s"$kind: $e")) }
      opSeq += 1
      attempted += 1
      err.foreach(failures += _)
      val delta =
        if (!traced) Map.empty[String, Double]
        else {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          val after = Collect.snapshot()
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        }
      val trigger = graft.streaming.StreamingQueries.batchDurationsMs.get(kind)
        .filter(_ => kind.contains("_stream_")).map(_.sum.toDouble).getOrElse(0.0)
      Rec(opSeq - 1, kind, t0, t1, cells, err, trigger, delta)
    }

    // ---- set-up: JVM start to the end of the untimed warm-up --------------
    // Warm-up: a fixed number of whole cycles, so set-up is a fixed amount
    // of work and work moved into it shows in setup_s.
    w.setup()
    for (c <- 1 to WarmupCycles) w.cycle(-c).foreach(k => runOp(k, traced = false))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupCollect = Collect.snapshot()
    val artifactS = drainArtifacts()
    phase("setup")

    // ---- closed loop --------------------------------------------------
    def loop(traced: Boolean): Vector[Rec] = {
      val recs = ArrayBuffer.empty[Rec]
      // The traced run splits its time between an untraced and a traced loop.
      val deadline = System.nanoTime() + (seconds * 1e9 / (if (trace) 2 else 1)).toLong
      val minCycles = if (trace) 1 else MinCycles
      var n = 0
      while (n < minCycles || System.nanoTime() < deadline) {
        w.cycle(n).foreach(k => recs += runOp(k, traced))
        n += 1
      }
      recs.toVector
    }
    def requests(): Vector[EndpointRequest] =
      w.endpoint.map(_.requests.asScala.toVector).getOrElse(Vector.empty)
    Collect.active = false
    val untraced = loop(traced = false)
    val untracedRequests = requests()
    val traced =
      if (!trace) Vector.empty[Rec]
      else {
        w.endpoint.foreach(_.requests.clear())
        Collect.batchMs.clear()
        Collect.active = true
        Trace.enabled = true
        val r = loop(traced = true)
        Trace.enabled = false
        r
      }
    val rssMb = vmHwmMb()
    phase("loop")

    // ---- metrics --------------------------------------------------------
    val res = new Result
    val lat = untraced.map(_.ms)
    res.e2e("setup_s", setupS, "s")
    res.e2e("op_p50_ms", familyPct(untraced, 50), "ms")
    res.e2e("op_p90_ms", familyPct(untraced, 90), "ms")
    res.e2e("ops_per_s", untraced.length / (lat.sum / 1e3), "1/s")
    res.e2e("rss_peak_mb", rssMb, "MB")
    res.info("ops", untraced.length)
    res.info("all_ops_p50_ms", pct(lat, 50))
    res.info("all_ops_p90_ms", pct(lat, 90))
    res.info("cells_per_s", untraced.map(_.cells).sum / (lat.sum / 1e3))
    untraced.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      res.info(s"kind.$k.p50_ms", pct(rs.map(_.ms), 50))
      res.info(s"kind.$k.n", rs.length)
    }
    Layers.endpointPerKind(untraced, untracedRequests).foreach { case (k, v) => res.info(k, v) }
    val streamBatches = graft.streaming.StreamingQueries.batchDurationsMs.values.flatten.toSeq
    if (streamBatches.nonEmpty) res.info("last_batch_ms", streamBatches.mkString("[", ",", "]"))

    if (trace) {
      val layers = new Layers(spark, w, seed, nproc)
      layers.fromLoop(res, untraced, traced, setupCollect, artifactS, requests())
      layers.probes(res)
      Trace.write(s"$out/spans.jsonl")
    }

    res.attempted = attempted
    res.failed = failures.length
    res.failures = failures.toSeq
    record.foreach { p =>
      w match {
        case e: Engine => Expected.write(p, e.recorded.toMap)
        case _ => ()
      }
    }
    Files.writeString(Paths.get(s"$out/ops.csv"), ("phase,op,kind,ms,cells,error" +:
      (untraced.map(r => ("untraced", r)) ++ traced.map(r => ("traced", r))).map { case (ph, r) =>
        s"$ph,${r.op},${r.kind},${r.ms},${r.cells},${r.error.isDefined}" }).mkString("\n") + "\n", UTF_8)
    phase("metrics")
    w.close()
    graft.operators.PipelineQueries.cleanupArtifacts(spark)
    spark.stop()
    phase("stop")
    Files.writeString(Paths.get(s"$out/result.json"), res.json, UTF_8)
  }

  private val t0Ms = System.currentTimeMillis()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] $name done at ${(System.currentTimeMillis() - t0Ms) / 1e3}%.1f s")

  def drainArtifacts(): Double = {
    val q = graft.operators.PipelineQueries.artifactBuildLog
    var total = 0.0
    var e = q.poll()
    while (e != null) { total += e._2; e = q.poll() }
    total
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Op family: the kind without its variant number (`small0`..`small2`
    * are `small`, `append0`..`append2` are `append`). */
  def family(kind: String): String = kind.replaceAll("\\d+$", "")

  /** The `p`th percentile of each family's latencies, then the geometric
    * mean over families. Every family counts once, however many ops it has
    * and however far its latencies lie from the other families', so the
    * figure never jumps between two families from run to run. */
  def familyPct(recs: Seq[Rec], p: Double): Double = {
    val fams = recs.groupBy(r => family(r.kind)).values.map(rs => pct(rs.map(_.ms), p)).toSeq
    if (fams.isEmpty) 0.0 else math.exp(fams.map(math.log).sum / fams.length)
  }

  /** Linear-interpolated percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Accumulates the run's metrics and writes them as JSON. */
final class Result {
  val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerM = mutable.LinkedHashMap.empty[String, Double]
  val infoM = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0
  var failures: Seq[String] = Nil

  def e2e(k: String, v: Double, unit: String): Unit = e2eM(k) = (v, unit)
  def layer(k: String, v: Double): Unit = layerM(k) = v
  def info(k: String, v: Any): Unit = infoM(k) = String.valueOf(v)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def json: String =
    "{" + Seq(
      "\"attempted\":" + attempted,
      "\"failed\":" + failed,
      "\"failures\":" + failures.take(20).map(str).mkString("[", ",", "]"),
      "\"e2e\":" + e2eM.map { case (k, (v, u)) =>
        str(k) + ":{\"value\":" + num(v) + ",\"unit\":" + str(u) + "}" }.mkString("{", ",", "}"),
      "\"layers\":" + layerM.map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}"),
      "\"info\":" + infoM.map { case (k, v) => str(k) + ":" + str(v) }.mkString("{", ",", "}")
    ).mkString(",") + "}\n"
}

/** The committed engine signatures (perfbench/engine_expected.json). */
object Expected {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(path: String): Map[String, Signature] = {
    val root = mapper.readTree(new java.io.File(path))
    root.fields().asScala.map { e =>
      val n = e.getValue
      e.getKey -> Signature(n.get("rows").asLong, n.get("hash").asText,
        n.get("floats").elements().asScala.map(x =>
          if (x.isTextual) Double.NaN else x.asDouble).toSeq)
    }.toMap
  }

  def write(path: String, sigs: Map[String, Signature]): Unit = {
    val root = mapper.createObjectNode()
    sigs.toSeq.sortBy(_._1).foreach { case (q, s) =>
      val n = root.putObject(q)
      n.put("rows", s.rows)
      n.put("hash", s.hash)
      val arr = n.putArray("floats")
      s.floats.foreach(f => if (f.isNaN) arr.add("NaN") else arr.add(f))
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), root)
  }
}
