package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.{GraftFunctions => F}
import graft.sources.gsheets.{GSheetsBind, GSheetsDataWriter, GSheetsOptions, GSheetsReaderFactory, GSheetsTable}
import graft.sources.gsheets.core.{A1Range, BearerTokenAuth, GoogleSheetsClient, JdkHttp, Json, Model, ValueRange}

import Main.{Rec, median, pct}

object Layers {
  /** Endpoint requests attributed to the op whose interval contains
    * them (the loop is closed with one client, so intervals never
    * overlap). */
  def attribute(recs: Seq[Rec], reqs: Seq[EndpointRequest]): Map[Int, Seq[EndpointRequest]] = {
    val starts = recs.map(_.startNs).toArray
    reqs.flatMap { r =>
      val i = java.util.Arrays.binarySearch(starts, r.startNs) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && r.startNs <= recs(i).endNs) Some(i -> r) else None
    }.groupMap(_._1)(_._2)
  }

  /** Requests and bytes per op kind, for the human-readable report. */
  def endpointPerKind(recs: Seq[Rec], reqs: Seq[EndpointRequest]): Seq[(String, Double)] = {
    val byOp = attribute(recs, reqs)
    recs.indices.groupBy(i => recs(i).kind).toSeq.sortBy(_._1).flatMap { case (k, is) =>
      val rs = is.flatMap(i => byOp.getOrElse(i, Nil))
      Seq(s"endpoint.$k.requests_per_op" -> rs.length.toDouble / is.length,
        s"endpoint.$k.bytes_down_per_op" -> rs.map(_.bytesDown).sum.toDouble / is.length)
    }
  }
}

/** Per-layer metrics of the traced run: what the traced loop observed,
  * plus isolated probes of each layer's public functions. */
final class Layers(spark: SparkSession, w: Workload, seed: Long, nproc: Int) {

  private def per(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n

  def fromLoop(res: Result, untraced: Seq[Rec], traced: Seq[Rec],
      setup: Map[String, Double], artifactS: Double, reqs: Seq[EndpointRequest]): Unit = {
    val n = traced.length
    // Endpoint-side counts, per op.
    val byOp = Layers.attribute(traced, reqs)
    val mine = byOp.values.flatten.toSeq
    def count(kind: String) = per(mine.count(_.kind == kind), n)
    res.layer("core.requests_per_op", per(mine.length, n))
    res.layer("core.values_get_per_op", count("values_get"))
    res.layer("core.spreadsheets_get_per_op", count("spreadsheets_get"))
    res.layer("core.append_per_op", count("append"))
    res.layer("core.clear_per_op", count("clear"))
    res.layer("core.bytes_down_per_op", per(mine.map(_.bytesDown).sum, n))
    res.layer("core.bytes_up_per_op", per(mine.map(_.bytesUp).sum, n))
    res.layer("core.rtt_wait_ms", per(byOp.values.map(rs =>
      Trace.unionNs(rs.map(r => (r.startNs, r.endNs)))).sum / 1e6, n))
    res.layer("core.endpoint_busy_ms", per(mine.map(_.busyNs).sum / 1e6, n))
    byOp.foreach { case (i, rs) =>
      val op = traced(i).op
      rs.foreach(r => Trace.add(s"endpoint.${r.kind}", "core", r.startNs, r.endNs,
        Trace.innermost(op, r.startNs), op))
    }

    // Connector observations.
    val spans = Trace.all
    val smallOps = traced.filter(_.kind.startsWith("small")).map(_.op).toSet
    res.layer("connector.analyze_ms", median(spans.filter(s =>
      s.name == "connector.analyze" && smallOps.contains(s.op)).map(s => (s.endNs - s.startNs) / 1e6)))
    val execOps = traced.indices.filter(i => traced(i).kind == "large_exec")
    val full = w match { case r: Sheets => r.largePayloadBytes.toDouble; case _ => 0.0 }
    res.layer("connector.fetch_amplification",
      if (execOps.isEmpty || full == 0) 0.0
      else execOps.map(i => byOp.getOrElse(i, Nil).map(_.bytesDown).sum / full).sum / execOps.length)
    val appends = mine.filter(_.kind == "append")
    res.layer("connector.rows_per_append", per(appends.map(_.rows).sum, appends.length))
    res.layer("connector.cells_per_s", untraced.map(_.cells).sum / (untraced.map(_.ms).sum / 1e3))

    // Planner, executor, streaming and state, from the listeners.
    def tot(k: String) = traced.map(_.collect.getOrElse(k, 0.0)).sum
    for (k <- Seq("analysis", "optimization", "planning"))
      res.layer(s"plan.${k}_ms", per(tot(s"plan.${k}_ms"), n))
    res.layer("plan.codegen_compile_ms", per(tot("plan.codegen_compile_ms"), n))
    res.layer("plan.codegen_classes", per(tot("plan.codegen_classes"), n))
    res.layer("plan.setup_codegen_compile_ms", setup.getOrElse("plan.codegen_compile_ms", 0.0))
    res.layer("plan.setup_codegen_classes", setup.getOrElse("plan.codegen_classes", 0.0))
    res.layer("operators.artifact_build_s", artifactS)
    for (k <- Seq("task_cpu_ms", "task_run_ms", "gc_ms", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "peak_exec_memory_bytes", "stages", "tasks"))
      res.layer(s"exec.$k", per(tot(s"exec.$k"), n))
    res.layer("exec.task_skew", per(tot("exec.skew_sum"), tot("exec.skew_stages").toInt))
    for (q <- Workloads.EngineQueries)
      res.layer(s"query.${q}_ms", median(untraced.filter(_.kind == q).map(_.ms)))
    for (k <- Seq("add_batch", "wal_commit", "commit_offsets", "query_planning",
        "latest_offset", "get_batch"))
      res.layer(s"streaming.${k}_ms", per(tot(s"streaming.${k}_ms"), n))
    val streamOps = untraced.filter(_.triggerMs > 0)
    res.layer("streaming.lifecycle_ms", per(streamOps.map(r => r.ms - r.triggerMs).sum, streamOps.length))
    val batches = Collect.batchMs.asScala.map(_.toDouble).toSeq
    res.layer("streaming.batch_p50_ms", pct(batches, 50))
    res.layer("streaming.batch_p90_ms", pct(batches, 90))
    val samples = tot("state.samples").toInt
    res.layer("state.rows_total", per(tot("state.rows_total"), samples))
    res.layer("state.memory_bytes", per(tot("state.memory_bytes"), samples))
    res.layer("state.commit_ms", per(tot("state.commit_ms"), samples))

    // Self time per layer, per op, from the span tree.
    val self = Trace.selfTimeByLayer()
    for (l <- Seq("bench", "core", "connector", "operators", "plan", "exec"))
      res.layer(s"self.${l}_ms", per(self.getOrElse(l, 0.0), n))

    val p50u = Main.familyPct(untraced, 50)
    val p50t = Main.familyPct(traced, 50)
    res.layer("trace.op_p50_untraced_ms", p50u)
    res.layer("trace.op_p50_traced_ms", p50t)
    res.layer("trace.overhead_pct", if (p50u > 0) (p50t / p50u - 1) * 100 else 0.0)
  }

  /** Median wall time (ns) of `f` over `reps` runs after one warm-up. */
  private def timeNs(reps: Int)(f: => Any): Double = {
    f
    median((1 to reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble })
  }

  def probes(res: Result): Unit = {
    coreAndConnector(res)
    kernels(res)
  }

  /** core and connector functions, called directly on a 100k x 20 sheet
    * served by a private endpoint. */
  private def coreAndConnector(res: Result): Unit = {
    val token = "perfbench-probe"
    val fake = new FakeSheets(token, Workloads.DelayMs, nproc)
    try {
      val rows = Workloads.LargeRows
      val cols = Workloads.LargeCols
      fake.addSpreadsheet("probe", "Sheet1" -> SheetData.grid(seed, 100, rows, cols))
      val cells = (rows + 1.0) * cols
      val client = new GoogleSheetsClient(new JdkHttp(), new BearerTokenAuth(token), fake.baseUrl)
      val payload = new String(fake.payloadBytes("probe", "Sheet1"), java.nio.charset.StandardCharsets.UTF_8)
      res.layer("core.json_parse_ns_per_cell",
        timeNs(2)(Model.valueRange(Json.parse(payload))) / cells)
      res.layer("core.values_get_ms", timeNs(2)(client.valuesGet("probe", A1Range("Sheet1"))) / 1e6)
      val chunk = ValueRange("Data", "ROWS", SheetData.writeRows(seed, 0, 0L, 2048)
        .map(SheetData.expectedCells).toVector)
      res.layer("core.body_build_ns_per_cell", timeNs(5)(Model.valueRangeBody(chunk)) / (2048.0 * 7))

      var nonce = 0
      def opts(): GSheetsOptions = {
        nonce += 1
        GSheetsOptions(Map("path" -> Workloads.url("probe"), "token" -> token,
          "baseUrl" -> fake.baseUrl, "numPartitions" -> nproc.toString, "probe_nonce" -> nonce.toString))
      }
      res.layer("connector.bind_ms", timeNs(2) { GSheetsBind.bind(opts()) } / 1e6)
      GSheetsBind.clearCache()
      def scan() = {
        val o = opts()
        val bound = GSheetsBind.bind(o)
        new GSheetsTable(bound.schema, o).newScanBuilder(CaseInsensitiveStringMap.empty())
      }
      val builders = (0 to 2).map(_ => scan())
      var bi = 0
      res.layer("connector.plan_partitions_ms", timeNs(2) {
        val parts = builders(bi).build().toBatch.planInputPartitions(); bi += 1; parts } / 1e6)
      val parts = builders(0).build().toBatch.planInputPartitions()
      val factory = new GSheetsReaderFactory
      res.layer("connector.read_ns_per_cell", timeNs(2) {
        parts.foreach { p =>
          val r = factory.createReader(p)
          while (r.next()) r.get()
          r.close()
        }
      } / (rows.toDouble * cols))
      GSheetsBind.clearCache()

      val internal: Array[InternalRow] = spark.createDataFrame(
        SheetData.writeRows(seed, 0, 0L, Workloads.OverwriteRows).asJava, SheetData.WriteSchema)
        .queryExecution.toRdd.map(_.copy()).collect()
      val sers = SheetData.WriteSchema.fields.map(f => GSheetsDataWriter.cellSerializer(f.dataType))
      res.layer("connector.serialize_ns_per_cell", timeNs(2) {
        internal.foreach { r =>
          var i = 0
          while (i < sers.length) { if (!r.isNullAt(i)) sers(i)(r, i); i += 1 }
        }
      } / (internal.length.toDouble * sers.length))
    } finally fake.stop()
  }

  /** Codegen kernels and aggregators as isolated selects/aggregates over
    * cached inputs, minus a projection-only baseline over the same rows. */
  private def kernels(res: Result): Unit = {
    val s = spark.newSession()
    import s.implicits._
    F.ensureRegistered(s)
    val nVec = 50000
    val dim = 64
    val vecs = s.range(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (xxhash64(col("id"), i) % 1000 / 1000.0).cast(FloatType)).as("embedding"))
      .withColumn("q", typedLit(Array.tabulate(dim)(i => (i % 7) / 7f)))
      .withColumn("cents", typedLit((0 until 16).map(c =>
        (c.toLong, Array.tabulate(dim)(i => ((c * 31 + i) % 11) / 11f))).toArray))
      .withColumn("cents", expr("transform(cents, x -> named_struct('cid', x._1, 'ce', x._2))"))
      .cache()
    val words = SheetData.Words
    val docs = s.range(10000).select(col("id").as("doc_id"),
      transform(sequence(lit(0), lit(63)), i =>
        element_at(typedLit(words), (abs(xxhash64(col("id"), i)) % words.length).cast(IntegerType) + 1))
        .as("toks"))
      .withColumn("sids", transform(col("toks"), t => xxhash64(t)))
      .withColumn("bits", typedLit(new Array[Byte](1 << 14)))
      .cache()
    vecs.write.format("noop").mode("overwrite").save()
    docs.write.format("noop").mode("overwrite").save()

    /** Median over three interleaved (baseline, probe) pairs of the
      * per-row time difference, after one warm-up pair. */
    def nsPerRow(df: DataFrame, rows: Long, probe: Column, base: Column, agg: Boolean = false): Double = {
      def t(c: Column): Double = {
        val q = if (agg) df.groupBy((col(df.columns.head) % 64).as("g")).agg(c.as("o"))
                else df.select(c.as("o"))
        val t0 = System.nanoTime()
        q.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      t(base); t(probe)
      (median((1 to 3).map { _ => val b = t(base); t(probe) - b }) / rows).max(0.0)
    }
    val v = col("embedding")
    val vb = size(v)
    res.layer("functions.cosine_sim_ns_per_row", nsPerRow(vecs, nVec, F.cosineSim(v, col("q")), vb))
    res.layer("functions.l2_sq_ns_per_row", nsPerRow(vecs, nVec, F.l2Sq(v, col("q")), vb))
    res.layer("functions.l2_argmin_cid_ns_per_row",
      nsPerRow(vecs, nVec, F.l2ArgminCid(v, col("cents"), lit(null)), vb))
    res.layer("functions.pq_subdists_ns_per_row", nsPerRow(vecs, nVec, F.pqSubDists(v, col("q"), 8), vb))
    res.layer("functions.hyperplane_dots_ns_per_row", nsPerRow(vecs, nVec, F.hyperplaneDots(v, 12), vb))
    val nDocs = 10000L
    res.layer("functions.minhash_sigs_ns_per_row",
      nsPerRow(docs, nDocs, F.minhashSigs(col("sids"), 16), size(col("sids"))))
    res.layer("functions.bloom_contains_ns_per_row",
      nsPerRow(docs, nDocs, F.bloomContains(col("bits"), col("doc_id"), 4), col("doc_id")))
    res.layer("functions.shingles_k_ns_per_row",
      nsPerRow(docs, nDocs, F.shinglesK(col("toks"), 3), size(col("toks"))))
    res.layer("functions.chunk_tokens_ns_per_row",
      nsPerRow(docs.select(col("doc_id"), F.chunkTokens(col("toks"), 16, 12)), nDocs,
        col("chunk"), col("doc_id")))
    val topk = udaf(new graft.functions.TopKAgg(10))
    res.layer("functions.topk_agg_ns_per_row", nsPerRow(vecs, nVec,
      topk(col("vec_id"), F.cosineSim(v, col("q"))), count(F.cosineSim(v, col("q"))), agg = true))
    val mg = udaf(new graft.functions.MisraGriesAgg(64))
    val toks = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
    res.layer("functions.misra_gries_ns_per_row",
      nsPerRow(toks, nDocs * 64, mg(col("tok")), count(col("tok")), agg = true))
    val capped = udaf(new graft.functions.CappedCollect[graft.functions.PostingN](50))
    res.layer("functions.capped_collect_ns_per_row", nsPerRow(vecs, nVec,
      capped(col("vec_id"), col("vec_id")), count(col("vec_id")), agg = true))
    val bloom = udaf(new graft.functions.BloomAgg(1 << 17, 4))
    res.layer("functions.bloom_agg_ns_per_row",
      nsPerRow(vecs, nVec, bloom(col("vec_id")), count(col("vec_id")), agg = true))
    vecs.unpersist()
    docs.unpersist()
  }
}
