package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes each engine query's result (parquet) and its DuckDB oracle SQL
  * under OUT_DIR, for perfbench/oracle_check.py.
  *
  * {{{ OracleDump TABLES_DIR OUT_DIR }}}
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(tables, out) = args
    val n = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$n]").appName("perfbench-oracle")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- Workloads.EngineQueries) {
      val df = graft.SparkEntry.queries(q)(spark, tables)
      df.write.mode("overwrite").parquet(s"$out/$q")
      Files.writeString(Paths.get(s"$out/$q.sql"), graft.SparkEntry.oracleSql(q), UTF_8)
      Files.writeString(Paths.get(s"$out/$q.signature"),
        Signature.of(spark.read.parquet(s"$out/$q")).toString, UTF_8)
    }
    graft.operators.PipelineQueries.cleanupArtifacts(spark)
    spark.stop()
  }
}
