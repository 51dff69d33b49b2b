package graftbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Registered batch queries the CDC workloads never touch — the
  * `queries`, `similarity` and `graph` modules — run once, each with
  * Spark's job, stage, shuffle, spill and task-time reports, on a JVM
  * the event-log workload has warmed. Each writes its output for the
  * runner's fingerprint check against the DuckDB oracle.
  */
object QuerySlice {
  val Queries = Seq("td110_ivfpq_residual", "td93_ivfpq", "q66_triangles",
    "q101_bucketed_join", "q100_kpis")

  def run(spark: SparkSession, dataDir: String, outDir: String, rep: Report): Unit = {
    val stats = new SparkStats(spark)
    Trace.on = true
    try {
      var slice = 0.0
      Queries.foreach { q =>
        val a = stats.snapshot()
        val t0 = System.nanoTime()
        Trace.span(s"query.$q") {
          SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$q")
        }
        val s = (System.nanoTime() - t0) / 1e9
        val b = stats.snapshot()
        slice += s
        rep.layerMetric(s"query.$q.s", s, "s")
        rep.layerMetric(s"query.$q.jobs", (b.jobs - a.jobs).toDouble, "count")
        rep.layerMetric(s"query.$q.stages", (b.stages - a.stages).toDouble, "count")
        rep.layerMetric(s"query.$q.shuffle_bytes", (b.shuffleBytes - a.shuffleBytes).toDouble, "bytes")
        rep.layerMetric(s"query.$q.spill_bytes", (b.spillBytes - a.spillBytes).toDouble, "bytes")
        rep.layerMetric(s"query.$q.task_skew", SparkStats.taskSkew(a, b), "ratio")
      }
      rep.layerMetric("query.slice_s", slice, "s")
      rep.info("query_outputs") = outDir
    } finally {
      Trace.on = false
      stats.stop()
    }
  }
}
