package graftbench

import java.nio.file.{Files, Path}

/** `tiny` shrinks every workload to a few units of input; the build uses
  * it to load the classes a run needs into its class-data archive.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, report: String, data: String, tiny: Boolean = false)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("report"), m.getOrElse("data", ""),
      m.get("tiny").contains("1"))
  }
}

/** One benchmark run in this JVM: `--workload`, `--seed`, `--seconds`,
  * `--trace 0|1`, a `--work` directory and a `--report` file.
  * Prints the result object as the last line of standard output; the
  * full report (diagnostics, warm-up curves, spans) goes to the file.
  */
object Main {
  val Workloads: Map[String, (org.apache.spark.sql.SparkSession, Args, Report) => Unit] = Map(
    "cdc_drain" -> Cdc.drain _,
    "cdc_paced" -> Cdc.paced _,
    "event_log" -> ((spark: org.apache.spark.sql.SparkSession, a: Args, rep: Report) => {
      EventLog.run(spark, a, rep)
      if (a.trace && a.data.nonEmpty)
        QuerySlice.run(spark, a.data, s"${a.work}/query_out", rep)
    }))

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val run = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    require(a.seconds >= 1, "--seconds must be at least 1")
    Files.createDirectories(Path.of(a.work))
    val rep = new Report
    val mainS = Env.sinceJvmStart()
    rep.info("calibration_before_ops_per_s") = Env.calibrate()
    val spark = Env.session(a.work)
    rep.info("startup_s") = Map("main" -> mainS, "session" -> Env.sinceJvmStart())
    rep.info("env") = Map("nproc" -> Env.nproc, "max_heap_mb" -> Env.maxHeapMb,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "spark_conf" -> Env.sparkConf(spark))
    rep.info("args") = Map("workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace)
    run(spark, a, rep)
    rep.info("workload_end_s") = Env.sinceJvmStart()
    rep.info("calibration_after_ops_per_s") = Env.calibrate()
    val metrics = (if (a.trace) rep.layer else rep.e2e).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }
    val result = Map("correct" -> (rep.failed == 0 && rep.attempted > 0),
      "attempted" -> rep.attempted, "failed" -> rep.failed, "metrics" -> metrics)
    val report = Map("result" -> result, "end_to_end" -> rep.e2e.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }, "failures" -> rep.failures.toList,
      "info" -> rep.info, "spans" -> Trace.toJson)
    Files.writeString(Path.of(a.report), Json(report))
    spark.stop()
    println(Json(result))
    System.out.flush()
    sys.exit(0)
  }
}
