package graftbench

/** Runs every workload once at `tiny` size, traced, in one JVM. The build
  * runs it with `-XX:ArchiveClassesAtExit` so that the class-data archive
  * holds the classes a benchmark run loads: every run then starts from
  * the same archive instead of loading and verifying them from the jars.
  */
object Archive {
  def main(argv: Array[String]): Unit = {
    val work = argv(0)
    Trace.on = true
    val spark = Env.session(work)
    Main.Workloads.toSeq.sortBy(_._1).foreach { case (name, run) =>
      run(spark, Args(name, 1L, 1, trace = true, s"$work/$name", s"$work/$name.json",
        data = "", tiny = true), new Report)
    }
    spark.stop()
  }
}
