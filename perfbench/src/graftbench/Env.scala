package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Order statistics used by every workload. */
object Stats {
  def sorted(xs: Iterable[Double]): Array[Double] = {
    val a = xs.toArray
    java.util.Arrays.sort(a)
    a
  }

  /** Nearest-rank quantile of an ascending array. */
  def quantile(s: Array[Double], q: Double): Double =
    if (s.isEmpty) 0.0
    else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))

  def median(xs: Iterable[Double]): Double = quantile(sorted(xs), 0.5)

  /** The highest percentile that still has at least ten samples above it:
    * the 11th-largest value. Returns (value, quantile, samples). With
    * fewer than 11 samples the maximum is returned and the quantile is 1.
    */
  def high(xs: Iterable[Double]): (Double, Double, Int) = {
    val s = sorted(xs)
    val n = s.length
    if (n == 0) (0.0, 1.0, 0)
    else if (n < 11) (s(n - 1), 1.0, n)
    else (s(n - 11), (n - 10).toDouble / n, n)
  }
}

/** One run's results: end-to-end and per-layer metrics, correctness
  * counts and free-form diagnostics for the report file.
  */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(what: String, n: Long = 1L): Unit = {
    failed += n
    if (failures.size < 50) failures += what
  }
  def metric(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def layerMetric(name: String, v: Double, unit: String): Unit =
    layer(name) = (v, unit)
}

/** Process environment: session factory, CPU calibration, heap and GC. */
object Env {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val nproc: Int = Runtime.getRuntime.availableProcessors

  /** Seconds since the JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$nproc]")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def sparkConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.shuffle") || k.startsWith("spark.sql.adaptive.enabled") ||
        k == "spark.master" || k == "spark.scheduler.mode" ||
        k.startsWith("spark.sql.session.timeZone")
    }

  /** Integer-mix loop throughput in ops/s. A diagnostic of how fast the
    * host ran at that moment; it never scales a metric.
    */
  def calibrate(): Double = {
    val n = 30000000
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("") // keep the loop observable
    n / s
  }

  /** Heap still used after full collections, in MB. Spark's context
    * cleaner frees blocks of RDDs, shuffles and broadcasts only after a
    * collection has found them unreachable, so collect three times with
    * a pause for it between.
    */
  def liveHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** (collections, milliseconds) summed over every collector. */
  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionCount)).sum,
      beans.map(b => math.max(0L, b.getCollectionTime)).sum)
  }

  def sha256Hex(d: java.security.MessageDigest): String =
    d.digest().map(b => f"${b & 0xff}%02x").mkString

  /** Polls `cond` every millisecond for up to `timeoutMs`. */
  def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) {
      java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
      ok = cond
    }
    ok
  }
}
