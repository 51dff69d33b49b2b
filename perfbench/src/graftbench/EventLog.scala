package graftbench

import graft.sinks.EventTableSink
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The WAL-pipeline destination as a fixed script against one growing
  * event table (`graft.sinks.EventTableSink`): append-mostly upserts with
  * a fixed share of updates to older keys, replay-window reads between
  * them, periodic retention, point lookups and as-of reads. After every
  * call the table or the read result is compared with an in-memory
  * last-writer-wins model.
  */
object EventLog {
  val BatchRows = 1000
  val UpdateShare = 0.2
  val DeleteShare = 0.05
  val WarmSteps = 3
  val ReadsPerStep = 5
  val WarmReadsPerStep = 1
  val RetentionEvery = 3
  val KeepSteps = 3
  /** The layout of the repository's registered event-table queries
    * (`q48_event_table_merge`, `q56_retention`: 8 buckets), with the
    * epoch width set by the sink's own sizing rule: one epoch is one
    * retention unit, here the rows of `RetentionEvery` steps.
    */
  val Buckets = 8
  val LsnStride = 8L
  val EpochWidth: Long = RetentionEvery * BatchRows * LsnStride
  val BaseTsMicros = 1700000000000000L

  /** Five upsert steps per eight seconds asked for, fixed so a faster
    * program does the same steps.
    */
  def timedSteps(a: Args): Int = if (a.tiny) 2 else math.max(1, math.round(a.seconds * 0.625).toInt)

  final case class Rec(pk: String, lsn: Long, action: String, tsMicros: Long,
      cents: Int, props: String) {
    def key: (String, Long, String, Long, Long, String) =
      (pk, lsn, action, tsMicros, cents.toLong, props)
  }

  val schema: StructType = StructType(Seq(
    StructField("record_pk", StringType, nullable = false),
    StructField("commit_lsn", LongType, nullable = false),
    StructField("commit_idx", LongType, nullable = false),
    StructField("action", StringType, nullable = false),
    StructField("commit_ts", TimestampType, nullable = false),
    StructField("value_cents", LongType, nullable = false),
    StructField("props", StringType, nullable = false)))

  private def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  private def toRow(r: Rec): Row =
    Row(r.pk, r.lsn, 0L, r.action, ts(r.tsMicros), r.cents.toLong, r.props)

  private def fromRow(r: Row): (String, Long, String, Long, Long, String) = {
    val t = r.getAs[Timestamp]("commit_ts")
    val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    (r.getAs[String]("record_pk"), r.getAs[Long]("commit_lsn"), r.getAs[String]("action"),
      micros, r.getAs[Long]("value_cents"), r.getAs[String]("props"))
  }

  /** The seeded script: batches of records, deterministic for a seed. */
  final class Script(seed: Long, steps: Int) {
    private val rng = new java.util.SplittableRandom(seed)
    private val keys = mutable.ArrayBuffer.empty[String]
    private var nextKey = 0L
    private var lsn = 0L
    val digest = java.security.MessageDigest.getInstance("SHA-256")

    private def props(): String = {
      val sb = new java.lang.StringBuilder(120)
      while (sb.length < 120) sb.append(Integer.toString(rng.nextInt(36), 36))
      sb.toString
    }

    val batches: IndexedSeq[IndexedSeq[Rec]] = (0 until steps).map { _ =>
      val updates = if (keys.isEmpty) 0 else (BatchRows * UpdateShare).toInt
      val deletes = (BatchRows * DeleteShare).toInt
      val chosen = mutable.LinkedHashSet.empty[String]
      while (chosen.size < math.min(updates, keys.size)) chosen += keys(rng.nextInt(keys.size))
      val upd = chosen.toSet
      val del = chosen.take(deletes).toSet
      val fresh = (0 until BatchRows - upd.size).map { _ =>
        nextKey += 1; f"k$seed%d-$nextKey%08d"
      }
      keys ++= fresh
      val pks = (upd ++ fresh).toArray
      // shuffle so updates and inserts interleave in commit order
      var i = pks.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = pks(i); pks(i) = pks(j); pks(j) = t
        i -= 1
      }
      pks.toIndexedSeq.map { pk =>
        lsn += LsnStride
        val action =
          if (del.contains(pk)) "delete" else if (upd.contains(pk)) "update" else "insert"
        val r = Rec(pk, lsn, action, BaseTsMicros + (lsn / LsnStride) * 1000L,
          rng.nextInt(1000000), props())
        digest.update(r.toString.getBytes("UTF-8"))
        r
      }
    }
  }

  /** Live `(bucket, epoch)` directories with their file identities. */
  private def dirKeys(path: String): Map[String, AnyRef] = {
    val root = Path.of(path)
    if (!Files.exists(root)) return Map.empty
    def ls(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    ls(root).filter(_.getFileName.toString.startsWith("bucket=")).flatMap(b =>
      ls(b).filter(_.getFileName.toString.startsWith("epoch=")).map(e =>
        root.relativize(e).toString ->
          Files.readAttributes(e, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()))
      .toMap
  }

  /** Parquet files a replay read of (from, to] scans after epoch pruning. */
  private def filesInWindow(path: String, from: Long, to: Long): Int = {
    val (lo, hi) = ((from / EpochWidth).toInt, (to / EpochWidth).toInt)
    dirKeys(path).keys.toSeq.filter { rel =>
      val e = rel.split("epoch=")(1).toInt
      e >= lo && e <= hi
    }.map { rel =>
      val s = Files.list(Path.of(path, rel))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }.sum
  }

  def run(spark: SparkSession, a: Args, rep: Report): Unit = {
    val tr = new Tracing(spark, a.trace)
    val warmSteps = if (a.tiny) 1 else WarmSteps
    val steps = warmSteps + timedSteps(a)
    val tGen = System.nanoTime()
    val script = new Script(a.seed, steps)
    val rng = new java.util.SplittableRandom(a.seed ^ 0x5DEECE66DL)
    val genS = (System.nanoTime() - tGen) / 1e9
    rep.info("input_sha256") = Env.sha256Hex(script.digest)
    rep.info("generate_s") = genS
    rep.info("rows") = steps * BatchRows
    val path = s"${a.work}/event_table"
    val model = mutable.HashMap.empty[String, Rec]

    val verifyMs = mutable.ArrayBuffer.empty[Double]
    def checkTable(what: String): Unit = {
      val t0 = System.nanoTime()
      rep.attempted += 1
      val got = EventTableSink.read(spark, path).collect().map(fromRow).toSet
      val want = model.values.map(_.key).toSet
      if (got != want)
        rep.fail(s"$what: table has ${got.size} rows, model ${want.size}; " +
          s"${(got -- want).size} unexpected, ${(want -- got).size} missing")
      verifyMs += (System.nanoTime() - t0) / 1e6
    }

    // per step: milliseconds of each call kind, and traced-only counts
    val times = mutable.HashMap.empty[(String, Int), mutable.ArrayBuffer[Double]]
    def ms(kind: String, steps: Seq[Int]): Seq[Double] =
      steps.flatMap(st => times.getOrElse((kind, st), Nil))
    def timed[T](kind: String, step: Int)(body: => T): T = {
      val s = System.nanoTime()
      val r = Trace.span(s"event_table.$kind")(body)
      times.getOrElseUpdate((kind, step), mutable.ArrayBuffer.empty) += (System.nanoTime() - s) / 1e6
      r
    }
    val jobsPerUpsert = mutable.ArrayBuffer.empty[Double]
    val dirsRewritten = mutable.ArrayBuffer.empty[Double]
    val rowsWritten = mutable.ArrayBuffer.empty[Double]
    val filesPerRead = mutable.ArrayBuffer.empty[Double]
    val stepSeconds = mutable.ArrayBuffer.empty[Double]
    val gc = Cdc.gcAccum()
    var tracedMs = 0.0
    var timedStartS = 0.0
    val session0 = Env.sinceJvmStart()

    (0 until steps).foreach { step =>
      System.gc()
      if (step == warmSteps) timedStartS = Env.sinceJvmStart()
      val traced = step >= warmSteps && tr.traced(step - warmSteps)
      tr.set(traced)
      if (traced) gc.start()
      val stepStart = System.nanoTime()
      val batch = script.batches(step)
      val df = spark.createDataFrame(spark.sparkContext.parallelize(batch.map(toRow), 1), schema)
      val before = if (traced) dirKeys(path) else Map.empty[String, AnyRef]
      val sa = tr.stats.map(_.snapshot())
      timed("upsert", step) { EventTableSink.upsert(spark, df, path, Buckets, EpochWidth) }
      if (traced) {
        for (x <- sa; y <- tr.stats.map(_.snapshot())) {
          jobsPerUpsert += (y.jobs - x.jobs).toDouble
          rowsWritten += (y.recordsWritten - x.recordsWritten).toDouble
        }
        val after = dirKeys(path)
        dirsRewritten += after.count { case (k, v) => !before.get(k).contains(v) }.toDouble
      }
      batch.foreach(r => model(r.pk) = r)
      checkTable(s"upsert $step")

      if (step % RetentionEvery == RetentionEvery - 1 && step >= KeepSteps) {
        val cutoffMicros = BaseTsMicros + (step - KeepSteps + 1).toLong * BatchRows * 1000L
        timed("retention", step) {
          EventTableSink.retention(spark, path, "commit_ts", lit(ts(cutoffMicros)))
        }
        model.filterInPlace { case (_, r) => r.tsMicros >= cutoffMicros }
        checkTable(s"retention $step")
      }

      val lsns = model.values.map(_.lsn)
      val (minLsn, maxLsn) = (lsns.min, lsns.max)
      (0 until (if (step < warmSteps) WarmReadsPerStep else ReadsPerStep)).foreach { _ =>
        val from = minLsn - 1 + rng.nextLong(math.max(1L, (maxLsn - minLsn) / LsnStride)) * LsnStride
        val to = from + BatchRows * LsnStride
        rep.attempted += 1
        if (traced) filesPerRead += filesInWindow(path, from, to).toDouble
        val got = timed("changes_between", step) {
          EventTableSink.changesBetween(spark, path, from, to, EpochWidth).collect()
        }.map(r => (fromRow(r), r.getAs[String]("net_effect"))).toSet
        val want = model.values.filter(r => r.lsn > from && r.lsn <= to)
          .map(r => (r.key, if (r.action == "delete") "delete" else "upsert")).toSet
        if (got != want) rep.fail(s"changesBetween($from, $to) step $step: " +
          s"${got.size} rows, model ${want.size}")
      }

      // point and as-of reads are per-layer diagnostics: traced steps only
      if (traced) {
        val keys = model.keysIterator.toIndexedSeq
        val pk = if (rng.nextInt(10) == 0) s"absent-$step" else keys(rng.nextInt(keys.size))
        rep.attempted += 1
        val got = timed("lookup", step) {
          EventTableSink.lookup(spark, path, pk, Buckets).collect()
        }.map(fromRow).toSet
        if (got != model.get(pk).map(_.key).toSet) rep.fail(s"lookup($pk) step $step")
      }

      if (traced) {
        val cut = minLsn + rng.nextLong(math.max(1L, maxLsn - minLsn))
        rep.attempted += 1
        val got = timed("state_as_of", step) {
          EventTableSink.stateAsOf(spark, path, cut, Long.MaxValue, EpochWidth).collect()
        }.map(fromRow).toSet
        val want = model.values.filter(r => r.lsn <= cut && r.action != "delete").map(_.key).toSet
        if (got != want) rep.fail(s"stateAsOf($cut) step $step: ${got.size} rows, model ${want.size}")
      }
      stepSeconds += (System.nanoTime() - stepStart) / 1e9
      if (traced) { gc.stop(); tracedMs += (System.nanoTime() - stepStart) / 1e6 }
    }
    tr.set(false)
    val liveHeap = Env.liveHeapMb()

    val timedRange = warmSteps until steps
    rep.info("verify_ms") = verifyMs
    val (tracedSteps, plainSteps) = timedRange.partition(s => tr.traced(s - warmSteps))
    def throughput(st: Seq[Int]) = st.size * BatchRows / (ms("upsert", st).sum / 1000.0)
    rep.metric("setup_s", timedStartS - genS, "s")
    rep.metric("throughput", throughput(plainSteps), "ops/s")
    Cdc.latencyMetrics(rep, ms("changes_between", plainSteps))
    rep.metric("live_heap_mb", liveHeap, "MB")
    rep.info("setup_breakdown_s") = Map("session_up" -> session0,
      "warm_up_end" -> timedStartS, "generate" -> genS)
    rep.info("step_seconds") = stepSeconds
    rep.info("upsert_ms") = ms("upsert", 0 until steps)
    rep.info("call_ms_p50") = times.keys.map(_._1).toSeq.distinct.map(k =>
      k -> Stats.median(ms(k, timedRange))).toMap
    rep.info("layout") = Map("buckets" -> Buckets, "epoch_width" -> EpochWidth,
      "batch_rows" -> BatchRows, "warm_steps" -> warmSteps, "timed_steps" -> timedRange.size,
      "traced_steps" -> tracedSteps, "reads_per_step" -> ReadsPerStep)

    if (tr.enabled) {
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      rep.layerMetric("trace.overhead_frac", tr.overhead(timedRange.map(s => ms("upsert", Seq(s)).sum)),
        "ratio")
      rep.layerMetric("event_table.upsert_ms_p50", Stats.median(ms("upsert", tracedSteps)), "ms")
      rep.layerMetric("event_table.jobs_per_upsert", mean(jobsPerUpsert.toSeq), "count")
      rep.layerMetric("event_table.dirs_rewritten_per_upsert", mean(dirsRewritten.toSeq), "count")
      rep.layerMetric("event_table.write_amplification",
        rowsWritten.sum / (tracedSteps.size * BatchRows), "ratio")
      rep.layerMetric("event_table.files_per_read", mean(filesPerRead.toSeq), "count")
      rep.layerMetric("event_table.lookup_ms_p50", Stats.median(ms("lookup", tracedSteps)), "ms")
      rep.layerMetric("event_table.state_as_of_ms_p50",
        Stats.median(ms("state_as_of", tracedSteps)), "ms")
      // retention runs every third step, traced or not: its timed-phase calls
      rep.layerMetric("event_table.retention_ms", ms("retention", timedRange).sum, "ms")
      Cdc.commonLayers(rep, tr, gc, tracedMs)
    }
    tr.stop()
  }
}
