package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Spans recorded by the benchmark around its calls into the program's
  * layers. Off unless the run is traced; spans stay in memory and are
  * written with the report when the run ends.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var on = false
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized { spans += Span(id, parents.headOption.getOrElse(0), name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name in ms: a span's duration minus the part of
    * its interval that its child spans cover.
    */
  def selfMs(of: Seq[Span]): Map[String, Double] = {
    val children = of.groupBy(_.parent)
    of.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(_.ms).sum
        math.max(0.0, s.ms - covered)
      }.sum
    }
  }

  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** A traced run has the units of an untraced run — drain rounds,
  * one-second windows, upsert steps — and alternates them untraced and
  * traced: U, T, U, T, … Per-layer figures come from the traced units,
  * and the ratio of their cost to their untraced neighbours' is the
  * tracing overhead. An untraced run has only U units and registers no
  * listener.
  */
final class Tracing(spark: SparkSession, val enabled: Boolean) {
  val stats: Option[SparkStats] = if (enabled) Some(new SparkStats(spark)) else None
  private var progressLog: Option[ProgressLog] = None
  @volatile var current = false
  stats.foreach(_.active = false)

  def progress: Option[ProgressLog] = progressLog

  /** Record the micro-batch progress of queries started from `session`. */
  def watch(session: SparkSession): Unit =
    if (enabled) progressLog = Some(new ProgressLog(session))

  def traced(unit: Int): Boolean = enabled && unit % 2 == 1

  def set(on: Boolean): Unit = {
    current = on
    Trace.on = on
    stats.foreach(_.active = on)
  }

  /** Tracing overhead from per-unit costs of the timed phase: the median
    * over traced units of cost ÷ the mean of the untraced units on either
    * side, minus 1. Neighbours on both sides cancel a warm-up trend that
    * is still falling across the phase.
    */
  def overhead(cost: IndexedSeq[Double]): Double = Stats.median(
    cost.indices.filter(traced).map { u =>
      val around = Seq(u - 1, u + 1).filter(cost.indices.contains).map(cost)
      cost(u) / (around.sum / around.size) - 1
    })

  def stop(): Unit = {
    set(false)
    stats.foreach(_.stop())
    progressLog.foreach(_.stop())
  }
}

/** Sums of counters over the traced units: `start` and `stop` bracket
  * one unit.
  */
final class Accum(read: () => Seq[Double]) {
  private var base: Seq[Double] = Nil
  private var sums: Seq[Double] = Nil
  def start(): Unit = base = read()
  def stop(): Unit = {
    val d = read().zip(base).map { case (x, y) => x - y }
    sums = if (sums.isEmpty) d else sums.zip(d).map { case (x, y) => x + y }
  }
  def total(i: Int): Double = if (sums.isEmpty) 0.0 else sums(i)
}

/** Spark's own job/stage/task reports, accumulated from a listener that
  * is registered only in traced runs, while `active`. `snapshot` waits
  * until the listener bus has delivered every event posted so far.
  */
final class SparkStats(spark: SparkSession) extends SparkListener {
  @volatile var active = true
  final case class Totals(jobs: Long, stages: Long, tasks: Long,
      runMs: Long, shuffleBytes: Long, spillBytes: Long, recordsWritten: Long,
      stageTaskMs: Vector[Vector[Long]])

  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var runMs = 0L
  private var shuffleBytes = 0L
  private var spillBytes = 0L
  private var recordsWritten = 0L
  private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val doneStages = mutable.ArrayBuffer.empty[(Int, Int)]

  spark.sparkContext.addSparkListener(this)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) synchronized {
    stages += 1
    doneStages += ((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      recordsWritten += m.outputMetrics.recordsWritten
    }
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
  }

  def snapshot(): Totals = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    synchronized {
      Totals(jobs, stages, tasks, runMs, shuffleBytes, spillBytes, recordsWritten,
        doneStages.map(k => taskMs.getOrElse(k, Nil).toVector).toVector)
    }
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(this)
}

object SparkStats {
  /** Worst stage's max ÷ median task time among stages with ≥ 2 tasks
    * completed between two snapshots (1.0 when there is none).
    */
  def taskSkew(a: SparkStats#Totals, b: SparkStats#Totals): Double = {
    val stages = b.stageTaskMs.drop(a.stageTaskMs.size).filter(_.size >= 2)
    if (stages.isEmpty) 1.0
    else stages.map { ts =>
      val med = Stats.median(ts.map(_.toDouble))
      if (med <= 0) 1.0 else ts.max / med
    }.max
  }
}

/** Micro-batch progress of the streaming queries, from Spark's public
  * streaming-progress reports.
  */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  final case class Batch(rows: Long, durations: Map[String, Long], startMs: Long)
  private val batches = mutable.ArrayBuffer.empty[Batch]
  spark.streams.addListener(this)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val ds = if (d == null) Map.empty[String, Long]
      else d.entrySet().toArray.map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
        .map(en => en.getKey -> en.getValue.longValue()).toMap
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    synchronized { batches += Batch(p.numInputRows, ds, startMs) }
  }

  /** Batches with input whose trigger started inside one of `spans`
    * (epoch-ms intervals).
    */
  def batchesIn(spans: Seq[(Long, Long)]): Seq[Batch] = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    synchronized(batches.filter(b => b.rows > 0 &&
      spans.exists { case (a, z) => b.startMs >= a && b.startMs <= z }).toList)
  }

  def stop(): Unit = spark.streams.removeListener(this)
}
