package graftbench

import graft.config.{Health, Metrics, PipelineSpec}
import graft.sinks.SinkDispatch
import graft.sources.{PgStream, WalSpool, WalSpoolProvider}
import graft.streaming.{CdcPipeline, ConsumerConfig, ConsumerRuntime}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The CDC delivery path, driven from outside: WAL segments published
  * into a spool → `PgStream` decode → CDC envelope → `CdcPipeline` →
  * `ConsumerRuntime` (micro-batch or low-latency tail) → `SinkDispatch`
  * over TCP to the [[Loopback]].
  */
object Cdc {
  /** cdc_drain's input: `first` events delivered before the backlog,
    * then `warm` + `timed` rounds, each one segment of `roundEvents`.
    */
  final case class DrainSize(first: Int, roundEvents: Int, warm: Int, timed: Int)
  // one 4,000-event round per second asked for, fixed so a faster
  // program drains the same backlog in less time. A round is one
  // segment, so one trigger: a round split over several triggers
  // delivers in steps, its median event sits on a step, and its latency
  // flips between two of them. Seven warm-up rounds take the rounds past
  // the JIT ramp (measured curve in README.md)
  def drainSize(a: Args): DrainSize =
    if (a.tiny) DrainSize(200, 500, 1, 2)
    else DrainSize(1000, 4000, 7, a.seconds)
  // cdc_paced: 2,000 ev/s as one 400-event segment every 200 ms, 15 s of
  // warm-up, then `--seconds` one-second windows. At 100-ms segments the
  // tail's per-segment cost (~90 ms on a 4-core host) sits at the period,
  // and latency flips between ~90 and ~250 ms from run to run
  val PacedSegEvents = 400
  val PacedPeriodNs = 200000000L
  val PacedWindowSegs = 5
  def pacedWarmSegs(a: Args): Int = if (a.tiny) 5 else 75

  def config(name: String, lowLatency: Boolean): ConsumerConfig =
    PipelineSpec.parse(
      s"""{"name":"$name","message_grouping":true,"max_ack_pending":1000000,
         |"destination":{"type":"redis_stream","stream_key":"benchmark_records"}}"""
        .stripMargin).copy(lowLatency = lowLatency)

  /** Decoded rows → typed record → the CDC envelope (`graft.model.Cdc`). */
  def envelope(decoded: DataFrame): DataFrame =
    graft.model.Cdc.fromEvents(
      PgStream.toRecords(decoded, CdcGen.relation)
        .select(col("event_id"), timestamp_micros(col("commit_ts_us")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props")))

  private def sinkEnv(lb: Loopback) = SinkDispatch.Env(host = "127.0.0.1", port = lb.port)

  private def ms(ns: Long): Double = ns / 1e6

  /** Delivery outcome into the report, plus the per-event check. */
  private def check(rep: Report, gen: CdcGen, d: Deliveries, lb: Loopback): Unit = {
    rep.info("loopback_max_open_connections") = lb.maxOpen
    val o = DeliveryCheck(gen, d)
    rep.attempted += o.attempted
    if (o.failed > 0) rep.fail(s"delivery: ${o.summary}", o.failed)
    rep.info("delivery_check") = o.summary
  }

  /** Loopback counters as an accumulator over traced units. */
  private def transport(lb: Loopback) = new Accum(() => Seq(lb.xadds.get().toDouble,
    lb.bytes.get().toDouble, lb.connections.get().toDouble))

  private def transportLayers(rep: Report, acc: Accum, flushes: Seq[Int],
      metrics: Metrics.Registry): Unit = {
    rep.layerMetric("sinks.xadds", acc.total(0), "count")
    rep.layerMetric("sinks.bytes", acc.total(1), "bytes")
    rep.layerMetric("sinks.connections", acc.total(2), "count")
    rep.layerMetric("sinks.cmds_per_flush_p50", Stats.median(flushes.map(_.toDouble)), "count")
    val attempts = metrics.counterSum("sequin_message_deliver_attempt_count", "consumer_id" -> "bench")
    val failures = metrics.counterSum("sequin_message_deliver_failure_count", "consumer_id" -> "bench")
    rep.layerMetric("sinks.failure_ratio",
      if (attempts == 0) 0.0 else failures.toDouble / attempts, "ratio")
    rep.info("deliver_attempts") = attempts
  }

  private def spoolLayers(rep: Report, spool: String): Unit = {
    val segs = WalSpool.listIndexed(spool).size
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); WalSpool.listIndexed(spool); ms(System.nanoTime() - t0)
    }
    rep.layerMetric("sources.spool_segments", segs.toDouble, "count")
    rep.layerMetric("sources.list_ms", Stats.median(times), "ms")
  }

  /** Latency samples into the two end-to-end latency metrics; the high
    * percentile is taken over `independent` samples (default: the same).
    */
  def latencyMetrics(rep: Report, samplesMs: Iterable[Double],
      independent: Option[Iterable[Double]] = None): Unit = {
    val (hi, q, n) = Stats.high(independent.getOrElse(samplesMs))
    rep.metric("latency_p50_ms", Stats.median(samplesMs), "ms")
    rep.metric("latency_high_ms", hi, "ms")
    rep.info("latency_high_quantile") = q
    rep.info("latency_samples") = n
  }

  /** Spark and JVM totals over the traced units, `wallMs` long in all. */
  def commonLayers(rep: Report, tr: Tracing, gc: Accum, wallMs: Double): Unit = {
    rep.layerMetric("jvm.gc_count", gc.total(0), "count")
    rep.layerMetric("jvm.gc_ms", gc.total(1), "ms")
    tr.stats.map(_.snapshot()).foreach { t =>
      rep.layerMetric("spark.jobs", t.jobs.toDouble, "count")
      rep.layerMetric("spark.tasks", t.tasks.toDouble, "count")
      rep.layerMetric("spark.executor_busy_frac", t.runMs / (wallMs * Env.nproc), "ratio")
    }
  }

  def gcAccum() = new Accum(() => { val (c, m) = Env.gc(); Seq(c.toDouble, m.toDouble) })

  final class Staged(work: String) {
    val spool: String = s"$work/spool"
    val stager = new CdcGen.Stager(s"$work/staging", spool)
    Files.createDirectories(Path.of(spool))
  }

  // ------------------------------------------------------------ cdc_drain

  def drain(spark: SparkSession, a: Args, rep: Report): Unit = {
    val z = drainSize(a)
    val tr = new Tracing(spark, a.trace)
    val rounds = z.warm + z.timed
    val perRound = z.roundEvents
    val n = z.first + rounds * perRound
    def events(r: Int) = z.first + r * perRound until z.first + (r + 1) * perRound
    // round r publishes segment r + 1; segment 0 holds the first events
    def segIdx(r: Int) = r + 1L
    val tGen = System.nanoTime()
    val gen = new CdcGen(a.seed, n)
    val st = new Staged(a.work)
    st.stager.stageAll(gen, (0L, 0, z.first) +:
      (0 until rounds).map(r => (segIdx(r), events(r).start, events(r).end)))
    val genS = (System.nanoTime() - tGen) / 1e9
    rep.info("events") = n
    rep.info("input_sha256") = st.stager.sha256
    rep.info("generate_s") = genS

    val d = new Deliveries(gen)
    val lb = new Loopback(d)
    val metrics = new Metrics.Registry()
    st.stager.publish(0L)
    val tSession = Env.sinceJvmStart()
    val clone = PgStream.streamingSession(spark, Env.nproc)
    tr.watch(clone)
    val stream = {
      import clone.implicits._
      val frames = clone.readStream.format(classOf[WalSpoolProvider].getName)
        .option("path", st.spool)
        .option("maxSegmentsPerBatch", 1L)
        .load().as[PgStream.Frame]
      envelope(PgStream.decodeStateful(frames)(clone).toDF().repartition(Env.nproc))
    }
    val handle = ConsumerRuntime.start(stream, config("bench", lowLatency = false), sinkEnv(lb),
      metrics, new Health.Registry(), "bench")(clone)
    var outstandingMax = 0
    def waitFor(target: Long): Boolean = {
      val deadline = System.nanoTime() + 180000000000L
      var k = 0
      while (d.distinct.get() < target && System.nanoTime() < deadline &&
          handle.query.exception.isEmpty) {
        java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
        k += 1
        if (tr.current && k % 10 == 0)
          outstandingMax = math.max(outstandingMax, handle.ledger.outstandingEvents)
      }
      d.distinct.get() >= target
    }
    try {
      if (!waitFor(z.first)) rep.fail("first delivery did not complete")
      val firstDeliveryS = Env.sinceJvmStart()
      val publishNs = new Array[Long](rounds)
      val spansMs = mutable.ArrayBuffer.empty[(Long, Long)]
      val flushes = mutable.ArrayBuffer.empty[Int]
      val wire = transport(lb)
      val gc = gcAccum()
      var timedStartS = 0.0
      var liveHeap = 0.0
      var ok = true
      (0 until rounds).foreach { r =>
        System.gc()
        val unit = r - z.warm
        if (unit == 0) timedStartS = Env.sinceJvmStart()
        val traced = unit >= 0 && tr.traced(unit)
        tr.set(traced)
        val f0 = lb.cmdsPerFlushSamples.size
        val wall0 = System.currentTimeMillis()
        if (traced) { wire.start(); gc.start() }
        if (ok) {
          Trace.span("drain.round") {
            publishNs(r) = System.nanoTime()
            Trace.span("spool.publish") { st.stager.publish(segIdx(r)) }
            ok = waitFor(z.first + (r + 1).toLong * perRound)
          }
          if (!ok) rep.fail(s"round $r did not drain within 180 s")
        }
        if (traced) {
          wire.stop(); gc.stop()
          spansMs += ((wall0, System.currentTimeMillis()))
          flushes ++= lb.cmdsPerFlushSamples.drop(f0)
        }
        if (r == rounds - 1) liveHeap = Env.liveHeapMb()
      }
      tr.set(false)
      handle.stop()
      lb.stop()
      check(rep, gen, d, lb)

      // per-round drain time and per-event latency, from arrival times
      val roundMs = (0 until rounds).map(r =>
        ms(events(r).map(d.firstNs).max - publishNs(r)))
      val rate = roundMs.map(perRound / _ * 1000.0)
      val timed = z.warm until rounds
      val (tracedRounds, plainRounds) = timed.partition(r => tr.traced(r - z.warm))
      val lat = for (r <- plainRounds; i <- events(r) if d.count(i) > 0)
        yield ms(d.firstNs(i) - publishNs(r))
      rep.metric("setup_s", timedStartS - genS, "s")
      rep.metric("throughput", Stats.median(plainRounds.map(rate)), "ops/s")
      // a round's events are one trigger's output, so they are not
      // independent samples of its tail: the high latency is taken once
      // per round, at its last event (the round's catch-up time), and the
      // median over rounds is reported
      rep.metric("latency_p50_ms", Stats.median(lat), "ms")
      rep.metric("latency_high_ms", Stats.median(plainRounds.map(roundMs)), "ms")
      rep.info("latency_high_quantile") = 1.0
      rep.info("latency_samples") = plainRounds.size
      rep.metric("live_heap_mb", liveHeap, "MB")
      rep.info("setup_breakdown_s") = Map("session_up" -> tSession,
        "first_delivery" -> firstDeliveryS, "warm_up_end" -> timedStartS, "generate" -> genS)
      rep.info("round_ev_per_s") = rate
      rep.info("rounds") = Map("warm" -> z.warm, "timed" -> timed.size,
        "traced" -> tracedRounds, "events_per_round" -> perRound)

      if (tr.enabled) {
        val tracedMs = tracedRounds.map(roundMs).sum
        rep.layerMetric("trace.overhead_frac", tr.overhead(timed.map(roundMs)), "ratio")
        transportLayers(rep, wire, flushes.toSeq, metrics)
        rep.layerMetric("ledger.outstanding_max", outstandingMax.toDouble, "count")
        rep.layerMetric("ledger.dead_letters", handle.ledger.deadLetters().size.toDouble, "count")
        streamingLayers(rep, tr.progress.map(_.batchesIn(spansMs.toSeq)).getOrElse(Nil))
        spoolLayers(rep, st.spool)
        commonLayers(rep, tr, gc, tracedMs)
        replay(spark, st.spool, tracedRounds.map(segIdx), rep, tracedMs)
      }
    } finally {
      tr.stop()
      try handle.stop() catch { case _: Throwable => () }
      lb.stop()
    }
  }

  private def p50(xs: Seq[Long]): Double = Stats.median(xs.map(_.toDouble))

  private def streamingLayers(rep: Report, batches: Seq[ProgressLog#Batch]): Unit = {
    def dur(b: ProgressLog#Batch, k: String) = b.durations.getOrElse(k, 0L)
    rep.layerMetric("streaming.batches", batches.size.toDouble, "count")
    rep.layerMetric("streaming.rows_per_batch_p50", p50(batches.map(_.rows)), "rows")
    rep.layerMetric("streaming.trigger_ms_p50", p50(batches.map(dur(_, "triggerExecution"))), "ms")
    rep.layerMetric("streaming.add_batch_ms_p50", p50(batches.map(dur(_, "addBatch"))), "ms")
    rep.layerMetric("streaming.planning_ms_p50", p50(batches.map(dur(_, "queryPlanning"))), "ms")
    rep.layerMetric("streaming.commit_ms_p50",
      p50(batches.map(b => dur(b, "walCommit") + dur(b, "commitOffsets"))), "ms")
    rep.layerMetric("sources.get_batch_ms_p50", p50(batches.map(dur(_, "getBatch"))), "ms")
    rep.layerMetric("sources.latest_offset_ms_p50", p50(batches.map(dur(_, "latestOffset"))), "ms")
  }

  /** The traced drain's layer breakdown: the traced rounds' segments once
    * more, in sequence, through the public function of each layer —
    * spool read, pgoutput decode, pipeline build, pipeline execution and
    * transport dispatch — each in its own span. `drainMs` is the wall
    * time the runtime took for the same segments.
    */
  private def replay(spark: SparkSession, spool: String, segIdx: Seq[Long],
      rep: Report, drainMs: Double): Unit = {
    import spark.implicits._
    val lb = new Loopback(NoCheck)
    Trace.on = true
    try {
      val cfg = config("replay", lowLatency = false)
      val spec = cfg.sink.get
      val decoder = new PgStream.LinearDecoder
      def file(i: Long) = s"$spool/${WalSpool.segmentName(i)}"
      decoder.feedAll(WalSpool.readSegment(file(0L))) // carries the Relation message
      var events = 0L
      val spans0 = Trace.all.size
      segIdx.foreach { i =>
        Trace.span("replay.segment") {
          val frames = Trace.span("sources.read") { WalSpool.readSegment(file(i)) }
          val decoded = Trace.span("sources.decode") { decoder.feedAll(frames) }
          events += decoded.size
          val built = Trace.span("pipeline.build") {
            CdcPipeline.build(envelope(spark.createDataset(decoded).toDF()), cfg)
          }
          val rows = Trace.span("pipeline.exec") { built.localCheckpoint(true) }
          Trace.span("sinks.deliver") { SinkDispatch.deliver(rows, spec, sinkEnv(lb))(spark).collect() }
        }
      }
      val self = Trace.selfMs(Trace.all.drop(spans0))
      def s(k: String) = self.getOrElse(k, 0.0)
      rep.layerMetric("sources.read_ms", s("sources.read"), "ms")
      rep.layerMetric("sources.decode_ms", s("sources.decode"), "ms")
      rep.layerMetric("sources.decode_eps",
        if (s("sources.decode") > 0) events / (s("sources.decode") / 1000.0) else 0.0, "ev/s")
      rep.layerMetric("pipeline.build_ms", s("pipeline.build"), "ms")
      rep.layerMetric("pipeline.exec_ms", s("pipeline.exec"), "ms")
      rep.layerMetric("sinks.deliver_ms", s("sinks.deliver"), "ms")
      val layerMs = Seq("sources.read", "sources.decode", "pipeline.build",
        "pipeline.exec", "sinks.deliver").map(s).sum
      rep.layerMetric("trace.coverage_frac", layerMs / drainMs, "ratio")
      rep.info("replay") = Map("events" -> events, "xadds" -> lb.xadds.get(),
        "layer_self_ms" -> layerMs, "drain_ms" -> drainMs)
      rep.attempted += 1
      if (lb.xadds.get() != events) rep.fail(s"replay delivered ${lb.xadds.get()} of $events events")
    } finally {
      Trace.on = false
      lb.stop()
    }
  }

  // ------------------------------------------------------------ cdc_paced

  def paced(spark: SparkSession, a: Args, rep: Report): Unit = {
    val tr = new Tracing(spark, a.trace)
    val warmSegs = pacedWarmSegs(a)
    val windows = if (a.tiny) 2 else a.seconds
    val firstTimed = 1 + warmSegs
    val segCount = firstTimed + windows * PacedWindowSegs
    val n = segCount * PacedSegEvents
    def segEvents(k: Int) = k * PacedSegEvents until (k + 1) * PacedSegEvents
    def windowSegs(w: Int) =
      firstTimed + w * PacedWindowSegs until firstTimed + (w + 1) * PacedWindowSegs
    val tGen = System.nanoTime()
    val gen = new CdcGen(a.seed, n)
    val st = new Staged(a.work)
    st.stager.stageAll(gen, (0 until segCount).map(k =>
      (k.toLong, segEvents(k).start, segEvents(k).end)))
    val genS = (System.nanoTime() - tGen) / 1e9
    rep.info("events") = n
    rep.info("input_sha256") = st.stager.sha256
    rep.info("generate_s") = genS

    val d = new Deliveries(gen)
    val lb = new Loopback(d)
    val metrics = new Metrics.Registry()
    st.stager.publish(0L)
    val tSession = Env.sinceJvmStart()
    val (handle, state) = ConsumerRuntime.startLowLatencyTail(st.spool, envelope,
      config("bench", lowLatency = true), sinkEnv(lb), metrics, new Health.Registry(),
      "bench")(spark)
    try {
      if (!Env.await(120000L)(d.distinct.get() >= PacedSegEvents || state.error.nonEmpty))
        rep.fail("first delivery did not complete")
      val firstDeliveryS = Env.sinceJvmStart()
      System.gc()
      // open loop: segment k is due at t0 + (k-1) periods, whatever the
      // system under test is doing
      val dueNs = new Array[Long](segCount)
      val pubNs = new Array[Long](segCount)
      val t0 = System.nanoTime() + 20000000L
      val t0WallS = Env.sinceJvmStart() + 0.02
      val wire = transport(lb)
      val gc = gcAccum()
      val flushes = mutable.ArrayBuffer.empty[Int]
      val generator = new Thread(() => {
        var f0 = 0
        def closeWindow(): Unit = if (tr.current) {
          wire.stop(); gc.stop()
          flushes ++= lb.cmdsPerFlushSamples.drop(f0)
        }
        (1 until segCount).foreach { k =>
          val due = t0 + (k - 1) * PacedPeriodNs
          var now = System.nanoTime()
          while (now < due) {
            java.util.concurrent.locks.LockSupport.parkNanos(math.min(due - now, 1000000L))
            now = System.nanoTime()
          }
          if (k >= firstTimed && (k - firstTimed) % PacedWindowSegs == 0) {
            closeWindow()
            val traced = tr.traced((k - firstTimed) / PacedWindowSegs)
            tr.set(traced)
            if (traced) { wire.start(); gc.start(); f0 = lb.cmdsPerFlushSamples.size }
          }
          dueNs(k) = due
          pubNs(k) = System.nanoTime()
          Trace.span("spool.publish") { st.stager.publish(k.toLong) }
        }
        java.util.concurrent.locks.LockSupport.parkNanos(PacedPeriodNs)
        closeWindow()
        tr.set(false)
      }, "graftbench-generator")
      generator.setDaemon(true)
      generator.start()
      var outstandingMax = 0
      while (generator.isAlive) {
        if (tr.current) outstandingMax = math.max(outstandingMax, handle.ledger.outstandingEvents)
        generator.join(10L)
      }
      val drained = Env.await(30000L)(d.distinct.get() >= n || state.error.nonEmpty)
      if (!drained) rep.fail("tail did not drain within 30 s of the last segment")
      state.error.foreach(e => rep.fail(s"tail error: $e"))
      val liveHeap = Env.liveHeapMb()
      val planPinned = state.planPinned
      handle.stop()
      lb.stop()
      check(rep, gen, d, lb)

      def latencies(k: Int) =
        segEvents(k).filter(d.count(_) > 0).map(i => ms(d.firstNs(i) - dueNs(k)))
      val (tracedW, plainW) = (0 until windows).partition(tr.traced)
      val lat = plainW.flatMap(windowSegs).flatMap(latencies)
      val delivered = plainW.flatMap(windowSegs).flatMap(segEvents).count(d.count(_) > 0)
      val spanS = plainW.map { w =>
        val arrivals = windowSegs(w).flatMap(segEvents).filter(d.count(_) > 0).map(d.firstNs)
        (arrivals.maxOption.getOrElse(dueNs(windowSegs(w).last)) - dueNs(windowSegs(w).head)) / 1e9
      }
      val timedStartS = t0WallS + (firstTimed - 1) * PacedPeriodNs / 1e9
      rep.metric("setup_s", timedStartS - genS, "s")
      rep.metric("throughput", delivered / spanS.sum, "ops/s")
      // the events of one segment share one delivery action, so they are
      // not independent samples of the tail: its high percentile is taken
      // over segments, each at its last event
      latencyMetrics(rep, lat,
        Some(plainW.flatMap(windowSegs).flatMap(k => latencies(k).maxOption)))
      rep.metric("live_heap_mb", liveHeap, "MB")

      // one-second windows over the whole run: p50 latency and backlog at
      // the window's end
      val all = (1 until firstTimed).grouped(PacedWindowSegs).toSeq ++
        (0 until windows).map(windowSegs)
      val warmWindows = all.size - windows
      val windowP50 = all.map(ks => Stats.median(ks.flatMap(latencies)))
      val arrivals = Stats.sorted(d.firstNs.indices.filter(d.count(_) > 0).map(d.firstNs(_).toDouble))
      val backlog = all.map { ks =>
        val end = (dueNs(ks.last) + PacedPeriodNs).toDouble
        val delivered = java.util.Arrays.binarySearch(arrivals, end) match {
          case i if i >= 0 => i + 1
          case i => -i - 1
        }
        (ks.last + 1) * PacedSegEvents - delivered
      }
      rep.info("setup_breakdown_s") = Map("session_up" -> tSession,
        "first_delivery" -> firstDeliveryS, "warm_up_end" -> timedStartS, "generate" -> genS)
      rep.info("window_p50_ms") = windowP50
      rep.info("window_backlog_events") = backlog
      rep.info("windows") = Map("warm" -> warmWindows, "timed" -> windows, "traced" -> tracedW)
      rep.info("plan_pinned") = planPinned
      rep.info("plan_note") = state.planNote.getOrElse("")
      rep.info("generator_late_ms_max") = (1 until segCount).map(k => ms(pubNs(k) - dueNs(k))).max

      if (tr.enabled) {
        val segs = tracedW.flatMap(windowSegs)
        val segMs = Stats.sorted(segs.map(k => segEvents(k).filter(d.count(_) > 0)
          .map(i => ms(d.firstNs(i) - pubNs(k))).maxOption.getOrElse(0.0)))
        val tracedP50 = tracedW.map(w => windowP50(warmWindows + w))
        rep.layerMetric("trace.overhead_frac", tr.overhead(windowP50.drop(warmWindows).toIndexedSeq), "ratio")
        rep.layerMetric("tail.segment_ms_p50", Stats.quantile(segMs, 0.5), "ms")
        rep.layerMetric("tail.segment_ms_p99", Stats.quantile(segMs, 0.99), "ms")
        rep.layerMetric("tail.window_p50_drift", tracedP50.last / tracedP50.head, "ratio")
        rep.layerMetric("tail.plan_pinned", if (planPinned) 1.0 else 0.0, "bool")
        rep.layerMetric("tail.generator_late_ms_max",
          segs.map(k => ms(pubNs(k) - dueNs(k))).max, "ms")
        rep.layerMetric("tail.backlog_max",
          tracedW.map(w => backlog(warmWindows + w)).max.toDouble, "events")
        transportLayers(rep, wire, flushes.toSeq, metrics)
        rep.layerMetric("ledger.outstanding_max", outstandingMax.toDouble, "count")
        rep.layerMetric("ledger.dead_letters", handle.ledger.deadLetters().size.toDouble, "count")
        spoolLayers(rep, st.spool)
        commonLayers(rep, tr, gc, tracedW.size * PacedWindowSegs * PacedPeriodNs / 1e6)
      }
    } finally {
      tr.stop()
      try handle.stop() catch { case _: Throwable => () }
      lb.stop()
    }
  }
}
