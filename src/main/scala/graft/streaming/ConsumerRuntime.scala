package graft.streaming

import graft.model.ChangeEvent
import graft.sinks.SinkDispatch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, concat_ws, struct}
import org.apache.spark.sql.streaming.StreamingQuery

/** The assembled consumer runtime — every layer of this library wired
  * into ONE streaming query, the Spark rendition of the reference's
  * per-consumer supervision tree (`/root/reference/lib/sequin/runtime/
  * supervisor.ex` + `sink_pipeline.ex`: slot stream → filters/transforms
  * → slot message store (FIFO/visibility/retry) → sink transport →
  * ack/nack → health + metrics):
  *
  *   1. the EVENT SOURCE is any streaming CDC-envelope DataFrame
  *      ([[graft.sources.WalSpool]]'s DSv2 stream in production, a
  *      MemoryStream in specs);
  *   2. each micro-batch runs [[CdcPipeline.build]] (scope/action/
  *      column filters, sandboxed expressions, diff, routing, grouping)
  *      exactly ONCE over the cached, deduplicated batch — filtered-out
  *      events are DONE (the reference filters before the
  *      SlotMessageStore too), transforms apply once per delivery, and
  *      the filter verdict is decided on original values;
  *   3. the HAPPY PATH delivers the whole micro-batch in ONE Spark
  *      action straight off the distributed pipeline plan — events never
  *      round-trip through the driver. Per-group FIFO holds ON THE WIRE:
  *      each group clusters into one partition in `(commit_lsn,
  *      commit_idx)` order, so a group's in-batch run reaches its
  *      transport connection as one ordered sequence — the reference's
  *      own delivery shape (`slot_message_store_state.ex:432-478`: a
  *      group's consecutive messages ship as ONE in-flight batch; FIFO
  *      is between batches, not between a batch's members). Cross-batch
  *      order holds because batch N fully resolves before batch N+1
  *      dispatches;
  *   4. FAILED deliveries (and only those) enter the [[DeliveryLedger]]
  *      — the in-process message store (strict per-group FIFO with one
  *      message in flight, visibility timeout, retry budget, DLQ,
  *      max_ack_pending admission; the reference's ETS-backed
  *      SlotMessageStore — see the ledger's scaladoc for why the
  *      bookkeeping is driver-side while [[SequinStreamPull]] keeps the
  *      Spark state-machine form for the pull API). Admission is the
  *      backpressure point: under `pause_on_full` the micro-batch does
  *      not complete until capacity frees, which throttles the SOURCE
  *      trigger — the Spark analog of the reference pausing the
  *      replication socket;
  *   5. the retry ladder dispatches one WAVE per Spark job (every
  *      deliverable group at once), each outcome acking/nacking the
  *      ledger by its carried identity ([[SinkDispatch.deliverObserved]]
  *      also feeds Prometheus + health), until nothing is deliverable: a
  *      recovered transport drains each group in FIFO order; a dead one
  *      retries up to `max_retry` total attempts (the batch dispatch
  *      counts as attempt #1) then dead-letters — the batch always
  *      terminates.
  *
  * N consumers on ONE slot should share a [[SlotRuntime]] (one decode
  * per micro-batch fanned out to every consumer lane — the reference's
  * `message_handler.ex:214-251` shape) instead of N independent
  * `start()` queries, which would each re-run the per-slot stateful
  * pgoutput decode.
  *
  * Driver-path bounds: only outcome rows and failed events are
  * collected, both sized by the SOURCE's trigger admission
  * (`maxSegmentsPerBatch` / `maxOffsetsPerTrigger` — the contract every
  * structured-streaming sink shares); the ledger is ≤ max_ack_pending
  * entries by construction. Measured end to end (WAL segments → decode →
  * pipeline → live loopback transport, with the streaming query on a
  * [[graft.sources.PgStream.streamingSession]] clone) by
  * `python3 perfbench/run.py --workload cdc_drain --seconds 8`: 3.1–3.4k
  * delivered events/s at 4,000-event rounds (median over timed rounds),
  * well below the reference's published 50k ops/s single-node peak.
  */
object ConsumerRuntime {

  /** A running consumer: the streaming query plus its ledger (exposed
    * for inspection, DLQ reads, and clean shutdown) and, when declared,
    * the consumer's backfill runner. For a lane attached to a
    * [[SlotRuntime]], `stop()` detaches ONLY this consumer — the shared
    * query keeps serving the other lanes.
    */
  final class Handle private[streaming] (
      queryThunk: () => StreamingQuery,
      val ledger: DeliveryLedger,
      val backfill: Option[BackfillRunner] = None,
      auditHook: Option[Long => Int] = None,
      auditTimer: Option[java.util.Timer] = None,
      onStop: Option[() => Unit] = None) {

    /** The consumer's streaming query — for a [[SlotRuntime]] lane this
      * is the SHARED slot query (and touching it starts the slot if no
      * one has yet).
      */
    def query: StreamingQuery = queryThunk()

    /** The reference's message-consistency check
      * (message_consistency_check_worker.ex:25-43): count undelivered
      * cursors that have been pending longer than `maxAgeMs` (an AGE,
      * not an epoch cutoff — the cutoff instant is computed here, so an
      * on-demand `consistencyCheck(120000L)` means "older than two
      * minutes", matching the timer call site), surface them (metrics +
      * health warn), then trim the audit ledger. Returns the stale
      * count. Runs periodically from [[start]]'s timer; callable
      * directly for on-demand audits.
      */
    def consistencyCheck(maxAgeMs: Long): Int =
      auditHook.fold(0)(_(maxAgeMs))

    def stop(): Unit = {
      auditTimer.foreach(_.cancel())
      onStop.fold(query.stop())(f => f())
      ledger.stop()
    }
  }

  /** A declared initial-sync backfill for the consumer
    * (`table_reader_server.ex` + `backfill.ex`): `table` is the keyset-
    * scannable snapshot source, `sortCols` its cursor tuple (PK order),
    * `toEnvelope` lifts a page (rows carrying `action = "read"`) into
    * the CDC envelope the pipeline consumes — it must derive the same
    * `table_schema`/`table_name`/`record_pk`/`idempotency_key` identity
    * the live stream uses, so the fence and the ledger see ONE identity
    * space.
    */
  final case class BackfillSpec(
      // by-name: re-evaluated per page, the way a JDBC keyset query hits
      // the LIVE table — rows landing mid-scan are visible to later pages
      // (and then fenced if CDC already delivered them)
      table: () => DataFrame,
      sortCols: Seq[String],
      toEnvelope: DataFrame => DataFrame,
      // the identity of the table being backfilled — the fence records
      // ONLY this table's delivered pks (the reference's
      // `active_table_oids` check in message_handler.ex: pks_seen is
      // per-backfilled-table, not a log of every delivery), so the seen
      // set is bounded by THIS table's churn during the scan no matter
      // how many tables the consumer's stream carries
      tableSchema: String,
      tableName: String,
      pageSize: Int = 1000,
      pageTimeBudgetMs: Long = 5000L)

  /** Drives a consumer's backfill one keyset page at a time, interleaved
    * with the live CDC stream through the SAME pipeline, transport and
    * ledger (W3 priority merge in time: pages and micro-batches serialize
    * on the dispatch lock). Exactly-once across the two sources comes
    * from the reference's fence protocol (`message_handler.ex:66-94`
    * `pks_seen` + the table reader's flush watermark):
    *
    *   1. the runtime records the `(schema.table, pk)` of every event the
    *      LIVE stream delivers while a backfill is active;
    *   2. after reading a page, [[step]] waits for the stream to drain
    *      (`processAllAvailable` — the WATERMARK FENCE: every CDC event
    *      committed before the page was read has now been recorded);
    *   3. page rows whose identity the stream has already delivered are
    *      DROPPED — CDC wins on PK conflict (its image is newer), and a
    *      row inserted mid-backfill arrives exactly once (via CDC; the
    *      later page that would re-read it is fenced).
    *
    * Per-group order holds because a group's backfill `read` only ships
    * while NO CDC event for it has been seen, and any later CDC event
    * lands in a later, strictly-after dispatch.
    */
  final class BackfillRunner private[streaming] (
      private[streaming] val spec: BackfillSpec,
      query: () => StreamingQuery,
      deliver: DataFrame => Unit,
      onFinished: () => Unit,
      // extra fence step AFTER the stream drain: on a shared slot the
      // query committing a batch no longer implies THIS lane recorded
      // its identities (a decoupled lane resolves batches behind the
      // commit), so the slot passes a per-lane quiesce here
      fence: () => Unit = () => ())(implicit spark: SparkSession) {
    import graft.backfill.{Backfill, PageSizeOptimizer}
    private val optimizer = new PageSizeOptimizer(spec.pageSize,
      maxTimeoutMs = spec.pageTimeBudgetMs, maxPageSize = spec.pageSize * 50)
    private var cursor: Option[Seq[Any]] = None
    @volatile private var finished = false
    private[graft] var rowsDelivered = 0L

    def isDone: Boolean = finished

    /** True while the scan is in progress — a declared backfill is an
      * active table reader from the moment it exists (reference: the
      * table reader process starts with the backfill), so the fence
      * records from runner creation until the scan completes. The set
      * stays bounded regardless: only [[BackfillSpec.tableSchema]]/
      * [[BackfillSpec.tableName]] identities are recorded (the
      * reference's `active_table_oids` scoping), driver residency is
      * capped at `max_backfill_fence_in_memory` (overflow spills to a
      * parquet fence side table), and `onFinished` releases everything
      * the moment the scan ends.
      */
    def isActive: Boolean = !finished

    /** Read + fence + deliver ONE page; false when the scan is complete. */
    def step(): Boolean = this.synchronized {
      if (finished) false
      else {
        val t0 = System.nanoTime()
        val (pageDf, next, n) =
          Backfill.page(spec.table(), spec.sortCols, cursor,
            optimizer.pageSize)
        // watermark fence: every CDC event committed before the page
        // read is processed (and its identity recorded) before we decide
        // what the page still needs to deliver. The fence DECISION (the
        // seen-set snapshot + anti-join) happens inside `deliver`, under
        // the dispatch lock — no CDC micro-batch can deliver (and record)
        // a newer image between the snapshot and the page dispatch.
        query().processAllAvailable()
        fence()
        if (n > 0) {
          deliver(spec.toEnvelope(pageDf))
          rowsDelivered += n
        }
        optimizer.record((System.nanoTime() - t0) / 1000000L)
        cursor = next
        finished = next.isEmpty
        if (finished) onFinished()
        !finished
      }
    }

    /** Page until the scan completes; returns rows read. */
    def run(): Long = { while (step()) (); rowsDelivered }
  }

  private val EventCols = Seq("commit_lsn", "commit_idx", "commit_ts",
    "action", "table_schema", "table_name", "table_oid", "record_pk",
    "record_id", "record_user_id", "record_value", "record_props",
    "old_value", "idempotency_key", "group_id", "byte_size")

  /** One consumer's full processing lane — everything after the (shared
    * or dedicated) micro-batch: pipeline build, ordered dispatch, ledger
    * retry ladder, backfill fence, trace/metrics/health. A lane owns NO
    * streaming query; [[start]] gives it a dedicated one,
    * [[SlotRuntime]] multiplexes one query across many lanes (the
    * reference's message_handler fan-out).
    */
  private[streaming] final class Lane(
      val cfg: ConsumerConfig,
      env: SinkDispatch.Env,
      metrics: graft.config.Metrics.Registry,
      health: graft.config.Health.Registry,
      val consumerId: String,
      enrichment: Option[(DataFrame, String, String)],
      nowMs: () => Long,
      // >1 ⇒ the caller's batch source carries tailShards co-identical
      // partitions (each task re-reads the FULL tail feed) and counted
      // dispatches take the SHARDED shape: a narrow group-hash filter
      // per partition instead of a repartition Exchange — shuffle-free,
      // so the compiled plan stays pinnable in the dispatch cache. Only
      // the low-latency tail sets this.
      tailShards: Int = 1)(implicit spark: SparkSession) {
    import spark.implicits._

    private val sink = cfg.sink.getOrElse(throw new IllegalArgumentException(
      s"consumer '${cfg.name}' has no sink destination"))
    // delivery tuning comes off the CONSUMER record
    // (sink_consumer.ex:86-90) — the same config the management API
    // validates is the config the runtime runs
    val ledger = new DeliveryLedger(ackWaitMs = cfg.ackWaitMs,
      maxRetry = cfg.maxRetryCount, maxAckPending = cfg.maxAckPending,
      fullPolicy = cfg.loadSheddingPolicy, nowMs = nowMs)
    // the config reached this point through PipelineSpec validation —
    // report the sink_configuration check (the reference's
    // check_sink_configuration_worker writes the same event)
    health.putEvent("sink_consumer", consumerId, "sink_configuration",
      "success")
    // a fresh incarnation starts a fresh trace ring — stale events from a
    // prior consumer under the same id would mislead the exact debugging
    // view the ring exists for
    Trace.clear(consumerId)

    // RETRY ladder: one delivery WAVE per Spark job — the ledger hands
    // out at most one message per group (maxInflight), strict FIFO, so
    // a nacked event redelivers alone before its group's successors.
    // Waves re-encode through a driver-local scan; that is fine here
    // because only FAILED deliveries enter the ledger (waves are small).
    private def dispatchWaves(): Unit = {
      var wave = ledger.drainDeliverable()
      while (wave.nonEmpty) {
        val pipeline = CdcPipeline.build(
          spark.createDataset(wave.map(_.event)).toDF(), cfg, enrichment)
        val outcomes = SinkDispatch.deliverObserved(pipeline, sink, env,
          metrics, health, consumerId, cfg.name)
        val ok = outcomes.filter(_.ok).map(_.ack_id)
        val bad = outcomes.filterNot(_.ok).map(_.ack_id)
        if (ok.nonEmpty) ledger.ack(ok)
        if (bad.nonEmpty) ledger.nack(bad)
        Trace.info(consumerId, "retry wave",
          "size" -> wave.size.toString, "acked" -> ok.size.toString,
          "nacked" -> bad.size.toString)
        health.putEvent("sink_consumer", consumerId,
          "messages_pending_delivery", "success")
        wave = ledger.drainDeliverable()
      }
    }

    // admit (pause policy loops = source backpressure) and run dispatch
    // waves until the ledger has nothing deliverable
    private def ledgerLoop(events: Seq[ChangeEvent]): Unit = {
      var rest = events
      var spin = 0
      while (rest.nonEmpty || spin == 0) {
        // initialDeliverCount = 1: everything entering the ladder already
        // burned one attempt in the batch dispatch, so max_retry stays
        // the max TOTAL attempts (AckDelivery's contract)
        val n = ledger.ingest(rest, initialDeliverCount = 1)
        rest = rest.drop(n)
        dispatchWaves()
        spin += 1
        // a full ledger with nothing deliverable (all in retry wait):
        // yield briefly before re-offering, so a dead transport under
        // pause policy stalls politely instead of hot-looping
        if (rest.nonEmpty) Thread.sleep(5)
      }
    }

    // previous batch's post-dedup row count (from the delivery action's
    // own Observation — never an extra job; a SlotRuntime hands the
    // exact current size instead). Seeds conservative-WIDE so a bulk
    // start (backfill catch-up) never pays a single-connection batch.
    private var lastBatchRows: Long = Long.MaxValue
    private val SmallBatchRows = 256L
    // fast-path cutoff for COUNTED dispatches (the tail hands the exact
    // size): see deliverBody — the cached narrow plan + one ordered
    // connection beats a per-segment plan rebuild up to several
    // thousand rows
    private val TailFastPathRows = 8192L
    // an Observation whose metric had not landed by the end of its own
    // batch — re-read at the START of the next batch (the listener bus
    // has certainly delivered it by then) so lastBatchRows never goes
    // stale just because one batch's read raced the bus
    private var pendingObs: Option[org.apache.spark.sql.Observation] = None
    // single-entry delivery-plan cache (deduped ref, small path?, plan):
    // hit only by callers that dispatch the same DataFrame object
    // repeatedly (the low-latency tail); one entry, so foreachBatch's
    // fresh-per-batch frames can never make it grow
    private var dispatchCache: Option[(DataFrame, Boolean,
      org.apache.spark.rdd.RDD[SinkDispatch.Outcome])] = None
    // observability for the tail (and its specs): did the last counted
    // dispatch leave a pinned plan? True ⇔ the executed plan was
    // shuffle-free — the property the sharded shape exists to preserve.
    private[streaming] def dispatchCachePinned: Boolean =
      dispatchCache.isDefined
    // when a counted dispatch could NOT pin (its plan shuffled), the
    // executed plan that caused it — diagnostic surface for tail specs
    private[streaming] var lastUnpinnablePlan: Option[String] = None

    /** Deduplicate once and CACHE the micro-batch: every action on a
      * foreachBatch DataFrame re-executes its plan from the source —
      * including the per-slot stateful pgoutput decode, the single
      * largest per-batch cost (WAL order is per-slot serial, exactly the
      * reference's single replication socket). The grouped path takes at
      * least two actions (admission pass + dispatch wave); caching pays
      * the decode once. Bounded by the micro-batch (source admission).
      */
    def cached(batch: DataFrame)(f: DataFrame => Unit): Unit = {
      // small steady-state batches skip the cache: with no failures the
      // happy path is ONE action, so persist is pure overhead there, and
      // a rare failure-path rebuild over <=256 events re-decodes cheaply
      if (lastBatchRows <= SmallBatchRows)
        // coalesce(1) FIRST: SinglePartition satisfies the dedup agg's
        // clustering requirement, so the whole small batch runs scan ->
        // [decode] -> [dedup + pipeline + deliver] with NO dedup
        // Exchange — one fewer stage of scheduling latency
        f(batch.coalesce(1).dropDuplicates("idempotency_key"))
      else {
        val deduped = batch.dropDuplicates("idempotency_key").persist()
        try f(deduped)
        finally { deduped.unpersist(blocking = false); () }
      }
    }

    // identities the LIVE stream has delivered while a backfill scan is
    // ACTIVELY running (first step() → finished) — the fence set the
    // reference's table reader consults (message_handler.ex:66-94
    // pks_seen). Scoped to the backfilled table and capped at
    // cfg.maxBackfillFenceInMemory driver-held entries: overflow spills
    // to a parquet fence side table (the distributed form — at 100 TB a
    // hot table's churn must never become an unbounded driver term) and
    // the page fence anti-joins BOTH. Cleared (and the spool deleted) by
    // the runner's onFinished when the scan completes.
    private val backfillSeen = scala.collection.mutable.Set.empty[String]
    @volatile private var fenceSpoolDir: Option[String] = None
    @volatile private[streaming] var backfillRunner: Option[BackfillRunner] =
      None
    // pages and micro-batches SERIALIZE through one dispatch lock — the
    // in-time form of the W3 priority merge (CDC batches never interleave
    // inside a page delivery, and vice versa)
    private[streaming] val dispatchLock = new Object

    private def fenceKey = concat_ws("#",
      concat_ws(".", col("table_schema"), col("table_name")),
      col("record_pk"))

    // caller holds the backfillSeen monitor
    private def spillFenceLocked(): Unit = {
      val dir = fenceSpoolDir.getOrElse {
        val d = s"target/graft_fence_spool/$consumerId/" +
          java.util.UUID.randomUUID().toString
        fenceSpoolDir = Some(d)
        d
      }
      backfillSeen.toSeq.toDF("__seen_key").coalesce(1)
        .write.mode("append").parquet(dir)
      metrics.inc("graft_backfill_fence_spilled_total",
        Seq("consumer_id" -> consumerId, "consumer_name" -> cfg.name),
        by = backfillSeen.size.toLong,
        help = "Backfill fence identities spilled to the parquet side table")
      Trace.info(consumerId, "backfill fence spilled",
        "spilled" -> backfillSeen.size.toString,
        "cap" -> cfg.maxBackfillFenceInMemory.toString)
      backfillSeen.clear()
    }

    /** Record delivered identities for the backfill fence — only while a
      * scan is active, and only for the BACKFILLED table (the
      * reference's active_table_oids scoping).
      */
    private def recordFence(deduped: DataFrame): Unit =
      backfillRunner.filter(_.isActive).foreach { r =>
        val keys = deduped
          .where(col("table_schema") === r.spec.tableSchema &&
            col("table_name") === r.spec.tableName)
          .select(fenceKey)
          .collect().map(_.getString(0))
        backfillSeen.synchronized {
          backfillSeen ++= keys
          if (backfillSeen.size > cfg.maxBackfillFenceInMemory)
            spillFenceLocked()
        }
      }

    /** Drop page rows whose identity CDC already delivered: broadcast
      * anti-join on the (bounded) in-memory set, then a second anti-join
      * on the spilled fence table when one exists — that join shuffles,
      * which is the right plan once the fence outgrew the driver.
      */
    private def fencePage(envelope: DataFrame): DataFrame = {
      val seen = backfillSeen.synchronized(backfillSeen.toSet)
      var out = envelope
      if (seen.nonEmpty)
        out = out.join(broadcast(seen.toSeq.toDF("__seen_key")),
          fenceKey === col("__seen_key"), "left_anti")
      fenceSpoolDir.foreach { d =>
        out = out.join(spark.read.parquet(d),
          fenceKey === col("__seen_key"), "left_anti")
      }
      out
    }

    private def clearFence(): Unit = {
      backfillSeen.synchronized { backfillSeen.clear() }
      fenceSpoolDir.foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        try { p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true); () }
        catch { case _: Exception => () }
      }
      fenceSpoolDir = None
    }

    /** Wire a declared backfill to this lane. The fence + deliver
      * closure evaluates INSIDE the dispatch lock, so no CDC micro-batch
      * can deliver (and record) a newer image of a pk between the fence
      * decision and the page dispatch (that interleave would ship the
      * page's stale `read` AFTER the CDC image, violating "CDC wins on
      * PK conflict"). Pages deliver through the same cached body but
      * must not re-record their own rows as "seen" (they are backfill,
      * not CDC), hence deliverBody not deliverBatch.
      */
    def attachBackfill(spec: BackfillSpec,
        query: () => StreamingQuery,
        fence: () => Unit = () => ()): BackfillRunner = {
      val runner = new BackfillRunner(spec, query,
        envelope => dispatchLock.synchronized {
          cached(fencePage(envelope))(df => deliverBody(df, None))
        },
        onFinished = () => clearFence(), fence = fence)
      backfillRunner = Some(runner)
      runner
    }

    /** One micro-batch through this lane: record fence identities (when
      * a backfill scan is active), then dispatch. `knownN` is the
      * already-counted post-dedup batch size when the caller has one
      * (SlotRuntime's cache-materializing count) — it replaces the
      * Observation read AND upgrades the dispatch-shape choice from
      * previous-batch to current-batch sizing.
      */
    // set when the lane's consumer detaches: a shared batch already
    // in flight for this lane finishes quietly (its ledger resolves),
    // but a batch DISPATCHED after stop() returned must not deliver —
    // stop() has well-defined semantics even if ledger.stop() ever
    // gains real teardown
    @volatile private[streaming] var closed = false

    def deliverBatch(deduped: DataFrame, knownN: Option[Long]): Unit =
      dispatchLock.synchronized {
        if (closed) return
        recordFence(deduped)
        deliverBody(deduped, knownN)
      }

    // non-blocking metric read with a SHORT bounded poll: Observation.get
    // blocks on the async listener bus indefinitely (measured ~150 ms
    // added per micro-batch); a few 1 ms polls catch the common case
    // where the metric lands just after the action returns, without
    // putting the bus's tail latency on the hot path
    private def observedN(obs: org.apache.spark.sql.Observation): Long = {
      def read(): Long = scala.util.Try(
        org.apache.spark.sql.graftbridge.Bridge.observedRow(obs)
          .map(_.getLong(0)).getOrElse(-1L)).getOrElse(-1L)
      var n = read()
      var polls = 0
      while (n < 0 && polls < 8) { Thread.sleep(1); n = read(); polls += 1 }
      n
    }

    private[streaming] def deliverBody(deduped: DataFrame,
        knownN: Option[Long]): Unit = {
      // a previous batch's raced metric has landed by now — recover
      // the size signal before this batch's path choice reads it
      pendingObs.foreach { prev =>
        val n = scala.util.Try(
          org.apache.spark.sql.graftbridge.Bridge.observedRow(prev)
            .map(_.getLong(0)).getOrElse(-1L)).getOrElse(-1L)
        if (n >= 0) lastBatchRows = n
      }
      pendingObs = None
      // a known current size beats the previous batch's: the dispatch
      // shape below is chosen for THIS batch
      knownN.foreach(n => lastBatchRows = n)
      // counted dispatches (the low-latency tail) keep the single-
      // connection fast path MUCH longer than foreachBatch's 256: the
      // tail's whole value is the cached shuffle-free plan, and leaving
      // it means a full Catalyst rebuild per segment — measured as the
      // tail saturating at ~2.5k ev/s (p50 8.3 s at a paced 5k) while
      // the same rate on the fast path holds sub-100 ms. One ordered
      // connection delivers thousands of rows in single-digit ms; the
      // wide parallel-connection shape only wins far past this cutoff.
      val fastPathCutoff =
        if (knownN.isDefined) TailFastPathRows else SmallBatchRows
      // SHARDED tail dispatch: the feed-backed source already has
      // tailShards partitions (each task reads the whole feed); every
      // task keeps its own group-hash share with a NARROW filter, so the
      // plan carries no Exchange — per-group FIFO holds because a group's
      // hash pins it to one partition (one connection) for the lane's
      // lifetime, and batches are sequential per lane. K connections
      // deliver concurrently where the single-connection fast path
      // serializes — the throughput lever that moves the tail's
      // saturation point without giving up the pinned compiled plan.
      val shardedPath = knownN.isDefined && tailShards > 1
      // HAPPY PATH — the whole micro-batch is ONE delivery in ONE
      // Spark action, straight off the distributed pipeline plan
      // (events never round-trip through the driver). Per-group
      // FIFO is enforced ON THE WIRE: each group's events cluster
      // into one partition in `(commit_lsn, commit_idx)` order, so
      // a group's in-batch run reaches its transport connection as
      // one ordered sequence — the reference's own delivery shape
      // (slot_message_store_state.ex:432-478: a group's consecutive
      // messages ship as ONE in-flight batch; FIFO is between
      // batches, not between a batch's members). Batches are
      // sequential per consumer, so cross-batch group order holds
      // because batch N fully resolves (retries included) before
      // batch N+1 dispatches.
      // the batch's pre-filter row count rides an Observation ON the
      // delivery action — the trace gets received/matched/filtered
      // without a second Spark job (skipped entirely when the caller
      // already counted the batch)
      val obsOpt =
        if (knownN.isDefined) None
        else Some(org.apache.spark.sql.Observation())
      val smallPath = !shardedPath &&
        cfg.messageGrouping && lastBatchRows <= fastPathCutoff
      // PLAN REUSE: the low-latency tail dispatches the SAME feed-backed
      // DataFrame object every segment, so the delivery plan (pipeline +
      // wire framing + transport) is structurally identical each time —
      // and rebuilding it cost a measured ~120 ms of eager Catalyst
      // analysis per 1-row batch, twice the whole job's execution. One
      // cached entry, keyed by (deduped reference, dispatch shape),
      // valid only when the caller counted the batch (an Observation is
      // single-use, so observed plans never cache). foreachBatch
      // callers pass a fresh DataFrame per batch and simply miss.
      val cachedRdd = dispatchCache.collect {
        case (key, s, rdd) if knownN.isDefined && (key eq deduped) &&
            s == smallPath => rdd
      }
      def buildDs = {
        val observedDf = obsOpt.fold(deduped)(o =>
          deduped.observe(o, org.apache.spark.sql.functions
            .count(org.apache.spark.sql.functions.lit(1)).as("n_in")))
        val pipeline0 = CdcPipeline.build(observedDf, cfg, enrichment)
        val pipeline =
          if (shardedPath) {
            // each of the K co-identical partitions keeps the rows whose
            // group hashes to its own partition id — same key expression
            // as the wide path's repartition, evaluated as a narrow
            // filter. In-partition sort gives each group's run the wire
            // order the grouped contract requires.
            import org.apache.spark.sql.functions.{coalesce, lit, pmod,
              spark_partition_id, xxhash64}
            pipeline0
              .filter(pmod(xxhash64(coalesce(col("group_id"),
                  col("record_pk"))), lit(tailShards.toLong)) ===
                spark_partition_id().cast("long"))
              .sortWithinPartitions("group_id", "commit_lsn", "commit_idx")
          }
          else if (!cfg.messageGrouping) pipeline0 // no ordering contract
          else if (smallPath)
            // SINGLE-EVENT FAST PATH: steady low-rate traffic (sized by
            // the PREVIOUS batch — no extra count action) delivers the
            // whole batch on ONE ordered connection. A global
            // (commit_lsn, commit_idx) sort subsumes per-group FIFO,
            // and coalesce(1) is a narrow dependency — the group-hash
            // Exchange (one whole stage of scheduling latency on a
            // 1-event batch) disappears. Self-correcting: a burst
            // arriving behind a quiet period pays one single-connection
            // batch, then the size signal flips the next batch wide.
            pipeline0.coalesce(1)
              .sortWithinPartitions("commit_lsn", "commit_idx")
          else {
            import org.apache.spark.sql.functions.coalesce
            pipeline0
              .repartition(coalesce(col("group_id"), col("record_pk")))
              .sortWithinPartitions("group_id", "commit_lsn", "commit_idx")
          }
        SinkDispatch.deliver(pipeline, sink, env)
      }
      val dlqBefore = ledger.deadLetters().size
      // counted batches ride the RDD path: the DAG (incl. compiled
      // codegen stages) is pinned once, each action pays only the
      // scheduler floor. Observed batches stay on the Dataset path —
      // RDD actions emit no SQL execution events, so the Observation
      // would never land there.
      val outcomes = cachedRdd match {
        case Some(rdd) =>
          SinkDispatch.deliverObservedRdd(rdd, metrics, health,
            consumerId, cfg.name)
        case None if knownN.isDefined =>
          val ds = buildDs
          val rdd = ds.rdd
          // pin ONLY shuffle-free plans: re-running a pinned RDD whose
          // lineage holds a ShuffleExchange SKIPS the completed map
          // stage (Spark reuses registered shuffle outputs), so the
          // reduce side would redeliver the FIRST batch's rows forever
          // instead of re-reading the feed file. The single-event fast
          // path (coalesce(1) + in-partition sort; the 1-partition
          // dedup satisfies its distribution without an Exchange) is
          // narrow end-to-end and re-executes from the source each
          // action; the wide grouped path (repartition on group) is
          // not — it rebuilds per batch and pays the ~120 ms analysis
          // only where execution itself dominates anyway.
          val shuffleFree = ds.queryExecution.executedPlan.collectFirst {
            case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeLike => e
          }.isEmpty
          if (!shuffleFree)
            lastUnpinnablePlan = Some(ds.queryExecution.executedPlan.toString)
          dispatchCache =
            if (shuffleFree) Some((deduped, smallPath, rdd)) else None
          SinkDispatch.deliverObservedRdd(rdd, metrics, health,
            consumerId, cfg.name)
        case None =>
          SinkDispatch.deliverObservedDs(buildDs, metrics, health,
            consumerId, cfg.name)
      }
      val nIn: Long = knownN.getOrElse(obsOpt.map(observedN).getOrElse(-1L))
      // on a metrics-bus miss KEEP the previous size (substituting
      // the POST-FILTER outcome count would flip a selective-filter
      // consumer — 100k received, ~0 matched — onto the single-task
      // fast path for its next full-size batch) and park the
      // Observation for recovery at the next batch's start
      if (nIn >= 0) lastBatchRows = nIn else pendingObs = obsOpt
      // `received` is the POST-dedup count (the Observation rides the
      // deduped frame); `filtered` clamps at 0 because a fanning
      // transform can emit more outcomes than inputs — a negative
      // count in the debugging view would read as data loss
      Trace.info(consumerId, "batch processed",
        "received" -> (if (nIn >= 0) nIn.toString else "unknown"),
        "matched" -> outcomes.size.toString,
        "filtered" -> (if (nIn >= 0)
          math.max(0L, nIn - outcomes.size).toString else "unknown"))
      health.putEvent("sink_consumer", consumerId, "messages_filtered",
        "success")
      if (outcomes.nonEmpty) {
        health.putEvent("sink_consumer", consumerId, "messages_ingested",
          "success")
        health.putEvent("sink_consumer", consumerId,
          "messages_pending_delivery", "success")
      }
      // FAILURES drop into the strict ledger ladder (per-group FIFO
      // with maxInflight=1, visibility timeout, retry budget, DLQ).
      // Their ORIGINAL events are re-derived from the cached batch —
      // the build is re-run only to recover the grafted group id; the
      // DELIVERED payloads came from the single build above, so user
      // transforms apply exactly once per delivery and the filter
      // verdict was decided on original values.
      val failedIds = outcomes.filterNot(_.ok).map(_.ack_id).toSet
      if (outcomes.nonEmpty) {
        if (failedIds.isEmpty)
          Trace.info(consumerId, "batch delivered",
            "delivered" -> outcomes.size.toString)
        else
          Trace.error(consumerId, "deliveries failed",
            "delivered" -> (outcomes.size - failedIds.size).toString,
            "failed" -> failedIds.size.toString,
            "reason" -> outcomes.collectFirst {
              case o if !o.ok => Option(o.err).getOrElse("unknown")
            }.getOrElse("unknown"))
      }
      if (failedIds.nonEmpty) {
        val packed = deduped.withColumn("__orig",
          struct(EventCols.map(col): _*))
        // broadcast-semi-join on the failed keys (an `isin` literal
        // list would blow the plan up when a dead transport fails a
        // whole 100k+ batch)
        val keys = org.apache.spark.sql.functions.broadcast(
          failedIds.toSeq.toDF("idempotency_key"))
        val failedDs = CdcPipeline.build(packed, cfg, enrichment)
          .join(keys, Seq("idempotency_key"), "left_semi")
          .select(EventCols.filterNot(_ == "group_id")
            .map(c => col(s"__orig.$c").as(c)) :+ col("group_id"): _*)
          .as[ChangeEvent]
        // these already burned one delivery attempt in the batch
        // dispatch — the ledger's retry budget starts there
        if (failedIds.size <= cfg.maxFailedCollectPerBatch)
          ledgerLoop(failedDs.collect().toSeq
            .sortBy(e => (e.commit_lsn, e.commit_idx)))
        else {
          // DEAD-TRANSPORT SPILL: a whole failed micro-batch (500k
          // events at bench scale) must not land in driver memory in
          // one `.collect()`. Spill the failed set to a parquet
          // retry spool, RANGE-sorted on the delivery order, and
          // drain it one chunk (= one range file) at a time — each
          // chunk fully resolves (retry/DLQ) before the next loads,
          // so per-group FIFO holds across chunks and driver
          // residency stays <= maxFailedCollectPerBatch events. The
          // reference spills failing groups to a table the same way
          // (slot_message_store_state.ex:687-716).
          val spool = s"target/graft_retry_spool/$consumerId/" +
            java.util.UUID.randomUUID().toString
          val nChunks = math.max(1, (failedIds.size.toDouble /
            cfg.maxFailedCollectPerBatch).ceil.toInt)
          failedDs.toDF()
            .repartitionByRange(nChunks, col("commit_lsn"), col("commit_idx"))
            .sortWithinPartitions("commit_lsn", "commit_idx")
            .write.mode("overwrite").parquet(spool)
          metrics.inc("graft_retry_spool_spilled_total",
            Seq("consumer_id" -> consumerId, "consumer_name" -> cfg.name),
            by = failedIds.size.toLong,
            help = "Failed deliveries spilled to the parquet retry spool")
          Trace.warning(consumerId, "failed batch spilled to retry spool",
            "spilled" -> failedIds.size.toString,
            "chunks" -> nChunks.toString)
          // Hadoop FS, not java.io.File: the spool rides Spark's
          // default filesystem (HDFS/S3 on a cluster) — a local-FS
          // listing there would NPE mid-failure-handling and strand
          // the spool
          val spoolPath = new org.apache.hadoop.fs.Path(spool)
          val fs = spoolPath.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          try {
            // range partition i holds delivery-order range i, and
            // part-0000i names sort with i — file order IS spool order
            val files = fs.listStatus(spoolPath).map(_.getPath)
              .filter(f => f.getName.startsWith("part-") &&
                f.getName.endsWith(".parquet"))
              .sortBy(_.getName)
            files.foreach { f =>
              val chunk = spark.read.parquet(f.toString)
                .as[ChangeEvent].collect().toSeq
                .sortBy(e => (e.commit_lsn, e.commit_idx))
              if (chunk.nonEmpty) ledgerLoop(chunk)
            }
          } finally { fs.delete(spoolPath, true); () }
        }
      }
      val dlqDelta = ledger.deadLetters().size - dlqBefore
      if (dlqDelta > 0)
        Trace.warning(consumerId, "dead-lettered after retry budget",
          "count" -> dlqDelta.toString)
    }

    /** The reference's MessageConsistencyCheckWorker (Oban cron): count
      * undelivered cursors older than the staleness window, warn through
      * metrics + health, trim the audit ledger.
      */
    val audit: Long => Int = { maxAgeMs =>
      val cutoffEpochMs = nowMs() - maxAgeMs
      val stale = ledger.staleUndelivered(cutoffEpochMs)
      if (stale.nonEmpty) {
        metrics.inc("graft_undelivered_cursors_stale_total",
          Seq("consumer_id" -> consumerId, "consumer_name" -> cfg.name),
          by = stale.size.toLong,
          help = "Undelivered cursors found stale by the consistency check")
        health.putEvent("sink_consumer", consumerId,
          "messages_pending_delivery", "warning")
        Trace.warning(consumerId, "stale undelivered cursors",
          "count" -> stale.size.toString,
          "max_age_ms" -> maxAgeMs.toString)
        ledger.trimStaleUndelivered(cutoffEpochMs)
      }
      stale.size
    }

    /** Periodic consistency audit (cadence + window from the consumer
      * config; defaults = the reference's 60 s / 2 min).
      */
    def startConsistencyTimer(): java.util.Timer = {
      val timer = new java.util.Timer(s"graft-consistency-$consumerId", true)
      timer.scheduleAtFixedRate(new java.util.TimerTask {
        override def run(): Unit =
          try { audit(cfg.consistencyStalenessMs); () }
          catch { case e: Exception =>
            // a persistently failing audit must surface, not vanish (the
            // reference Logger.warns on findings); swallowing here once
            // hid every metrics/health bug behind a silent 60 s retry loop
            System.err.println(
              s"[graft] consistency check failed for $consumerId: $e")
          }
      }, cfg.consistencyCheckIntervalMs, cfg.consistencyCheckIntervalMs)
      timer
    }
  }

  /** Start the full chain over `events` (a STREAMING CDC-envelope
    * DataFrame). `consumerId`/`cfg.name` label the metrics series and
    * the health entity.
    */
  def start(events: DataFrame, cfg: ConsumerConfig, env: SinkDispatch.Env,
      metrics: graft.config.Metrics.Registry,
      health: graft.config.Health.Registry,
      consumerId: String,
      enrichment: Option[(DataFrame, String, String)] = None,
      checkpointLocation: Option[String] = None,
      backfill: Option[BackfillSpec] = None,
      nowMs: () => Long = () => System.currentTimeMillis())(
      implicit spark: SparkSession): Handle = {
    val lane = new Lane(cfg, env, metrics, health, consumerId, enrichment,
      nowMs)
    // with a checkpoint, a restart resumes at the source's committed
    // offsets: completed batches never replay (their events were acked
    // and the sink is external), an interrupted batch replays whole —
    // at-least-once, the reference's delivery contract
    val writer0 = events.writeStream.outputMode("append")
    val writer = checkpointLocation
      .fold(writer0)(p => writer0.option("checkpointLocation", p))
    val query = writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        lane.cached(batch)(d => lane.deliverBatch(d, knownN = None))
      }
      .start()
    val runner = backfill.map(spec => lane.attachBackfill(spec, () => query))
    val timer = lane.startConsistencyTimer()
    new Handle(() => query, lane.ledger, runner, Some(lane.audit),
      Some(timer))
  }

  /** OPT-IN low-latency tail (`cfg.lowLatency` / `"low_latency": true`):
    * instead of a Structured Streaming micro-batch query, a DRIVER
    * thread tails the spool directory directly, decodes incrementally
    * with [[graft.sources.PgStream.LinearDecoder]] (the same per-slot
    * state machine the stateful stream runs, held across segments), and
    * pushes each new segment through the SAME [[Lane]] — pipeline
    * build, ordered dispatch, ledger retry ladder, fence,
    * trace/metrics/health all identical — as ONE local Spark action
    * over a LocalRelation. What disappears from the per-event path is
    * every fixed micro-batch cost: trigger scheduling, the state-store
    * commit, the offset-log and commit-log writes (measured ~75 ms of
    * driver fs writes per trigger) and the source's distributed plan
    * (~315 ms addBatch on a 3-row batch). The price: per-segment work
    * serializes through the driver, so this is the deployment for
    * steady LOW-RATE consumers (alerting, audit mirrors, ops hooks) —
    * throughput catch-up stays the micro-batch runtime's job. Both run
    * the same Lane, so switching modes changes WHEN work is scheduled,
    * never what is delivered.
    *
    * Position/recovery: the next unconsumed segment index is recorded
    * in `<checkpointDir>/tail_offset` AFTER a segment's dispatch
    * resolves — a crash between dispatch and the write replays the
    * whole segment (at-least-once, the delivery contract everywhere
    * else); the decoder's per-slot seq cursor drops replayed frames on
    * a warm re-feed and the receiver's `idempotency_key` covers the
    * cold-restart replay.
    *
    * Spool contract matches the DSv2 source: contiguous indices, a gap
    * AT the committed position is tolerated for `headGapGraceMs` (an
    * in-flight rename), then fails loudly through health + a raised
    * error surfaced by `Handle.stop()`-independent inspection
    * ([[TailState.error]]).
    */
  final class TailState {
    @volatile private[streaming] var stopped = false
    @volatile var error: Option[Throwable] = None
    @volatile var segmentsDelivered: Long = 0L
    // true once the delivery plan is pinned in the lane's dispatch cache
    // (⇔ the executed plan was shuffle-free) — the property that keeps
    // per-segment dispatch at the scheduler floor; surfaced so specs and
    // operators can verify the tail is on its fast path
    @volatile var planPinned: Boolean = false
    // the executed plan that blocked pinning, when one did
    @volatile var planNote: Option[String] = None
  }

  /** The tail's CURRENT-batch hand-off: decoded rows serialized to one
    * shared-FS file that a FIXED one-partition plan re-reads on every
    * action. This is what makes the delivery plan reusable — the plan is
    * constant, the FILE CONTENT is the per-segment variable — and it is
    * cluster-honest: the task reads a filesystem path, never driver
    * memory.
    */
  // Explicit positional codec for the feed file — NOT Java serialization:
  // the sharded tail deserializes the feed once PER SHARD TASK, and
  // ObjectInputStream's reflective row cost was the dominant per-segment
  // term at multi-thousand-row segments. Strings are length-prefixed
  // UTF-8 (-1 = null; writeUTF's 64 KB cap would truncate large payload
  // cells). In-process hand-off format, rewritten every segment — no
  // cross-version compatibility surface (the DURABLE decoder snapshot
  // has its own versioned codec in PgStream.encodeSlotState).
  private def writeStr(o: java.io.DataOutputStream, s: String): Unit =
    if (s == null) o.writeInt(-1)
    else {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      o.writeInt(b.length); o.write(b)
    }
  private def readStr(i: java.io.DataInputStream): String = {
    val n = i.readInt()
    if (n < 0) null
    else {
      val b = new Array[Byte](n); i.readFully(b)
      new String(b, java.nio.charset.StandardCharsets.UTF_8)
    }
  }
  private def writeStrSeq(o: java.io.DataOutputStream,
      xs: Seq[String]): Unit = {
    o.writeInt(xs.length); xs.foreach(writeStr(o, _))
  }
  private def readStrSeq(i: java.io.DataInputStream): Seq[String] = {
    val n = i.readInt()
    (0 until n).map(_ => readStr(i))
  }

  // the feed is an EPHEMERAL same-segment hand-off rewritten 10x/second
  // and read once per shard task — Hadoop LocalFileSystem's CRC sidecar
  // (write + 8 verifying reads per segment) was a measured double-digit-ms
  // per-segment term at 50k ev/s. Raw local FS skips it; any non-local
  // filesystem (HDFS/S3 on a cluster) keeps its own integrity machinery.
  // one Configuration per JVM: its constructor re-parses the XML
  // resource chain — a measured ~5-10 ms that was being paid on EVERY
  // feed write (driver, 10x/s) and every per-task feed read (K/segment)
  private lazy val feedConf = new org.apache.hadoop.conf.Configuration()
  private def feedFs(p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(feedConf) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other => other
    }

  /** Serialize rows to feed bytes (the CPU half of the hand-off) —
    * separated from the file write so the pipelined tail can encode
    * segment N+1 while segment N is still dispatching.
    */
  private[graft] def encodeTailFeed(
      rows: Seq[graft.sources.PgStream.Decoded]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(1 << 16)
    val out = new java.io.DataOutputStream(buf)
    out.writeInt(rows.length)
    rows.foreach { d =>
      writeStr(out, d.kind); writeStr(out, d.slot_id)
      out.writeLong(d.seq); out.writeLong(d.commit_lsn)
      out.writeLong(d.commit_idx); out.writeLong(d.commit_ts_us)
      out.writeLong(d.xid)
      writeStr(out, d.table_schema); writeStr(out, d.table_name)
      out.writeLong(d.table_oid); writeStr(out, d.action)
      writeStrSeq(out, d.columns); writeStrSeq(out, d.values)
      out.writeBoolean(d.old_values.isDefined)
      d.old_values.foreach(writeStrSeq(out, _))
      writeStr(out, d.schema_hash)
      out.writeBoolean(d.annotations.isDefined)
      d.annotations.foreach(writeStr(out, _))
    }
    out.flush()
    buf.toByteArray
  }

  // parent dirs are created once per path per JVM, not re-stat'd on
  // every 10x/s overwrite
  private val feedDirsMade =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def writeTailFeedBytes(pathStr: String,
      bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = feedFs(p)
    if (feedDirsMade.add(p.getParent.toString)) fs.mkdirs(p.getParent)
    // plain overwrite, no temp+rename: the tail is the only writer and
    // every reader (the dispatch job) runs strictly AFTER this returns —
    // the file is a hand-off, not a publish, and the rename pair cost
    // measurable milliseconds on the single-event latency path
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private[graft] def writeTailFeed(pathStr: String,
      rows: Seq[graft.sources.PgStream.Decoded]): Unit =
    writeTailFeedBytes(pathStr, encodeTailFeed(rows))

  private[graft] def readTailFeed(pathStr: String)
      : Seq[graft.sources.PgStream.Decoded] = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = feedFs(p)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(p), 1 << 16))
    try {
      val n = in.readInt()
      Vector.tabulate(n) { _ =>
        graft.sources.PgStream.Decoded(
          kind = readStr(in), slot_id = readStr(in),
          seq = in.readLong(), commit_lsn = in.readLong(),
          commit_idx = in.readLong(), commit_ts_us = in.readLong(),
          xid = in.readLong(),
          table_schema = readStr(in), table_name = readStr(in),
          table_oid = in.readLong(), action = readStr(in),
          columns = readStrSeq(in), values = readStrSeq(in),
          old_values =
            if (in.readBoolean()) Some(readStrSeq(in)) else None,
          schema_hash = readStr(in),
          annotations = if (in.readBoolean()) Some(readStr(in)) else None)
      }
    } finally in.close()
  }

  def startLowLatencyTail(spoolDir: String,
      toEnvelope: DataFrame => DataFrame,
      cfg: ConsumerConfig, env: SinkDispatch.Env,
      metrics: graft.config.Metrics.Registry,
      health: graft.config.Health.Registry,
      consumerId: String,
      checkpointDir: Option[String] = None,
      pollIntervalMs: Long = 1L,
      headGapGraceMs: Long = 30000L,
      enrichment: Option[(DataFrame, String, String)] = None,
      nowMs: () => Long = () => System.currentTimeMillis(),
      // >1 ⇒ sharded dispatch: the fixed plan carries `shards` partitions
      // (each task re-reads the FULL feed and keeps its group-hash share)
      // so a segment delivers over K concurrent ordered connections
      // instead of one. Per-group FIFO holds — a group's hash pins it to
      // one shard for the tail's lifetime. Raises the tail's saturation
      // rate ~Kx at a small fixed cost (K tasks per segment instead of
      // 1), so leave it 1 for sub-1k ev/s consumers. 0 (the default)
      // defers to the consumer config's `low_latency_shards`.
      shards: Int = 0)(
      spark0: SparkSession): (Handle, TailState) = {
    // tiny-plan-tuned session clone: single-event plans pay fixed costs
    // (AQE re-planning, whole-stage source GENERATION — the janino cache
    // absorbs compilation, not the per-execution codegen text build) that
    // buy nothing at 1-256 rows and are a measured double-digit-ms tax
    // on the delivered-latency path. Shared state (catalog, listener bus,
    // block manager) is untouched — conf-only clone.
    implicit val spark: SparkSession = {
      val s = spark0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.codegen.wholeStage", "true")
      s
    }
    import spark.implicits._
    val effShards = if (shards > 0) shards else math.max(1, cfg.lowLatencyShards)
    require(shards >= 0 && cfg.lowLatencyShards >= 0,
      s"tail shards must be >= 0, got $shards / ${cfg.lowLatencyShards}")
    val lane = new Lane(cfg, env, metrics, health, consumerId, enrichment,
      nowMs, tailShards = effShards)
    val state = new TailState
    val offsetPath = checkpointDir.map(d =>
      new org.apache.hadoop.fs.Path(d, "tail_offset"))
    val decoderPath = checkpointDir.map(d =>
      new org.apache.hadoop.fs.Path(d, "tail_decoder"))
    val hconf = spark.sparkContext.hadoopConfiguration
    def readFile(pOpt: Option[org.apache.hadoop.fs.Path]): Option[Array[Byte]] =
      pOpt.flatMap { p =>
        val fs = p.getFileSystem(hconf)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(org.apache.commons.io.IOUtils.toByteArray(in))
          finally in.close()
        }
      }
    def writeFile(pOpt: Option[org.apache.hadoop.fs.Path],
        bytes: Array[Byte]): Unit = pOpt.foreach { p =>
      val fs = p.getFileSystem(hconf)
      fs.mkdirs(p.getParent)
      val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.tmp")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      if (fs.exists(p)) fs.delete(p, false)
      require(fs.rename(tmp, p), s"tail checkpoint rename failed: $tmp -> $p")
    }
    def readOffset(): Long = readFile(offsetPath)
      .map(b => new String(b, "UTF-8").trim.toLong).getOrElse(0L)
    val decoder = new graft.sources.PgStream.LinearDecoder
    // restore the decoder's durable state (seq cursor, open txn,
    // relation frames) — a tail resuming PAST the segment that carried
    // the Relation message must still type its rows
    readFile(decoderPath).foreach(decoder.restore)
    // the FIXED delivery frame: one plan over the feed file, analyzed
    // once, re-executed per segment (each action re-reads the file's
    // current content). Built here so every per-segment dispatch hits
    // the Lane's plan cache.
    val feedPathStr = checkpointDir.getOrElse {
      // the feed file is read by EXECUTOR tasks via a Hadoop Path; a
      // driver-local temp dir is only visible to executors that share the
      // driver's filesystem — true for local[*] and local-cluster[...]
      // (same machine), never for a real cluster. Fail fast with the fix
      // in the message instead of a FileNotFoundException inside the task.
      val master = spark.sparkContext.master
      require(master.startsWith("local"),
        "startLowLatencyTail requires checkpointDir on a SHARED filesystem " +
          s"when the session is not local (master=$master): without it the " +
          "per-segment feed file lands in a driver-local temp directory " +
          "that executor tasks cannot read")
      java.nio.file.Files.createTempDirectory("graft_tail_feed").toString
    } + "/tail_feed.bin"
    val fixedBatch: DataFrame = if (effShards == 1) {
      val rdd = spark.sparkContext.parallelize(Seq(feedPathStr), 1)
        .mapPartitions(it => readTailFeed(it.next()).iterator)
      toEnvelope(spark.createDataset(rdd).toDF())
        .coalesce(1).dropDuplicates("idempotency_key")
    } else {
      // K co-identical partitions over ONE feed file: every task reads
      // the full segment and the Lane's sharded filter keeps its 1/K by
      // group hash — redundant deserialization is a few ms of parallel
      // CPU, and the plan stays narrow end-to-end (no Exchange), which
      // is what keeps it pinnable in the dispatch cache. No
      // dropDuplicates here: dedup would demand a hash Exchange, so the
      // driver dedups each segment on (commit_lsn, commit_idx) — the
      // exact fields idempotency_key base64-encodes — before the feed
      // write (see the loop below).
      val rdd = spark.sparkContext
        .parallelize(Seq.fill(effShards)(feedPathStr), effShards)
        .mapPartitions(it => readTailFeed(it.next()).iterator)
      toEnvelope(spark.createDataset(rdd).toDF())
    }
    // TWO-STAGE PIPELINE: the decode thread (stage A) tails the spool,
    // decodes, dedups, serializes the feed bytes and snapshots the
    // decoder EAGERLY per segment; the dispatch thread (stage B) writes
    // the feed file, delivers, and commits the checkpoint. A 1-slot
    // hand-off overlaps segment N+1's decode+encode under segment N's
    // delivery — at 50k ev/s those were a measured ~40 ms of a ~150 ms
    // serial per-segment budget. The feed-file overwrite lives ONLY in
    // stage B, strictly between deliveries, so the pinned plan's readers
    // never race the writer. Checkpoint order is unchanged (deliveries
    // resolved → decoder state → offset, per segment, in stage B); the
    // snapshot travels WITH its segment because stage A's decoder has
    // already advanced past it.
    final case class PreparedSeg(idx: Long, bytes: Array[Byte], n: Long,
      snapshot: Array[Byte], segs: Long = 1L)
    val handoff = new java.util.concurrent.ArrayBlockingQueue[PreparedSeg](1)
    def fail(e: Throwable): Unit = if (!state.stopped) {
      state.stopped = true
      state.error = Some(e)
      health.putEvent("sink_consumer", consumerId, "messages_ingested",
        "fail", Some(s"low-latency tail died: $e"))
      Trace.error(consumerId, "low-latency tail died",
        "error" -> e.toString)
    }
    val decodeThread = new Thread(() => {
      try {
        var nextIdx = readOffset()
        var gapSinceNanos = 0L
        // ADAPTIVE MERGE under pressure: segments decoded while stage B
        // is still delivering the previous batch ACCUMULATE here instead
        // of blocking on the hand-off. One merged action amortizes the
        // per-action scheduler floor over several segments, so when
        // per-segment delivery cost reaches the arrival cadence (the
        // saturation knee) the tail degrades into micro-batching and
        // recovers the moment stage B catches up — instead of building
        // an unbounded backlog behind a blocked decode thread.
        // Sub-saturation the queue has room at every offer, nothing
        // merges, and the per-segment path is unchanged. Memory is
        // bounded: past maxMergedRows the flush BLOCKS. The checkpoint
        // contract is untouched — a merged batch carries the LAST
        // segment's idx and the decoder snapshot taken after it, and
        // stage B's write order (deliveries → decoder → offset) covers
        // the whole range exactly as it covered one segment.
        val maxMergedRows = 262144
        val accRows =
          scala.collection.mutable.ArrayBuffer.empty[
            graft.sources.PgStream.Decoded]
        // cross-segment identity suppression for sharded plans (whose
        // feed skips dropDuplicates): one set per pending merge
        val accSeen = scala.collection.mutable.HashSet.empty[(Long, Long)]
        var accLast = -1L
        var accSegs = 0L
        def flush(blocking: Boolean): Unit =
          if (accLast >= 0 &&
            (blocking || handoff.remainingCapacity() > 0)) {
            val prepared = PreparedSeg(accLast,
              if (accRows.nonEmpty) encodeTailFeed(accRows.toSeq)
              else null,
              accRows.size.toLong, decoder.snapshot(), accSegs)
            // only this thread offers, so a positive capacity check
            // makes the non-blocking offer infallible; the blocking arm
            // polls so a stop() while stage B drains can never wedge it
            val handed =
              if (!blocking) handoff.offer(prepared)
              else {
                var ok = false
                while (!state.stopped && !ok)
                  ok = handoff.offer(prepared, 50L,
                    java.util.concurrent.TimeUnit.MILLISECONDS)
                ok || state.stopped
              }
            if (handed) {
              accRows.clear(); accSeen.clear()
              accLast = -1L; accSegs = 0L
            }
          }
        while (!state.stopped) {
          val pending = graft.sources.WalSpool.listIndexed(spoolDir)
            .filter(_._1 >= nextIdx)
          // contiguous run anchored at the committed position — the same
          // admission rule as the DSv2 source (an in-flight rename can
          // surface segment i+1 moments before i)
          val anchor =
            if (nextIdx == 0L) pending.headOption.map(_._1) else Some(nextIdx)
          val run = anchor match {
            case Some(a) if pending.headOption.exists(_._1 == a) =>
              pending.zipWithIndex
                .takeWhile { case ((v, _), i) => v == a + i }.map(_._1)
            case _ => Seq.empty
          }
          if (run.isEmpty && pending.nonEmpty && anchor.isDefined) {
            if (gapSinceNanos == 0L) gapSinceNanos = System.nanoTime()
            else if ((System.nanoTime() - gapSinceNanos) / 1000000L >
                headGapGraceMs)
              throw new IllegalStateException(
                s"low-latency tail: segment ${anchor.get} at the committed " +
                  s"position has been missing for over $headGapGraceMs ms " +
                  s"while later segments exist (head: ${pending.head._1})")
          } else gapSinceNanos = 0L
          if (run.isEmpty) {
            // nothing new to decode: hand any pending merge to stage B
            // the moment it has room, then idle-poll
            flush(blocking = false)
            java.util.concurrent.locks.LockSupport.parkNanos(
              pollIntervalMs * 1000000L)
          } else {
            run.foreach { case (idx, file) =>
              if (!state.stopped) {
                val decodedRaw =
                  decoder.feedAll(graft.sources.WalSpool.readSegment(file))
                // sharded plans carry no dropDuplicates (it would plan an
                // Exchange); dedup here on the identity pair
                // idempotency_key encodes — same suppression, zero plan
                // cost — across the WHOLE pending merge
                val decoded =
                  if (effShards == 1) decodedRaw
                  else decodedRaw.filter(d =>
                    accSeen.add((d.commit_lsn, d.commit_idx)))
                accRows ++= decoded
                accLast = idx
                accSegs += 1L
                nextIdx = idx + 1
                flush(blocking = accRows.size >= maxMergedRows)
              }
            }
            // end of the contiguous run: try once more; a still-busy
            // stage B keeps the merge pending for the next iteration
            flush(blocking = false)
          }
        }
      } catch { case e: Throwable => fail(e) }
    }, s"graft-lowlat-tail-decode-$consumerId")
    val dispatchThread = new Thread(() => {
      try {
        while (!state.stopped || !handoff.isEmpty) {
          val prepared = handoff.poll(50L,
            java.util.concurrent.TimeUnit.MILLISECONDS)
          if (prepared != null) {
            if (prepared.n > 0) {
              writeTailFeedBytes(feedPathStr, prepared.bytes)
              lane.deliverBatch(fixedBatch, knownN = Some(prepared.n))
              state.planPinned = lane.dispatchCachePinned
              state.planNote = lane.lastUnpinnablePlan
            }
            // order matters: deliveries resolved → decoder state →
            // offset. A crash between deliver and the state write
            // replays the segment (at-least-once); one between the two
            // writes replays it with the NEWER decoder state, whose seq
            // cursor suppresses the already-delivered frames
            writeFile(decoderPath, prepared.snapshot)
            writeFile(offsetPath,
              (prepared.idx + 1).toString.getBytes("UTF-8"))
            state.segmentsDelivered += prepared.segs
          }
        }
      } catch { case e: Throwable => fail(e) }
    }, s"graft-lowlat-tail-$consumerId")
    decodeThread.setDaemon(true)
    dispatchThread.setDaemon(true)
    decodeThread.start()
    dispatchThread.start()
    val timer = lane.startConsistencyTimer()
    val handle = new Handle(
      () => throw new UnsupportedOperationException(
        "low-latency tail runs no streaming query"),
      lane.ledger, None, Some(lane.audit), Some(timer),
      onStop = Some(() => {
        state.stopped = true
        decodeThread.join(10000L)
        dispatchThread.join(10000L)
        lane.closed = true
      }))
    (handle, state)
  }
}

/** SHARED-DECODE fan-out: ONE streaming query over one slot's CDC
  * envelope, multiplexed across N consumer lanes — the reference decodes
  * each WAL message once and hands it to every consumer's pipeline
  * (`/root/reference/lib/sequin/runtime/message_handler.ex:214-251`);
  * N independent [[ConsumerRuntime.start]] queries on the same slot
  * would each pay the per-slot stateful pgoutput decode, a 10× ingest
  * tax at 10 consumers that the reference does not pay.
  *
  * Per micro-batch: dedup once, `persist()`, and materialize the cache
  * with ONE count (which doubles as the exact batch-size signal every
  * lane's dispatch-shape choice wants) — the decode runs exactly once no
  * matter how many lanes consume the batch. Lanes then dispatch
  * CONCURRENTLY off the cached batch, each on its own daemon worker
  * draining a per-lane FIFO queue (the analog of the reference's
  * per-consumer processes): each lane applies its own filters/
  * transforms/routing, delivers on its own connections, and runs its own
  * ledger. Per-consumer cross-batch FIFO holds by construction — a
  * lane's batch N retries finish before its batch N+1 starts.
  *
  * COMMIT FENCE: with homogeneous lanes the batch commits when every
  * lane resolved it (and `pause_on_full` backpressure from ANY lane
  * throttles the shared source, exactly like the reference pausing the
  * replication slot when one consumer's store fills). A lane whose
  * dispatch EWMA stays `laneSkewFactor`x above the median for
  * `laneSkewStreak` batches is flagged LAGGING and decoupled: the commit
  * then waits only for its siblings, while the lagging lane drains its
  * own queue up to `maxLaneLagEvents` behind (the reference's
  * per-consumer message store with `max_ack_pending` —
  * slot_message_store_state.ex:432-478: a slow consumer fills its own
  * buffer; siblings proceed at their own rate). Decoupled commits stay
  * at-least-once across restarts: each such batch is spooled to parquet
  * under the checkpoint BEFORE the commit, replayed to every lane on
  * restart, and deleted once every lane resolved it.
  *
  * Consumers attach and detach while the query runs (the reference's
  * consumers attach to a live slot): an attached lane starts at the
  * slot's CURRENT position; `Handle.stop()` on an attached lane detaches
  * only that lane. A lane failure (a thrown exception, not a delivery
  * failure — those resolve inside the lane's ledger/DLQ) fails the slot
  * query loudly; a restart from the checkpoint replays the interrupted
  * batch to all lanes (at-least-once, dedup'd by idempotency key
  * downstream).
  *
  * Use [[ConsumerRuntime.start]] for a single consumer — a dedicated
  * query skips this runtime's cache-materializing count on small
  * batches.
  */
final class SlotRuntime(
    events: DataFrame,
    checkpointLocation: Option[String] = None,
    nowMs: () => Long = () => System.currentTimeMillis(),
    // max events a LAGGING lane may hold queued before the shared commit
    // waits for it — the reference's `max_ack_pending` admission fence
    // (sink_consumer.ex defaults 10k; ours counts queued batch events).
    // Bounds both memory (queued persisted batches) and spool growth.
    maxLaneLagEvents: Long = 100000L,
    // a lane is LAGGING when its per-batch dispatch EWMA exceeds
    // laneSkewFactor x the (lower-)median lane's + laneSkewFloorMs, for
    // laneSkewStreak consecutive batches; it rejoins the commit fence
    // after the same streak of in-band batches with a drained queue.
    // The floor keeps tiny-batch scheduling noise from flagging anyone.
    laneSkewFactor: Double = 3.0,
    laneSkewFloorMs: Long = 25L,
    laneSkewStreak: Int = 3)(
    implicit spark: SparkSession) {
  import ConsumerRuntime.{BackfillSpec, Handle, Lane}
  import java.util.concurrent.TimeUnit
  import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
  import scala.jdk.CollectionConverters._

  /** One shared micro-batch in flight: the persisted frame, its exact
    * post-dedup size, and a countdown of lanes that have not resolved it.
    * When the last lane resolves, the cache releases and the durable
    * spool copy (decoupled mode only) deletes — a batch every lane
    * delivered needs no replay. `keepSpool` is set by SHUTDOWN drain
    * (not detach): a batch a closing slot never delivered to some lane
    * must survive on disk for the restart to replay.
    */
  private final class Pending(val seq: Long, val df: DataFrame, val n: Long,
      laneCount: Int) {
    private val remaining = new AtomicInteger(laneCount)
    private val released = new AtomicBoolean(false)
    @volatile var spoolPath: Option[String] = None
    @volatile var keepSpool = false
    def laneDone(): Unit = if (remaining.decrementAndGet() == 0) release()
    def isReleased: Boolean = released.get()
    private def release(): Unit = if (released.compareAndSet(false, true)) {
      df.unpersist(blocking = false)
      if (!keepSpool) spoolPath.foreach(deletePath)
    }
    // raced spool write landed after the last lane resolved: clean it up
    private[SlotRuntime] def dropSpoolIfReleased(): Unit =
      if (released.get() && !keepSpool) spoolPath.foreach(deletePath)
  }

  /** A lane's dispatcher: one daemon thread draining a FIFO queue of
    * shared batches — per-lane cross-batch order holds by construction
    * (batch N fully resolves on this lane, retries included, before its
    * batch N+1 dispatches), independent of every sibling's progress.
    */
  private final class LaneWorker(private[SlotRuntime] val lane: Lane) {
    val queue = new java.util.concurrent.LinkedBlockingQueue[Pending]()
    val pendingEvents = new AtomicLong(0L)
    @volatile var closed = false
    @volatile var detached = false
    @volatile var error: Throwable = null
    @volatile var doneSeq: Long = seqGen.get()
    @volatile var ewmaMs: Double = -1.0
    @volatile var lagging = false
    // monitor-guarded (only updateSkew touches them)
    var slowStreak = 0
    var fastStreak = 0
    // guards enqueue vs the worker's terminal drain: once `drained`
    // flips, nothing may enter the queue (it would strand forever)
    private val drainLock = new Object
    private var drained = false
    /** Enqueue to a live worker, or report the worker has terminally
      * drained (caller must resolve the batch on the lane's behalf).
      */
    def offer(pb: Pending): Boolean = drainLock.synchronized {
      if (drained) false else { queue.put(pb); true }
    }
    /** Terminal drain (worker thread exit): atomically close the queue
      * to new batches and hand back everything still queued.
      */
    def drainRemaining(): Seq[Pending] = drainLock.synchronized {
      drained = true
      Iterator.continually(queue.poll()).takeWhile(_ != null).toSeq
    }
    val thread = new Thread(() => workerLoop(this),
      s"graft-slot-lane-${lane.consumerId}")
    thread.setDaemon(true)
  }

  private val workers =
    new java.util.concurrent.ConcurrentHashMap[String, LaneWorker]()
  private val monitor = new Object
  private val seqGen = new AtomicLong(0L)
  // durable batch spool: only under a checkpoint (without one there is
  // no restart contract to keep), only written for batches that COMMIT
  // before every lane resolved them (decoupled mode)
  private val spoolBase = checkpointLocation.map(_ + "/graft_lane_spool")

  private def deletePath(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    try { p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true); () }
    catch { case _: Exception => () }
  }

  private def workerLoop(w: LaneWorker): Unit = {
    // each lane's jobs go to a per-consumer scheduler pool: under
    // spark.scheduler.mode=FAIR a slow lane's big dispatch can't starve
    // its siblings — lanes share executors fairly, the cluster analog of
    // the reference's independent consumer processes. No-op under FIFO.
    spark.sparkContext.setLocalProperty(
      "spark.scheduler.pool", s"graft-lane-${w.lane.consumerId}")
    try {
      while (!w.closed) {
        val pb = w.queue.poll(50, TimeUnit.MILLISECONDS)
        if (pb != null) {
          var delivered = false
          try {
            if (!w.closed && w.error == null) {
              val t0 = System.nanoTime()
              w.lane.deliverBatch(pb.df, Some(pb.n))
              delivered = true
              val d = (System.nanoTime() - t0) / 1e6
              w.ewmaMs = if (w.ewmaMs < 0) d else 0.5 * w.ewmaMs + 0.5 * d
            }
          } catch { case e: Throwable => w.error = e }
          finally {
            // a batch this lane SKIPPED (prior error, closing slot) or
            // FAILED mid-delivery may already be committed + spooled:
            // pin the spool so the restart replays it (at-least-once).
            // DETACH is the one exception — the consumer left for good.
            if (!delivered && !w.detached) pb.keepSpool = true
            w.doneSeq = pb.seq
            // terminal side effects (cache release, spool delete) run in
            // laneDone BEFORE the quiesce gate opens: pendingEvents must
            // stay >0 until the batch is fully resolved on this lane
            pb.laneDone()
            w.pendingEvents.addAndGet(-pb.n)
            monitor.synchronized { monitor.notifyAll() }
          }
        }
      }
    } catch { case _: InterruptedException => () }
    finally {
      // resolve whatever is still queued so siblings' refcounts settle.
      // DETACH counts as done (the consumer left; the batch needs no
      // replay for it); SHUTDOWN pins the spool copy — this lane never
      // delivered these batches, the restarted slot must replay them.
      // drainRemaining atomically closes the queue: a concurrent
      // processBatch enqueue either lands before (drained here) or is
      // refused and resolved by the enqueuer.
      w.drainRemaining().foreach { pb =>
        if (!w.detached) pb.keepSpool = true
        w.doneSeq = pb.seq
        pb.laneDone()
        w.pendingEvents.addAndGet(-pb.n)
      }
      monitor.synchronized { monitor.notifyAll() }
    }
  }

  /** Hand a batch to a lane, resolving it on the lane's behalf when the
    * worker has already terminally drained (detach raced the enqueue —
    * without this the Pending's refcount never settles: the cache stays
    * pinned and a decoupled batch's spool is never deleted).
    */
  private def enqueue(w: LaneWorker, pb: Pending): Unit =
    if (!w.offer(pb)) {
      if (!w.detached) pb.keepSpool = true
      w.doneSeq = pb.seq
      pb.laneDone()
      w.pendingEvents.addAndGet(-pb.n)
      monitor.synchronized { monitor.notifyAll() }
    }

  private def rethrowLaneError(): Unit =
    workers.values.asScala.find(_.error != null).foreach { w =>
      val e = w.error
      w.error = null
      throw e
    }

  /** Lagging-lane detection, evaluated once per committed batch under
    * the monitor. Comparison is the LOWER median of live lanes' EWMAs
    * (with two lanes that is the faster one — a pair's true median would
    * be the slow lane itself and nothing would ever flag).
    */
  private def updateSkew(ws: Seq[LaneWorker], batchN: Long): Unit = {
    val live = ws.filter(w => !w.closed && w.ewmaMs >= 0)
    if (live.size < 2) return
    val sorted = live.map(_.ewmaMs).sorted
    val median = sorted((sorted.size - 1) / 2)
    live.foreach { w =>
      val slow = w.ewmaMs > laneSkewFactor * median + laneSkewFloorMs
      if (slow) { w.slowStreak += 1; w.fastStreak = 0 }
      else { w.fastStreak += 1; w.slowStreak = 0 }
      if (!w.lagging && w.slowStreak >= laneSkewStreak) {
        w.lagging = true
        Trace.warning(w.lane.consumerId,
          "lane lagging: decoupled from the slot commit fence",
          "ewma_ms" -> f"${w.ewmaMs}%.1f", "median_ms" -> f"$median%.1f",
          "max_lag_events" -> maxLaneLagEvents.toString)
      } else if (w.lagging && w.fastStreak >= laneSkewStreak &&
          w.pendingEvents.get() <= batchN) {
        // back in band AND not accumulating (at most the current batch
        // outstanding — it may legitimately still be dispatching it,
        // since a lagging lane's commit never waited for it)
        w.lagging = false
        Trace.info(w.lane.consumerId,
          "lane caught up: rejoined the slot commit fence",
          "ewma_ms" -> f"${w.ewmaMs}%.1f", "median_ms" -> f"$median%.1f")
      }
    }
  }

  private def processBatch(batch: DataFrame): Unit = {
    rethrowLaneError()
    val ws = workers.values.asScala.toSeq.sortBy(_.lane.consumerId)
      .filterNot(_.closed)
    // no lanes attached: the batch commits unconsumed — a consumer
    // attaching later starts at the slot's then-current position
    if (ws.isEmpty) return
    val deduped = batch.dropDuplicates("idempotency_key").persist()
    // ONE action materializes the cache — the per-slot stateful decode
    // runs here, once, for every lane; the count it returns is the
    // exact post-dedup size each lane's dispatch-shape choice needs
    val n = try deduped.count()
      catch { case e: Throwable =>
        deduped.unpersist(blocking = false); throw e }
    if (n == 0) { deduped.unpersist(blocking = false); return }
    val seq = seqGen.incrementAndGet()
    val pb = new Pending(seq, deduped, n, ws.size)
    ws.foreach { w => w.pendingEvents.addAndGet(n); enqueue(w, pb) }
    val decoupled = ws.exists(_.lagging)
    // DECOUPLED commit needs durability first: the checkpoint will record
    // this batch as done while a lagging lane still holds it, so a crash
    // between commit and that lane's resolution must find the events on
    // disk (the restart replays every spooled batch to every lane —
    // at-least-once, dedup'd downstream by idempotency key). Written
    // AFTER enqueue so lanes dispatch concurrently with the spool write.
    if (decoupled) spoolBase.foreach { base =>
      val path = s"$base/batch-$seq"
      deduped.write.mode("overwrite").parquet(path)
      pb.spoolPath = Some(path)
      pb.dropSpoolIfReleased()
    }
    monitor.synchronized {
      // the commit fence: every non-lagging lane has resolved THIS
      // batch (per-lane FIFO ⇒ doneSeq >= seq means everything through
      // seq resolved); a lagging lane only gates the commit at its
      // max-lag admission fence — a slow consumer fills its own buffer,
      // siblings proceed (slot_message_store_state.ex:432-478)
      def settled: Boolean = ws.forall { w =>
        w.closed ||
          (if (decoupled && w.lagging)
            w.pendingEvents.get() <= maxLaneLagEvents
          else w.doneSeq >= seq)
      }
      while (!settled && !ws.exists(_.error != null)) monitor.wait(10)
      updateSkew(ws, n)
    }
    // the first lane exception fails the query (loud — lane-level
    // delivery failures never throw, they resolve in the ledger)
    rethrowLaneError()
  }

  /** Replay spooled batches a previous incarnation committed but some
    * lane never resolved (a crash in decoupled mode). Every spooled
    * batch re-enqueues to EVERY current lane — a lane that already
    * delivered it pre-crash redelivers (at-least-once; consumers dedup
    * on idempotency key), a lane that missed it catches up.
    */
  private def recoverSpool(): Unit = spoolBase.foreach { base =>
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val dirs = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("batch-"))
      .sortBy(_.getName.stripPrefix("batch-").toLong)
    if (dirs.isEmpty) return
    val ws = workers.values.asScala.toSeq.sortBy(_.lane.consumerId)
      .filterNot(_.closed)
    if (ws.isEmpty) {
      // zero lanes attached at recovery: UNLIKE a live batch committing
      // unconsumed, these events were already committed for consumers
      // that existed pre-crash — leave the spool intact for a future
      // incarnation that reattaches them (the reference's per-consumer
      // persistent store never drops undelivered messages)
      Trace.warning("slot",
        "spooled batches present but no lanes attached; keeping spool",
        "batches" -> dirs.length.toString)
      return
    }
    dirs.foreach { d =>
      val seq = d.getName.stripPrefix("batch-").toLong
      seqGen.accumulateAndGet(seq, math.max)
      val df = spark.read.parquet(d.toString).persist()
      val n = df.count()
      val pb = new Pending(seq, df, n, ws.size)
      pb.spoolPath = Some(d.toString)
      if (n == 0) {
        df.unpersist(blocking = false)
        pb.keepSpool = false
        deletePath(d.toString)
      } else ws.foreach { w => w.pendingEvents.addAndGet(n); enqueue(w, pb) }
    }
    Trace.info("slot", "replayed spooled batches after restart",
      "batches" -> dirs.length.toString)
  }

  private val queryLock = new Object
  private var queryOpt: Option[org.apache.spark.sql.streaming.StreamingQuery] =
    None

  /** The one shared streaming query. It STARTS on first access — attach
    * every initially-declared consumer first, then touch `query`
    * (directly or through a handle's `processAllAvailable`), and batch 0
    * reaches all of them; without this, the first trigger could commit
    * a batch before any lane attached and those events would be skipped.
    * A consumer attached after the stream is running starts at the
    * slot's then-current position (the reference's semantics for a
    * consumer added to a live slot).
    */
  def query: org.apache.spark.sql.streaming.StreamingQuery =
    queryLock.synchronized {
      queryOpt.getOrElse {
        recoverSpool()
        val w0 = events.writeStream.outputMode("append")
        val w = checkpointLocation.fold(w0)(p =>
          w0.option("checkpointLocation", p))
        val q = w
          .foreachBatch((batch: DataFrame, _: Long) => processBatch(batch))
          .start()
        queryOpt = Some(q)
        q
      }
    }

  /** Wait until every live lane has drained its queue (and any spool
    * replay) — `query.processAllAvailable()` only guarantees COMMIT,
    * which a decoupled lane may trail. Rethrows a lane's error.
    */
  def awaitQuiesce(timeoutMs: Long = 300000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    monitor.synchronized {
      // pendingEvents is incremented BEFORE enqueue and decremented only
      // AFTER the batch fully resolves on the lane (laneDone included) —
      // unlike busy/queue checks it has no uncovered dispatch window,
      // and it guarantees terminal side effects (cache release, spool
      // delete) have run when the fence opens
      while (workers.values.asScala.exists(w =>
          !w.closed && w.pendingEvents.get() > 0L)) {
        if (workers.values.asScala.exists(_.error != null)) {
          // leave the monitor before rethrowing
          throw workers.values.asScala.find(_.error != null).get.error
        }
        if (System.nanoTime() > deadline)
          throw new java.util.concurrent.TimeoutException(
            s"slot lanes did not quiesce within $timeoutMs ms")
        monitor.wait(20)
      }
    }
  }

  /** [[awaitQuiesce]] for ONE lane — the backfill watermark fence on a
    * shared slot (the page must see every identity ITS lane recorded).
    */
  private def awaitLaneQuiesce(consumerId: String,
      timeoutMs: Long = 300000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    monitor.synchronized {
      var w = workers.get(consumerId)
      while (w != null && !w.closed && w.pendingEvents.get() > 0L) {
        if (w.error != null) throw w.error
        if (System.nanoTime() > deadline)
          throw new java.util.concurrent.TimeoutException(
            s"lane '$consumerId' did not quiesce within $timeoutMs ms")
        monitor.wait(20)
        w = workers.get(consumerId)
      }
    }
  }

  /** Lanes currently decoupled from the commit fence (observability +
    * specs).
    */
  def laggingLanes: Seq[String] = workers.values.asScala
    .filter(w => !w.closed && w.lagging).map(_.lane.consumerId).toSeq.sorted

  /** Attach a consumer lane to the running slot. Returns a Handle whose
    * `stop()` detaches ONLY this lane (the shared query keeps serving
    * the others).
    */
  def attach(cfg: ConsumerConfig, env: SinkDispatch.Env,
      metrics: graft.config.Metrics.Registry,
      health: graft.config.Health.Registry,
      consumerId: String,
      enrichment: Option[(DataFrame, String, String)] = None,
      backfill: Option[BackfillSpec] = None): Handle = {
    // refuse BEFORE constructing the lane: Lane's constructor clears the
    // consumer's trace ring and reports health — side effects a rejected
    // duplicate must not inflict on the live lane under that id
    require(!workers.containsKey(consumerId),
      s"consumer '$consumerId' is already attached to this slot")
    val lane = new Lane(cfg, env, metrics, health, consumerId, enrichment,
      nowMs)
    val w = new LaneWorker(lane)
    val runner = backfill.map(spec => lane.attachBackfill(spec, () => query,
      fence = () => awaitLaneQuiesce(consumerId)))
    require(workers.putIfAbsent(consumerId, w) == null,
      s"consumer '$consumerId' is already attached to this slot")
    w.thread.start()
    val timer = lane.startConsistencyTimer()
    new Handle(() => query, lane.ledger, runner, Some(lane.audit),
      Some(timer), onStop = Some(() => detach(consumerId)))
  }

  private def detach(consumerId: String): Unit = {
    val w = workers.remove(consumerId)
    if (w != null) {
      w.lane.closed = true
      w.detached = true
      w.closed = true
      monitor.synchronized { monitor.notifyAll() }
    }
  }

  def attached: Seq[String] = workers.keys.asScala.toSeq.sorted

  /** Stop the slot: the shared query (if it ever started), every lane's
    * worker and ledger. Spooled batches some lane has not resolved stay
    * on disk for the next incarnation to replay.
    */
  def stop(): Unit = {
    queryLock.synchronized(queryOpt).foreach(_.stop())
    workers.values.asScala.foreach(_.closed = true)
    workers.values.asScala.foreach(_.thread.join(5000))
    workers.values.asScala.foreach(_.lane.ledger.stop())
    workers.clear()
  }
}
