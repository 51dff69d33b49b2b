package graft.streaming

import graft.model.ChangeEvent
import graft.streaming.AckDelivery.{Delivery, DeliveryCommand}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** HTTP-pull ("Sequin Stream") consumer shim: the receive / ack / nack
  * interface of the reference's pull API
  * (`lib/sequin_web/controllers/pull_controller.ex:14-110`) in front of
  * the [[AckDelivery]] state machine. The network layer is out of scope
  * in this zero-egress environment; everything behind the three verbs —
  * batch-size bounds, long-poll waiting, stale-redelivery wakeups,
  * exactly-once hand-out, ack-id validation — is implemented and
  * spec-tested, so an HTTP framework binding is a thin JSON shim.
  *
  * Semantics mirrored:
  *   - `receive(max_batch_size)`: 1..1000 bound (pull_controller.ex:76-88);
  *     wakes groups first so expired visibility timeouts redeliver
  *     (`nack_stale_produced_messages`); each delivery attempt is handed
  *     out exactly once; messages are withheld, not duplicated, while
  *     in flight.
  *   - `wait_for` long-poll: bounded wait until messages exist
  *     (pull_controller.ex:93-110).
  *   - `ack(ack_ids)`: permanent removal; unknown ids are no-ops
  *     (idempotent acks).
  *   - `nack(ack_ids)`: immediate redeliverability.
  *
  * Driver-side facade over a streaming query: commands flow through a
  * MemoryStream into the keyed state machine; each micro-batch's NEW
  * deliveries drain into a driver-side buffer via `foreachBatch` — so a
  * receive call reads O(new deliveries), never O(delivery history). The
  * pending buffer is bounded by the in-flight cap (max_ack_pending
  * shape), not by stream lifetime. One instance per consumer.
  */
final class SequinStreamPull(
    ackWaitMs: Long = 30000L,
    maxInflight: Int = 1,
    maxRetry: Int = 3,
    maxAckPending: Int = 10000,
    fullPolicy: String = "pause_on_full",
    nowMs: () => Long = () => System.currentTimeMillis())(
    implicit spark: SparkSession) {
  // The ledger's state machine runs on a DEDICATED session with few
  // shuffle partitions: its micro-batches move O(wave) command rows —
  // driver-scale data, bounded by max_ack_pending — so the session-wide
  // partition count (sized for the 100 TB scan path) only multiplies
  // per-batch task launches and state-store files. 4 partitions cut the
  // measured ack-batch cost ~4× while the state machine itself is
  // unchanged (groups hash across 4 state partitions instead of 32).
  private val ledgerSpark: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }
  import ledgerSpark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext =
    ledgerSpark.sqlContext

  require(maxAckPending >= 1, s"max_ack_pending must be >= 1: $maxAckPending")
  require(SequinStreamPull.FullPolicies.contains(fullPolicy),
    s"load-shedding policy must be one of " +
      s"${SequinStreamPull.FullPolicies.mkString("/")}: $fullPolicy")

  // not-yet-handed-out deliveries + observed dead letters, drained
  // incrementally from each micro-batch (guarded by `this`)
  private val pending = scala.collection.mutable.ArrayBuffer.empty[Delivery]
  private val dlq = scala.collection.mutable.ArrayBuffer.empty[Delivery]
  // epoch-replay guard: the standard idempotent-foreachBatch recipe — a
  // replayed epoch re-runs a WHOLE batch with its original batchId, so a
  // batch is applied iff its id is new. O(1) driver state for the
  // consumer's lifetime (a per-delivery key set would grow unboundedly).
  private var maxSeenBatchId = -1L
  // spec hook: total rows ever read from the sink — proves reads are
  // O(new deliveries), not O(table) per call
  private[graft] var totalDrainedRows: Long = 0L

  private val input = MemoryStream[DeliveryCommand]
  private val query = AckDelivery.run(input.toDS(), ackWaitMs, maxInflight,
      maxRetry, nowMs)(ledgerSpark)
    .writeStream.outputMode("append")
    .foreachBatch { (batch: Dataset[Delivery], batchId: Long) =>
      val rows = batch.collect() // ONLY this micro-batch's new deliveries
      SequinStreamPull.this.synchronized {
        totalDrainedRows += rows.length
        if (batchId > maxSeenBatchId) {
          maxSeenBatchId = batchId
          rows.foreach { d =>
            if (d.kind == "dlq") {
              dlq += d
              unresolved -= d.ack_id // dead-lettering resolves the slot
            } else pending += d
          }
        }
      }
    }
    .start()

  private val groupOfAck = scala.collection.mutable.Map.empty[String, String]
  private val knownGroups = scala.collection.mutable.Set.empty[String]

  /** Serializes command submission (addData + processAllAvailable) so
    * concurrent HTTP verbs never interleave micro-batch triggers. The
    * long-poll loop in [[receive]] sleeps OUTSIDE this lock, so a parked
    * receive lets concurrent ack/nack/ingest calls through between poll
    * attempts — the concurrency contract a multi-threaded HTTP listener
    * needs (spec: an HTTP nack lands while an HTTP long-poll is parked).
    */
  private val commandLock = new Object

  /** Events discarded by `discard_on_full` (spec/metrics hook). */
  private[graft] var droppedCount: Long = 0L

  /** Idempotency keys of admitted events not yet resolved (acked or
    * dead-lettered) — the reference's max_ack_pending quantity, keyed so
    * an at-least-once REPLAY of an unresolved event passes through
    * without consuming capacity (the state machine dedups it; admission
    * must not leak a slot for it). Guarded by `this` (foreachBatch
    * resolves DLQs from the stream thread). Size ≤ maxAckPending by
    * construction — the driver-path bound.
    */
  private val unresolved = scala.collection.mutable.Set.empty[String]

  /** Admitted-but-unresolved count (spec/metrics hook). */
  private[graft] def outstandingEvents: Int =
    this.synchronized(unresolved.size)

  /** Feed source events (the slot's decoded stream) into the store,
    * bounded by `max_ack_pending` (sink_consumer.ex:86-90): the driver
    * buffer + unresolved hand-outs never exceed the cap, so a flood
    * batch cannot grow the driver path without bound. Returns the number
    * of input events CONSUMED — the caller re-offers
    * `events.drop(returned)` (and nothing else). Overflow follows the
    * consumer's load-shedding policy (W8):
    *   - `pause_on_full` consumes an in-order PREFIX up to capacity and
    *     the caller MUST re-offer the remainder once acks free space
    *     (backpressure, the reference's producer demand contract);
    *   - `discard_on_full` consumes EVERYTHING — events beyond capacity
    *     are counted dropped exactly once and must never be re-offered
    *     (re-offering would both deliver the "dropped" events and
    *     double-count the drop metric).
    */
  def ingest(events: Seq[ChangeEvent]): Int = commandLock.synchronized {
    val (admitted, consumed) = this.synchronized {
      val adm = Vector.newBuilder[ChangeEvent]
      var used = 0
      var stop = false
      events.foreach { e =>
        if (!stop) {
          if (unresolved.contains(e.idempotency_key)) {
            adm += e; used += 1 // replay, free
          } else if (unresolved.size < maxAckPending) {
            unresolved += e.idempotency_key; adm += e; used += 1
          } else if (fullPolicy == "discard_on_full") {
            droppedCount += 1; used += 1
          } else stop = true // pause: stop at the first overflow (in order)
        }
      }
      (adm.result(), used)
    }
    if (admitted.nonEmpty) {
      admitted.foreach(e => knownGroups += Option(e.group_id)
        .getOrElse(s"__pk:${e.record_pk}"))
      input.addData(admitted.map(DeliveryCommand.event))
      query.processAllAvailable()
    }
    consumed
  }

  /** Pull up to `maxBatchSize` deliveries; long-polls up to `waitForMs`
    * when none are immediately available.
    */
  def receive(maxBatchSize: Int = 1, waitForMs: Long = 0L): Seq[Delivery] = {
    require(maxBatchSize >= 1 && maxBatchSize <= 1000,
      "max_batch_size must be an integer between 1 and 1000")
    require(waitForMs >= 0L && waitForMs <= 5L * 60 * 1000,
      "wait_for must be between 0ms and 5m")
    val deadline = System.nanoTime() + waitForMs * 1000000L
    var batch = pull(maxBatchSize)
    while (batch.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(25)
      batch = pull(maxBatchSize)
    }
    batch
  }

  /** Permanently complete deliveries (idempotent; unknown ids no-op).
    * Acking frees max_ack_pending capacity for the next ingest — but ONLY
    * for ids a DeliveryCommand.ack was actually issued for: an id that was
    * admitted but never pulled has no groupOfAck entry, and releasing its
    * slot here would let the driver-path bound drift above maxAckPending
    * while the event still sits in the state machine.
    */
  def ack(ackIds: Seq[String]): Unit = {
    val issued = sendFor(ackIds, DeliveryCommand.ack)
    this.synchronized(issued.foreach(unresolved -= _))
  }

  /** Make deliveries immediately redeliverable (still outstanding). */
  def nack(ackIds: Seq[String]): Unit = sendFor(ackIds, DeliveryCommand.nack)

  /** Dead-lettered messages observed so far. */
  def deadLetters(): Seq[Delivery] = this.synchronized(dlq.toList)

  def stop(): Unit = query.stop()

  /** Issue `mk` commands for the ids that HAVE a delivery group (i.e.
    * were handed out by pull/drain); returns exactly those ids so the
    * caller can resolve only what was really commanded.
    */
  private def sendFor(ackIds: Seq[String],
      mk: (String, String) => DeliveryCommand): Seq[String] = {
    require(ackIds.nonEmpty && ackIds.forall(_.nonEmpty),
      "ack_ids must be a non-empty list of non-empty ids")
    commandLock.synchronized {
      val issued = ackIds.filter(groupOfAck.contains)
      val cmds = issued.map(id => mk(groupOfAck(id), id))
      if (cmds.nonEmpty) {
        input.addData(cmds)
        query.processAllAvailable()
      }
      issued
    }
  }

  /** Runtime-loop drain (NOT part of the pull API): take EVERY
    * currently-deliverable message up to `max` in one call, WITHOUT the
    * per-call group wake pass. The wake ticks exist to redeliver
    * expired visibility timeouts when an external consumer vanishes
    * mid-delivery; inside [[ConsumerRuntime]]'s dispatch loop every
    * hand-out is promptly acked or nacked, and both commands wake their
    * group in the state machine (a nack emits its redelivery in the
    * SAME micro-batch), so deliverable messages always surface in
    * `pending` without ticking. Skipping the wake pass turns a
    * 100k-group batch from 100k tick commands per wave into zero.
    *
    * The returned wave holds at most one message per group
    * (maxInflight), so one Spark dispatch job covers min(groups, max)
    * messages instead of the pull API's ≤1000 — the driver buffer stays
    * bounded by max_ack_pending regardless.
    */
  private[graft] def drainDeliverable(max: Int = Int.MaxValue): Seq[Delivery] =
    commandLock.synchronized {
      this.synchronized(takePending(max))
    }

  private def pull(maxBatchSize: Int): Seq[Delivery] = commandLock.synchronized {
    // wake every group so expired visibility timeouts redeliver — the
    // controller's nack_stale_produced_messages step
    if (knownGroups.nonEmpty) {
      input.addData(knownGroups.toSeq.sorted.map(DeliveryCommand.tick))
      query.processAllAvailable()
    }
    this.synchronized(takePending(maxBatchSize))
  }

  /** Remove and return the oldest `max` pending deliveries (commit
    * order), registering their ack→group identity. Rebuilds the buffer
    * instead of `--=` (whose per-element linear scans are O(n·m) over
    * ChangeEvent.equals — measured 10.9 s on a 40k-event drain).
    * Callers hold `this`.
    */
  private def takePending(max: Int): Seq[Delivery] = {
    val all = pending.sortBy(d => (d.event.commit_lsn, d.event.commit_idx))
    val (fresh, rest) = all.splitAt(max)
    pending.clear()
    pending ++= rest
    fresh.foreach { d =>
      groupOfAck(d.ack_id) = Option(d.event.group_id)
        .getOrElse(s"__pk:${d.event.record_pk}")
    }
    fresh.toSeq
  }
}

object SequinStreamPull {
  /** W8 load-shedding policies (sink_consumer.ex `load_shedding_policy`):
    * `pause_on_full` backpressures the producer (ingest admits up to
    * capacity, caller re-offers); `discard_on_full` drops overflow.
    */
  val FullPolicies: Set[String] = Set("pause_on_full", "discard_on_full")
}
