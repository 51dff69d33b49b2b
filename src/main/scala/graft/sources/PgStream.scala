package graft.sources

import graft.sources.PgOutput._
import graft.types.ValueCaster
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{StructField, StructType}

/** Relation registry + binary-frame stream decode: the S1/S2 ingestion
  * path past the codec.
  *
  * pgoutput sends a `Relation` message before a table's first row change
  * on a connection and again whenever the table's schema changes; the
  * decoder must hold the latest Relation per table oid to interpret tuple
  * cells (reference: relation cache `lib/sequin/runtime/slot_producer/
  * processor.ex:139-141`, schema-change hash `postgres_relation_hash_
  * cache.ex`). Spark rendition:
  *
  *   - [[SchemaRegistry]] — oid → Relation map + stable schema hash;
  *     `observe` reports a change exactly when the hash moves.
  *   - [[PgStream.decodeStateful]] — `flatMapGroupsWithState` keyed by
  *     slot id. The relation cache and the open transaction live in the
  *     checkpointed state store, so a Relation seen in micro-batch N
  *     decodes row changes in batch N+k and a mid-stream schema change
  *     switches decoding WITHOUT a query restart. Relations are stored as
  *     their wire frames (encoder-friendly `Map[Long, Array[Byte]]`),
  *     re-decoded on state load.
  *   - [[PgStream.decodePartitions]] — the batch/replay form over
  *     seq-sorted partitions (one slot's frames are totally ordered;
  *     partition by slot upstream).
  *
  * Emitted rows carry text cells (`values`), the decoded envelope, and the
  * relation's schema hash; typed casting happens downstream per table via
  * [[SchemaRegistry.castTuple]] or the pinned-schema `from_json` path.
  */
object PgStream {

  /** One replication frame with its slot identity and total order. */
  final case class Frame(slot_id: String, seq: Long, payload: Array[Byte])

  /** Decoded output: `kind` = change | schema_change | truncate.
    * `annotations` carries the active transaction-annotation payload
    * (`pg_logical_emit_message('sequin:transaction_annotations.set', …)`;
    * cleared by the `.clear` op — slot_producer.ex:437-456).
    */
  final case class Decoded(
      kind: String,
      slot_id: String,
      seq: Long,
      commit_lsn: Long,
      commit_idx: Long,
      commit_ts_us: Long,
      xid: Long,
      table_schema: String,
      table_name: String,
      table_oid: Long,
      action: String,
      columns: Seq[String],
      values: Seq[String],
      old_values: Option[Seq[String]],
      schema_hash: String,
      annotations: Option[String])

  /** Carried across micro-batches in the state store. */
  final case class SlotState(
      lastSeq: Long,
      relationFrames: Map[Long, Array[Byte]],
      beginFrame: Option[Array[Byte]],
      commitIdx: Long,
      annotations: Option[String])

  private val emptyState = SlotState(Long.MinValue, Map.empty, None, 0L, None)

  /** `pg_logical_emit_message` prefixes controlling annotations. */
  val AnnotationSetPrefix = "sequin:transaction_annotations.set"
  val AnnotationClearPrefix = "sequin:transaction_annotations.clear"

  /** A session clone tuned for running a CDC consumer's STREAMING query.
    *
    * The only keyed state in the chain is the per-SLOT decode below —
    * one group per replication slot, single digits in any deployment —
    * so a session default of 32+ shuffle partitions means 31+ EMPTY
    * state stores whose per-micro-batch delta commits are pure fixed
    * overhead. Measured on the assembled runtime (the path `perfbench/`'s
    * `cdc_drain` and `cdc_paced` workloads drive, local[32]): dropping
    * the streaming query to 8 cut single-event delivered p50 845 ms →
    * 464 ms and lifted ungrouped delivered throughput 63k → 73k ev/s; 8
    * also keeps the micro-batch dedup/dispatch shuffle wide enough for
    * parallel transport connections (1 measurably starves dispatch). Conf is session-local:
    * batch analytics on the parent session keep their own width.
    */
  def streamingSession(spark: SparkSession,
      shufflePartitions: Int = 8): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    // the decode state uses NoTimeout (txn assembly is driven by data,
    // never by clocks), so no-data micro-batches have nothing to do —
    // but left enabled they run the FULL stateful plan (state commits,
    // a ~200 ms empty delivery) back to back, and a real event then
    // queues behind an in-flight empty batch: measured directly on the
    // single-event latency probe
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // background snapshot maintenance off the hot path (p99 jitter)
    s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    s
  }

  /** Streaming decode with a checkpointed relation cache per slot. */
  def decodeStateful(frames: Dataset[Frame])(
      implicit spark: SparkSession): Dataset[Decoded] = {
    import spark.implicits._
    frames
      .groupByKey(_.slot_id)
      .flatMapGroupsWithState[SlotState, Decoded](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (slot: String, it: Iterator[Frame], state: GroupState[SlotState]) =>
          var st = state.getOption.getOrElse(emptyState)
          val registry = SchemaRegistry.fromFrames(st.relationFrames)
          val out = scala.collection.mutable.ArrayBuffer.empty[Decoded]
          // one slot's frames are a totally ordered stream; a micro-batch
          // slice is bounded, so an in-memory sort restores wire order
          val memo = new BeginMemo
          it.toSeq.sortBy(_.seq).foreach { f =>
            if (f.seq > st.lastSeq) { // replayed frames are dropped
              st = st.copy(lastSeq = f.seq)
              decodeOne(slot, f, registry,
                () => st, s => st = s, out += _, memo)
            }
          }
          st = st.copy(relationFrames = registry.toFrames)
          state.update(st)
          out.iterator
      }
  }

  /** §1.2 pinned-record path: decoded text cells → typed record columns
    * for ONE pinned table, via its Relation's Spark schema — fully
    * declarative (`map_from_arrays` + per-field cast, the `from_json`
    * shape from SURVEY §1.2), so Catalyst prunes/pushes through it.
    * Envelope columns (slot, lsn/idx, ts, xid, action, annotations) ride
    * along; old-image cells surface the same way under `old_` prefixes.
    */
  def toRecords(decoded: org.apache.spark.sql.DataFrame,
      rel: PgOutput.Relation): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = SchemaRegistry.toStructType(rel)
    val m = map_from_arrays(col("columns"), col("values"))
    val old = map_from_arrays(col("columns"),
      coalesce(col("old_values"), array_repeat(lit(null).cast("string"),
        size(col("columns")))))
    val fields = schema.fields.toSeq.map(f =>
      element_at(m, f.name).cast(f.dataType).as(f.name))
    val oldFields = schema.fields.toSeq.map(f =>
      element_at(old, f.name).cast(f.dataType).as(s"old_${f.name}"))
    decoded
      .filter(col("kind") === "change" && col("table_oid") === rel.id)
      // rows decoded before their Relation was seen carry empty `columns`
      // with non-empty `values`; unequal arrays would make map_from_arrays
      // throw at runtime — drop them (they are schema-less, untypeable)
      .filter(size(col("columns")) === size(col("values")) &&
        (col("old_values").isNull ||
          size(col("old_values")) === size(col("columns"))))
      .select(Seq(col("slot_id"), col("commit_lsn"), col("commit_idx"),
        col("commit_ts_us"), col("xid"), col("action"), col("annotations"))
        ++ fields ++ oldFields: _*)
  }

  /** Driver-held incremental decoder for the LOW-LATENCY tail path
    * ([[graft.streaming.ConsumerRuntime.startLowLatencyTail]]): the same
    * per-slot state machine [[decodeStateful]] runs distributed, held
    * across `feed` calls by the caller's thread — replayed frames
    * (seq ≤ last seen) are dropped exactly like the stateful form, so a
    * restarted tail can re-feed a whole segment and emit only the
    * unseen suffix.
    */
  final class LinearDecoder extends Serializable {
    private var st = emptyState
    private var registry = new SchemaRegistry
    private val memo = new BeginMemo
    def feed(f: Frame): Seq[Decoded] = {
      if (f.seq <= st.lastSeq) return Seq.empty
      st = st.copy(lastSeq = f.seq)
      val out = scala.collection.mutable.ArrayBuffer.empty[Decoded]
      decodeOne(f.slot_id, f, registry, () => st, s => st = s, out += _, memo)
      out.toSeq
    }
    def feedAll(frames: Seq[Frame]): Seq[Decoded] =
      frames.sortBy(_.seq).flatMap(feed)

    /** Durable decoder state for tail restarts — the driver-side twin of
      * [[decodeStateful]]'s state-store row: seq cursor, open-txn state
      * and the relation frames (a restarted tail that resumes PAST the
      * segment carrying the Relation message must still type its rows).
      *
      * Encoded with [[PgStream.encodeSlotState]] — an EXPLICIT versioned
      * binary layout, not Java serialization: the snapshot survives
      * restarts by contract, and a Scala/Spark upgrade that moves
      * `SlotState`'s reflective serialized shape must not brick every
      * consumer's resume point. Relation frames are already wire bytes
      * (`PgOutput.encode`); the rest is a handful of scalars.
      */
    def snapshot(): Array[Byte] =
      encodeSlotState(st.copy(relationFrames = registry.toFrames))

    /** Restore from [[snapshot]] bytes. A corrupt, truncated, foreign, or
      * future-version snapshot throws [[IllegalStateException]] with the
      * recovery path in the message (delete the checkpoint's
      * `tail_offset` + `tail_decoder` to cold-restart from segment 0) —
      * never a silent partial restore.
      */
    def restore(bytes: Array[Byte]): Unit = {
      st = decodeSlotState(bytes)
      registry = SchemaRegistry.fromFrames(st.relationFrames)
    }
  }

  /** Magic + version of the durable decoder snapshot ("GTL1" = Graft
    * Tail Layout). Bump the trailing byte on any layout change; restore
    * refuses unknown versions loudly instead of misparsing.
    */
  private val SnapshotMagic: Array[Byte] = Array('G', 'T', 'L', '1')

  /** Versioned binary layout of [[SlotState]] (all big-endian, via
    * DataOutputStream): magic "GTL" + version byte '1', then lastSeq i64,
    * commitIdx i64, annotations (bool + utf8), beginFrame (bool +
    * len-prefixed bytes), relationFrames (i32 count, then per entry
    * oid i64 + len-prefixed wire bytes, oid-sorted for determinism).
    * Field identity lives HERE, by position in this method — reordering
    * `SlotState`'s declaration cannot change the wire layout.
    */
  private[graft] def encodeSlotState(s: SlotState): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(256)
    val out = new java.io.DataOutputStream(bos)
    out.write(SnapshotMagic)
    out.writeLong(s.lastSeq)
    out.writeLong(s.commitIdx)
    out.writeBoolean(s.annotations.isDefined)
    s.annotations.foreach(out.writeUTF)
    out.writeBoolean(s.beginFrame.isDefined)
    s.beginFrame.foreach { b => out.writeInt(b.length); out.write(b) }
    val frames = s.relationFrames.toSeq.sortBy(_._1)
    out.writeInt(frames.size)
    frames.foreach { case (oid, b) =>
      out.writeLong(oid); out.writeInt(b.length); out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  private[graft] def decodeSlotState(bytes: Array[Byte]): SlotState = {
    def bad(reason: String): Nothing = throw new IllegalStateException(
      s"unreadable tail_decoder snapshot ($reason) — delete the " +
        "checkpoint's tail_offset and tail_decoder files to cold-restart " +
        "the tail from segment 0 (at-least-once replay; delivered events " +
        "are suppressed by idempotency downstream)")
    if (bytes.length < SnapshotMagic.length ||
        bytes(0) != 'G' || bytes(1) != 'T' || bytes(2) != 'L')
      bad(if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xAC &&
          (bytes(1) & 0xFF) == 0xED)
        "pre-versioned Java-serialized snapshot" else "bad magic")
    if (bytes(3) != '1')
      bad(s"unknown snapshot version '${bytes(3).toChar}'")
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes, 4, bytes.length - 4))
    try {
      val lastSeq = in.readLong()
      val commitIdx = in.readLong()
      val annotations = if (in.readBoolean()) Some(in.readUTF()) else None
      def lenBytes(): Array[Byte] = {
        val n = in.readInt()
        if (n < 0 || n > bytes.length) bad(s"implausible length $n")
        val b = new Array[Byte](n)
        in.readFully(b)
        b
      }
      val beginFrame = if (in.readBoolean()) Some(lenBytes()) else None
      val n = in.readInt()
      if (n < 0 || n > bytes.length) bad(s"implausible frame count $n")
      val frames = (0 until n).map(_ => in.readLong() -> lenBytes()).toMap
      SlotState(lastSeq, frames, beginFrame, commitIdx, annotations)
    } catch {
      case e: java.io.IOException => bad(s"truncated: ${e.getMessage}")
    }
  }

  /** Batch/replay decode: each partition is one slot's frames in seq
    * order (repartition by slot + sortWithinPartitions upstream).
    */
  def decodePartitions(frames: Dataset[Frame])(
      implicit spark: SparkSession): Dataset[Decoded] = {
    import spark.implicits._
    frames.mapPartitions { it =>
      var st = emptyState
      val registry = new SchemaRegistry
      val memo = new BeginMemo
      val out = scala.collection.mutable.ArrayBuffer.empty[Decoded]
      it.foreach { f =>
        decodeOne(f.slot_id, f, registry, () => st, s => st = s, out += _, memo)
      }
      out.iterator
    }
  }

  /** Dev profiling hook: run the decodePartitions loop body directly
    * (no Spark) over an in-memory frame iterator.
    */
  private[graft] def decodeLoopForProfiling(
      it: Iterator[Frame]): Seq[Decoded] = {
    var st = emptyState
    val registry = new SchemaRegistry
    val memo = new BeginMemo
    val out = scala.collection.mutable.ArrayBuffer.empty[Decoded]
    it.foreach { f =>
      decodeOne(f.slot_id, f, registry, () => st, s => st = s, out += _, memo)
    }
    out.toSeq
  }

  /** Per-decode-loop memo: the open transaction's Begin is consulted on
    * EVERY row change; decoding the stored frame bytes per row was a
    * measured hot-path cost. The memo keys on the byte-array reference —
    * within a batch the state holds the same array; after a state-store
    * reload it is a fresh array and decodes exactly once.
    */
  private final class BeginMemo {
    private var bytes: Array[Byte] = _
    private var decoded: Begin = _
    def of(b: Array[Byte]): Begin = {
      if (!(bytes eq b)) { bytes = b; decoded = PgOutput.decode(b).asInstanceOf[Begin] }
      decoded
    }
  }

  /** Shared per-frame state machine (txn assembly + registry). */
  private def decodeOne(slot: String, f: Frame, registry: SchemaRegistry,
      get: () => SlotState, set: SlotState => Unit,
      emit: Decoded => Unit, memo: BeginMemo = new BeginMemo): Unit = {
    def begin: Option[Begin] = get().beginFrame.map(memo.of)
    def withTxn(action: String, oid: Long, cols: Seq[String],
        values: Seq[String], old: Option[Seq[String]], hash: String): Unit = {
      val b = begin.getOrElse(Begin(0L, 0L, 0L))
      val rel = registry.relationOf(oid)
      val st = get()
      emit(Decoded("change", slot, f.seq, b.finalLsn, st.commitIdx,
        b.commitTsMicros, b.xid,
        rel.map(_.namespace).getOrElse(""), rel.map(_.name).getOrElse(""),
        oid, action, cols, values, old, hash, st.annotations))
      set(st.copy(commitIdx = st.commitIdx + 1))
    }
    PgOutput.decode(f.payload) match {
      case _: Begin =>
        // store the WIRE bytes as-is (identical to re-encoding, minus the
        // per-txn encode) — the state-store representation is unchanged
        set(get().copy(beginFrame = Some(f.payload), commitIdx = 0L))
      case _: Commit =>
        set(get().copy(beginFrame = None, commitIdx = 0L))
      case m: LogicalMessage if m.prefix == AnnotationSetPrefix =>
        set(get().copy(annotations = Some(new String(m.content, "UTF-8"))))
      case m: LogicalMessage if m.prefix == AnnotationClearPrefix =>
        set(get().copy(annotations = None))
      case r: Relation =>
        registry.observe(r).foreach { ch =>
          emit(Decoded("schema_change", slot, f.seq,
            begin.map(_.finalLsn).getOrElse(0L), 0L,
            begin.map(_.commitTsMicros).getOrElse(0L),
            begin.map(_.xid).getOrElse(0L),
            r.namespace, r.name, r.id, "schema_change",
            r.columns.map(_.name), r.columns.map(_.pgType),
            ch.previousHash.map(Seq(_)), ch.hash, get().annotations))
        }
      case Insert(oid, tuple) =>
        val rel = registry.relationOf(oid)
        withTxn("insert", oid, rel.map(_.columns.map(_.name)).getOrElse(Nil),
          textCells(tuple), None, registry.hashOf(oid).getOrElse(""))
      case Update(oid, old, key, tuple) =>
        val rel = registry.relationOf(oid)
        withTxn("update", oid, rel.map(_.columns.map(_.name)).getOrElse(Nil),
          textCells(tuple), old.orElse(key).map(textCells),
          registry.hashOf(oid).getOrElse(""))
      case Delete(oid, old, key) =>
        val rel = registry.relationOf(oid)
        withTxn("delete", oid, rel.map(_.columns.map(_.name)).getOrElse(Nil),
          old.orElse(key).map(textCells).getOrElse(Nil), None,
          registry.hashOf(oid).getOrElse(""))
      case Truncate(_, oids) =>
        oids.foreach { oid =>
          val rel = registry.relationOf(oid)
          withTxn("truncate", oid, Nil, Nil, None,
            registry.hashOf(oid).getOrElse(""))
        }
      case Malformed(tag, error, _) =>
        // corruption of a KNOWN frame type must be observable, not a
        // silently dropped change — surfaced as its own row kind so a
        // monitor can count/alert on it (ref: decoder.ex raises here)
        val st = get()
        emit(Decoded("decode_error", slot, f.seq,
          begin.map(_.finalLsn).getOrElse(0L), st.commitIdx,
          begin.map(_.commitTsMicros).getOrElse(0L),
          begin.map(_.xid).getOrElse(0L),
          "", "", 0L, "decode_error",
          Seq("tag", "error"), Seq(tag.toString, error), None, "",
          st.annotations))
      case _ => () // Origin / Type / LogicalMessage / Unsupported: no rows
    }
  }
}

/** oid → latest Relation, with schema-change detection by stable hash. */
final class SchemaRegistry extends Serializable {
  import SchemaRegistry._

  private val relations = scala.collection.mutable.Map.empty[Long, Relation]
  private val hashes = scala.collection.mutable.Map.empty[Long, String]

  /** Record a Relation message; Some(change) exactly when the schema hash
    * for this oid is new or moved (first sight counts as a change — the
    * reference also treats a missing Redis hash as a change to record).
    */
  def observe(rel: Relation): Option[SchemaChange] = {
    val h = schemaHash(rel)
    val prev = hashes.get(rel.id)
    relations(rel.id) = rel
    hashes(rel.id) = h
    if (prev.contains(h)) None
    else Some(SchemaChange(rel.id, rel.namespace, rel.name, prev, h))
  }

  def relationOf(oid: Long): Option[Relation] = relations.get(oid)

  /** The stored schema hash for an oid — O(1), computed once per
    * Relation message in [[observe]]. The decode hot path reads THIS
    * instead of re-digesting the relation per row (an MD5 + hex format
    * per change row was a measured multi-µs/row cost).
    */
  def hashOf(oid: Long): Option[String] = hashes.get(oid)

  /** The pinned Spark schema for a table's current Relation (§1.2). */
  def sparkSchemaOf(oid: Long): Option[StructType] =
    relations.get(oid).map(toStructType)

  def toFrames: Map[Long, Array[Byte]] =
    relations.map { case (k, v) => k -> PgOutput.encode(v) }.toMap
}

object SchemaRegistry {

  final case class SchemaChange(relationId: Long, namespace: String,
      name: String, previousHash: Option[String], hash: String)

  def fromFrames(frames: Map[Long, Array[Byte]]): SchemaRegistry = {
    val r = new SchemaRegistry
    frames.values.foreach { f =>
      PgOutput.decode(f) match {
        case rel: Relation => r.observe(rel)
        case _             => ()
      }
    }
    r
  }

  /** Stable content hash of a relation's schema (identity + column
    * names/oids/modifiers/key flags) — the portable analogue of the
    * reference's `phash2(relation)`.
    */
  def schemaHash(rel: Relation): String = {
    val canonical = (Seq(rel.id.toString, rel.namespace, rel.name,
      rel.replicaIdentity) ++ rel.columns.map(c =>
        s"${c.name}:${c.typeOid}:${c.typeModifier}:${c.isKey}")).mkString("\u0000")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  def toStructType(rel: Relation): StructType =
    StructType(rel.columns.map(c =>
      StructField(c.name, ValueCaster.sparkType(c.pgType), nullable = true)))

  /** Text cells → typed JVM values against the relation's column types. */
  def castTuple(rel: Relation, cells: Seq[String]): Seq[Any] =
    rel.columns.zip(cells).map { case (c, v) => ValueCaster.cast(c.pgType, v) }
}
