package graft.queries

import graft.Tables
import graft.sources.{PgOutput, SchemaRegistry}
import graft.sources.PgOutput._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the binary ingestion boundary (S1/S2): each
  * event row is rendered as a synthetic pgoutput transaction
  * (Begin + Insert/Update/Delete + Commit wire frames), decoded back by
  * [[PgOutput.decode]], cells cast via the Relation's column types — and
  * the DuckDB oracle recomputes the same projection straight from the
  * parquet table, so any codec or casting drift breaks the hash compare.
  *
  * This is distributed codec work: the encode+decode runs per row inside
  * a Dataset.map (the boundary is genuinely imperative, SURVEY §2.12), and
  * everything downstream stays declarative.
  */
object IngestQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Input row drawn from the events table. */
  final case class EvRow(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Decoded output row (flat scalars for the oracle hash compare). */
  final case class DecodedRow(event_id: Long, user_id: Long,
      event_type: String, action: String, value: Double,
      old_value: Option[Double], props: String, commit_ts_us: Long,
      xid: Long, commit_lsn: Long)

  /** The synthetic source relation (decoded once from its own wire frame,
    * so the Relation path is exercised too).
    */
  private def sourceRelation: Relation = {
    val frame = PgOutput.encode(Relation(16384L, "public", "events_src", "d",
      Seq(RelationColumn("event_id", isKey = true, 20L, -1),
        RelationColumn("user_id", isKey = false, 20L, -1),
        RelationColumn("event_type", isKey = false, 25L, -1),
        RelationColumn("value", isKey = false, 701L, -1),
        RelationColumn("props", isKey = false, 3802L, -1))))
    PgOutput.decode(frame).asInstanceOf[Relation]
  }

  /** Wire frames for one event row: Begin + (Insert|Update|Delete) + Commit.
    * Mirrors Cdc.fromEvents's action mapping so the oracle is pure SQL.
    */
  private[queries] def framesFor(r: EvRow): Seq[Array[Byte]] = {
    val lsn = (r.event_id / 7) * 8
    val xid = r.event_id % 100000
    val cells = Seq(
      Cell.Text(r.event_id.toString), Cell.Text(r.user_id.toString),
      Cell.Text(r.event_type), Cell.Text(java.lang.Double.toString(r.value)),
      Cell.Text(r.props))
    val change = r.event_type match {
      case "signup" => Insert(16384L, cells)
      case "error"  => Delete(16384L, Some(cells), None)
      case _ =>
        val oldCells = cells.updated(3,
          Cell.Text(java.lang.Double.toString(r.value - 1.0)))
        Update(16384L, Some(oldCells), None, cells)
    }
    Seq(
      PgOutput.encode(Begin(lsn, r.ts_us, xid)),
      PgOutput.encode(change),
      PgOutput.encode(Commit(0, lsn, lsn + 8, r.ts_us)))
  }

  /** Decode one row's frames back into a typed row. */
  private[queries] def decodeRow(r: EvRow, rel: Relation): DecodedRow = {
    val msgs = framesFor(r).map(PgOutput.decode)
    val begin = msgs.collectFirst { case b: Begin => b }.get
    val (action, cells, oldCells) = msgs.collectFirst {
      case Insert(_, t)       => ("insert", textCells(t), None)
      case Update(_, o, _, t) => ("update", textCells(t), o.map(textCells))
      case Delete(_, o, _)    => ("delete", o.map(textCells).get, None)
    }.get
    val typed = SchemaRegistry.castTuple(rel, cells)
    DecodedRow(
      event_id = typed(0).asInstanceOf[Long],
      user_id = typed(1).asInstanceOf[Long],
      event_type = typed(2).asInstanceOf[String],
      action = action,
      value = typed(3).asInstanceOf[Double],
      old_value = oldCells.map(o =>
        SchemaRegistry.castTuple(rel, o)(3).asInstanceOf[Double]),
      props = typed(4).asInstanceOf[String],
      commit_ts_us = begin.commitTsMicros,
      xid = begin.xid,
      commit_lsn = begin.finalLsn)
  }

  val queries: Map[String, Q] = Map(
    // S2 — binary pgoutput frames → decoded, type-cast envelope
    "q37_pgoutput_decode" -> ((s, dir) => {
      import s.implicits._
      val rel = sourceRelation
      Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .as[EvRow]
        .map(r => decodeRow(r, rel))
        .toDF()
        .orderBy("event_id")
    }),

    // S1 — full source boundary: wire txns SPOOLED as WAL segments
    // (distributed write, one segment per partition), tailed back through
    // the graft-walspool DSv2 source, stream-decoded per slot, typed via
    // the pinned-schema record path. The oracle recomputes the same
    // envelope straight from the parquet table, so segment codec, source,
    // txn assembly, and old/new tuple typing are all hash-verified.
    "q44_wal_spool_source" -> ((s, dir) => {
      import graft.sources.{PgStream, WalSpool, WalSpoolProvider}
      import s.implicits._
      implicit val sess: SparkSession = s
      val rel = sourceRelation
      val spool =
        java.nio.file.Files.createTempDirectory("graft_walspool").toString
      val frames = Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .as[EvRow]
        .flatMap { r =>
          val slot = s"slot${r.event_id % 4}"
          framesFor(r).zipWithIndex.map { case (p, i) =>
            PgStream.Frame(slot, r.event_id * 4 + i, p)
          }
        }
      val relFrames = s.createDataset((0 until 4).map(i =>
        PgStream.Frame(s"slot$i", -1L, PgOutput.encode(rel))))
      // fixture publish: executors write immutable segments in parallel
      frames.union(relFrames).foreachPartition {
        (it: Iterator[PgStream.Frame]) =>
          val buf = it.toSeq
          if (buf.nonEmpty) {
            WalSpool.writeSegment(spool, WalSpool.segmentName(
              org.apache.spark.TaskContext.getPartitionId().toLong), buf)
          }: Unit
      }
      val decoded = PgStream.decodePartitions(
        s.read.format(classOf[WalSpoolProvider].getName).load(spool)
          .as[PgStream.Frame]
          .repartition(4, col("slot_id"))
          .sortWithinPartitions("slot_id", "seq"))
      PgStream.toRecords(decoded.toDF(), rel).orderBy("event_id")
    }))

  val oracles: Map[String, String] = Map(
    "q37_pgoutput_decode" ->
      """SELECT event_id, user_id, event_type,
        |  CASE WHEN event_type = 'signup' THEN 'insert'
        |       WHEN event_type = 'error' THEN 'delete'
        |       ELSE 'update' END AS action,
        |  value,
        |  CASE WHEN event_type NOT IN ('signup','error')
        |       THEN value - 1.0 END AS old_value,
        |  props,
        |  CAST(epoch_us(ts) AS BIGINT) AS commit_ts_us,
        |  event_id % 100000 AS xid,
        |  (event_id // 7) * 8 AS commit_lsn
        |FROM events ORDER BY event_id""".stripMargin,

    "q44_wal_spool_source" ->
      """SELECT 'slot' || CAST(event_id % 4 AS VARCHAR) AS slot_id,
        |  (event_id // 7) * 8 AS commit_lsn,
        |  CAST(0 AS BIGINT) AS commit_idx,
        |  CAST(epoch_us(ts) AS BIGINT) AS commit_ts_us,
        |  event_id % 100000 AS xid,
        |  CASE WHEN event_type = 'signup' THEN 'insert'
        |       WHEN event_type = 'error' THEN 'delete'
        |       ELSE 'update' END AS action,
        |  CAST(NULL AS VARCHAR) AS annotations,
        |  event_id, user_id, event_type, value, props,
        |  CASE WHEN event_type NOT IN ('signup','error') THEN event_id END AS old_event_id,
        |  CASE WHEN event_type NOT IN ('signup','error') THEN user_id END AS old_user_id,
        |  CASE WHEN event_type NOT IN ('signup','error') THEN event_type END AS old_event_type,
        |  CASE WHEN event_type NOT IN ('signup','error') THEN value - 1.0 END AS old_value,
        |  CASE WHEN event_type NOT IN ('signup','error') THEN props END AS old_props
        |FROM events ORDER BY event_id""".stripMargin)
}
