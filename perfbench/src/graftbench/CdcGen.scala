package graftbench

import graft.sources.{PgOutput, PgStream, WalSpool}
import graft.sources.PgOutput._
import java.nio.file.{Files, Path, StandardCopyOption}

/** Seeded change stream of one `benchmark_records`-shaped table with
  * ~200-byte rows and mixed inserts, updates and deletes, as in the
  * reference's published benchmark. The rest is chosen, not sourced (see
  * perfbench/README.md, "Traffic shape"): one change per transaction,
  * 70% inserts of new keys, 25% updates and 5% deletes of keys drawn
  * from a pool of 20,000 live keys. The shares are fixed by position
  * (`i % 10` and `i / 10`); the seed picks keys, values and payloads.
  *
  * Columns: `event_id` (the change's own id — the CDC envelope derives
  * its commit position and idempotency key from it), `user_id` (the
  * record key; changes of one key form one delivery group),
  * `event_type`, `value`, `props`.
  *
  * The generator doubles as the delivery manifest: what every event
  * should look like when it reaches the sink.
  */
final class CdcGen(val seed: Long, val n: Int) {
  import CdcGen._

  val key = new Array[Long](n)
  val kind = new Array[Byte](n) // Ins / Upd / Del
  val cents = new Array[Int](n)
  private val updType = new Array[Byte](n)

  {
    val rng = new java.util.SplittableRandom(seed)
    val pool = new Array[Long](PoolCap)
    var poolSize = 0
    var nextKey = 1000L + rng.nextLong(1000000L)
    var i = 0
    while (i < n) {
      val slot = i % 10
      if (slot < 3 && poolSize > 0) {
        val j = rng.nextInt(poolSize)
        key(i) = pool(j)
        if (slot == 2 && (i / 10) % 2 == 0) {
          kind(i) = Del
          pool(j) = pool(poolSize - 1)
          poolSize -= 1
        } else kind(i) = Upd
      } else {
        key(i) = nextKey
        nextKey += 1
        kind(i) = Ins
        if (poolSize < PoolCap) { pool(poolSize) = key(i); poolSize += 1 }
        else pool(rng.nextInt(PoolCap)) = key(i)
      }
      cents(i) = rng.nextInt(1000000)
      updType(i) = rng.nextInt(3).toByte
      i += 1
    }
  }

  def eventId(i: Int): Long = i + 1L
  def index(eventId: Long): Int = (eventId - 1L).toInt
  def value(i: Int): Double = cents(i) / 100.0
  def valueText(i: Int): String = java.math.BigDecimal.valueOf(cents(i).toLong, 2).toString

  def eventType(i: Int): String = kind(i) match {
    case Ins => "signup"
    case Del => "error"
    case _ => UpdateTypes(updType(i))
  }

  /** The envelope's action for the event (see `graft.model.Cdc`). */
  def action(i: Int): String = kind(i) match {
    case Ins => "insert"
    case Del => "delete"
    case _ => "update"
  }

  /** 150 characters of [a-z0-9], a pure function of (seed, i). */
  def props(i: Int): String = {
    val sb = new java.lang.StringBuilder(PropsLen)
    var h = seed * 0x9E3779B97F4A7C15L + i
    while (sb.length < PropsLen) {
      h = mix(h + 0x632BE59BD9B4E019L)
      var x = h
      var k = 0
      while (k < 10 && sb.length < PropsLen) {
        sb.append(Alphabet.charAt(((x & Long.MaxValue) % 36).toInt))
        x /= 36
        k += 1
      }
    }
    sb.toString
  }

  private def cells(i: Int): Seq[Cell] = Seq(
    Cell.Text(eventId(i).toString), Cell.Text(key(i).toString),
    Cell.Text(eventType(i)), Cell.Text(valueText(i)), Cell.Text(props(i)))

  /** Begin + change + Commit for event `i`; frame seqs are 3i+1..3i+3. */
  def frames(i: Int): Seq[PgStream.Frame] = {
    val lsn = eventId(i) * 8L
    val ts = BaseTsMicros + i * 1000L
    val change = kind(i) match {
      case Ins => PgOutput.Insert(RelId, cells(i))
      case Upd => PgOutput.Update(RelId, None, None, cells(i))
      case _ => PgOutput.Delete(RelId, Some(cells(i)), None)
    }
    val s = 3L * i
    Seq(
      PgStream.Frame(Slot, s + 1, PgOutput.encode(Begin(lsn, ts, eventId(i)))),
      PgStream.Frame(Slot, s + 2, PgOutput.encode(change)),
      PgStream.Frame(Slot, s + 3, PgOutput.encode(Commit(0, lsn, lsn + 8, ts))))
  }

  /** Segment of events [from, until); the first one also carries the
    * Relation message.
    */
  def segmentFrames(from: Int, until: Int): Seq[PgStream.Frame] = {
    val body = (from until until).flatMap(frames)
    if (from == 0) PgStream.Frame(Slot, 0L, PgOutput.encode(relation)) +: body
    else body
  }

  /** Does a delivered record match event `i`? */
  def payloadOk(i: Int, record: String, deliveredAction: String): Boolean =
    deliveredAction == action(i) &&
      JsonFields.long(record, "id").contains(eventId(i)) &&
      JsonFields.long(record, "user_id").contains(key(i)) &&
      JsonFields.double(record, "value").contains(value(i)) &&
      JsonFields.string(record, "props").contains(props(i))
}

object CdcGen {
  final val Ins: Byte = 0
  final val Upd: Byte = 1
  final val Del: Byte = 2
  val PoolCap = 20000
  val PropsLen = 150
  val Slot = "slot"
  val RelId = 16384L
  val BaseTsMicros = 1700000000000000L
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  private val UpdateTypes = Array("purchase", "click", "view")

  val relation: Relation = Relation(RelId, "public", "benchmark_records", "f", Seq(
    RelationColumn("event_id", isKey = true, 20L, -1),
    RelationColumn("user_id", isKey = false, 20L, -1),
    RelationColumn("event_type", isKey = false, 25L, -1),
    RelationColumn("value", isKey = false, 701L, -1),
    RelationColumn("props", isKey = false, 25L, -1)))

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Writes segments to a staging directory before timing, then publishes
    * each one into the spool with a rename — the same atomic publish the
    * spool's own writer uses, at a cost that does not depend on the
    * segment's size.
    */
  final class Stager(val staging: String, val spool: String) {
    private val digest = java.security.MessageDigest.getInstance("SHA-256")

    /** Encodes and writes segments `(index, from, until)` of `gen` on
      * every core, then hashes them in index order.
      */
    def stageAll(gen: CdcGen, segs: Seq[(Long, Int, Int)]): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Env.nproc)
      try segs.map { case (idx, from, until) =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = WalSpool.writeSegment(staging, WalSpool.segmentName(idx),
            gen.segmentFrames(from, until))
        })
      }.foreach(_.get())
      finally pool.shutdown()
      segs.map(_._1).sorted.foreach(idx =>
        digest.update(Files.readAllBytes(Path.of(staging, WalSpool.segmentName(idx)))))
    }

    def publish(idx: Long): Unit = {
      val name = WalSpool.segmentName(idx)
      val crc = s".$name.crc"
      if (Files.exists(Path.of(staging, crc)))
        Files.move(Path.of(staging, crc), Path.of(spool, crc),
          StandardCopyOption.ATOMIC_MOVE)
      Files.move(Path.of(staging, name), Path.of(spool, name),
        StandardCopyOption.ATOMIC_MOVE)
    }

    def sha256: String = Env.sha256Hex(digest)
  }
}

/** Field extraction from the flat JSON objects the sink receives. */
object JsonFields {
  private def raw(json: String, field: String): Option[String] = {
    val k = "\"" + field + "\":"
    val at = json.indexOf(k)
    if (at < 0) None
    else {
      val from = at + k.length
      if (from < json.length && json.charAt(from) == '"') {
        val end = json.indexOf('"', from + 1)
        if (end < 0) None else Some(json.substring(from, end + 1))
      } else {
        var end = from
        while (end < json.length && json.charAt(end) != ',' && json.charAt(end) != '}') end += 1
        Some(json.substring(from, end))
      }
    }
  }

  def string(json: String, field: String): Option[String] =
    raw(json, field).filter(s => s.length >= 2 && s.startsWith("\""))
      .map(s => s.substring(1, s.length - 1))
  def long(json: String, field: String): Option[Long] =
    raw(json, field).flatMap(s => s.toLongOption)
  def double(json: String, field: String): Option[Double] =
    raw(json, field).flatMap(s => s.toDoubleOption)
}
