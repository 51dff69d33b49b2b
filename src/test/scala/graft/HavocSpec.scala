package graft

import graft.config.PipelineSpec
import graft.model.ChangeEvent
import graft.sinks.{EventTableSink, SinkDispatch}
import graft.sources.{PgStream, WalSpool, WalSpoolMicroBatchStream, WalSpoolOffset, WalSpoolProvider}
import graft.streaming.ConsumerRuntime
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Fault-injection battery over the runtime's durability claims — the
  * spec rendition of the reference's chaos harness
  * (`lib/sequin/havoc.ex:1-273`, which randomly kills slot/consumer
  * processes and relies on supervision + at-least-once + idempotency to
  * converge). Each scenario injects ONE concrete fault — dead transport
  * mid-stream, dropped or corrupted spool segment, crash between
  * compaction staging and promote, truncated checkpoint, fenced writer —
  * and asserts the corresponding invariant: exactly-once delivery,
  * loud failure (never silent loss), forward convergence of repair.
  * Every crash point of each event-table mutation is enumerated in
  * EventTableSinkSpec.
  */
class HavocSpec extends SparkSpec {

  // ---- fixtures ----------------------------------------------------------

  /** Loopback redis-protocol server that can be killed and revived on
    * the SAME port (transport-crash scenarios need the consumer's Env to
    * stay valid across incarnations).
    */
  private final class RevivableRedis(fixedPort: Int = 0) {
    val xadds = new ConcurrentLinkedQueue[String]()
    private val server =
      new ServerSocket(fixedPort, 8, InetAddress.getLoopbackAddress)
    def port: Int = server.getLocalPort
    private val thread = new Thread(() => {
      try {
        while (true) {
          val sock = server.accept()
          val in = sock.getInputStream
          val out = sock.getOutputStream
          def line(): String = {
            val sb = new StringBuilder
            var c = in.read()
            while (c != '\r' && c >= 0) { sb.append(c.toChar); c = in.read() }
            in.read(); sb.toString
          }
          try {
            while (true) {
              if (in.read() < 0) throw new java.io.EOFException
              val n = line().toInt
              val args = (0 until n).map { _ =>
                in.read()
                val len = line().toInt
                val buf = new Array[Byte](len)
                var off = 0
                while (off < len) off += in.read(buf, off, len - off)
                in.read(); in.read()
                new String(buf, UTF_8)
              }
              if (args.head == "XADD") xadds.add(args.mkString("|"))
              out.write("$3\r\n1-1\r\n".getBytes(UTF_8)); out.flush()
            }
          } catch { case _: Exception => sock.close() }
        }
      } catch { case _: Exception => () }
    })
    thread.setDaemon(true)
    thread.start()
    def kill(): Unit = server.close()
  }

  private def ev(lsn: Long, group: String, value: Double): ChangeEvent =
    ChangeEvent(lsn, 0L, Timestamp.valueOf("2024-01-01 00:00:00"), "insert",
      "public", "t0", 16384L, s"pk$group-$lsn", lsn, group.toLong, value,
      "{}", Some(0.5), s"$group:$lsn", group, 100L)

  private def frames(lo: Long, hi: Long): Seq[PgStream.Frame] =
    (lo to hi).map(i => PgStream.Frame("slot0", i, s"payload-$i".getBytes(UTF_8)))

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val walProvider = classOf[WalSpoolProvider].getName

  /** listSegments returns hadoop `file:` URIs — back to a local Path. */
  private def localPath(hadoop: String): Path =
    Paths.get(hadoop.stripPrefix("file:"))

  // ---- 1. transport killed mid-stream, revived on the same port --------

  test("havoc: transport dies mid-stream and revives — every event " +
      "delivered exactly once across incarnations") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val srv1 = new RevivableRedis()
    val port = srv1.port
    val metrics = new graft.config.Metrics.Registry()
    val health = new graft.config.Health.Registry()
    // generous retry budget + tiny ack wait: failed deliveries keep
    // retrying until the transport comes back (the reference's
    // supervisor-restart convergence)
    val cfg = PipelineSpec.parse(
      """{"name":"hv1","ack_wait_ms":5,"max_retry_count":100,
        |"destination":{"type":"redis_stream","stream_key":"k"}}"""
        .stripMargin)
    val input = MemoryStream[ChangeEvent]
    val handle = ConsumerRuntime.start(input.toDS().toDF(), cfg,
      SinkDispatch.Env(host = "127.0.0.1", port = port),
      metrics, health, "c-hv1")
    try {
      input.addData((1 to 10).map(i => ev(i.toLong, (i % 3).toString, 1.0)))
      handle.query.processAllAvailable()
      assert(srv1.xadds.size == 10)
      // KILL the transport, feed a batch, revive DURING the retry ladder
      srv1.kill()
      val revived = new java.util.concurrent.atomic.AtomicReference[RevivableRedis]()
      val reviver = new Thread(() => {
        Thread.sleep(300)
        revived.set(new RevivableRedis(port))
      })
      reviver.start()
      input.addData((11 to 20).map(i => ev(i.toLong, (i % 3).toString, 1.0)))
      handle.query.processAllAvailable() // blocks until the ladder resolves
      reviver.join()
      val srv2 = revived.get()
      // nothing dead-lettered (the revival beat the retry budget) and the
      // second incarnation saw each of the 10 events EXACTLY once —
      // whether it arrived via the happy path, the retry ladder, or a mix
      assert(handle.ledger.deadLetters().isEmpty)
      assert(handle.ledger.outstandingEvents == 0)
      import scala.jdk.CollectionConverters._
      val delivered2 = srv2.xadds.asScala.toSeq
      assert(delivered2.size == 10 && delivered2.distinct.size == 10,
        s"expected 10 exactly-once deliveries after revival, " +
          s"got ${delivered2.size} (${delivered2.distinct.size} distinct)")
      srv2.kill()
    } finally handle.stop()
  }

  // ---- 2+3. corrupted spool segments fail loudly ------------------------

  test("havoc: WAL segment truncated mid-record — the stream fails " +
      "loudly, never silently skips") {
    val dir = tmpDir("hv_trunc")
    WalSpool.writeSegment(dir, WalSpool.segmentName(0), frames(1, 50))
    // truncate mid-record: chop the tail off the only segment
    val seg = localPath(WalSpool.listSegments(dir).head)
    val bytes = Files.readAllBytes(seg)
    Files.write(seg, bytes.take(bytes.length - 7))
    // LAYER 1: hadoop's checksum sidecar catches the mutation first
    val crcLoud = intercept[Exception] {
      spark.read.format(walProvider).option("path", dir).load().count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(crcLoud).exists(
      _.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), crcLoud)
    // LAYER 2: with the sidecar gone (a shipper that writes no CRCs),
    // the segment format's own framing detects the truncation
    Files.deleteIfExists(seg.getParent.resolve("." + seg.getFileName + ".crc"))
    val e = intercept[Exception] {
      spark.read.format(walProvider).option("path", dir).load().count()
    }
    assert(chain(e).exists(c => c.isInstanceOf[java.io.EOFException] ||
      String.valueOf(c.getMessage).contains("GWAL")), e)
  }

  test("havoc: WAL segment with corrupted magic — loud failure naming " +
      "the segment") {
    val dir = tmpDir("hv_magic")
    WalSpool.writeSegment(dir, WalSpool.segmentName(0), frames(1, 5))
    val seg = localPath(WalSpool.listSegments(dir).head)
    val bytes = Files.readAllBytes(seg)
    bytes(0) = 0x00
    Files.write(seg, bytes)
    Files.deleteIfExists(seg.getParent.resolve("." + seg.getFileName + ".crc"))
    val e = intercept[Exception] {
      spark.read.format(walProvider).option("path", dir).load().count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c =>
      String.valueOf(c.getMessage).contains("not a GWAL segment")), e)
  }

  // ---- 4. unread segment deleted: loud, and legit prunes still fine ----

  test("havoc: deleting an UNREAD segment inside a planned batch throws; " +
      "pruning below the committed offset stays silent-safe") {
    val dir = tmpDir("hv_drop")
    (0 to 3).foreach(i =>
      WalSpool.writeSegment(dir, WalSpool.segmentName(i.toLong),
        frames(i * 10, i * 10 + 9)))
    val stream = new WalSpoolMicroBatchStream(dir, 0)
    val end = stream.latestOffset(WalSpoolOffset(0L),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(end.asInstanceOf[WalSpoolOffset].segments == 4L)
    // drop an unread MIDDLE segment between offset resolution and
    // planning (the replan-after-crash shape): must throw, not skip
    Files.delete(Paths.get(dir).resolve(WalSpool.segmentName(2)))
    val e = intercept[IllegalArgumentException] {
      stream.planInputPartitions(WalSpoolOffset(0L), end)
    }
    assert(e.getMessage.contains("segments missing"), e.getMessage)
    // legitimate retention: prune below the committed offset, then plan
    // only the suffix — no complaint
    WalSpool.writeSegment(dir, WalSpool.segmentName(2), frames(20, 29))
    assert(WalSpool.pruneConsumed(dir, 2L) == 2)
    assert(stream.planInputPartitions(WalSpoolOffset(2L), end).length == 2)
    // a FRESH query over a pre-pruned spool (s = 0, spool starts at 2)
    // plans the contiguous run without complaint
    assert(stream.planInputPartitions(WalSpoolOffset(0L), end).length == 2)
  }

  // ---- 5. crash between compaction staging and promote ------------------

  test("havoc: crash between .cmt- staging and promote — repair converges " +
      "forward from every interruption point") {
    // a compaction stages its combined dir under `.tmp-<id>`, commits by
    // renaming that to `.txn-<id>` and promotes through the txn's renames
    implicit val s = spark
    import s.implicits._
    def rows(path: String) = EventTableSink.read(spark, path)
      .select("record_pk", "commit_lsn", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def rowCount(path: String) = EventTableSink.read(spark, path).count()
    def mkTable(): String = {
      val path = tmpDir("hv_cmt")
      // three narrow epochs in one bucket (numBuckets=1 keeps it focused)
      EventTableSink.upsert(spark,
        Seq(("a", 10L, 0L, 1.0), ("b", 20L, 0L, 2.0))
          .toDF("record_pk", "commit_lsn", "commit_idx", "v"),
        path, numBuckets = 1, epochWidth = 16L)
      EventTableSink.upsert(spark,
        Seq(("c", 40L, 0L, 3.0)).toDF("record_pk", "commit_lsn", "commit_idx", "v"),
        path, numBuckets = 1, epochWidth = 16L)
      path
    }
    def epochDirs(path: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val l = Files.list(Paths.get(path).resolve("bucket=0"))
      try l.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally l.close()
    }
    def debris(path: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val l = Files.list(Paths.get(path))
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".tmp-") || n.startsWith(".txn-")).toSeq
      finally l.close()
    }
    def staged(path: String): EventTableSink.Staged =
      EventTableSink.stageCompact(spark, path, uptoEpoch = 100, groupEpochs = 4)._2.get
    // ground truth: a completed compaction (epochs 0,1,2 → one dir: 2
    // directories eliminated)
    val done = mkTable()
    val before = rows(done)
    assert(EventTableSink.compact(spark, done, uptoEpoch = 100,
      groupEpochs = 4) == 2)
    assert(rows(done) == before && rowCount(done) == 3)
    assert(epochDirs(done) == Seq("epoch=0"))

    // CRASH POINT A: staging torn before its manifest was written —
    // repair must discard it and leave the three source dirs
    val crashA = mkTable()
    val tornA = staged(crashA)
    Files.delete(Paths.get(crashA).resolve(s".tmp-${tornA.id}").resolve("_manifest"))
    EventTableSink.repair(crashA)
    assert(rows(crashA) == before && rowCount(crashA) == 3,
      "manifest-less staging corrupted the table")
    assert(epochDirs(crashA) == Seq("epoch=0", "epoch=1", "epoch=2"))
    assert(debris(crashA).isEmpty, s"staging debris survived repair: ${debris(crashA)}")

    // CRASH POINT B: fully staged, never committed — rolls back, and the
    // re-run converges
    val crashB = mkTable()
    staged(crashB)
    EventTableSink.repair(crashB)
    assert(rows(crashB) == before && rowCount(crashB) == 3,
      "crash-before-commit did not roll back")
    assert(epochDirs(crashB) == Seq("epoch=0", "epoch=1", "epoch=2"))
    assert(debris(crashB).isEmpty)
    assert(EventTableSink.compact(spark, crashB, uptoEpoch = 100,
      groupEpochs = 4) == 2)
    assert(rows(crashB) == before && epochDirs(crashB) == Seq("epoch=0"))

    // CRASH POINT C: committed, then interrupted after the first `k`
    // renames of the promote (k = 0: none yet; later ones with sources
    // already dropped, which repair must not resurrect) — every one
    // converges forward to the compacted table
    def crashAfter(k: Int): (String, Int) = {
      val path = mkTable()
      val txn = EventTableSink.commit(path, staged(path), None)
      val due = EventTableSink.moves(Paths.get(path), txn)
      due.take(k).foreach(EventTableSink.move)
      (path, due.size)
    }
    // label dir out, combined dir in, two sources dropped
    val renames = crashAfter(0)._2
    assert(renames == 4)
    (0 until renames).foreach { k =>
      val crashC = crashAfter(k)._1
      EventTableSink.repair(crashC)
      assert(rows(crashC) == before && rowCount(crashC) == 3,
        s"crash after $k of $renames renames did not converge")
      assert(epochDirs(crashC) == Seq("epoch=0"),
        s"after $k renames: ${epochDirs(crashC)}")
      assert(debris(crashC).isEmpty, s"after $k renames: ${debris(crashC)}")
    }
  }

  // ---- 6. truncated checkpoint: loud failure, then idempotent resume ---

  test("havoc: truncated checkpoint offset fails the restart loudly; " +
      "removing it resumes with exactly-once downstream via upsert") {
    implicit val s = spark
    import s.implicits._
    val base = tmpDir("hv_ckpt")
    val spool = s"$base/spool"
    val ckpt = s"$base/ckpt"
    val table = s"$base/table"
    def startQuery() = spark.readStream.format(walProvider)
      .option("path", spool).option("maxSegmentsPerBatch", 1).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        EventTableSink.upsert(spark,
          batch.select(concat(lit("pk"), col("seq")).as("record_pk"),
            col("seq").as("commit_lsn"), lit(0L).as("commit_idx"),
            length(col("payload")).cast("double").as("v")),
          table, numBuckets = 2, epochWidth = 64L)
      }.start()
    (0 to 2).foreach(i =>
      WalSpool.writeSegment(spool, WalSpool.segmentName(i.toLong),
        frames(i * 10, i * 10 + 9)))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(EventTableSink.read(spark, table).count() == 30)
    // TRUNCATE the newest committed offset file to zero bytes
    import scala.jdk.CollectionConverters._
    val offsets = Files.list(Paths.get(ckpt).resolve("offsets"))
      .iterator().asScala.toSeq.filterNot(_.getFileName.toString.contains("."))
    val newest = offsets.maxBy(_.getFileName.toString.toInt)
    Files.write(newest, Array.empty[Byte])
    val loud = intercept[Exception] { val q = startQuery()
      try { q.processAllAvailable(); q.stop() } finally q.stop() }
    assert(String.valueOf(loud.getMessage).contains("Incomplete log file") ||
      String.valueOf(loud.getMessage).contains("Failed to read log"), loud)
    // operator remediation: drop the truncated offset AND its commit
    // record (a commit without its offsets is itself a loud startup
    // failure) — the query replays that batch; the upsert sink keeps the
    // table exactly-once
    Files.delete(newest)
    // hadoop checksum sidecars go with their files — a stale .crc makes
    // the re-written offset fail its rename with a misleading error
    Files.deleteIfExists(newest.getParent
      .resolve("." + newest.getFileName + ".crc"))
    Files.deleteIfExists(Paths.get(ckpt).resolve("commits")
      .resolve(newest.getFileName.toString))
    Files.deleteIfExists(Paths.get(ckpt).resolve("commits")
      .resolve("." + newest.getFileName + ".crc"))
    WalSpool.writeSegment(spool, WalSpool.segmentName(3L), frames(30, 39))
    val q3 = startQuery()
    q3.processAllAvailable(); q3.stop()
    val out = EventTableSink.read(spark, table)
    assert(out.count() == 40, "replayed batch duplicated or lost rows")
    assert(out.select("record_pk").distinct().count() == 40)
  }

  // ---- 7. fenced writer: the superseded owner fails fast ---------------

  test("havoc: a superseded writer's upsert throws (fencing) and leaves " +
      "no staging debris behind") {
    implicit val s = spark
    import s.implicits._
    val path = tmpDir("hv_fence")
    val a = EventTableSink.openWriter(path)
    a.upsert(spark, Seq(("a", 1L, 0L, 1.0))
      .toDF("record_pk", "commit_lsn", "commit_idx", "v"))
    val b = EventTableSink.openWriter(path) // fences a
    b.upsert(spark, Seq(("b", 2L, 0L, 2.0))
      .toDF("record_pk", "commit_lsn", "commit_idx", "v"))
    val e = intercept[IllegalStateException] {
      a.upsert(spark, Seq(("zombie", 3L, 0L, 9.0))
        .toDF("record_pk", "commit_lsn", "commit_idx", "v"))
    }
    assert(e.getMessage.contains("fenced"))
    // the zombie's write left nothing: no .tmp- staging, no .txn-, no
    // zombie row
    import scala.jdk.CollectionConverters._
    val leftovers = Files.list(Paths.get(path)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith(".tmp-") || n.startsWith(".txn-")).toSeq
    assert(leftovers.isEmpty, s"staging debris: $leftovers")
    val pks = EventTableSink.read(spark, path)
      .select("record_pk").collect().map(_.getString(0)).toSet
    assert(pks == Set("a", "b"))
  }
}
