package graft

import graft.sinks.EventTableSink
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.spark.SpecListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The event-table upsert protocol: a generated last-writer-wins property
  * against an in-memory model, the recorded `_schema`, and the job and
  * rewrite budget of one upsert.
  */
class EventTableSinkSpec extends SparkSpec {
  import EventTableSinkSpec._

  private val Buckets = 2
  private val EpochWidth = 64L

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"graft_ets_$tag").toString + "/events"

  private val narrow = StructType(Seq(
    StructField("record_pk", StringType), StructField("commit_lsn", LongType),
    StructField("commit_idx", LongType), StructField("action", StringType),
    StructField("v", LongType)))

  /** A batch as a DataFrame; it carries `extra` only if its rows do. */
  private def frame(batch: Seq[Rec]): DataFrame =
    if (batch.exists(_.extra.isDefined))
      spark.createDataFrame(batch.map(r =>
        Row(r.pk, r.lsn, r.idx, r.action, r.v, r.extra.get)).asJava,
        narrow.add("extra", LongType))
    else
      spark.createDataFrame(batch.map(r =>
        Row(r.pk, r.lsn, r.idx, r.action, r.v)).asJava, narrow)

  private def rec(r: Row): Rec = {
    val extra =
      if (r.schema.fieldNames.contains("extra") && !r.isNullAt(r.fieldIndex("extra")))
        Some(r.getAs[Long]("extra"))
      else None
    Rec(r.getAs[String]("record_pk"), r.getAs[Long]("commit_lsn"),
      r.getAs[Long]("commit_idx"), r.getAs[String]("action"), r.getAs[Long]("v"), extra)
  }

  // ---- generated last-writer-wins property ------------------------------

  private def rows(pks: Seq[Int], lsns: Seq[Long], extra: Boolean): Gen[Seq[Rec]] =
    Gen.sequence[Seq[Rec], Rec](pks.zip(lsns).map { case (p, lsn) =>
      for {
        idx <- Gen.choose(0L, 2L)
        action <- Gen.frequency(3 -> "insert", 2 -> "update", 1 -> "delete")
        v <- Gen.choose(0L, 1000L)
        x <- Gen.choose(0L, 1000L)
      } yield Rec(s"p$p", lsn, idx, action, v, if (extra) Some(x) else None)
    })

  /** Batch 1 holds duplicate pks and a delete; batch 2 adds the `extra`
    * column and mixes rows OLDER than batch 1's versions (lsn < 100) with
    * newer ones (lsn >= 200); batch 3 replays batch 1 or 2. lsns are
    * drawn without replacement, so versions tie only in the replay.
    */
  private val genSequence: Gen[Sequence] = for {
    n1 <- Gen.choose(3, 50)
    dup <- Gen.choose(0, 14)
    rest <- Gen.listOfN(n1 - 2, Gen.choose(0, 14))
    lsn1 <- Gen.pick(n1, 100L until 200L)
    raw1 <- rows(dup +: dup +: rest, lsn1.toSeq, extra = false)
    b1 = raw1.updated(0, raw1.head.copy(action = "delete"))
    nOld <- Gen.choose(1, 25)
    nNew <- Gen.choose(1, 25)
    old <- Gen.listOfN(nOld - 1, Gen.choose(0, 24))
    fresh <- Gen.listOfN(nNew, Gen.choose(0, 24))
    lsnOld <- Gen.pick(nOld, 0L until 100L)
    lsnNew <- Gen.pick(nNew, 200L until 300L)
    b2 <- rows((dup +: old) ++ fresh, lsnOld.toSeq ++ lsnNew.toSeq, extra = true)
    replay <- Gen.oneOf(b1, b2)
    windows <- Gen.listOfN(3, Gen.zip(Gen.choose(-1L, 300L), Gen.choose(0L, 150L)))
    cuts <- Gen.listOfN(3, Gen.zip(Gen.choose(0L, 300L), Gen.choose(0L, 2L)))
  } yield Sequence(Seq(b1, b2, replay),
    windows.map { case (from, w) => (from, from + w) }, cuts)

  private def checkSequence(s: Sequence, n: Int): Unit = {
    val dir = tmpTable(s"lww$n")
    val model = mutable.HashMap.empty[String, Rec]
    val newer = scala.math.Ordering[(Long, Long)]
    s.batches.zipWithIndex.foreach { case (batch, i) =>
      EventTableSink.upsert(spark, frame(batch), dir, Buckets, EpochWidth)
      batch.foreach(r => if (model.get(r.pk).forall(m => newer.lt(m.version, r.version)))
        model(r.pk) = r)
      val at = s"sequence $n batch $i"

      val got = EventTableSink.read(spark, dir).collect().map(rec).toSet
      assert(got == model.values.toSet, s"$at: read diverges from the model " +
        s"(unexpected ${got -- model.values}, missing ${model.values.toSet -- got})")

      val (from, to) = s.windows(i)
      val feed = EventTableSink.changesBetween(spark, dir, from, to, EpochWidth)
        .collect().map(r => (rec(r), r.getAs[String]("net_effect"))).toSet
      val wantFeed = model.values.filter(r => r.lsn > from && r.lsn <= to)
        .map(r => (r, if (r.action == "delete") "delete" else "upsert")).toSet
      assert(feed == wantFeed, s"$at: changesBetween($from, $to)")

      val (lsn, idx) = s.cuts(i)
      val asOf = EventTableSink.stateAsOf(spark, dir, lsn, idx, EpochWidth)
        .collect().map(rec).toSet
      val wantAsOf = model.values.filter(r =>
        !newer.gt(r.version, (lsn, idx)) && r.action != "delete").toSet
      assert(asOf == wantAsOf, s"$at: stateAsOf($lsn, $idx)")
    }
  }

  test("generated sequences: read, changesBetween and stateAsOf match a " +
      "last-writer-wins model after every upsert") {
    val sequences = Gen.listOfN(10, genSequence)
      .pureApply(Gen.Parameters.default, Seed(20261019L))
    val deadline = System.nanoTime() + 60L * 1000000000L
    var checked = 0
    while (checked < sequences.size && System.nanoTime() < deadline) {
      checkSequence(sequences(checked), checked)
      checked += 1
    }
    info(s"$checked of ${sequences.size} sequences checked within the 60 s cap")
    assert(checked >= 1)
  }

  // ---- recorded table schema ---------------------------------------------

  private def v1(pks: Range, lsn: Long): DataFrame =
    frame(pks.map(i => Rec(s"k$i", lsn, 0L, "insert", i.toLong, None)))

  test("_schema: a table without one (files only) reads and upserts " +
      "correctly, then records its schema") {
    val dir = tmpTable("legacy")
    val schemaFile = Paths.get(dir).resolve("_schema")
    EventTableSink.upsert(spark, v1(1 to 10, 8L), dir, Buckets, EpochWidth)
    EventTableSink.upsert(spark, frame((11 to 20).map(i =>
      Rec(s"k$i", 80L, 0L, "insert", i.toLong, Some(i * 10L)))), dir, Buckets, EpochWidth)
    val want = EventTableSink.read(spark, dir).collect().map(rec).toSet
    val recorded = EventTableSink.tableSchema(spark, dir)
    assert(recorded.exists(_.fieldNames.contains("extra")))
    // the layout an older sink left: the same files, no `_schema`
    Files.delete(schemaFile)

    assert(EventTableSink.read(spark, dir).collect().map(rec).toSet == want)
    assert(EventTableSink.tableSchema(spark, dir) == recorded)
    Files.delete(schemaFile)

    // a newer version of k3 (narrow batch) into the file-only table
    EventTableSink.upsert(spark, frame(Seq(Rec("k3", 200L, 0L, "update", 33L, None))),
      dir, Buckets, EpochWidth)
    assert(Files.exists(schemaFile))
    assert(EventTableSink.tableSchema(spark, dir) == recorded)
    val after = EventTableSink.read(spark, dir).collect().map(rec).toSet
    assert(after == want.filterNot(_.pk == "k3") +
      Rec("k3", 200L, 0L, "update", 33L, None))
  }

  // ---- job and rewrite budget ------------------------------------------

  /** Spark jobs `body` starts on this thread. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"ets-${System.nanoTime()}"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          started.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "event-table job count")
    try body
    finally {
      sc.clearJobGroup()
      SpecListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    started.get()
  }

  /** Live `(bucket, epoch)` dirs with their file identities. */
  private def dirKeys(dir: String): Map[String, AnyRef] = {
    def ls(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    val root = Paths.get(dir)
    ls(root).filter(_.getFileName.toString.startsWith("bucket=")).flatMap(b =>
      ls(b).filter(_.getFileName.toString.startsWith("epoch=")).map(e =>
        root.relativize(e).toString ->
          Files.readAttributes(e, classOf[BasicFileAttributes]).fileKey()))
      .toMap
  }

  test("an upsert of a 20-row batch runs at most 4 Spark jobs; " +
      "re-applying it rewrites no (bucket, epoch) dir") {
    val dir = tmpTable("jobs")
    EventTableSink.upsert(spark, v1(1 to 100, 8L), dir, Buckets, EpochWidth)
    // 10 newer versions of stored pks plus 10 new pks, in a later epoch
    val batch = frame((91 to 110).map(i =>
      Rec(s"k$i", 130L + i, 0L, "update", -i.toLong, None)))
    val jobs = jobsOf(EventTableSink.upsert(spark, batch, dir, Buckets, EpochWidth))
    assert(jobs <= 4, s"$jobs jobs for one upsert")
    val before = dirKeys(dir)
    assert(before.nonEmpty)
    val replayJobs = jobsOf(EventTableSink.upsert(spark, batch, dir, Buckets, EpochWidth))
    assert(dirKeys(dir) == before, "the replay rewrote a dir")
    assert(replayJobs <= 2, s"$replayJobs jobs for a replay that writes nothing")
    val out = EventTableSink.read(spark, dir).collect().map(rec)
    assert(out.length == 110)
    assert(out.filter(_.v < 0).map(_.pk).toSet == (91 to 110).map(i => s"k$i").toSet)
  }
}

object EventTableSinkSpec {
  final case class Rec(pk: String, lsn: Long, idx: Long, action: String,
      v: Long, extra: Option[Long]) {
    def version: (Long, Long) = (lsn, idx)
  }

  /** Three batches and the read windows checked after each. */
  final case class Sequence(batches: Seq[Seq[Rec]], windows: Seq[(Long, Long)],
      cuts: Seq[(Long, Long)])
}
