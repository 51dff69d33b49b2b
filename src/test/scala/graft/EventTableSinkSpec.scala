package graft

import graft.sinks.EventTableSink
import java.io.{BufferedInputStream, DataInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.spark.SpecListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The event-table upsert protocol: a generated last-writer-wins property
  * against an in-memory model, the recorded `_schema`, the per-dir `_keys`
  * index, the driver-side bucket of a pk, and the job and rewrite budget
  * of one upsert.
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
      assertKeysExact(dir, at, indexed = true)

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

  test("an upsert of a 20-row batch runs at most 3 Spark jobs, as many at 10x " +
      "the epoch dirs; re-applying it runs 1 and rewrites no (bucket, epoch) dir") {
    // 10 newer versions of stored pks plus 10 new pks, in a later epoch
    val batch = frame((91 to 110).map(i =>
      Rec(s"k$i", 1000L + i, 0L, "update", -i.toLong, None)))
    /** The jobs of `batch` into 100 stored pks spread over `epochs`
      * epochs per bucket.
      */
    def upsertJobs(tag: String, epochs: Int): (String, Int) = {
      val dir = tmpTable(tag)
      EventTableSink.upsert(spark, frame((1 to 100).map(i =>
        Rec(s"k$i", 8L + EpochWidth * (i % epochs), 0L, "insert", i.toLong, None))),
        dir, Buckets, EpochWidth)
      assert(dirKeys(dir).size == Buckets * epochs)
      dir -> jobsOf(EventTableSink.upsert(spark, batch, dir, Buckets, EpochWidth))
    }
    val (dir, jobs) = upsertJobs("jobs", 1)
    assert(jobs <= 3, s"$jobs jobs for one upsert")
    val before = dirKeys(dir)
    assert(before.nonEmpty)
    val replayJobs = jobsOf(EventTableSink.upsert(spark, batch, dir, Buckets, EpochWidth))
    assert(dirKeys(dir) == before, "the replay rewrote a dir")
    assert(replayJobs <= 1, s"$replayJobs jobs for a replay that writes nothing")
    val out = EventTableSink.read(spark, dir).collect().map(rec)
    assert(out.length == 110)
    assert(out.filter(_.v < 0).map(_.pk).toSet == (91 to 110).map(i => s"k$i").toSet)
    val (_, deepJobs) = upsertJobs("jobs10", 10)
    assert(deepJobs == jobs, s"$deepJobs jobs at 10x the epoch dirs, $jobs at 1x")
  }

  // ---- the `_keys` index ---------------------------------------------------

  /** Every live dir's `_keys` lists exactly the non-NULL `(pk, version)`s a
    * Spark read of the dir returns; with `indexed`, every dir has one.
    */
  private def assertKeysExact(dir: String, at: String, indexed: Boolean): Unit =
    keyIndex(spark, dir).foreach { case (d, (keys, stored)) =>
      assert(keys.isDefined || !indexed, s"$at: $d has no _keys")
      keys.foreach(k => assert(k == stored, s"$at: $d _keys $k, stored $stored"))
    }

  private def indexedDirs(dir: String): Set[String] =
    keyIndex(spark, dir).collect { case (d, (Some(_), _)) => d }.toSet

  test("_keys after retention's boundary rewrite and compact: absent or " +
      "exact, and the next upsert indexes the buckets it touches") {
    val dir = tmpTable("keys_ret")
    // lsn 0..413 in epochs 0..6 of both buckets
    val rows = (0 until 60).map(i => Rec(s"p$i", 7L * i, 0L, "insert", i.toLong, None))
    EventTableSink.upsert(spark, frame(rows), dir, Buckets, EpochWidth)
    assertKeysExact(dir, "upsert", indexed = true)
    // commit_lsn as the retention clock: epochs 0-1 drop, epoch 2 is cut
    assert(EventTableSink.retention(spark, dir, "commit_lsn", lit(150L)) > 0)
    val model = mutable.HashMap(rows.filter(_.lsn >= 150L).map(r => r.pk -> r): _*)
    assertKeysExact(dir, "retention", indexed = false)
    val rewritten = dirKeys(dir).keySet -- indexedDirs(dir)
    assert(rewritten.nonEmpty && rewritten.forall(_.endsWith("epoch=2")), rewritten)
    // groups {2, 3} (one source unindexed) and {4, 5} (both indexed)
    assert(EventTableSink.compact(spark, dir, uptoEpoch = 5, groupEpochs = 2) > 0)
    assertKeysExact(dir, "compact", indexed = false)
    assert(indexedDirs(dir).exists(_.endsWith("epoch=4")))
    assert(rewritten.forall(d => !indexedDirs(dir).contains(d)))
    val batch = Seq(Rec("p30", 500L, 0L, "update", -30L, None),
      Rec("p59", 501L, 0L, "delete", -59L, None)) ++
      (60 until 70).map(i => Rec(s"p$i", 502L + i, 0L, "insert", i.toLong, None))
    EventTableSink.upsert(spark, frame(batch), dir, Buckets, EpochWidth)
    batch.foreach(r => model(r.pk) = r)
    assert(EventTableSink.read(spark, dir).collect().map(rec).toSet == model.values.toSet)
    val touched = batch.map(r => s"bucket=${EventTableSink.bucketOfKey(r.pk, Buckets)}/").toSet
    assertKeysExact(dir, "upsert after compact", indexed = false)
    assert(dirKeys(dir).keySet.filter(d => touched.exists(d.startsWith)) == indexedDirs(dir)
      .filter(d => touched.exists(d.startsWith)))
  }

  test("_keys: a table without any (files only) upserts correctly and is " +
      "indexed, in place for dirs it keeps and staged for dirs it rewrites") {
    val dir = tmpTable("keys_legacy")
    EventTableSink.upsert(spark, v1(1 to 20, 8L), dir, Buckets, EpochWidth)
    EventTableSink.upsert(spark, v1(21 to 40, 72L), dir, Buckets, EpochWidth)
    def dropKeys(): Unit = dirKeys(dir).keys.foreach(d =>
      Files.deleteIfExists(Paths.get(dir).resolve(d).resolve("_keys")))
    dropKeys()
    assert(indexedDirs(dir).isEmpty)
    def lookup(pk: String): Set[Rec] =
      EventTableSink.lookup(spark, dir, pk, Buckets).collect().map(rec).toSet
    // an unindexed bucket is scanned whole
    assert(lookup("k5") == Set(Rec("k5", 8L, 0L, "insert", 5L, None)))
    // newer versions of epoch-1 pks and new pks: epoch 0 is kept, epoch 1
    // and the new epoch are rewritten
    val batch = frame((31 to 50).map(i => Rec(s"k$i", 200L + i, 0L, "update", -i.toLong, None)))
    EventTableSink.upsert(spark, batch, dir, Buckets, EpochWidth)
    val want = (1 to 30).map(i => Rec(s"k$i", if (i <= 20) 8L else 72L, 0L, "insert", i.toLong,
      None)) ++ (31 to 50).map(i => Rec(s"k$i", 200L + i, 0L, "update", -i.toLong, None))
    assert(EventTableSink.read(spark, dir).collect().map(rec).toSet == want.toSet)
    assertKeysExact(dir, "legacy upsert", indexed = true)
    // an indexed bucket: only the dir listing the pk, or no scan at all
    assert(lookup("k5") == Set(Rec("k5", 8L, 0L, "insert", 5L, None)))
    assert(lookup("k45") == Set(Rec("k45", 245L, 0L, "update", -45L, None)))
    assert(lookup("absent").isEmpty)
    // a replay into an unindexed table rewrites nothing and indexes it
    dropKeys()
    val before = dirKeys(dir)
    EventTableSink.upsert(spark, batch, dir, Buckets, EpochWidth)
    assert(dirKeys(dir) == before, "the replay rewrote a dir")
    assertKeysExact(dir, "legacy replay", indexed = true)
  }

  // ---- crash points of the commit protocol ---------------------------------

  /** A copy of the table at `src` in a new dir, hidden names included. */
  private def copyTable(src: String, tag: String): String = {
    val (from, to) = (Paths.get(src), Paths.get(tmpTable(tag)))
    val all = { val s = Files.walk(from); try s.iterator().asScala.toList finally s.close() }
    all.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    to.toString
  }

  /** What a reader sees of a one-bucket table: its live dirs, `read`,
    * `changesBetween` over each window and `lookup` of each pk.
    */
  private def readerView(dir: String, pks: Seq[String],
      windows: Seq[(Long, Long)]): (Set[String], Seq[Set[Rec]]) =
    (dirKeys(dir).keySet, EventTableSink.read(spark, dir).collect().map(rec).toSet +:
      (windows.map { case (from, to) =>
        EventTableSink.changesBetween(spark, dir, from, to, EpochWidth).collect().map(rec).toSet
      } ++ pks.map(pk => EventTableSink.lookup(spark, dir, pk, 1).collect().map(rec).toSet)))

  /** Stage a mutation once on a copy of the table at `dir`, then stop its
    * protocol at every step, each on a fresh copy of the staged table:
    * partial staging (no manifest yet), fully staged, committed, and after
    * each rename of the finish — the last stop is finished but not cleaned
    * up. `raw` sees each rename stop before `repair`. After `repair`, every
    * stop before the commit must read as the table before the mutation,
    * every later one as the table after it, whose `read` is `want`; every
    * live `_keys` is exact and no `.tmp-` or `.txn-` is left. Returns the
    * number of renames.
    */
  private def checkCrashPoints(dir: String, pks: Seq[String], windows: Seq[(Long, Long)],
      want: Set[Rec], raw: (Int, String) => Unit = (_, _) => ())(
      stage: String => Option[EventTableSink.Staged]): Int = {
    val pre = readerView(dir, pks, windows)
    val staged = copyTable(dir, "staged")
    val s = stage(staged).get
    def commit(d: String): Path = EventTableSink.commit(d, s, None)
    def at(name: String)(steps: String => Unit): (Set[String], Seq[Set[Rec]]) = {
      val d = copyTable(staged, "stop")
      steps(d)
      EventTableSink.repair(d)
      val left = { val l = Files.list(Paths.get(d)); try l.iterator().asScala.toList finally l.close() }
        .map(_.getFileName.toString).filter(n => n.startsWith(".tmp-") || n.startsWith(".txn-"))
      assert(left.isEmpty, s"$name: left $left")
      assertKeysExact(d, name, indexed = false)
      readerView(d, pks, windows)
    }
    val post = at("finished")(d => EventTableSink.finish(Paths.get(d), commit(d)))
    assert(post._2.head == want, s"finished: read ${post._2.head}, want $want")
    assert(post != pre, "the mutation changed nothing")
    assert(at("partial staging")(d => Files.delete(Paths.get(d, s".tmp-${s.id}", "_manifest"))) == pre)
    assert(at("fully staged")(_ => ()) == pre)
    assert(at("committed")(commit(_)) == post)
    val renames = { val d = copyTable(staged, "renames"); EventTableSink.moves(Paths.get(d), commit(d)).size }
    (1 to renames).foreach { k =>
      assert(at(s"$k of $renames renames") { d =>
        EventTableSink.moves(Paths.get(d), commit(d)).take(k).foreach(EventTableSink.move)
        raw(k, d)
      } == post, s"$k of $renames renames")
    }
    renames
  }

  private def recs(pks: Range, lsn: Int => Long): Seq[Rec] = {
    val rnd = new scala.util.Random(20261020L)
    pks.map(i => Rec(s"p$i", lsn(i), 0L, "insert", rnd.nextInt(1000).toLong, None))
  }

  test("crash points of an upsert: a winner moving to a later epoch, a new epoch " +
      "and an unindexed dir, all or nothing after repair") {
    val dir = tmpTable("crash_upsert")
    // epoch 0: p0-p2, epoch 1: p3-p5, epoch 2: p6-p8 — one bucket
    val table = recs(0 to 8, i => 8L + 64L * (i / 3) + i)
    EventTableSink.upsert(spark, frame(table), dir, 1, EpochWidth)
    Files.delete(Paths.get(dir, "bucket=0", "epoch=0", "_keys"))
    // p3 moves from epoch 1 to epoch 2, p9 opens epoch 3, p4's row is stale
    val batch = Seq(Rec("p3", 160L, 0L, "update", -3L, None),
      Rec("p9", 200L, 0L, "insert", 9L, None), Rec("p4", 70L, 0L, "update", -4L, None))
    val want = table.filterNot(_.pk == "p3").toSet ++ batch.take(2)
    val renames = checkCrashPoints(dir, Seq("p3", "p0"), Seq((64L, 159L)),
      want, raw = (k, d) => if (k == 2) {
        // epoch 1 is replaced, epoch 2 not yet: p3 is in no live dir
        assert(spark.read.parquet(d).filter(col("record_pk") === "p3").isEmpty)
      }) { d =>
      EventTableSink.stageUpsert(spark, frame(batch), d, 1, EpochWidth)
    }
    // replace epochs 1 and 2 (two renames each), add epoch 3, index epoch 0
    assert(renames == 6)
  }

  test("crash points of a retention with one full drop and one boundary " +
      "rewrite: all or nothing after repair") {
    val dir = tmpTable("crash_retention")
    // lsn 0..132: epoch 0 expires whole, epoch 1 in part, epoch 2 not at all
    val table = recs(0 to 11, i => 12L * i)
    EventTableSink.upsert(spark, frame(table), dir, 1, EpochWidth)
    val renames = checkCrashPoints(dir, Seq("p0", "p7"), Seq((50L, 110L)),
      table.filter(_.lsn >= 100L).toSet) { d =>
      EventTableSink.stageRetention(spark, d, "commit_lsn", lit(100L))._2
    }
    assert(renames == 3)
  }

  test("crash points of a compact of three epochs: all or nothing after repair") {
    val dir = tmpTable("crash_compact")
    // epochs 0, 1 and 2 compact into one dir labeled 0; epoch 3 stays
    val table = recs(0 to 7, i => 20L * i + 4) :+ Rec("p8", 200L, 0L, "insert", 8L, None)
    EventTableSink.upsert(spark, frame(table), dir, 1, EpochWidth)
    val renames = checkCrashPoints(dir, Seq("p4"), Seq((70L, 130L)),
      table.toSet) { d =>
      EventTableSink.stageCompact(spark, d, uptoEpoch = 2, groupEpochs = 4)._2
    }
    assert(renames == 4)
  }

  test("retention fails on an unparseable _schema instead of evicting nothing") {
    val dir = tmpTable("bad_schema")
    EventTableSink.upsert(spark, v1(1 to 10, 8L), dir, Buckets, EpochWidth)
    Files.writeString(Paths.get(dir, "_schema"), "{ torn")
    intercept[Exception](EventTableSink.read(spark, dir))
    intercept[Exception](EventTableSink.retention(spark, dir, "commit_lsn", lit(100L)))
  }

  test("changesBetween fails on an unparseable _compaction instead of " +
      "returning fewer rows") {
    val dir = tmpTable("bad_span")
    EventTableSink.upsert(spark, frame(recs(0 to 7, i => 20L * i + 4)), dir, 1, EpochWidth)
    assert(EventTableSink.compact(spark, dir, uptoEpoch = 2, groupEpochs = 4) > 0)
    assert(EventTableSink.changesBetween(spark, dir, 70L, 130L, EpochWidth).count() == 3)
    Seq("", "not a span", "0").foreach { torn =>
      Files.writeString(Paths.get(dir, "_compaction"), torn)
      val e = intercept[IllegalStateException](
        EventTableSink.changesBetween(spark, dir, 70L, 130L, EpochWidth))
      assert(e.getMessage.contains("_compaction"), e.getMessage)
    }
  }

  test("an upsert whose record_pk is not a string fails on entry and writes nothing") {
    val dir = tmpTable("intpk")
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      EventTableSink.upsert(spark, Seq((1, 8L, 0L)).toDF("record_pk", "commit_lsn", "commit_idx"),
        dir, Buckets, EpochWidth)
    }
    assert(e.getMessage.contains("record_pk must be a string column"), e.getMessage)
    assert(!Files.exists(Paths.get(dir)))
  }

  test("bucketOfKey computes bucketOf on the driver, for empty and non-ASCII pks") {
    val rnd = new scala.util.Random(20261019L)
    val pks = Seq("", " ", "é", "日本語", "\uD83D\uDE42", "a\u0000b") ++
      (0 until 1000).map(i => if (i % 2 == 0) s"k$i"
        else Iterator.continually(rnd.nextPrintableChar()).take(rnd.nextInt(12)).mkString +
          { val cp = 0x80 + rnd.nextInt(0x30000) // no lone surrogates
            new String(Character.toChars(if (cp >= 0xD800 && cp < 0xE000) cp - 0x800 else cp)) })
    import spark.implicits._
    Seq(1, 2, 7, 8, 64).foreach { n =>
      val want = pks.toDF("pk").select(col("pk"), EventTableSink.bucketOf(col("pk"), n))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      pks.foreach(pk => assert(EventTableSink.bucketOfKey(pk, n) == want(pk), s"$pk mod $n"))
    }
  }
}

object EventTableSinkSpec {
  /** A `_keys` entry: pk, commit_lsn, commit_idx. */
  type Key = (String, Option[Long], Option[Long])

  /** A `_keys` file's entries: a count, then per entry the pk's UTF-8
    * bytes behind their length and a NULL flag plus a long per version
    * part.
    */
  def readKeys(f: Path): Seq[Key] = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(f)))
    def part(): Option[Long] = { val isNull = in.readBoolean(); val v = in.readLong()
      if (isNull) None else Some(v) }
    try Seq.fill(in.readInt()) {
      val bytes = new Array[Byte](in.readInt())
      in.readFully(bytes)
      val lsn = part()
      (new String(bytes, UTF_8), lsn, part())
    } finally in.close()
  }

  /** Per live `bucket=B/epoch=E` dir: its `_keys` entries (None without
    * one) and the non-NULL `(pk, version)`s a Spark read of it returns,
    * both sorted.
    */
  def keyIndex(spark: SparkSession, dir: String): Map[String, (Option[Seq[Key]], Seq[Key])] = {
    def ls(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    val root = Paths.get(dir)
    val dirs = ls(root).filter(_.getFileName.toString.startsWith("bucket=")).flatMap(b =>
      ls(b).filter(_.getFileName.toString.startsWith("epoch=")))
    if (dirs.isEmpty) return Map.empty
    val stored = spark.read.parquet(dir).filter(col("record_pk").isNotNull)
      .select(col("record_pk"), col("commit_lsn").cast("long"), col("commit_idx").cast("long"),
        col("bucket"), col("epoch")).collect()
      .groupBy(r => s"bucket=${r.getInt(3)}/epoch=${r.getInt(4)}")
      .map { case (d, rs) => d -> rs.map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), Option(r.get(2)).map(_.asInstanceOf[Long])))
        .toSeq.sorted }
    dirs.map { d =>
      val rel = root.relativize(d).toString
      val keys = Some(d.resolve("_keys")).filter(Files.exists(_)).map(readKeys(_).sorted)
      rel -> (keys, stored.getOrElse(rel, Nil))
    }.toMap
  }

  final case class Rec(pk: String, lsn: Long, idx: Long, action: String,
      v: Long, extra: Option[Long]) {
    def version: (Long, Long) = (lsn, idx)
  }

  /** Three batches and the read windows checked after each. */
  final case class Sequence(batches: Seq[Seq[Rec]], windows: Seq[(Long, Long)],
      cuts: Seq[(Long, Long)])
}
