package graft

import graft.model.ChangeEvent
import graft.sinks.EventTableSink
import graft.streaming.{CdcPipeline, ConsumerConfig, GroupFifo}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** End-to-end streaming semantics: per-group FIFO order, exactly-once
  * under redelivery, idempotent sink upserts — the Spark rendition of the
  * reference's slot_message_store_state_test + e2e assertions.
  */
class StreamingSpec extends SparkSpec {

  private def ev(lsn: Long, idx: Long, group: String, pk: String,
      action: String = "update", value: Double = 1.0): ChangeEvent =
    ChangeEvent(lsn, idx, Timestamp.valueOf("2024-01-01 00:00:00"), action,
      "public", "t0", 16384L, pk, pk.toLong, group.toLong, value, """{"k":1}""",
      Some(value - 1), s"$lsn:$idx", group, 100L)

  test("StreamingFunnel: in-order feed matches the batch funnel chain") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.{FunnelEvent => FE}
    val input = MemoryStream[FE]
    val steps = Seq("signup", "click", "purchase")
    val query = StreamingFunnel.track(input.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_prog")
      .outputMode("append").start()
    try {
      input.addData(FE(1L, 1L, 10L, "signup"), FE(1L, 2L, 10L, "click"),
        FE(2L, 3L, 5L, "signup"))
      query.processAllAvailable()
      input.addData(FE(1L, 4L, 20L, "click"), FE(1L, 5L, 30L, "purchase"),
        FE(2L, 6L, 7L, "purchase"))
      query.processAllAvailable()
      val prog = spark.table("funnel_prog")
        .as[StreamingFunnel.FunnelProgress].collect()
        .groupBy(_.user_id).view.mapValues(
          _.sortBy(_.depth).map(p => (p.depth, p.t_us)).toSeq).toMap
      // user 1: tie at us=10 must NOT chain (strict >); full chain by b2
      assert(prog(1L) == Seq((1, 10L), (2, 20L), (3, 30L)))
      // user 2: purchase can't skip the click step
      assert(prog(2L) == Seq((1, 5L)))
      // parity with the batch funnel on the union of both batches
      val batch = graft.ops.Behavior.funnel(
        Seq((1L, 10L, "signup"), (1L, 10L, "click"), (2L, 5L, "signup"),
          (1L, 20L, "click"), (1L, 30L, "purchase"), (2L, 7L, "purchase"))
          .toDF("user_id", "us", "event_type"),
        "user_id", "us", "event_type", steps).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("depth")).toMap
      assert(batch == Map(1L -> 3, 2L -> 1))
    } finally query.stop()
  }

  test("StreamingFunnel: a non-chaining arrival is dropped, not buffered") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.{FunnelEvent => FE}
    val input = MemoryStream[FE]
    val query = StreamingFunnel.track(input.toDS(),
        Seq("signup", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_late")
      .outputMode("append").start()
    try {
      // purchase@30 arrives while depth=1; the click@20 that unlocks it
      // arrives a batch LATER — the purchase is not retried (documented
      // lambda contract: batch funnel reconciles)
      input.addData(FE(1L, 1L, 10L, "signup"), FE(1L, 2L, 30L, "purchase"))
      query.processAllAvailable()
      input.addData(FE(1L, 3L, 20L, "click"))
      query.processAllAvailable()
      val prog = spark.table("funnel_late")
        .as[StreamingFunnel.FunnelProgress].collect().sortBy(_.depth)
        .map(p => (p.depth, p.t_us)).toSeq
      assert(prog == Seq((1, 10L), (2, 20L)))
    } finally query.stop()
  }

  test("GroupFifo: per-group order restored, duplicates across batches dropped") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ChangeEvent]
    val query = GroupFifo.deliver(input.toDS())
      .writeStream.format("memory").queryName("fifo_out")
      .outputMode("append").start()
    try {
      // batch 1: out of order within groups
      input.addData(ev(16, 1, "7", "3"), ev(8, 0, "7", "1"), ev(8, 2, "9", "2"))
      query.processAllAvailable()
      // batch 2: replay of (8,0) + new events, again out of order
      input.addData(ev(8, 0, "7", "1"), ev(24, 0, "7", "4"), ev(16, 0, "9", "5"))
      query.processAllAvailable()

      val out = spark.table("fifo_out").as[ChangeEvent].collect()
      val g7 = out.filter(_.group_id == "7").map(e => (e.commit_lsn, e.commit_idx))
      val g9 = out.filter(_.group_id == "9").map(e => (e.commit_lsn, e.commit_idx))
      // exactly-once: replayed (8,0) delivered a single time
      assert(g7.toSeq == Seq((8L, 0L), (16L, 1L), (24L, 0L)))
      assert(g9.toSeq == Seq((8L, 2L), (16L, 0L)))
    } finally query.stop()
  }

  test("GroupFifo: a duplicate within ONE micro-batch is delivered once") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ChangeEvent]
    val query = GroupFifo.deliver(input.toDS())
      .writeStream.format("memory").queryName("fifo_inbatch")
      .outputMode("append").start()
    try {
      input.addData(ev(8, 0, "7", "1"), ev(8, 0, "7", "1"), ev(16, 0, "7", "2"))
      query.processAllAvailable()
      val out = spark.table("fifo_inbatch").as[ChangeEvent].collect()
      assert(out.map(e => (e.commit_lsn, e.commit_idx)).toSeq ==
        Seq((8L, 0L), (16L, 0L)))
    } finally query.stop()
  }

  test("GroupFifo: stale events at or below the delivered cursor never re-emit") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ChangeEvent]
    val query = GroupFifo.deliver(input.toDS())
      .writeStream.format("memory").queryName("fifo_stale")
      .outputMode("append").start()
    try {
      input.addData(ev(100, 5, "1", "1"))
      query.processAllAvailable()
      input.addData(ev(100, 5, "1", "1"), ev(100, 4, "1", "2"), ev(100, 6, "1", "3"))
      query.processAllAvailable()
      val out = spark.table("fifo_stale").as[ChangeEvent].collect()
        .map(e => (e.commit_lsn, e.commit_idx))
      assert(out.toSeq == Seq((100L, 5L), (100L, 6L)))
    } finally query.stop()
  }

  test("CdcPipeline plan applies identically to batch and streaming inputs") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = ConsumerConfig(name = "c1",
      scope = graft.ops.SourceScope(includeSchemas = Some(Seq("public"))),
      actions = Seq("insert", "update"))
    val events = Seq(
      ev(8, 0, "7", "1", action = "insert"),
      ev(8, 1, "7", "2", action = "delete"),
      ev(16, 0, "9", "3", action = "update"))

    val batchOut = CdcPipeline.build(events.toDF(), cfg)
      .select("record_pk", "topic").orderBy("record_pk").collect()
      .map(r => (r.getString(0), r.getString(1)))

    val input = MemoryStream[ChangeEvent]
    val query = CdcPipeline.build(input.toDF(), cfg)
      .writeStream.format("memory").queryName("pipe_out")
      .outputMode("append").start()
    try {
      input.addData(events: _*)
      query.processAllAvailable()
      val streamOut = spark.table("pipe_out")
        .select("record_pk", "topic").orderBy("record_pk").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(batchOut.toSeq == streamOut.toSeq)
      assert(batchOut.map(_._1).toSeq == Seq("1", "3")) // delete filtered
      assert(batchOut.head._2 == "c1.public.t0")        // routing topic
    } finally query.stop()
  }

  test("windowedMetrics finalizes event-time windows once; late data is dropped") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(ts: String, value: Double = 1.0) =
      ev(8, 0, "7", "1", action = "update", value = value)
        .copy(commit_ts = Timestamp.valueOf(ts))

    val input = MemoryStream[ChangeEvent]
    val query = CdcPipeline.windowedMetrics(input.toDF())
      .writeStream.format("memory").queryName("win_metrics")
      .outputMode("append").start()
    try {
      // hour 00 gets two events, hour 01 one
      input.addData(at("2024-01-01 00:10:00", 2.0), at("2024-01-01 00:20:00", 3.0),
        at("2024-01-01 01:05:00", 5.0))
      query.processAllAvailable()
      // advance event time far enough to close hours 00 and 01
      input.addData(at("2024-01-01 02:30:00"))
      query.processAllAvailable()
      // a LATE event for hour 00 (watermark has passed) must be dropped
      input.addData(at("2024-01-01 00:30:00", 100.0))
      query.processAllAvailable()
      input.addData(at("2024-01-01 03:30:00"))
      query.processAllAvailable()

      val rows = spark.table("win_metrics")
        .select("hour_us", "n", "sum_cents").orderBy("hour_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val h0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000
      val h1 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00").getTime * 1000
      // hour 00 finalized ONCE with only the on-time events (2.0 + 3.0)
      assert(rows.count(_._1 == h0) == 1)
      assert(rows.find(_._1 == h0).get == ((h0, 2L, 500L)))
      assert(rows.find(_._1 == h1).get == ((h1, 1L, 500L)))
    } finally query.stop()
  }

  test("incremental view maintained per micro-batch converges to the " +
      "one-shot batch view under cross-batch pk churn") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.IncrementalView
    // (lsn, action, pk, group, new_v, old_v) — pk lifecycles SPAN batches:
    // a pk inserted in batch 1 is updated in batch 2 and deleted in
    // batch 3, so each advance must subtract exactly the image the prior
    // batch added.
    val batches = Seq(
      Seq((1L, "insert", "a", "g1", Some(10L), None),
        (2L, "insert", "b", "g1", Some(20L), None),
        (3L, "insert", "c", "g2", Some(5L), None)),
      Seq((4L, "update", "a", "g1", Some(15L), Some(10L)),
        (5L, "delete", "b", "g1", None, Some(20L)),
        (6L, "insert", "d", "g2", Some(7L), None)),
      Seq((7L, "delete", "a", "g1", None, Some(15L)),
        (8L, "update", "c", "g2", Some(9L), Some(5L)),
        (9L, "update", "d", "g2", Some(8L), Some(7L))))
    val measures = Seq(
      IncrementalView.liveCount(col("action")),
      IncrementalView.sumOf("s", col("action"), col("new_v"), col("old_v")))

    val input = MemoryStream[(Long, String, String, String, Option[Long], Option[Long])]
    var view: Option[org.apache.spark.sql.DataFrame] = None
    val query = input.toDF()
      .toDF("lsn", "action", "pk", "g", "new_v", "old_v")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // localCheckpoint each generation: the view's lineage stays one
        // step deep no matter how many micro-batches have been applied
        view = Some((view match {
          case None    => IncrementalView.delta(batch, col("g"), measures)
          case Some(v) => IncrementalView.advance(v, batch, col("g"), measures)
        }).localCheckpoint())
      }.start()
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()

    val got = view.get.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // ground truth: live rows after all 9 changes are c=9 and d=8 (g2)
    assert(got == Map("g1" -> ((0L, 0L)), "g2" -> ((2L, 17L))))
    val oneShot = IncrementalView.delta(
      batches.flatten.toDF("lsn", "action", "pk", "g", "new_v", "old_v"),
      col("g"), measures).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == oneShot)
  }

  test("declare via REST, execute via Spark: an API-created sink consumer " +
      "and an applied change_retention drive the real pipelines") {
    implicit val s = spark
    import s.implicits._
    val api = new graft.config.ManagementApi
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(path: String, body: String): Int = {
        val req = java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${api.port()}$path"))
          .header("Content-Type", "application/json")
          .header("Authorization", s"Bearer ${api.bootstrapToken}")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
        client.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      // the config the operator POSTs is the config the engine runs
      assert(post("/api/sinks",
        """{"name":"c1","source":{"include_schemas":["public"]},
          |"actions":["insert"],
          |"filter_function":"record_value >= 2.0",
          |"destination":{"type":"kafka","topic":"t"}}""".stripMargin) == 200)
      val rows = Seq(
        ev(8, 0, "7", "1", action = "insert", value = 1.0),   // value filter
        ev(16, 0, "7", "2", action = "insert", value = 5.0),  // passes
        ev(24, 0, "7", "3", action = "update", value = 5.0))  // action filter
      val out = graft.streaming.CdcPipeline
        .build(rows.toDF(), api.consumers().head)
        .select("record_pk").collect().map(_.getString(0))
      assert(out.toSeq == Seq("2"))

      // a change_retention applied as YAML scopes what the event table
      // retains — the declared config drives EventTableSink end to end
      val yaml =
        """change_retentions:
          |  - name: "keep-t0"
          |    source_database: "d"
          |    source_table_schema: "public"
          |    source_table_name: "t0"
          |    destination_database: "d"
          |    destination_table_schema: "audit"
          |    destination_table_name: "t0_events"
          |    actions:
          |      - insert
          |""".stripMargin
      val body = s"""{"yaml": ${com.fasterxml.jackson.databind.node
        .JsonNodeFactory.instance.textNode(yaml).toString}}"""
      assert(post("/api/config/apply", body) == 200)
      val dir = java.nio.file.Files.createTempDirectory("graft_retcfg")
        .toString + "/t0_events"
      val cdcRows = Seq(
        ev(8, 0, "7", "10", action = "insert", value = 1.0),
        ev(16, 0, "7", "11", action = "delete", value = 2.0)) // action-scoped out
      EventTableSink.upsert(spark,
        api.changeRetentions().head.scope(cdcRows.toDF()), dir, numBuckets = 2)
      assert(EventTableSink.read(spark, dir).select("record_pk")
        .collect().map(_.getString(0)).toSeq == Seq("10"))
    } finally api.stop()
  }

  test("stream-stream interval join (watermarked, append) matches the " +
      "batch join on the same data") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // impressions joined to clicks within [imp_ts, imp_ts + 10s] per user
    // — the attribution shape of q59, as a genuine stream-stream join:
    // watermarks on BOTH sides + the interval condition let Spark bound
    // each side's state store; without them the join would buffer the
    // streams forever (the 100 TB streaming cliff).
    val imp = MemoryStream[(Long, Long, Long)] // (imp_id, user_id, sec)
    val clk = MemoryStream[(Long, Long, Long)] // (clk_id, user_id, sec)
    def impDf(df: org.apache.spark.sql.DataFrame) = df
      .toDF("imp_id", "i_user", "i_sec")
      .select(col("imp_id"), col("i_user"),
        timestamp_seconds(col("i_sec")).as("i_ts"))
    def clkDf(df: org.apache.spark.sql.DataFrame) = df
      .toDF("clk_id", "c_user", "c_sec")
      .select(col("clk_id"), col("c_user"),
        timestamp_seconds(col("c_sec")).as("c_ts"))
    val cond = expr(
      "i_user = c_user AND c_ts >= i_ts AND c_ts <= i_ts + interval 10 seconds")
    val joined = impDf(imp.toDF()).withWatermark("i_ts", "20 seconds")
      .join(clkDf(clk.toDF()).withWatermark("c_ts", "20 seconds"), cond)
      .select(col("imp_id"), col("clk_id"))
    val query = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      // phase 1 — on-time data (watermark still at epoch 0 while this
      // micro-batch computes): boundary click 110 == 100+10 included for
      // imp 10, click 111 out for imp 10 but in for imp 30 @103, user 9
      // click matches nothing
      val imps = Seq((10L, 1L, 100L), (30L, 1L, 103L), (20L, 2L, 140L))
      val clks = Seq((1L, 1L, 105L), (2L, 1L, 110L), (3L, 1L, 111L),
        (4L, 9L, 141L))
      imp.addData(imps: _*); clk.addData(clks: _*)
      query.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = impDf(imps.toDF()).join(clkDf(clks.toDF()), cond)
        .select(col("imp_id"), col("clk_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch)
      assert(got == Set((10L, 1L), (10L, 2L), (30L, 1L), (30L, 2L), (30L, 3L)))
      // phase 2 — the watermark has advanced past 120 (max 141 - 20s):
      // a LATE impression @101 is dropped and its would-be click partners
      // are already evicted from the state store. Streaming correctly
      // diverges from an unconstrained batch join here — bounded state is
      // exactly what the watermark purchased.
      imp.addData((40L, 1L, 101L))
      query.processAllAvailable()
      val after = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == got, "late impression must not join evicted state")
    } finally query.stop()
  }

  test("replay windows from the STORED event table advance the " +
      "incremental view to exactly the full-history recompute") {
    implicit val s = spark
    import s.implicits._
    import graft.ops.IncrementalView
    // the 100 TB capstone: retained changes live in the epoch-partitioned
    // event table (append-per-change log, the reference's consumer_events
    // shape); a consumer snapshots its view at L1 and catches up to L2 by
    // applying ONLY the (L1, L2] replay window — which the epoch layout
    // prunes to in-window dirs (plan-audited elsewhere).
    val dir = java.nio.file.Files.createTempDirectory("graft_ivr").toString + "/ev"
    val rows = (1 to 120).map { i =>
      val action = if (i % 10 == 0) "delete" else "insert"
      ev(8L * i, 0, (i % 5).toString, i.toString, action = action,
        value = (i % 30).toDouble)
    }
    EventTableSink.upsert(spark, rows.toDF(), dir, numBuckets = 2,
      epochWidth = 128)
    val measures = Seq(
      IncrementalView.liveCount(col("action")),
      IncrementalView.sumOf("cents", col("action"),
        round(col("record_value") * 100).cast("bigint"),
        round(col("old_value") * 100).cast("bigint")))
    def window(from: Long, to: Long) =
      EventTableSink.changesBetween(spark, dir, from, to, epochWidth = 128)
    val v1 = IncrementalView.delta(window(0, 400), col("group_id"), measures)
    val v2 = IncrementalView.advance(v1, window(400, 700), col("group_id"), measures)
    val v3 = IncrementalView.advance(v2, window(700, 2000), col("group_id"), measures)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val oneShot = IncrementalView.delta(rows.toDF(), col("group_id"), measures)
    assert(m(v3) == m(oneShot))
    assert(m(v3).values.map(_._1).sum == 120 - 2 * 12) // 12 deletes, ±1 each
  }

  test("EventTableSink.upsert is idempotent and last-writer-wins") {
    implicit val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/events"
    val b1 = Seq(ev(8, 0, "7", "1", value = 1.0), ev(8, 1, "7", "2", value = 2.0)).toDF()
    val b2 = Seq(ev(16, 0, "7", "1", value = 9.0)).toDF() // newer image of pk 1
    EventTableSink.upsert(spark, b1, dir)
    EventTableSink.upsert(spark, b2, dir)
    EventTableSink.upsert(spark, b2, dir) // replay — must not duplicate
    val out = spark.read.parquet(dir)
      .select("record_pk", "record_value").orderBy("record_pk").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(out.toSeq == Seq(("1", 9.0), ("2", 2.0)))
  }

  test("EventTableSink rewrites only the buckets the batch touches") {
    implicit val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_inc").toString + "/events"
    val init = (1 to 200).map(i => ev(8, i.toLong, "7", i.toString, value = i.toDouble)).toDF()
    EventTableSink.upsert(spark, init, dir)

    def files(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val before = files()
    val touched = spark.range(1)
      .select(EventTableSink.bucketOf(lit("42"), EventTableSink.DefaultBuckets))
      .head().getInt(0)

    EventTableSink.upsert(spark, Seq(ev(16, 0, "7", "42", value = 99.0)).toDF(), dir)
    val after = files()

    // every parquet file OUTSIDE the touched bucket is byte-for-byte the
    // same file (path + mtime unchanged) → I/O scaled with the batch
    def others(m: Map[String, Long]) = m.filterNot(_._1.contains(s"bucket=$touched"))
    assert(others(before) == others(after))
    assert(others(before).nonEmpty)

    val out = EventTableSink.read(spark, dir)
    assert(out.count() == 200)
    assert(out.filter(col("record_pk") === "42").select("record_value")
      .head().getDouble(0) == 99.0)

    // point lookup scans ONLY the key's bucket directory
    val hit = EventTableSink.lookup(spark, dir, "42")
    assert(hit.count() == 1 &&
      hit.select("record_value").head().getDouble(0) == 99.0)
    assert(hit.inputFiles.nonEmpty &&
      hit.inputFiles.forall(_.contains(s"bucket=$touched")))
    assert(EventTableSink.lookup(spark, dir, "42",
      EventTableSink.DefaultBuckets).inputFiles.length <
      EventTableSink.read(spark, dir).inputFiles.length)
  }

  test("EventTableSink widens on upstream schema change instead of dropping columns") {
    implicit val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_evo").toString + "/events"
    EventTableSink.upsert(spark,
      Seq(("1", 8L, 0L, "a")).toDF("record_pk", "commit_lsn", "commit_idx", "v"),
      dir, numBuckets = 4)
    // upstream ALTER TABLE ADD COLUMN: the batch carries a NEW column
    EventTableSink.upsert(spark,
      Seq(("2", 16L, 0L, "b", 7L))
        .toDF("record_pk", "commit_lsn", "commit_idx", "v", "added"),
      dir, numBuckets = 4)
    val out = EventTableSink.read(spark, dir).orderBy("record_pk").collect()
    assert(out.map(_.getAs[String]("v")).toSeq == Seq("a", "b"))
    // old row null-padded, new row keeps its value — nothing dropped
    assert(out(0).isNullAt(out(0).fieldIndex("added")))
    assert(out(1).getAs[Long]("added") == 7L)
  }

  test("config user functions compile into a STREAMING plan unchanged") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = graft.config.PipelineSpec.parse(
      """{"name": "sfns",
        | "filter_function": "record_value >= 2.0",
        | "transform_functions": {"value_x10": "record_value * 10"},
        | "routing_function": {"topic": "concat('s.', table_name)"},
        | "destination": {"type": "kafka", "topic": "t"}}""".stripMargin)
    val input = MemoryStream[ChangeEvent]
    val out = CdcPipeline.build(input.toDF(), cfg)
    assert(out.isStreaming)
    val query = out.writeStream.format("memory").queryName("sfns_out")
      .outputMode("append").start()
    try {
      input.addData(ev(8, 0, "7", "1", value = 1.0),
        ev(8, 1, "7", "2", value = 3.0))
      query.processAllAvailable()
      val rows = spark.table("sfns_out")
        .select("record_pk", "value_x10", "topic").collect()
      // filter dropped the 1.0 row; transform and routing applied
      assert(rows.length == 1)
      assert(rows.head.getString(0) == "2")
      assert(rows.head.getDouble(1) == 30.0)
      assert(rows.head.getString(2) == "s.t0")
    } finally query.stop()
  }

  test("EventTableSink.repair deletes uncommitted debris: a torn staging dir, a stranded temp file, a _schema widened before the commit") {
    implicit val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_crash")
      .toString + "/events"
    val rows = (1 to 50).map(i => ev(8, i.toLong, "7", i.toString,
      value = i.toDouble)).toDF()
    EventTableSink.upsert(spark, rows, dir, numBuckets = 4)
    val expect = EventTableSink.read(spark, dir)
      .select("record_pk", "record_value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)

    // crash state 3: a torn staging dir from an aborted write, and a
    // root-file temp stranded before its rename
    val torn = Paths.get(dir).resolve(".tmp-12345")
    Files.createDirectories(torn)
    Files.writeString(torn.resolve("part-0.parquet"), "torn")
    val strandedTemp = Paths.get(dir).resolve(".tmp-12346_schema")
    Files.writeString(strandedTemp, "{")

    // read() runs repair first: table content must be exactly as before
    val healed = EventTableSink.read(spark, dir)
      .select("record_pk", "record_value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    assert(healed.sameElements(expect))
    assert(!Files.exists(torn) && !Files.exists(strandedTemp))

    // and a replayed upsert after the crash still converges
    EventTableSink.upsert(spark, rows, dir, numBuckets = 4)
    assert(EventTableSink.read(spark, dir).count() == 50)

    // crash state 4: an upsert that adds a column died after widening
    // `_schema` but before its commit — the recorded schema is wider than
    // every file and the staged dir is left behind
    val widened = EventTableSink.tableSchema(spark, dir).get.add("added", "long")
    Files.writeString(Paths.get(dir).resolve("_schema"), widened.json)
    val staged = Paths.get(dir).resolve(".tmp-999/bucket=0/epoch=0")
    Files.createDirectories(staged)
    Files.writeString(staged.resolve("part-0.parquet"), "torn")
    val afterCrash = EventTableSink.read(spark, dir)
    assert(afterCrash.select("record_pk", "record_value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).sameElements(expect))
    assert(afterCrash.filter(col("added").isNotNull).count() == 0)
    assert(!Files.exists(Paths.get(dir).resolve(".tmp-999")))
    // replaying the crashed batch (newer versions of pks 1..5) converges
    val wide = (1 to 5).map(i => ev(16, i.toLong, "7", i.toString,
      value = 100.0 + i)).toDF().withColumn("added", lit(7L))
    EventTableSink.upsert(spark, wide, dir, numBuckets = 4)
    val converged = EventTableSink.read(spark, dir)
    assert(converged.count() == 50)
    assert(converged.filter(col("added") === 7L)
      .select("record_pk", "record_value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq ==
      (1 to 5).map(i => (i.toString, 100.0 + i)).sortBy(_._1))
    assert(EventTableSink.tableSchema(spark, dir).contains(widened))
  }

  test("EventTableSink.retention evicts old rows, drops fully-expired buckets, is idempotent and fenced") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{lit, to_timestamp}
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_ret")
      .toString + "/events"
    // pks 1..40; even pks stamped old, odd pks new — spread over 4 buckets
    def at(ts: String) = to_timestamp(lit(ts))
    val rows = (1 to 40).map { i =>
      val t = if (i % 2 == 0) "2024-01-01 00:00:00" else "2024-02-01 00:00:00"
      ev(8, i.toLong, "7", i.toString).copy(
        commit_ts = java.sql.Timestamp.valueOf(t))
    }
    EventTableSink.upsert(spark, rows.toDF(), dir, numBuckets = 4)

    val evicted = EventTableSink.retention(spark, dir, "commit_ts",
      at("2024-01-15 00:00:00"))
    assert(evicted == 20)
    val left = EventTableSink.read(spark, dir).select("record_pk")
      .collect().map(_.getString(0).toInt).sorted.toSeq
    assert(left == (1 to 40 by 2))
    // idempotent: nothing left to evict
    assert(EventTableSink.retention(spark, dir, "commit_ts",
      at("2024-01-15 00:00:00")) == 0L)
    // cutoff past everything drops every bucket directory outright
    assert(EventTableSink.retention(spark, dir, "commit_ts",
      at("2025-01-01 00:00:00")) == 20L)
    import scala.jdk.CollectionConverters._
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("bucket=")).toSeq
    assert(dirs.isEmpty)

    // a fenced (superseded) writer cannot run retention
    val a = EventTableSink.openWriter(dir)
    EventTableSink.openWriter(dir) // b supersedes a
    val e = intercept[IllegalStateException] {
      EventTableSink.retention(spark, dir, "commit_ts",
        at("2025-01-01 00:00:00"), writer = Some(a))
    }
    assert(e.getMessage.contains("fenced"))
  }

  test("EventTableSink.retention keeps NULL-ts rows (pre-schema-change buckets) uncounted") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{lit, to_timestamp}
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_retnull")
      .toString + "/events"
    // one expired row, one NULL-ts row in the same bucket-space — the
    // rewrite of affected buckets must preserve the NULL row
    val rows = Seq(
      ev(8, 1, "7", "1").copy(
        commit_ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ev(8, 2, "7", "2").copy(commit_ts = null))
    EventTableSink.upsert(spark, rows.toDF(), dir, numBuckets = 1)
    val evicted = EventTableSink.retention(spark, dir, "commit_ts",
      to_timestamp(lit("2024-06-01 00:00:00")))
    assert(evicted == 1)
    val left = EventTableSink.read(spark, dir)
      .select("record_pk").collect().map(_.getString(0)).toSeq
    assert(left == Seq("2"), s"NULL-ts row dropped: $left")
  }

  test("EventTableSink.compact: cold epochs coalesce; reads, change feed, time travel, lookup identical; pruning stays exact") {
    implicit val s = spark
    import s.implicits._
    import java.nio.file.{Files => JF, Paths => JP}
    import scala.jdk.CollectionConverters._
    val dir = JF.createTempDirectory("graft_sink_cmp").toString + "/events"
    val w = 16L
    // one change per pk at lsn = i·w → epochs 1..40, plus later updates
    // for pks 1..10 (multi-version history must survive compaction)
    val rows = (1 to 40).map(i => ev(i * w, 0, "7", i.toString, value = 1.0)) ++
      (1 to 10).map(i => ev((50 + i) * w, 0, "7", i.toString, value = 2.0))
    EventTableSink.upsert(spark, rows.toDF(), dir, numBuckets = 2,
      epochWidth = w)
    def epochDirs(): Seq[String] = JF.list(JP.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("bucket="))
      .flatMap(b => JF.list(b).iterator().asScala)
      .map(_.getFileName.toString).filter(_.startsWith("epoch=")).toSeq
    def snap() = EventTableSink.read(spark, dir)
      .select("record_pk", "commit_lsn", "record_value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    def feed(from: Long, to: Long) = EventTableSink
      .changesBetween(spark, dir, from, to, epochWidth = w)
      .select("record_pk", "commit_lsn", "net_effect").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    def asof(lsn: Long) = EventTableSink
      .stateAsOf(spark, dir, lsn, Long.MaxValue, epochWidth = w)
      .select("record_pk", "record_value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    val before = snap(); val dirsBefore = epochDirs().size
    val feedBefore = feed(10 * w, 20 * w); val asofBefore = asof(30 * w)
    assert(feedBefore.map(_._1.toInt).sorted == (11 to 20),
      s"fixture window wrong: $feedBefore")

    // compact cold epochs (≤ 45) in groups of 8 — the live head (50+)
    // is left alone
    val eliminated = EventTableSink.compact(spark, dir, uptoEpoch = 45,
      groupEpochs = 8)
    assert(eliminated > 0)
    assert(epochDirs().size == dirsBefore - eliminated)
    assert(EventTableSink.compactionSpan(dir) == 8)
    assert(snap() == before, "row content changed under compaction")
    // the window's FROM falls mid-group (epochs 11..15 now live in the
    // dir labeled 8 < from-epoch 10): only the span-widened bound finds
    // them — this is the pruning-exactness case
    assert(feed(10 * w, 20 * w) == feedBefore)
    assert(asof(30 * w) == asofBefore)
    assert(EventTableSink.lookup(spark, dir, "17", numBuckets = 2)
      .count() == 1)

    // idempotent: nothing multi-dir left below the cutoff
    assert(EventTableSink.compact(spark, dir, 45, 8) == 0)
    assert(snap() == before)

    // upsert into compacted territory still merges: pk 17's prior
    // version lives in the COMPACTED dir (epoch 17 → label 16), which
    // the superseded-pair scan must find by its new label and rewrite
    EventTableSink.upsert(spark,
      Seq(ev(70 * w, 0, "7", "17", value = 9.0)).toDF(), dir,
      numBuckets = 2, epochWidth = w)
    val v17 = EventTableSink.read(spark, dir)
      .filter($"record_pk" === "17").select("record_value")
      .collect().map(_.getDouble(0)).toSeq
    assert(v17 == Seq(9.0), s"pk 17 not superseded in place: $v17")
    assert(EventTableSink.read(spark, dir).count() == 40)

    // fenced writers cannot compact
    val a = EventTableSink.openWriter(dir)
    EventTableSink.openWriter(dir)
    val e = intercept[IllegalStateException] {
      EventTableSink.compact(spark, dir, 100, 8, writer = Some(a))
    }
    assert(e.getMessage.contains("fenced"))
  }

  test("EventTableSink.compact: a crash between staging and finish converges forward — no duplicates, no loss") {
    implicit val s = spark
    import s.implicits._
    import java.nio.file.{Files => JF, Paths => JP}
    import scala.jdk.CollectionConverters._
    val base = JF.createTempDirectory("graft_sink_cmpcrash")
    val w = 16L
    val rows = (0 until 8).map(i =>
      ev(i * w + 1, 0, "7", (100 + i).toString, value = i.toDouble))
    def mkTable(name: String): String = {
      val path = base.resolve(name).toString
      EventTableSink.upsert(spark, rows.toDF(), path, numBuckets = 1,
        epochWidth = w)
      path
    }
    def content(path: String) = EventTableSink.read(spark, path)
      .select("record_pk", "record_value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    def names(path: String, dir: String) = {
      val l = JF.list(JP.get(path, dir))
      try l.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally l.close()
    }
    val live = mkTable("events")
    val before = content(live)
    assert(EventTableSink.compact(spark, live, 100, 4) == 6)
    val want = content(live)
    assert(want == before && want.size == 8)

    // staged, never committed: the crash rolls back to the 8 epoch dirs,
    // and re-running the compaction converges
    val rolled = mkTable("events_staged")
    assert(EventTableSink.stageCompact(spark, rolled, 100, 4)._2.isDefined)
    assert(names(rolled, "").exists(_.startsWith(".tmp-")))
    assert(content(rolled) == before)
    assert(names(rolled, "bucket=0").count(_.startsWith("epoch=")) == 8)
    assert(!names(rolled, "").exists(_.startsWith(".tmp-")))
    assert(EventTableSink.compact(spark, rolled, 100, 4) == 6)
    assert(content(rolled) == want)

    // committed, then interrupted after the first `k` renames of its
    // finish (k = 0: committed, nothing moved yet): ANY entry point rolls
    // it forward to the compacted table
    def crashAfter(k: Int): (String, Int) = {
      val c = mkTable(base.relativize(JF.createTempDirectory(base, s"crash$k")).resolve("events").toString)
      val st = EventTableSink.stageCompact(spark, c, 100, 4)._2.get
      val due = EventTableSink.moves(JP.get(c), EventTableSink.commit(c, st, None))
      due.take(k).foreach(EventTableSink.move)
      (c, due.size)
    }
    // two groups of 4 epochs: each moves its label dir out and the
    // combined dir in, and drops its 3 other sources
    val renames = crashAfter(0)._2
    assert(renames == 10)
    (0 until renames).foreach { k =>
      val crash = crashAfter(k)._1
      val healed = content(crash)
      assert(healed == want, s"$k renames: crash recovery diverged: $healed vs $want")
      val epochs = names(crash, "bucket=0")
      assert(epochs == Seq("epoch=0", "epoch=4"), s"$k renames: dirs $epochs")
      val root = names(crash, "")
      assert(!root.exists(n => n.startsWith(".tmp-") || n.startsWith(".txn-")),
        s"$k renames: staging left: $root")
      // and the change feed over the healed table still resolves exactly
      val pks = EventTableSink
        .changesBetween(spark, crash, 2 * w, 6 * w, epochWidth = w)
        .select("record_pk").collect().map(_.getString(0)).sorted.toSeq
      assert(pks == Seq("102", "103", "104", "105"), s"$k renames: feed $pks")
    }
  }

  test("EventTableSink epoch fencing: a superseded writer fails fast, new owner wins") {
    implicit val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_fence")
      .toString + "/events"
    // distinct lsn per batch so each successive write is a genuine
    // newer version under last-writer-wins, not an idempotent replay
    def batch(lsn: Long, v: Double) = (1 to 20)
      .map(i => ev(lsn, i.toLong, "7", i.toString, value = v)).toDF()

    // writer A owns the table, writes v=1
    val a = EventTableSink.openWriter(dir)
    a.upsert(spark, batch(8, 1.0), numBuckets = 4)
    assert(EventTableSink.currentEpoch(dir) == a.epoch)

    // writer B takes over (e.g. a second stream starts on the same
    // table) and writes v=2
    val b = EventTableSink.openWriter(dir)
    assert(b.epoch == a.epoch + 1)
    b.upsert(spark, batch(9, 2.0), numBuckets = 4)

    // A is now a zombie: its interleaved upsert FAILS FAST instead of
    // racing bucket swaps against B
    val e = intercept[IllegalStateException] {
      a.upsert(spark, batch(10, 9.0), numBuckets = 4)
    }
    assert(e.getMessage.contains("fenced"))

    // last writer's data wins, untouched by the fenced attempt; no
    // staging debris left behind
    val vals = EventTableSink.read(spark, dir)
      .select("record_value").distinct().collect().map(_.getDouble(0))
    assert(vals.toSeq == Seq(2.0))
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".tmp-") || n.startsWith(".txn-")).toSeq
    assert(leftovers.isEmpty)

    // B keeps working; the unfenced embedded overload is unaffected
    b.upsert(spark, batch(11, 3.0), numBuckets = 4)
    EventTableSink.upsert(spark, batch(12, 4.0), dir, numBuckets = 4)
    assert(EventTableSink.read(spark, dir).count() == 20)
  }

  private def parquetMtimes(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
      .toMap
  }

  test("EventTableSink.upsert rewrites only the AFFECTED EPOCH dirs, not whole buckets") {
    implicit val s = spark
    import s.implicits._
    import java.nio.file.{Files => JF, Paths => JP}
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_epoch")
      .toString + "/events"
    // one bucket, epochWidth=8 with lsn=8*i → pk i lives alone in epoch i
    val init = (1 to 10).map(i => ev(8L * i, 0, "7", i.toString,
      value = i.toDouble)).toDF()
    EventTableSink.upsert(spark, init, dir, numBuckets = 1, epochWidth = 8)
    (1 to 10).foreach(i =>
      assert(JF.exists(JP.get(dir, "bucket=0", s"epoch=$i")), s"epoch $i"))
    val before = parquetMtimes(dir)

    // batch: a new version of pk 3 (supersedes its epoch-3 row) plus a
    // brand-new pk, both landing in epoch 20
    val batch = Seq(ev(160, 0, "7", "3", value = 99.0),
      ev(160, 1, "7", "11", value = 11.0)).toDF()
    EventTableSink.upsert(spark, batch, dir, numBuckets = 1, epochWidth = 8)

    // epoch 3 held ONLY the superseded row → dropped outright; epoch 20
    // created; every OTHER epoch's files are byte-for-byte untouched —
    // upsert I/O scaled with the affected epochs, not the bucket
    assert(!JF.exists(JP.get(dir, "bucket=0", "epoch=3")))
    assert(JF.exists(JP.get(dir, "bucket=0", "epoch=20")))
    val after = parquetMtimes(dir)
    def others(m: Map[String, Long]) =
      m.filterNot(f => f._1.contains("epoch=3") || f._1.contains("epoch=20"))
    assert(others(before) == others(after))
    assert(others(before).size == 9)

    val out = EventTableSink.read(spark, dir)
    assert(out.count() == 11)
    assert(out.filter(col("record_pk") === "3").select("record_value")
      .head().getDouble(0) == 99.0)
  }

  test("EventTableSink lifecycle: schema evolution + epoch narrowing + retention compose") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    import java.nio.file.{Files => JF, Paths => JP}
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_life")
      .toString + "/events"
    def ts(v: String) = java.sql.Timestamp.valueOf(v)
    // epoch 1, schema v1 (no 'added'), old timestamps
    val b1 = (1 to 20).map(i => (i.toString, 100L + i, 0L,
      ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("record_pk", "commit_lsn", "commit_idx", "commit_ts", "v")
    // epoch 2, schema v2 (ALTER TABLE ADD COLUMN mid-stream), live ts
    val b2 = (21 to 40).map(i => (i.toString, 200L + i, 0L,
      ts("2024-02-01 00:00:00"), i.toDouble, i.toLong))
      .toDF("record_pk", "commit_lsn", "commit_idx", "commit_ts", "v", "added")
    EventTableSink.upsert(spark, b1, dir, numBuckets = 2, epochWidth = 100)
    EventTableSink.upsert(spark, b2, dir, numBuckets = 2, epochWidth = 100)

    // a pk from the OLD epoch gets a new version in epoch 3 (v2 schema):
    // its old row must leave epoch 1 even across the schema boundary
    val upd = Seq(("5", 305L, 0L, ts("2024-02-02 00:00:00"), 99.0, 5L))
      .toDF("record_pk", "commit_lsn", "commit_idx", "commit_ts", "v", "added")
    EventTableSink.upsert(spark, upd, dir, numBuckets = 2, epochWidth = 100)
    val all = EventTableSink.read(spark, dir)
    assert(all.count() == 40) // one row per pk, widened schema
    assert(all.filter(col("record_pk") === "5")
      .select("v", "added").collect().map(r => (r.getDouble(0), r.getLong(1)))
      .toSeq == Seq((99.0, 5L)))
    assert(all.filter(col("record_pk") === "1").select("added")
      .collect().head.isNullAt(0)) // v1 row null-padded

    // retention at the schema+epoch boundary: epoch 1 is now WHOLLY
    // expired (pk 5's live version moved to epoch 3) → dropped outright;
    // survivors keep the widened schema and the moved row
    val evicted = EventTableSink.retention(spark, dir, "commit_ts",
      to_timestamp(lit("2024-01-15 00:00:00")))
    assert(evicted == 19) // pks 1..20 minus the re-versioned pk 5
    for (b <- 0 to 1)
      assert(!JF.exists(JP.get(dir, s"bucket=$b", "epoch=1")), s"b$b")
    val left = EventTableSink.read(spark, dir)
    assert(left.select("record_pk").collect().map(_.getString(0).toInt)
      .sorted.toSeq == (5 +: (21 to 40)).sorted)
    assert(left.filter(col("record_pk") === "5").select("v")
      .collect().head.getDouble(0) == 99.0)
  }

  test("EventTableSink.retention drops expired epoch dirs in O(expired): live files untouched") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{lit, to_timestamp}
    import java.nio.file.{Files => JF, Paths => JP}
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_retep")
      .toString + "/events"
    // 40 pks across epochs 1..40 (epochWidth=8, lsn=8*i); commit_ts is
    // monotone with lsn, so epochs 1..20 are wholly expired and 21..40
    // wholly live — the steady-state shape of a retained CDC table
    val rows = (1 to 40).map { i =>
      val t = if (i <= 20) "2024-01-01 00:00:00" else "2024-02-01 00:00:00"
      ev(8L * i, 0, "7", i.toString).copy(
        commit_ts = java.sql.Timestamp.valueOf(t))
    }
    EventTableSink.upsert(spark, rows.toDF(), dir, numBuckets = 2,
      epochWidth = 8)
    val liveBefore = parquetMtimes(dir).filterNot { case (p, _) =>
      (1 to 20).exists(e => p.contains(s"epoch=$e/") || p.endsWith(s"epoch=$e"))
    }

    val evicted = EventTableSink.retention(spark, dir, "commit_ts",
      to_timestamp(lit("2024-01-15 00:00:00")))
    assert(evicted == 20)

    // every expired epoch dir is GONE (dropped, never rewritten) and
    // every live epoch's parquet files are byte-for-byte untouched:
    // retention cost ∝ expired rows — the pg_partman partition-drop shape
    for (b <- 0 to 1; e <- 1 to 20)
      assert(!JF.exists(JP.get(dir, s"bucket=$b", s"epoch=$e")), s"b$b e$e")
    val liveAfter = parquetMtimes(dir)
    assert(liveAfter == liveBefore)
    assert(EventTableSink.read(spark, dir)
      .select("record_pk").collect().map(_.getString(0).toInt)
      .sorted.toSeq == (21 to 40))
  }

  test("Metrics.listener: micro-batch progress feeds the Prometheus " +
      "ingested counter and internal-latency histogram") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reg = new graft.config.Metrics.Registry()
    val listener = graft.config.Metrics.listener(reg, "slot1", "main")
    spark.streams.addListener(listener)
    val input = MemoryStream[Int]
    val query = input.toDS().writeStream.format("memory")
      .queryName("metrics_probe").outputMode("append").start()
    try {
      input.addData(1 to 7: _*)
      query.processAllAvailable()
      input.addData(8 to 10: _*)
      query.processAllAvailable()
      // listener events are async — wait for the counter to land
      val deadline = System.currentTimeMillis() + 10000
      def counted(): Boolean = reg.exposition().linesIterator.exists(_ ==
        """sequin_messages_ingested_count{replication_slot_id="slot1",slot_name="main"} 10""")
      while (!counted() && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(counted(), reg.exposition())
      assert(reg.exposition().contains(
        "sequin_internal_latency_us_count{replication_slot_id=\"slot1\""))
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }

}
