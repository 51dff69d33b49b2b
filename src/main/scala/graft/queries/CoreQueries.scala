package graft.queries

import graft.Tables
import graft.model.Cdc
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the reference's declared operator inventory
  * (SURVEY.md §2 / §7.3, Q1-Q24). Each entry has a DuckDB-equivalent SQL in
  * [[CoreQueries.oracles]].
  *
  * Output discipline (driver hash-compares Spark parquet vs DuckDB):
  *   - flat scalar columns only (no maps/structs in the final select);
  *   - identical column aliases on both sides;
  *   - a total ORDER BY on both sides (unique tiebreaker) so row order is
  *     representation-independent;
  *   - timestamps exported as epoch micros/millis (bigint), never raw;
  *   - double aggregation goes through exact integer cents — FP sum order
  *     would otherwise differ between engines.
  */
object CoreQueries {

  type Q = (SparkSession, String) => DataFrame

  private def cdc(s: SparkSession, dir: String): DataFrame =
    Cdc.fromEvents(Tables.events(s, dir))

  /** Event-table epoch width sized to the fixture's WAL span — the
    * layout's own sizing rule (EventTableSink scaladoc: one epoch ≈ one
    * droppable retention unit), applied per gate SF so every fixture
    * runs a handful of epochs per bucket (4 at sf0.1, 2 at sf0.01). A width FIXED across SFs makes the dir
    * count scale with data (8192 → 14 epochs × 8 buckets = 112 dirs of
    * ~900 rows at sf0.1; q56/q57 measured ~2× slower from small-file +
    * per-dir swap overhead) — exactly the mis-sizing a real operator
    * avoids by scaling width with volume. lsn ≈ (events/7)·8 per Cdc.
    */
  private[graft] def epochWidthFor(dir: String): Long =
    if (dir.contains("sf0.1")) 32768L else 8192L

  /** Fixed per-query scratch dir, wiped on entry: repeated evaluations
    * (bench reps, verify) reuse one path instead of littering /tmp with a
    * fresh `createTempDirectory` per run.
    */
  /** The scratch path WITHOUT wiping — for plan gates that inspect a
    * table a registry query just built.
    */
  private[graft] def scratchDirPath(name: String): String =
    java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_scratch_$name").toString

  private def scratchDir(name: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_scratch_$name")
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(f => scala.util.Try(java.nio.file.Files.delete(f)))
    }
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  val queries: Map[String, Q] = Map(
    // S6/O1 — keyset pagination page (tuple-compare + sort + limit)
    "q01_keyset_page" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      Keyset.page(orders, Seq("o_orderdate", "o_orderkey"),
          Some(Seq(java.time.LocalDateTime.parse("1995-06-01T00:00:00"), 3000L)), 100)
        .select(col("o_orderkey"), unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"),
          col("o_totalprice"), col("o_orderstatus"))
    }),

    // S9 — filtered count of the remaining keyset scan
    "q02_filtered_count" -> ((s, dir) =>
      Keyset.remainingCount(Tables.orders(s, dir), Seq("o_orderdate", "o_orderkey"),
        Seq(java.time.LocalDateTime.parse("1995-06-01T00:00:00"), 3000L))),

    // S10 — first row in cursor order
    "q03_first_row" -> ((s, dir) =>
      Keyset.firstRow(Tables.lineitem(s, dir), Seq("l_shipdate", "l_orderkey", "l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"), col("l_quantity"))),

    // W6 batch / sink upsert — latest image per business row (MERGE dedup)
    "q04_dedup_upsert" -> ((s, dir) =>
      Ordering.dedupLatest(cdc(s, dir), Seq("table_name", "group_id"),
          Seq(col("commit_lsn"), col("commit_idx")))
        .select("table_name", "group_id", "record_id", "action", "record_value",
          "commit_lsn", "commit_idx")
        .orderBy("table_name", "group_id")),

    // F1 — include/exclude scoping, then per-table counts
    "q05_source_scope" -> ((s, dir) =>
      Filters.sourceScope(cdc(s, dir),
          SourceScope(includeSchemas = Some(Seq("public")),
            excludeTableOids = Some(Seq(16387L, 16388L))))
        .groupBy("table_schema", "table_name", "table_oid")
        .agg(count(lit(1)).as("n"))
        .orderBy("table_schema", "table_name", "table_oid")),

    // F3 — typed column filters incl. cistring + jsonb path
    "q06_column_filters" -> ((s, dir) =>
      Filters.columnFilters(cdc(s, dir), Seq(
          ColumnFilter("record_value", ">", Seq("50"), "number"),
          ColumnFilter("table_name", "==", Seq("T2"), "cistring"),
          ColumnFilter("record_props", ">=", Seq("10"), "number", jsonbPath = Some("k")),
          ColumnFilter("action", "!=", Seq("delete"))))
        .select("record_id", "table_name", "record_value", "record_props")
        .orderBy("record_id")),

    // F4 — representative filter-function predicate (user code surface)
    "q07_filter_function" -> ((s, dir) =>
      cdc(s, dir).filter(
          col("action") === "insert" &&
          get_json_object(col("record_props"), "$.k").cast("bigint") % 2 === 0 &&
          col("record_value") > 25.5 && col("record_props").isNotNull)
        .select("record_id", "record_user_id", "record_value")
        .orderBy("record_id")),

    // F7 — delivered-ledger anti join (exactly-once read side)
    "q08_reject_delivered" -> ((s, dir) => {
      val all = cdc(s, dir)
      val ledger = all.filter(pmod(col("commit_lsn"), lit(16)) === 0)
      Joins.rejectDelivered(all, ledger)
        .select("record_id", "commit_lsn", "commit_idx")
        .orderBy("record_id")
    }),

    // P3 — dot-path projection from JSON payload (missing path → NULL)
    "q09_path_projection" -> ((s, dir) =>
      cdc(s, dir).select(col("record_id"),
          Transforms.pathExtract(col("record_props"), "k").as("prop_k"),
          Transforms.pathExtract(col("record_props"), "x.y").as("prop_missing"),
          col("table_schema"), col("table_name"))
        .orderBy("record_id")),

    // P4 — transform-function reshaping (rename/concat/arith/conditional)
    "q10_transform_reshape" -> ((s, dir) =>
      cdc(s, dir).select(
          col("record_id").as("id"),
          concat(col("table_schema"), lit("."), col("table_name")).as("fqtn"),
          (col("record_value") * lit(1.1)).as("boosted"),
          when(col("action") === "insert", "c")
            .when(col("action") === "update", "u")
            .otherwise("d").as("op_code"),
          upper(col("table_schema")).as("schema_uc"))
        .orderBy("id")),

    // P5 — change diff (old-image entries that differ; updates only)
    "q11_changes_diff" -> ((s, dir) =>
      Transforms.changesDiff(cdc(s, dir))
        .select("record_id", "action", "old_value", "record_value", "changed_value")
        .orderBy("record_id")),

    // P8 — TOAST sentinel resolution via nullif/coalesce against old image
    "q12_toast_resolve" -> ((s, dir) =>
      cdc(s, dir)
        .withColumn("props_wire",
          when(pmod(col("record_id"), lit(5)) === 0, "unchanged_toast")
            .otherwise(col("record_props")))
        .select(col("record_id"),
          coalesce(nullif(col("props_wire"), lit("unchanged_toast")),
            lit("""{"k": -1}""")).as("resolved_props"))
        .orderBy("record_id")),

    // P9 — per-consumer timestamp rendering (ISO-8601 + unix micros)
    "q13_timestamp_format" -> ((s, dir) =>
      cdc(s, dir).select(col("record_id"),
          Transforms.formatTimestamp(col("commit_ts"), "iso8601").as("ts_iso"),
          Transforms.formatTimestamp(col("commit_ts"), "unix_microsecond").as("ts_us"))
        .orderBy("record_id")),

    // P10 — group-id computation (empty → NULL → ungrouped)
    "q14_group_id" -> ((s, dir) =>
      cdc(s, dir).select(col("record_id"),
          Transforms.groupId(Seq(
            when(col("table_schema") =!= "audit", col("table_name")),
            when(col("table_schema") =!= "audit", col("group_id"))))
            .as("group_key"))
        .orderBy("record_id")),

    // J1 — enrichment lookup join (broadcast left outer; misses → NULL)
    "q15_enrich_join" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val dim = Tables.customer(s, dir).filter(col("c_custkey") % 3 =!= 0)
      Joins.enrich(orders, dim, orders("o_custkey"), dim("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("c_mktsegment"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // J3 — backfill fencing anti join (CDC wins over stale backfill reads)
    "q16_backfill_fence" -> ((s, dir) => {
      val backfill = Tables.events(s, dir)
        .select(col("event_id").cast("string").as("record_pk"),
          col("event_id"), col("user_id"), col("value"))
      val seen = cdc(s, dir).filter(col("commit_lsn") >= 8000)
      Joins.backfillFence(backfill, seen, Seq("record_pk"))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // A2 — min unpersisted WAL cursor (struct-min watermark)
    "q17_min_cursor" -> ((s, dir) =>
      Ordering.minCursor(cdc(s, dir).filter(pmod(col("commit_lsn"), lit(16)) =!= 0))),

    // A3 — running ingestion counts per hour (backfill progress)
    "q18_running_counts" -> ((s, dir) => {
      val hourly = cdc(s, dir)
        .groupBy(date_trunc("hour", col("commit_ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      hourly.select(unix_micros(col("h")).as("hour_us"), col("n"),
          sum(col("n")).over(org.apache.spark.sql.expressions.Window.orderBy("h")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
            .as("running_n"))
        .orderBy("hour_us")
    }),

    // A4 — per-class stats: count / exact-cents sum / min / max / median
    "q19_stats" -> ((s, dir) =>
      cdc(s, dir)
        .withColumn("value_cents", round(col("record_value") * 100).cast("bigint"))
        .groupBy("action")
        .agg(count(lit(1)).as("n"),
          sum("value_cents").as("sum_cents"),
          min("value_cents").as("min_cents"),
          max("value_cents").as("max_cents"),
          expr("percentile(value_cents, 0.5D)").as("med_cents"))
        .orderBy("action")),

    // W1 — total (commit_lsn, commit_idx) order restore
    "q20_total_order" -> ((s, dir) =>
      Ordering.totalOrder(cdc(s, dir))
        .select("commit_lsn", "commit_idx", "record_id")),

    // W2 — head-of-line per delivery group (null groups pass through)
    "q21_head_of_group" -> ((s, dir) =>
      Ordering.headOfGroup(
          cdc(s, dir).withColumn("group_id",
            when(col("table_schema") =!= "audit", col("group_id"))))
        .select("group_id", "record_id", "commit_lsn", "commit_idx")
        .orderBy("record_id")),

    // W3 — CDC-over-backfill priority merge
    "q22_priority_merge" -> ((s, dir) => {
      val all = cdc(s, dir)
      val live = all.filter(pmod(col("record_user_id"), lit(2)) === 0)
      val backfill = all.filter(pmod(col("record_user_id"), lit(2)) === 1)
      Ordering.priorityMerge(live, backfill)
        .select("priority", "commit_lsn", "commit_idx", "record_id")
    }),

    // W5 — bytes-batcher bucketing (running sum within group order)
    "q23_byte_batches" -> ((s, dir) =>
      Ordering.byteBatches(cdc(s, dir), 4096)
        .select("group_id", "commit_lsn", "commit_idx", "byte_size",
          "running_bytes", "batch_idx")
        .orderBy("group_id", "commit_lsn", "commit_idx")),

    // O4 — multi-key descending sort + limit
    "q24_multi_desc_sort" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        .limit(50)
        .select(col("o_orderkey"), unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"),
          col("o_totalprice"))),

    // A1 — consumer fan-out: N configs matched in ONE scan
    "q34_fanout" -> ((s, dir) =>
      Fanout.matchCounts(cdc(s, dir), Seq(
        graft.streaming.ConsumerConfig(name = "all_public",
          scope = SourceScope(includeSchemas = Some(Seq("public")))),
        graft.streaming.ConsumerConfig(name = "inserts_only",
          actions = Seq("insert")),
        graft.streaming.ConsumerConfig(name = "big_values",
          actions = Seq("insert", "update"),
          filters = Seq(ColumnFilter("record_value", ">", Seq("100"), "number")))))),

    // S4 - transaction-annotation carry-forward: the most recent marker
    // event's payload attaches to every subsequent event in the session
    // (pg_logical_emit_message semantics as last-ignore-nulls over window)
    "q35_annotations" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("record_user_id"))
        .orderBy(col("commit_lsn"), col("commit_idx"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      cdc(s, dir).select(col("record_id"), col("record_user_id"),
          last(when(col("action") === "insert",
            get_json_object(col("record_props"), "$.k")), ignoreNulls = true)
            .over(w).as("annotation"))
        .orderBy("record_id")
    }),

    // S4 — annotation set AND clear: inserts set the payload, deletes
    // clear it (slot_producer.ex:437-456 `.set`/`.clear` ops); the
    // carry-forward is last-marker-wins where a clear marker nulls the
    // annotation until the next set
    "q40_annotations_clear" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("record_user_id"))
        .orderBy(col("commit_lsn"), col("commit_idx"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val marker = when(col("action") === "insert",
          concat(lit("set:"), get_json_object(col("record_props"), "$.k")))
        .when(col("action") === "delete", lit("clear"))
      cdc(s, dir).select(col("record_id"), col("record_user_id"),
          last(marker, ignoreNulls = true).over(w).as("last_marker"))
        .select(col("record_id"), col("record_user_id"),
          when(col("last_marker").startsWith("set:"),
            expr("substring(last_marker, 5)")).as("annotation"))
        .orderBy("record_id")
    }),

    // Composite-PK stringification: pks ordered by attnum, stringified,
    // plus the joined pk key the redis router uses (lineitem's natural
    // composite key (l_orderkey, l_linenumber)). The pk LIST is emitted as
    // its JSON text — the driver's compare harness can't hash raw array
    // cells, and JSON is the form the sink envelope carries anyway.
    "q42_composite_pks" -> ((s, dir) =>
      graft.Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          to_json(Transforms.recordPks(Seq(col("l_orderkey"),
            col("l_linenumber")))).as("record_pks"),
          Transforms.pkString(Seq(col("l_orderkey"), col("l_linenumber")))
            .as("pk_key"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Skew mitigation — salted two-phase aggregation over the delivery
    // key equals the plain GROUP BY (the hot-key reduce is split across
    // saltFactor tasks; the oracle is the unsalted aggregate, proving the
    // technique is result-invariant)
    "q43_salted_agg" -> ((s, dir) =>
      Skew.saltedCount(cdc(s, dir), "group_id", saltFactor = 8)
        .select(col("group_id"), col("n").cast("bigint").as("n"))
        .orderBy("group_id")),

    // W6 + §2.2 — the incremental bucketed MERGE sink in the gate: two
    // disjoint batches plus a full REPLAY of the first applied to an
    // empty table must read back as exactly the union, once — bucket
    // rewrites, crash-safe swaps and replay idempotency all hash-checked
    "q48_event_table_merge" -> ((s, dir) => {
      val path = scratchDir("evt")
      val all = cdc(s, dir)
      val b1 = all.filter(pmod(col("commit_lsn"), lit(16)) === 0)
      val b2 = all.filter(pmod(col("commit_lsn"), lit(16)) === 8)
      // 8 buckets, epoch width sized PER FIXTURE (epochWidthFor): the
      // layout scaladoc's sizing rule — one epoch ~ one droppable
      // retention unit of WAL — applied to each gate SF, giving ~2
      // epochs at every fixture instead of letting the dir count grow
      // with SF (8192 at sf0.1 made 14 epochs x 8 buckets = 112 dirs of
      // ~900 rows: q56/q57 paid ~2x in small-file+swap overhead, r7 A/B)
      graft.sinks.EventTableSink.upsert(s, b1, path, numBuckets = 8,
        epochWidth = epochWidthFor(dir))
      graft.sinks.EventTableSink.upsert(s, b2, path, numBuckets = 8,
        epochWidth = epochWidthFor(dir))
      graft.sinks.EventTableSink.upsert(s, b1, path, numBuckets = 8,
        epochWidth = epochWidthFor(dir)) // replay
      graft.sinks.EventTableSink.read(s, path)
        .select("record_pk", "record_id", "action", "commit_lsn", "commit_idx")
        .orderBy("record_id")
    }),

    // Retention expiry on the materialized event table: build it with
    // bucketed MERGEs, then evict rows older than the cutoff (the
    // reference's pg_cron `DELETE ... WHERE committed_at < cutoff` /
    // pg_partman partition drop). Fully-expired epoch dirs are dropped
    // outright (O(expired), pg_partman parity); only boundary epochs
    // holding a mix of expired and live rows are rewritten.
    "q56_retention" -> ((s, dir) => {
      val path = scratchDir("ret")
      val all = cdc(s, dir)
      val b1 = all.filter(pmod(col("commit_lsn"), lit(16)) === 0)
      val b2 = all.filter(pmod(col("commit_lsn"), lit(16)) === 8)
      graft.sinks.EventTableSink.upsert(s, b1, path, numBuckets = 8,
        epochWidth = epochWidthFor(dir))
      graft.sinks.EventTableSink.upsert(s, b2, path, numBuckets = 8,
        epochWidth = epochWidthFor(dir))
      graft.sinks.EventTableSink.retention(s, path, "commit_ts",
        to_timestamp(lit("2024-01-16 00:00:00")))
      graft.sinks.EventTableSink.read(s, path)
        .select("record_pk", "record_id", "action", "commit_lsn", "commit_idx")
        .orderBy("record_id")
    }),

    // Replay retained changes to a sink — the change-retention doc's
    // headline workflow (reference/change-retention.mdx: replay stored
    // messages through standard consumption to reprocess a window):
    // event table built by MERGEs → changesBetween replay window →
    // net-effect upserts → kafka routing + partition assignment, the
    // same wire shape live delivery produces.
    "q57_replay" -> ((s, dir) => {
      val path = scratchDir("rpl")
      val all = cdc(s, dir)
      val b1 = all.filter(pmod(col("commit_lsn"), lit(16)) === 0)
      val b2 = all.filter(pmod(col("commit_lsn"), lit(16)) === 8)
      graft.sinks.EventTableSink.upsert(s, b1, path, numBuckets = 8,
        epochWidth = epochWidthFor(dir))
      graft.sinks.EventTableSink.upsert(s, b2, path, numBuckets = 8,
        epochWidth = epochWidthFor(dir))
      // path-based overload: the replay window (4000, 9000] prunes the
      // stored table to its epoch dirs via partition filters (gated in
      // PlanAuditSpec with a finer-grained fixture) — at 100 TB
      // retained, a replay reads the window's directories, nothing else
      val window = graft.sinks.EventTableSink
        .changesBetween(s, path, 4000L, 9000L, epochWidth = epochWidthFor(dir))
        .filter(col("net_effect") === "upsert")
      graft.ops.Routing.kafka(window).select(
          col("record_id"), col("topic"), col("message_key"),
          pmod(graft.functions.Hashing.portableHash(
            coalesce(col("group_id"), col("record_pk"))), lit(32))
            .as("partition"),
          col("commit_lsn"), col("commit_idx"))
        .orderBy("record_id")
    }),

    // Replay-consumer enrichment with ZERO join-attributable shuffle:
    // the stored table's change window joined to a pk-keyed dimension
    // saved as a BUCKETED catalog table (bucket count = the session's
    // shuffle partitions). The changes side reaches the join already
    // hash-partitioned on record_pk (the dedup window's own shuffle),
    // the dim side is bucket-read — the repeated replay⋈dim shape pays
    // the dimension's shuffle once at write time, never per replay.
    // PlanAuditSpec gates the one-Exchange plan.
    "q104_replay_join" -> ((s, dir) => {
      val path = scratchDir("rplj")
      graft.sinks.EventTableSink.upsert(s, cdc(s, dir), path,
        numBuckets = 8, epochWidth = epochWidthFor(dir))
      // pk-keyed dimension (a routing/ownership lookup in production);
      // the attribute is engine-portable so DuckDB reproduces it exactly
      val dim = cdc(s, dir).select(col("record_pk")).distinct()
        .withColumn("tier", (length(col("record_pk")) % 5).cast("int"))
      graft.ops.Layout.writeBucketed(dim, "graft_bkt_replay_dim",
        "record_pk", s.sessionState.conf.numShufflePartitions,
        "target/bucketed/graft_bkt_replay_dim")
      graft.sinks.EventTableSink.replayJoin(s, path, 4000L, 9000L,
          epochWidthFor(dir), "graft_bkt_replay_dim", "record_pk")
        .select(col("record_pk"), col("record_id"), col("tier"),
          col("net_effect"), col("commit_lsn"), col("commit_idx"))
        .orderBy("record_id")
    }),

    // Change-retention time travel: record state AS OF a WAL cursor —
    // latest version per pk at or below the cursor, deletes absent. The
    // replay payoff of the event table: any historical snapshot is a
    // query (narrow lsn filter + one window by pk).
    "q51_time_travel" -> ((s, dir) =>
      graft.sinks.EventTableSink.stateAsOf(cdc(s, dir), lsn = 5000L)
        .select("record_pk", "record_id", "action", "commit_lsn", "commit_idx")
        .orderBy("record_id")),

    // Change feed between two cursors: the NET per-pk effect of every
    // change in (L1, L2] — what an incremental consumer applies to get
    // from snapshot L1 to L2. Complements q51 (state AT a cursor).
    "q53_change_feed" -> ((s, dir) =>
      graft.sinks.EventTableSink.changesBetween(cdc(s, dir), 5000L, 8000L)
        .select(col("record_pk"), col("record_id"), col("action"),
          col("net_effect"), col("commit_lsn"), col("commit_idx"))
        .orderBy("record_id")),

    // As-of join (Spark has no built-in; DuckDB ASOF JOIN is the oracle):
    // each purchase gets the user's latest click at-or-before it — the
    // state-at-event-time primitive. One shuffle on the key; no range
    // explosion, no per-probe sort (union + carry-forward window).
    "q54_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("prior_event_id"))
        .select(col("user_id"), col("ts").as("prior_ts"),
          col("prior_event_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      Joins.asOf(purch, clicks, Seq("user_id"), "ts", "prior_ts",
          Seq("prior_event_id", "prior_ts"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          round(col("value") * 100).cast("bigint").as("value_cents"),
          col("prior_event_id"),
          unix_micros(col("prior_ts")).as("prior_ts_us"))
        .orderBy("event_id")
    }),

    // Gap-based sessionization: per-user sessions split at >12h idle,
    // rolled up to bounds/count/exact-cents value (lag + running-sum
    // windows over ONE (user, ts) sort; micros compare as integers)
    "q55_sessionize" -> ((s, dir) =>
      Sessions.rollup(Tables.events(s, dir), "user_id", "ts", "event_id",
          gapMicros = 12L * 3600 * 1000000, valueCol = "value")
        .orderBy("user_id", "session_idx")),

    // Banded range join (Spark has no built-in interval join — a raw
    // BETWEEN pair predicate falls to a nested loop): each purchase is
    // an attribution window [ts-12h, ts) collecting the same user's
    // prior events — count + exact-cents value. Band = window width, so
    // each window explodes to ≤2 band rows and the pair space is an
    // equi-join on (user, band), never O(events × purchases).
    "q59_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val pts = ev.select(col("event_id").as("p_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"), col("value"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"),
          unix_micros(col("ts")).as("c_us"))
        .withColumn("w_start", col("c_us") - lit(43200000000L))
        .withColumn("w_end", col("c_us") - lit(1L))
      Joins.rangeJoin(pts, conv, Seq("user_id"), "p_us", "w_start", "w_end",
          bandMicros = 43200000000L)
        .groupBy("conv_id", "user_id", "c_us")
        .agg(count(lit(1)).as("n_prior"),
          sum(round(col("value") * 100).cast("bigint")).as("value_cents"))
        .orderBy("conv_id")
    }),

    // Ordered-step funnel signup → click → purchase: earliest strictly-
    // ordered chain per user + reached depth. Chained conditional minima
    // as whole-partition windows — ONE user shuffle, not k self-joins.
    "q60_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"))
      Behavior.funnel(ev, "user_id", "us", "event_type",
          Seq("signup", "click", "purchase"))
        .orderBy("user_id")
    }),

    // Event-type transition matrix: adjacent-pair counts in each user's
    // ts-ordered stream + integer ppm probabilities. One lead window,
    // then aggregation over the |types|² pair space.
    "q61_event_transitions" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      Behavior.transitions(ev, "user_id", "us", "event_id", "event_type")
        .orderBy("from_type", "to_type")
    }),

    // Weekly cohort retention triangle: users bucketed by first-event
    // epoch week, counted per active week offset. Raw events collapse to
    // distinct (user, week) before anything joins.
    "q62_cohort_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      Behavior.cohortRetention(ev, "user_id", "us")
        .orderBy("cohort_wk", "week_offset")
    }),

    // Interval-union coverage: per-user total covered time over value-
    // scaled activity spans, by sweep line (two windows over one sort) —
    // never an interval×interval self-join.
    "q63_interval_coverage" -> ((s, dir) => {
      val iv = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            round(col("value") * 100).cast("bigint") * 10000L).as("e_us"))
      Intervals.coverage(iv, "user_id", "s_us", "e_us", "event_id")
        .orderBy("user_id")
    }),

    // Trailing-window anomaly flags: value deviates from the user's
    // previous-20 mean by >3σ, tested in cross-multiplied exact integers
    // (no FP mean/variance).
    "q64_anomaly" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("bigint").as("value_cents"))
      Behavior.anomalies(ev, "user_id", "us", "event_id", "value_cents")
        .select("event_id", "user_id", "value_cents", "win_n", "dev2",
          "thr")
        .orderBy("event_id")
    }),

    // Time-weighted average value per user: each value held until the
    // next event, TWAP = Σ(c·Δus) div Σ(Δus) in exact integers — one
    // lead window, no history self-join.
    "q67_twap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("bigint").as("c"))
      Behavior.timeWeightedAvg(ev, "user_id", "us", "event_id", "c")
        .orderBy("user_id")
    }),

    // DAU/WAU stickiness: sliding-window distinct actives via a bounded
    // 7-way fanout of the deduplicated user-day table (distinct counts
    // don't decompose; raw events are never exploded).
    "q68_stickiness" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      Behavior.stickiness(ev, "user_id", "us")
        .orderBy("day")
    }),

    // Event-type pivot: per-user wide activity matrix (count per type)
    // — Spark's pivot with a PINNED value list (deterministic schema,
    // one shuffle; an unpinned pivot would need a values-discovery pass).
    "q69_event_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("error"), lit(0L)).as("n_error"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("view"), lit(0L)).as("n_view"))
        .orderBy("user_id")
    }),

    // LTV decile report: users ranked by lifetime value (exact cents)
    // into 10 rank-deciles via the range-partitioned globalRank — a bare
    // row_number() OVER (ORDER BY ...) would collapse 10⁹ users onto one
    // task at scale.
    "q70_ltv_deciles" -> ((s, dir) => {
      val ltv = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("bigint")).as("ltv_cents"))
      val n = ltv.agg(count(lit(1)).cast("bigint").as("__n"))
      Ordering.globalRank(ltv,
          Seq(col("ltv_cents").desc, col("user_id").asc), "rk")
        .crossJoin(broadcast(n))
        .withColumn("decile", expr("CAST(((rk - 1) * 10) div __n AS INT)"))
        .groupBy("decile")
        .agg(count(lit(1)).cast("bigint").as("n_users"),
          sum("ltv_cents").cast("bigint").as("total_cents"),
          min("ltv_cents").cast("bigint").as("min_cents"),
          max("ltv_cents").cast("bigint").as("max_cents"))
        .orderBy("decile")
    }),

    // Incremental materialized-view maintenance: per-group live-row count
    // and value sum kept current from the change stream ALONE — each
    // change contributes f(new image) − f(old image) (the reference ships
    // both images on every message precisely for this), so per-group
    // deltas TELESCOPE: advancing the stored view@L1 by the (L1, L2]
    // window lands exactly on view@L2, which the oracle recomputes
    // directly at L2. Cost is O(window changes + view), never O(base
    // table) — no joins, no base-table access, one partial-agg shuffle.
    "q71_incremental_view" -> ((s, dir) => {
      val all = cdc(s, dir)
      val measures = Seq(
        IncrementalView.liveCount(col("action")),
        IncrementalView.sumOf("sum_cents", col("action"),
          round(col("record_value") * 100).cast("bigint"),
          round(col("old_value") * 100).cast("bigint")))
      val atL1 = IncrementalView.delta(
        all.filter(col("commit_lsn") <= 5000), col("group_id"), measures)
      val window = all.filter(
        col("commit_lsn") > 5000 && col("commit_lsn") <= 9000)
      IncrementalView.advance(atL1, window, col("group_id"), measures)
        .orderBy("group_key")
    }),

    // Multi-level OLAP rollup over the change stream: per (schema, table,
    // action) counts and exact-cents revenue with every prefix subtotal
    // and the grand total in ONE pass — Spark's Expand emits the 4 rollup
    // groupings map-side and partially aggregates BEFORE the single
    // shuffle, so subtotals at 100 TB cost one aggregation, not four
    // scans. Keys are never NULL in this envelope, so the coalesced
    // '(all)' marker is unambiguous and gives a total, hashable order.
    "q72_rollup" -> ((s, dir) =>
      cdc(s, dir)
        .rollup(col("table_schema"), col("table_name"), col("action"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(round(col("record_value") * 100).cast("bigint"))
            .cast("bigint").as("cents"))
        .select(
          coalesce(col("table_schema"), lit("(all)")).as("sch"),
          coalesce(col("table_name"), lit("(all)")).as("tbl"),
          coalesce(col("action"), lit("(all)")).as("act"),
          col("n"), col("cents"))
        .orderBy("sch", "tbl", "act")),

    // Incrementally-maintained SUBTOTAL board: q71's telescoping algebra
    // composed with q72's rollup — Expand emits every subtotal level of
    // each window change map-side, so ONE window pass advances the whole
    // hierarchy (per-table, per-schema, grand total) to exactly its
    // recompute at L2. gid (grouping_id) keys the level in the stored
    // board; O(window × levels + board), never a rescan.
    "q75_incremental_rollup" -> ((s, dir) => {
      val all = cdc(s, dir)
      val measures = Seq(
        IncrementalView.liveCount(col("action")),
        IncrementalView.sumOf("sum_cents", col("action"),
          round(col("record_value") * 100).cast("bigint"),
          round(col("old_value") * 100).cast("bigint")))
      val keys = Seq("table_schema", "table_name")
      val atL1 = IncrementalView.deltaRollup(
        all.filter(col("commit_lsn") <= 5000), keys.map(col), measures)
      val window = all.filter(
        col("commit_lsn") > 5000 && col("commit_lsn") <= 9000)
      IncrementalView.advanceRollup(atL1, window, keys, measures)
        .select(coalesce(col("table_schema"), lit("(all)")).as("sch"),
          coalesce(col("table_name"), lit("(all)")).as("tbl"),
          col("n"), col("sum_cents"))
        .orderBy("sch", "tbl")
    }),

    // Ordered string aggregation (the LISTAGG / string_agg shape): each
    // user's full event journey as one ordered comma-joined string. The
    // deterministic form: collect structs, ONE array_sort on the (ts,
    // event_id) tuple inside the group, then project+join — output is
    // O(group) by definition (journey export), the only agg family whose
    // result scales with group size; journeys are bounded per user.
    "q76_string_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          array_join(transform(array_sort(collect_list(struct(
            unix_micros(col("ts")).as("us"),
            col("event_id").as("eid"),
            col("event_type").as("et")))), x => x.getField("et")), ",")
            .as("journey"),
          count(lit(1)).cast("bigint").as("n"))
        .orderBy("user_id")),

    // Window-navigation battery: lag/lead neighbors, partition-first
    // value, row_number and ntile quartiles in ONE window pass per user
    // — the §2.7 navigation surface exercised together over a total
    // (ts, event_id) order so every engine computes identical frames.
    "q77_window_nav" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
        lag(col("event_type"), 1).over(w).as("prev_et"),
        lead(col("event_type"), 1).over(w).as("next_et"),
        first(col("event_type")).over(w).as("first_et"),
        row_number().over(w).cast("bigint").as("rn"),
        ntile(4).over(w).cast("bigint").as("quartile"))
        .orderBy("event_id")
    }),

    // Time-series gap fill: hourly grid per user with LOCF + exact-cents
    // linear interpolation — grid probes and observations merge-sorted
    // in ONE shuffle (the as-of discipline run both directions), never a
    // grid×obs range join.
    "q78_gapfill" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("user_id") < 200)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("bigint").as("cents"))
      TimeSeries.gapFill(ev, "user_id", "us", "cents",
          stepMicros = 3600000000L)
        .orderBy("user_id", "h_us")
    }),

    // Z-order (Morton) layout key: bit-interleave (custkey, order-day)
    // into the multi-dimensional data-skipping sort key — the write-time
    // layout lever that makes BOTH dims' predicates prune files at
    // 100 TB (Layout.zorderWrite + LayoutSpec prove the pruning; this
    // query gates the bit arithmetic itself, shared with the oracle via
    // Layout.zValueSql so the two can never drift).
    "q79_zorder" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          Layout.zValue(col("o_custkey"),
            datediff(to_date(col("o_orderdate")), lit("1992-01-01")),
            bits = 20).as("zval"))
        .orderBy("o_orderkey")),

    // Multi-touch attribution: per conversion, the touch journey since
    // the user's previous conversion — first/last touch + exact-integer
    // linear credit split (div/mod, remainder to the last touch). One
    // user-hash partitioning serves counter window, journey join, and
    // aggregate — no time-range self-join of the event table.
    "q81_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"), col("value"))
      Behavior.attribution(ev, "user_id", "us", "event_id", "event_type",
          "value", convType = "purchase", touchTypes = Seq("view", "click"))
        .orderBy("user_id", "conv_idx")
    }),

    // Conversion-windowed funnel: the q60 chain with a 24h per-step
    // budget, first-touch anchored (the product-analytics "first"
    // counting mode — a timed-out first anchor counts as not converted,
    // by declared semantics). Same one-partitioning window chain.
    "q84_timed_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"))
      Behavior.funnel(ev, "user_id", "us", "event_type",
          Seq("signup", "click", "purchase"),
          maxGapUs = Some(86400000000L))
        .orderBy("user_id")
    }),

    // Path analysis: each user's first-3-event-type journey, counted
    // across the user base (the Sankey/top-paths board). One user-hash
    // window for the first-k selection, then a tiny path aggregation —
    // the k-step cap keeps path cardinality bounded at any corpus size.
    "q82_paths" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val firstK = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
      firstK.groupBy("user_id")
        .agg(
          max(when(col("rn") === 1, col("event_type"))).as("s1"),
          max(when(col("rn") === 2, col("event_type"))).as("s2"),
          max(when(col("rn") === 3, col("event_type"))).as("s3"))
        .select(concat_ws(">", col("s1"), col("s2"), col("s3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
    }),

    // Market-basket association rules over the order fact: brand pairs
    // co-purchased in one order, with exact-ppm support / both-direction
    // confidence / lift. Pair space is ORDER-LOCAL (≤ per-order distinct
    // brands², never catalog²); dim lookup broadcasts; all counts
    // map-side combinable.
    "q87_basket" -> ((s, dir) => {
      val joined = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("o"), col("p_brand").as("b"))
      // r17 NEGATIVE RESULT: a one-shuffle rewrite — groupBy(o)
      // .collect_set(b) + map-side HOF pair/presence explode + one tiny
      // grouped count (the kmvSetOps exact-audit shape) — lost its
      // interleaved A/B (OPTIMIZATION_r17.md). sf0.1: wash (min
      // 2.14→2.11, med 2.47→2.28). sf1: LOSS (min 5.66→6.00, med
      // 5.81→6.99): collect_set is a TypedImperativeAggregate, and past
      // the ObjectHashAggregate sort-based fallback threshold (128 keys)
      // a millions-of-orders groupBy degenerates to a full
      // sort-aggregation of the fact table — strictly worse than this
      // self-join, whose x/y sides reuse one exchange (ReuseExchange)
      // and whose pair space is order-local.
      // baskets subtree: the distinct exchange is REUSED by the
      // self-join's x/y sides within the one action
      val baskets = joined.distinct()
      val nOrders = baskets.select(countDistinct(col("o")).as("n"))
      val brandCounts = baskets.groupBy(col("b"))
        .agg(count(lit(1)).as("cb"))
      val pairs = baskets.as("x")
        .join(baskets.as("y"), col("x.o") === col("y.o") &&
          col("x.b") < col("y.b"))
        .groupBy(col("x.b").as("brand_a"), col("y.b").as("brand_b"))
        .agg(count(lit(1)).as("pair_orders"))
        .filter(col("pair_orders") >= 50)
      pairs
        .join(broadcast(brandCounts.select(col("b").as("brand_a"),
          col("cb").as("ca"))), Seq("brand_a"))
        .join(broadcast(brandCounts.select(col("b").as("brand_b"),
          col("cb").as("cbb"))), Seq("brand_b"))
        .crossJoin(broadcast(nOrders))
        .select(col("brand_a"), col("brand_b"), col("pair_orders"),
          expr("(1000000 * pair_orders) div n").as("support_ppm"),
          expr("(1000000 * pair_orders) div ca").as("conf_a_to_b_ppm"),
          expr("(1000000 * pair_orders) div cbb").as("conf_b_to_a_ppm"),
          expr("(1000000 * pair_orders * n) div (ca * cbb)").as("lift_micro"))
        .orderBy("brand_a", "brand_b")
    }),

    // TPC-H Q1's pricing summary in EXACT integer cents: the discount
    // and tax factors become integer percent multipliers, so both
    // engines sum identical integers — no FP aggregation order to
    // drift. One map-side-combinable aggregation over the fact scan
    // with the date filter pushed down.
    "q88_pricing_summary" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_quantity")).cast("bigint").as("qty"),
          round(col("l_extendedprice") * 100).cast("bigint").as("ext_cents"),
          round(col("l_discount") * 100).cast("int").as("disc_pct"),
          round(col("l_tax") * 100).cast("int").as("tax_pct"))
        .withColumn("disc_cents", expr("(ext_cents * (100 - disc_pct)) div 100"))
        .withColumn("charge_cents", expr("(disc_cents * (100 + tax_pct)) div 100"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("qty")).as("sum_qty"),
          sum(col("ext_cents")).as("sum_base_cents"),
          sum(col("disc_cents")).as("sum_disc_cents"),
          sum(col("charge_cents")).as("sum_charge_cents"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Revenue by region/nation across the full star join: dims
    // broadcast (region → nation → customer), the fact side shuffles
    // ONCE on the orders⋈lineitem key — the plan every warehouse wants
    // on this shape at 100 TB.
    "q89_nation_revenue" -> ((s, dir) => {
      val custDim = broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name")))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * 100).cast("bigint").as("ext_cents"),
          round(col("l_discount") * 100).cast("int").as("disc_pct"))
        .withColumn("rev_cents", expr("(ext_cents * (100 - disc_pct)) div 100"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(custDim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("rev_cents")).as("revenue_cents"),
          count(lit(1)).as("n_lines"))
        .orderBy("r_name", "n_name")
    }),

    // Late-shipment SLA by priority — the EXISTS shape (TPC-H Q4's):
    // orders with ANY lineitem shipped > 90 days after order date,
    // expressed as a LEFT SEMI join so the probe side deduplicates
    // inside the join (no post-join distinct over the fact blowup).
    "q90_late_orders" -> ((s, dir) => {
      val late = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"))
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          col("o_orderdate"))
      orders.join(late,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > date_add(to_date(col("o_orderdate")), 90)
              .cast("timestamp"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_late_orders"))
        .orderBy("o_orderpriority")
    }),

    // Customers with no orders — the NOT EXISTS shape as a LEFT ANTI
    // join (never a NOT IN, whose NULL semantics scan-and-broadcast the
    // whole subquery): per market segment, how much of the customer
    // base is dormant, in exact ppm.
    "q91_dormant_customers" -> ((s, dir) => {
      val custs = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val dormant = custs.join(Tables.orders(s, dir).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_dormant"))
      custs.groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .join(dormant, Seq("c_mktsegment"), "left_outer")
        .na.fill(0L, Seq("n_dormant"))
        .withColumn("dormant_ppm", expr("(1000000 * n_dormant) div n_customers"))
        .orderBy("c_mktsegment")
    }),

    // Ratio-to-report: each nation's share of its region's revenue as a
    // window aggregate OVER the grouped result (ppm, integer div) — the
    // share is computed on |nations| rows, never a second fact pass.
    "q92_revenue_share" -> ((s, dir) => {
      val byNation = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * 100).cast("bigint").as("ext_cents"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name"), col("n_regionkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_regionkey"), col("n_name"))
        .agg(sum(col("ext_cents")).as("revenue_cents"))
      byNation
        .withColumn("region_cents", sum(col("revenue_cents")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("n_regionkey")))
        .select(col("n_regionkey"), col("n_name"), col("revenue_cents"),
          expr("(1000000 * revenue_cents) div region_cents").as("share_ppm"))
        .orderBy("n_regionkey", "n_name")
    }),

    // Year-over-year growth: yearly revenue + lag window + integer-ppm
    // delta — the board every warehouse serves, shaped as one yearly
    // aggregate and a |years|-row window.
    "q93_yoy_revenue" -> ((s, dir) => {
      val yearly = Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("yr"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .groupBy("yr").agg(sum(col("cents")).as("revenue_cents"))
      yearly
        .withColumn("prev_cents", lag(col("revenue_cents"), 1).over(
          org.apache.spark.sql.expressions.Window.orderBy("yr")))
        .withColumn("yoy_ppm",
          when(col("prev_cents").isNotNull,
            expr("(1000000 * (revenue_cents - prev_cents)) div prev_cents")))
        .orderBy("yr")
    }),

    // Demand-trend detection: per brand, the least-squares slope of
    // monthly order volume — in EXACT integer arithmetic (slope_micro =
    // 1e6·(nΣxy − ΣxΣy) div (nΣx² − (Σx)²) over integer month indexes
    // and counts; no FP regression to drift cross-engine). Monthly
    // rollup is map-side combinable; the regression runs on
    // |brands × months| rows.
    "q94_brand_trend" -> ((s, dir) => {
      val monthly = Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
            .cast("bigint").as("m"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("m"))
        .agg(count(lit(1)).as("y"))
      monthly
        .withColumn("x", col("m") - min(col("m")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("p_brand")))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_months"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .filter(col("n_months") > 1)
        // portable FLOOR division (q78's trick): Spark div truncates
        // toward zero, DuckDB // floors — align on floor for negative
        // slopes by making the numerator exactly divisible first
        .withColumn("num", expr("1000000 * (n_months * sxy - sx * sy)"))
        .withColumn("den", expr("n_months * sxx - sx * sx"))
        .select(col("p_brand"), col("n_months"),
          expr("(num - (((num % den) + den) % den)) div den")
            .as("slope_micro"))
        .orderBy("p_brand")
    }),

    // Fulfillment-latency SLA bands: exact p50/p95/max ship lag (days)
    // per order priority — q83's integer order-statistic machinery on
    // the order→lineitem join; one shuffle on the priority bucket.
    "q95_ship_lag_bands" -> ((s, dir) => {
      val lag = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("prio"),
          col("l_orderkey"), col("l_linenumber"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("bigint").as("lag_days"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("prio")
        .orderBy(col("lag_days"), col("l_orderkey"), col("l_linenumber"))
      lag.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("prio")))
        .groupBy(col("prio"), col("n"))
        .agg(
          max(when(col("rn") === expr("(n + 1) div 2"),
            col("lag_days"))).as("p50_days"),
          max(when(col("rn") === expr("(n * 19 + 19) div 20"),
            col("lag_days"))).as("p95_days"),
          max(col("lag_days")).as("max_days"))
        .select(col("prio"), col("n").as("n_lines"), col("p50_days"),
          col("p95_days"), col("max_days"))
        .orderBy("prio")
    }),

    // Repeat-purchase cadence: days between a customer's consecutive
    // orders (lag window per customer), reduced to the exact median
    // interval per market segment — purchase-frequency segmentation as
    // one customer-hash window + one segment-hash order statistic.
    "q96_repeat_cadence" -> ((s, dir) => {
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("od"), col("o_orderkey"))
      val gaps = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("od"))
        .withColumn("prev_od", lag(col("od"), 1).over(wc))
        .filter(col("prev_od").isNotNull)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("od"), col("prev_od")).cast("bigint").as("gap_days"))
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy("c_mktsegment")
        .orderBy(col("gap_days"), col("o_orderkey"))
      gaps.withColumn("rn", row_number().over(ws))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("c_mktsegment")))
        .groupBy(col("c_mktsegment"), col("n"))
        .agg(max(when(col("rn") === expr("(n + 1) div 2"),
          col("gap_days"))).as("median_gap_days"))
        .select(col("c_mktsegment"), col("n").as("n_gaps"),
          col("median_gap_days"))
        .orderBy("c_mktsegment")
    }),

    // Supplier concentration per part type: the Herfindahl index in
    // integer micro units — per-supplier ppm shares squared and summed (Σ share_ppm² div 1e6; T² would overflow BIGINT on big fixtures) over
    // supplier revenue in WHOLE DOLLARS (cents would overflow the
    // BIGINT square past ~sf1; at larger SFs scale the unit again —
    // the index is scale-free). Two map-side-combinable aggregations.
    "q97_supplier_hhi" -> ((s, dir) => {
      val bySupp = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice")).cast("bigint").as("dollars"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"), col("l_suppkey"))
        .agg(sum(col("dollars")).as("r"))
      // per-supplier ppm shares first: t² overflows BIGINT on big
      // fixtures, Σ share_ppm² never can (≤ 1e12·|suppliers|)
      bySupp
        .withColumn("t", sum(col("r")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("p_type")))
        .withColumn("share_ppm", expr("(1000000 * r) div t"))
        .groupBy("p_type")
        .agg(count(lit(1)).as("n_suppliers"),
          expr("sum(share_ppm * share_ppm) div 1000000").as("hhi_micro"))
        .orderBy("p_type")
    }),

    // RFM segmentation: recency / frequency / monetary terciles by
    // EXACT rank arithmetic (rank ≤ n/3 → bucket 1, ≤ 2n/3 → 2, else 3;
    // ties broken by custkey so both engines cut identically), customers
    // counted per (r, f, m) cell — the classic CRM cube. Each of the
    // three ranks is Ordering.globalRank (range-partitioned distributed
    // sort + zipWithIndex, ≡ row_number — proven in q70): customers
    // scale with the data, so a bare Window.orderBy here would
    // single-task every customer at 100 TB. The customer aggregate is
    // localCheckpoint'd once and feeds all three rank passes.
    "q98_rfm_segments" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_od"),
          count(lit(1)).as("freq"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
        .localCheckpoint()
      def tercile(rankCol: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        when(rankCol <= expr("n div 3"), 1)
          .when(rankCol <= expr("(2 * n) div 3"), 2)
          .otherwise(3)
      val n1 = base.agg(count(lit(1)).cast("bigint").as("n"))
      val rr = Ordering.globalRank(base.select(col("o_custkey"), col("last_od")),
        Seq(col("last_od").desc, col("o_custkey").asc), "r_rank")
        .select("o_custkey", "r_rank")
      val fr = Ordering.globalRank(base.select(col("o_custkey"), col("freq")),
        Seq(col("freq").desc, col("o_custkey").asc), "f_rank")
        .select("o_custkey", "f_rank")
      val mr = Ordering.globalRank(base.select(col("o_custkey"), col("cents")),
        Seq(col("cents").desc, col("o_custkey").asc), "m_rank")
        .select("o_custkey", "m_rank")
      rr.join(fr, "o_custkey").join(mr, "o_custkey")
        .crossJoin(broadcast(n1))
        .select(tercile(col("r_rank")).as("r"),
          tercile(col("f_rank")).as("f"),
          tercile(col("m_rank")).as("m"))
        .groupBy("r", "f", "m")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("r", "f", "m")
    }),

    // Supplier reliability: late-line rate (ship > 90 days after order)
    // in exact ppm per supplier with at least 50 lines — the OTIF
    // scorecard; one fact join + one supplier aggregate.
    "q99_supplier_late_rate" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"),
          when(col("l_shipdate") >
            date_add(to_date(col("o_orderdate")), 90).cast("timestamp"),
            1L).otherwise(0L).as("late"))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_lines"), sum(col("late")).as("n_late"))
        .filter(col("n_lines") >= 50)
        .withColumn("late_ppm", expr("(1000000 * n_late) div n_lines"))
        .orderBy("l_suppkey")),

    // The executive one-liner: global KPIs in a single fact pass +
    // one broadcast count — orders, revenue, active customers, average
    // order value, late-line rate, all exact-integer.
    "q100_kpis" -> ((s, dir) => {
      val lines = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
          col("l_shipdate"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
      lines.agg(
          countDistinct(col("o_orderkey")).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"),
          sum(col("cents")).as("revenue_cents"),
          count(lit(1)).as("n_lines"),
          sum(when(col("l_shipdate") >
            date_add(to_date(col("o_orderdate")), 90).cast("timestamp"),
            1L).otherwise(0L)).as("n_late"))
        .select(col("n_orders"), col("n_customers"), col("revenue_cents"),
          col("n_lines"),
          expr("revenue_cents div n_orders").as("avg_order_cents"),
          expr("(1000000 * n_late) div n_lines").as("late_ppm"))
    }),

    // Bucketed co-located fact-fact join: both tables hash-clustered on
    // the join key at write time (Layout.writeBucketed), so the join
    // itself is a SortMergeJoin with ZERO Exchange — the layout lever
    // for 100 TB joins that repeat (the write-time shuffle is paid once
    // for every downstream join reusing it). PlanAuditSpec gates the
    // exchange-free shape; the oracle checks the values match a plain
    // join.
    // S9 at scale — metadata-exact remaining count: orders re-laid-out
    // sorted by the cursor (range-partitioned => disjoint row-group
    // stats), then fully-contained row groups counted from parquet
    // footers alone and only cursor-straddling groups scanned. Same
    // answer as q02's scan — layout changes the I/O, not the count.
    "q103_fast_count" -> ((s, dir) => {
      val sorted = s"target/keyset_sorted/${new java.io.File(dir).getName}"
      // INT96 timestamps have no footer min/max the reader supports —
      // pin the modern physical type for the re-laid-out copy
      val prev = s.conf.getOption("spark.sql.parquet.outputTimestampType")
      s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try Tables.orders(s, dir)
        .repartitionByRange(8, col("o_orderdate"), col("o_orderkey"))
        .sortWithinPartitions("o_orderdate", "o_orderkey")
        .write.mode("overwrite").parquet(sorted)
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None => s.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      Keyset.fastRemainingCount(s, sorted, Seq("o_orderdate", "o_orderkey"),
        Seq(java.time.LocalDateTime.parse("1995-06-01T00:00:00"), 3000L))
    }),

    "q101_bucketed_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"),
          round(col("l_extendedprice") * 100).cast("bigint").as("ext_cents"),
          round(col("l_discount") * 100).cast("int").as("disc_pct"))
        .withColumn("rev_cents", expr("(ext_cents * (100 - disc_pct)) div 100"))
        .select("l_orderkey", "rev_cents")
      Layout.writeBucketed(o, "graft_bkt_orders", "o_orderkey", 16,
        "target/bucketed/graft_bkt_orders")
      Layout.writeBucketed(l, "graft_bkt_lineitem", "l_orderkey", 16,
        "target/bucketed/graft_bkt_lineitem")
      Layout.coLocatedJoin(s, "graft_bkt_lineitem", "l_orderkey",
          "graft_bkt_orders", "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          sum(col("rev_cents")).as("revenue_cents"))
        .orderBy("o_orderpriority")
    }),

    // Epoch compaction: build the event table with DELIBERATELY narrow
    // epochs (the dir explosion a years-long stream accrues), coalesce
    // cold epoch runs into group-min-labeled dirs, then replay a change
    // window whose lower bound falls MID-GROUP — the span-widened
    // partition bound must still find rows now living in a dir labeled
    // below the window. Layout changes; the answer must not.
    "q102_epoch_compaction" -> ((s, dir) => {
      val path = scratchDir("cmp")
      val w = epochWidthFor(dir) / 4
      graft.sinks.EventTableSink.upsert(s, cdc(s, dir), path,
        numBuckets = 8, epochWidth = w)
      graft.sinks.EventTableSink.compact(s, path,
        uptoEpoch = Int.MaxValue, groupEpochs = 4)
      graft.sinks.EventTableSink
        .changesBetween(s, path, 5000L, 9000L, epochWidth = w)
        .select(col("record_pk"), col("record_id"), col("action"),
          col("net_effect"), col("commit_lsn"), col("commit_idx"))
        .orderBy("record_id")
    }),

    // Incrementally-maintained MAX — the non-invertible aggregate the
    // telescoping delta algebra (q71/q75) cannot express: monotone fast
    // path for raise-only groups, group-PRUNED partial recompute where
    // a removal/lowering touches the stored max. The maintained state
    // is the latest-image-per-user table; view advanced (4000, 9000]
    // must land exactly on the direct recompute at 9000 (the oracle).
    "q86_incremental_max" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user").orderBy(col("commit_lsn").desc,
          col("commit_idx").desc)
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy("user").orderBy(col("commit_lsn"), col("commit_idx"))
      val ch = cdc(s, dir).select(
        col("record_user_id").as("user"), col("commit_lsn"),
        col("commit_idx"), col("action"),
        round(col("record_value") * 100).cast("bigint").as("cents"))
      def liveStateAt(l: Long) = ch.filter(col("commit_lsn") <= l)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("action") =!= "delete")
        .select(pmod(col("user"), lit(10)).as("group_key"),
          col("cents").as("v"))
      val view1 = liveStateAt(4000L).groupBy("group_key")
        .agg(max(col("v")).as("mx"))
      // window changes with CDC-style old images: the previous event's
      // live value (null when the prior image was absent or a delete)
      val win = ch.filter(col("commit_lsn") <= 9000L)
        .withColumn("old_v", lag(
          when(col("action") =!= "delete", col("cents")), 1).over(wl))
        .filter(col("commit_lsn") > 4000L)
        .select(pmod(col("user"), lit(10)).as("group_key"),
          when(col("action") =!= "delete", col("cents")).as("new_v"),
          col("old_v"))
      IncrementalView.advanceMax(view1, win, liveStateAt(9000L))
        .orderBy("group_key")
    }),

    // Rolling 7-day p50/p95 from MERGEABLE daily histogram sketches:
    // per-day bin counts once, each window sums its days' bin vectors
    // (O(days×bins) merge, raw values scanned exactly once) — the
    // 100 TB rolling-percentile shape; exact form would re-sort 7 days
    // of raw data per output day.
    "q85_rolling_quantiles" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        expr("unix_micros(ts) div 86400000000L").as("day"),
        round(col("value") * 100).cast("bigint").as("cents"))
      graft.sketch.Sketches.rollingHistQuantiles(ev, "day", "cents",
          bins = 256, pcts = Seq(50, 95), windowDays = 7)
        .orderBy("day", "pct")
    }),

    // Hourly value bands: EXACT p50/p95/max per hour bucket as integer
    // order statistics (k-th smallest at k = ceil(q·n), integer cents —
    // no FP percentile interpolation to drift cross-engine). One shuffle
    // on the hour bucket; rank selection is a window over each bucket.
    "q83_latency_bands" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        expr("unix_micros(ts) div 3600000000L").as("h"),
        col("event_id"),
        round(col("value") * 100).cast("bigint").as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("h").orderBy(col("cents"), col("event_id"))
      ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("h")))
        .groupBy(col("h"), col("n"))
        .agg(
          max(when(col("rn") === expr("(n + 1) div 2"),
            col("cents"))).as("p50_cents"),
          max(when(col("rn") === expr("(n * 19 + 19) div 20"),
            col("cents"))).as("p95_cents"),
          max(col("cents")).as("max_cents"))
        .select(col("h"), col("n").as("n_events"), col("p50_cents"),
          col("p95_cents"), col("max_cents"))
        .orderBy("h")
    }),

    // Bounded user-code iteration (the loop-shaped MiniElixir slice):
    // 12 Lehmer-LCG (MINSTD) steps per row, written as an iterate()
    // transform and UNROLLED at plan-build time into one nested integer
    // expression — no runtime loop exists, whole-stage codegen'd, and
    // the iteration count is a config literal capped at 64 so unbounded
    // recursion is unrepresentable. Oracle: the recursive-CTE rendition
    // of the same fixed-count loop.
    "q80_iterate" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          Iterate.unroll("o_orderkey % 2147483646 + 1",
            "(x * 48271) % 2147483647", "x", 12).as("minstd"))
        .orderBy("o_orderkey")),

    // SCD Type-2 dimension build: every change to a dimension key becomes
    // a version row with a [valid_from, valid_to) cursor interval — one
    // shuffle on the key + a lead window, never a history self-join
    // (quadratic on hot keys). Deletes emit no row but CLOSE the prior
    // version (lead runs before the delete filter).
    "q73_scd2" -> ((s, dir) =>
      Scd.type2(cdc(s, dir), "group_id")
        .select(col("group_id"), col("record_id"),
          round(col("record_value") * 100).cast("bigint").as("value_cents"),
          col("commit_lsn").as("valid_from_lsn"),
          col("commit_idx").as("valid_from_idx"),
          col("valid_to_lsn"), col("valid_to_idx"), col("is_current"))
        .orderBy("record_id")),

    // Point-in-time dimension read over the SCD2 table: the version of
    // each key current AT a WAL cursor is a pure interval filter — no
    // window, no join, pushdown-able against a materialized version
    // table. A key whose latest change before the cursor was a delete is
    // ABSENT (its last version was closed at the delete's cursor).
    "q74_version_at" -> ((s, dir) =>
      Scd.versionAt(Scd.type2(cdc(s, dir), "group_id"), lsn = 6000L)
        .select(col("group_id"), col("record_id"),
          col("commit_lsn").as("valid_from_lsn"),
          col("commit_idx").as("valid_from_idx"),
          col("valid_to_lsn"), col("valid_to_idx"))
        .orderBy("group_id", "record_id")),

    // Fixed-iteration integer PageRank over the co-purchase graph
    // (parts sharing an order): product centrality, deterministic ppm
    // arithmetic, one equi-join shuffle per iteration.
    "q65_pagerank" -> ((s, dir) => {
      val edges = graft.graph.GraphOps.coOccurrenceEdges(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
      graft.graph.GraphOps.pageRank(edges, iters = 3, k = 50)
    }),

    // Degree-oriented triangle census of the co-purchase graph: wedges,
    // triangles, global clustering coefficient in exact ppm — each edge
    // oriented low→high degree so hubs never fan out d² candidates.
    "q66_triangles" -> ((s, dir) => {
      val edges = graft.graph.GraphOps.coOccurrenceEdges(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
      graft.graph.GraphOps.triangleStats(edges)
    }),

    // P4b — nested-record mutation via the config transform surface: a
    // dotted transform name rewrites a field INSIDE the struct-typed
    // record (the MiniElixir put_in / jsonb_set analog) — both REPLACING
    // an existing nested field and ADDING a new nested struct, with the
    // mutation expressions reading other nested fields. Flattened for the
    // oracle, which computes the same values from the flat envelope.
    "q58_record_mutation" -> ((s, dir) => {
      val nested = cdc(s, dir).withColumn("record",
        struct(
          struct(col("record_user_id").as("id"), lit("std").as("tier"))
            .as("user"),
          round(col("record_value") * 100).cast("bigint").as("value_cents")))
      val cfg = graft.streaming.ConsumerConfig(name = "mut",
        transformFunctions = Seq(
          "record.user.tier" ->
            "CASE WHEN record.value_cents >= 15000 THEN 'gold' ELSE 'std' END",
          "record.flags" ->
            "named_struct('suspect', record.user.id % 97 = 0)"))
      graft.streaming.CdcPipeline.build(nested, cfg)
        .select(col("record_id"),
          col("record.user.id").as("user_id"),
          col("record.user.tier").as("tier"),
          col("record.value_cents").as("value_cents"),
          col("record.flags.suspect").as("suspect"))
        .orderBy("record_id")
    }),

    // §3.2 capstone — INITIAL SYNC: snapshot + live CDC, composed. The
    // snapshot (state as of cursor L) is emitted as backfill `read`
    // events; reads whose pk the live stream (> L) also touched are
    // FENCED (CDC wins, S8); the delivery stream is the priority merge
    // of fenced reads and live events in (lsn, idx) order (W3). Each pk
    // arrives as ONE read xor its live events — never both. The oracle
    // derives the same stream from full history the simple way, so the
    // whole composition (stateAsOf ∘ fence ∘ merge) is hash-checked.
    "q52_initial_sync" -> ((s, dir) => {
      val all = cdc(s, dir)
      val L = 5000L
      val cols = Seq("record_pk", "record_id", "action",
        "commit_lsn", "commit_idx")
      val snapshot = graft.sinks.EventTableSink.stateAsOf(all, L)
        .withColumn("action", lit("read"))
        .select(cols.map(col): _*)
      val live = all.filter(col("commit_lsn") > L).select(cols.map(col): _*)
      val fenced = graft.ops.Joins.backfillFence(
        snapshot, live.select("record_pk"), Seq("record_pk"))
      fenced.unionByName(live).orderBy("commit_lsn", "commit_idx")
    }),

    // S6/S7 — the FULL backfill loop (driver-paced keyset pages, AIMD
    // page sizing, pages spooled as they are produced): page boundaries
    // must be invisible — the concatenation of every page equals the
    // whole table in cursor order, whatever sizes AIMD picked
    "q47_backfill_run" -> ((s, dir) => {
      val out = graft.backfill.Backfill.run(s, Tables.orders(s, dir),
        Seq("o_orderdate", "o_orderkey"),
        new graft.backfill.PageSizeOptimizer(
          initialPageSize = 500, maxTimeoutMs = 60000, growFactor = 3.0))
      out.select(col("o_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"),
          col("action"))
        .orderBy("o_orderkey")
    }),

    // W2/W6 — per-group FIFO delivery under at-least-once replay: the
    // stream unioned with a full replay of itself must deliver each
    // cursor exactly once, in order (GroupFifo's in-batch dedup; the
    // streaming form adds the cross-batch cursor state, StreamingSpec).
    // Oracle = the un-replayed stream: dedup is provably lossless.
    "q45_group_fifo" -> ((s, dir) => {
      implicit val sess: SparkSession = s
      import sess.implicits._
      val events = cdc(s, dir).as[graft.model.ChangeEvent]
      graft.streaming.GroupFifo.deliverBatch(events.union(events)).toDF()
        .select(col("commit_lsn"), col("commit_idx"), col("group_id"),
          col("record_pk"), col("action"))
        .orderBy("commit_lsn", "commit_idx")
    }),

    // Health/observability — per-table slot snapshot: event counts, WAL
    // span, byte volume, group cardinality, latest event time (the batch
    // form of the reference's health checks / Prometheus metrics,
    // `lib/sequin/health/`)
    "q41_health_snapshot" -> ((s, dir) =>
      cdc(s, dir)
        .groupBy("table_schema", "table_name")
        .agg(
          count(lit(1)).as("n"),
          min("commit_lsn").as("min_lsn"),
          max("commit_lsn").as("max_lsn"),
          sum("byte_size").as("bytes"),
          countDistinct("group_id").as("n_groups"),
          max(unix_micros(col("commit_ts"))).as("last_event_us"),
          sum(when(col("action") === "delete", 1L).otherwise(0L)).as("n_deletes"))
        .orderBy("table_schema", "table_name")),

    // A4 — event-time windowed delivery metrics (count/sum/median per
    // tumbling hour x action): Spark's window() primitive, the batch form
    // of the streaming metrics aggregation
    "q36_windowed_metrics" -> ((s, dir) =>
      cdc(s, dir)
        .withColumn("value_cents", round(col("record_value") * 100).cast("bigint"))
        .groupBy(window(col("commit_ts"), "1 hour"), col("action"))
        .agg(count(lit(1)).as("n"),
          sum("value_cents").as("sum_cents"),
          expr("percentile(value_cents, 0.5D)").as("med_cents"))
        .select(unix_micros(col("window.start")).as("hour_us"), col("action"),
          col("n"), col("sum_cents"), col("med_cents"))
        .orderBy("hour_us", "action")))

  /** DuckDB equivalents. `cdc` CTE prefix from [[Cdc.duckCte]]. */
  val oracles: Map[String, String] = {
    val cte = Cdc.duckCte
    Map(
      "q01_keyset_page" ->
        """SELECT o_orderkey, epoch_ms(o_orderdate) AS o_date_ms, o_totalprice, o_orderstatus
          |FROM orders
          |WHERE (o_orderdate, o_orderkey) > (TIMESTAMP '1995-06-01 00:00:00', 3000)
          |ORDER BY o_orderdate, o_orderkey LIMIT 100""".stripMargin,

      "q02_filtered_count" ->
        """SELECT count(*) AS remaining_count FROM orders
          |WHERE (o_orderdate, o_orderkey) > (TIMESTAMP '1995-06-01 00:00:00', 3000)""".stripMargin,

      "q103_fast_count" ->
        """SELECT count(*) AS remaining_count FROM orders
          |WHERE (o_orderdate, o_orderkey) > (TIMESTAMP '1995-06-01 00:00:00', 3000)""".stripMargin,

      "q03_first_row" ->
        """SELECT l_orderkey, l_linenumber, epoch_ms(l_shipdate) AS ship_ms, l_quantity
          |FROM lineitem ORDER BY l_shipdate, l_orderkey, l_linenumber LIMIT 1""".stripMargin,

      "q04_dedup_upsert" -> (cte +
        """SELECT table_name, group_id, record_id, action, record_value, commit_lsn, commit_idx
          |FROM (SELECT *, row_number() OVER (PARTITION BY table_name, group_id
          |        ORDER BY commit_lsn DESC, commit_idx DESC) AS rn FROM cdc)
          |WHERE rn = 1 ORDER BY table_name, group_id""".stripMargin),

      "q05_source_scope" -> (cte +
        """SELECT table_schema, table_name, table_oid, CAST(count(*) AS BIGINT) AS n
          |FROM cdc
          |WHERE table_schema IN ('public') AND table_oid NOT IN (16387, 16388)
          |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

      "q06_column_filters" -> (cte +
        """SELECT record_id, table_name, record_value, record_props FROM cdc
          |WHERE CAST(record_value AS DOUBLE) > 50
          |  AND lower(table_name) = 't2'
          |  AND CAST(json_extract_string(record_props, '$.k') AS DOUBLE) >= 10
          |  AND action != 'delete'
          |ORDER BY record_id""".stripMargin),

      "q07_filter_function" -> (cte +
        """SELECT record_id, record_user_id, record_value FROM cdc
          |WHERE action = 'insert'
          |  AND CAST(json_extract_string(record_props, '$.k') AS BIGINT) % 2 = 0
          |  AND record_value > 25.5 AND record_props IS NOT NULL
          |ORDER BY record_id""".stripMargin),

      "q08_reject_delivered" -> (cte +
        """SELECT record_id, commit_lsn, commit_idx FROM cdc c
          |WHERE NOT EXISTS (SELECT 1 FROM cdc d
          |  WHERE d.commit_lsn % 16 = 0
          |    AND d.commit_lsn = c.commit_lsn AND d.commit_idx = c.commit_idx)
          |ORDER BY record_id""".stripMargin),

      "q09_path_projection" -> (cte +
        """SELECT record_id,
          |  json_extract_string(record_props, '$.k') AS prop_k,
          |  json_extract_string(record_props, '$.x.y') AS prop_missing,
          |  table_schema, table_name
          |FROM cdc ORDER BY record_id""".stripMargin),

      "q10_transform_reshape" -> (cte +
        """SELECT record_id AS id,
          |  table_schema || '.' || table_name AS fqtn,
          |  record_value * 1.1 AS boosted,
          |  CASE WHEN action = 'insert' THEN 'c'
          |       WHEN action = 'update' THEN 'u' ELSE 'd' END AS op_code,
          |  upper(table_schema) AS schema_uc
          |FROM cdc ORDER BY id""".stripMargin),

      "q11_changes_diff" -> (cte +
        """SELECT record_id, action, old_value, record_value,
          |  CASE WHEN action = 'update' AND old_value IS DISTINCT FROM record_value
          |       THEN old_value END AS changed_value
          |FROM cdc ORDER BY record_id""".stripMargin),

      "q12_toast_resolve" -> (cte +
        """SELECT record_id,
          |  coalesce(nullif(CASE WHEN record_id % 5 = 0 THEN 'unchanged_toast'
          |                       ELSE record_props END, 'unchanged_toast'),
          |           '{"k": -1}') AS resolved_props
          |FROM cdc ORDER BY record_id""".stripMargin),

      "q13_timestamp_format" -> (cte +
        """SELECT record_id,
          |  strftime(commit_ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS ts_iso,
          |  epoch_us(commit_ts) AS ts_us
          |FROM cdc ORDER BY record_id""".stripMargin),

      "q14_group_id" -> (cte +
        """SELECT record_id,
          |  nullif(concat_ws(':',
          |    CASE WHEN table_schema != 'audit' THEN table_name END,
          |    CASE WHEN table_schema != 'audit' THEN group_id END), '') AS group_key
          |FROM cdc ORDER BY record_id""".stripMargin),

      "q15_enrich_join" ->
        """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
          |FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 <> 0) c
          |  ON o_custkey = c_custkey
          |ORDER BY o_orderkey""".stripMargin,

      "q16_backfill_fence" -> (cte +
        """SELECT e.event_id, e.user_id, e.value FROM events e
          |WHERE NOT EXISTS (SELECT 1 FROM cdc c
          |  WHERE c.commit_lsn >= 8000 AND c.record_pk = CAST(e.event_id AS VARCHAR))
          |ORDER BY e.event_id""".stripMargin),

      "q17_min_cursor" -> (cte +
        """SELECT commit_lsn AS min_commit_lsn, commit_idx AS min_commit_idx
          |FROM cdc WHERE commit_lsn % 16 <> 0
          |ORDER BY commit_lsn, commit_idx LIMIT 1""".stripMargin),

      "q18_running_counts" -> (cte +
        """SELECT epoch_us(h) AS hour_us, n,
          |  CAST(sum(n) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_n
          |FROM (SELECT date_trunc('hour', commit_ts) AS h, CAST(count(*) AS BIGINT) AS n
          |      FROM cdc GROUP BY 1)
          |ORDER BY hour_us""".stripMargin),

      "q19_stats" -> (cte +
        """SELECT action, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(value_cents) AS BIGINT) AS sum_cents,
          |  min(value_cents) AS min_cents,
          |  max(value_cents) AS max_cents,
          |  quantile_cont(value_cents, 0.5) AS med_cents
          |FROM (SELECT action, CAST(round(record_value * 100) AS BIGINT) AS value_cents
          |      FROM cdc)
          |GROUP BY action ORDER BY action""".stripMargin),

      "q20_total_order" -> (cte +
        """SELECT commit_lsn, commit_idx, record_id FROM cdc
          |ORDER BY commit_lsn, commit_idx""".stripMargin),

      "q21_head_of_group" -> (cte.stripSuffix("\n") +
        """, cdc2 AS (SELECT record_id, commit_lsn, commit_idx,
          |    CASE WHEN table_schema != 'audit' THEN group_id END AS group_id
          |  FROM cdc)
          |SELECT group_id, record_id, commit_lsn, commit_idx FROM (
          |  SELECT group_id, record_id, commit_lsn, commit_idx FROM (
          |    SELECT *, row_number() OVER (PARTITION BY group_id
          |      ORDER BY commit_lsn, commit_idx) AS rn
          |    FROM cdc2 WHERE group_id IS NOT NULL) WHERE rn = 1
          |  UNION ALL
          |  SELECT group_id, record_id, commit_lsn, commit_idx
          |  FROM cdc2 WHERE group_id IS NULL)
          |ORDER BY record_id""".stripMargin),

      "q22_priority_merge" -> (cte +
        """SELECT priority, commit_lsn, commit_idx, record_id FROM (
          |  SELECT 0 AS priority, commit_lsn, commit_idx, record_id
          |  FROM cdc WHERE record_user_id % 2 = 0
          |  UNION ALL
          |  SELECT 1 AS priority, commit_lsn, commit_idx, record_id
          |  FROM cdc WHERE record_user_id % 2 = 1)
          |ORDER BY priority, commit_lsn, commit_idx""".stripMargin),

      "q23_byte_batches" -> (cte +
        """SELECT group_id, commit_lsn, commit_idx, byte_size,
          |  CAST(sum(byte_size) OVER w AS BIGINT) AS running_bytes,
          |  (CAST(sum(byte_size) OVER w AS BIGINT) - 1) // 4096 AS batch_idx
          |FROM cdc
          |WINDOW w AS (PARTITION BY group_id ORDER BY commit_lsn, commit_idx
          |             ROWS UNBOUNDED PRECEDING)
          |ORDER BY group_id, commit_lsn, commit_idx""".stripMargin),

      "q24_multi_desc_sort" ->
        """SELECT o_orderkey, epoch_ms(o_orderdate) AS o_date_ms, o_totalprice
          |FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 50""".stripMargin,

      "q34_fanout" -> (cte +
        """SELECT consumer, n FROM (
          |  SELECT 'all_public' AS consumer,
          |    CAST(sum(CASE WHEN table_schema IN ('public')
          |      AND action IN ('read','insert','update','delete') THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n FROM cdc
          |  UNION ALL
          |  SELECT 'inserts_only',
          |    CAST(sum(CASE WHEN action IN ('read','insert') THEN 1 ELSE 0 END)
          |      AS BIGINT) FROM cdc
          |  UNION ALL
          |  SELECT 'big_values',
          |    CAST(sum(CASE WHEN action IN ('read','insert','update')
          |      AND CAST(record_value AS DOUBLE) > 100 THEN 1 ELSE 0 END)
          |      AS BIGINT) FROM cdc)
          |ORDER BY consumer""".stripMargin),

      "q35_annotations" -> (cte +
        """SELECT record_id, record_user_id,
          |  last_value(CASE WHEN action = 'insert'
          |    THEN json_extract_string(record_props, '$.k') END IGNORE NULLS)
          |    OVER (PARTITION BY record_user_id ORDER BY commit_lsn, commit_idx
          |          ROWS UNBOUNDED PRECEDING) AS annotation
          |FROM cdc ORDER BY record_id""".stripMargin),

      "q40_annotations_clear" -> (cte +
        """, m AS (SELECT record_id, record_user_id,
          |  last_value(CASE WHEN action = 'insert'
          |      THEN 'set:' || json_extract_string(record_props, '$.k')
          |    WHEN action = 'delete' THEN 'clear' END IGNORE NULLS)
          |    OVER (PARTITION BY record_user_id ORDER BY commit_lsn, commit_idx
          |          ROWS UNBOUNDED PRECEDING) AS last_marker
          |  FROM cdc)
          |SELECT record_id, record_user_id,
          |  CASE WHEN last_marker LIKE 'set:%' THEN substring(last_marker, 5)
          |  END AS annotation
          |FROM m ORDER BY record_id""".stripMargin),

      "q43_salted_agg" -> (cte +
        """SELECT group_id, CAST(count(*) AS BIGINT) AS n
          |FROM cdc GROUP BY group_id ORDER BY group_id""".stripMargin),

      "q45_group_fifo" -> (cte +
        """SELECT commit_lsn, commit_idx, group_id, record_pk, action
          |FROM cdc ORDER BY commit_lsn, commit_idx""".stripMargin),

      "q53_change_feed" -> (cte +
        """SELECT record_pk, record_id, action,
          |  CASE WHEN action = 'delete' THEN 'delete' ELSE 'upsert' END
          |    AS net_effect,
          |  commit_lsn, commit_idx FROM (
          |  SELECT record_pk, record_id, action, commit_lsn, commit_idx,
          |    row_number() OVER (PARTITION BY record_pk
          |      ORDER BY commit_lsn DESC, commit_idx DESC) AS rn
          |  FROM cdc WHERE commit_lsn > 5000 AND commit_lsn <= 8000)
          |WHERE rn = 1 ORDER BY record_id""".stripMargin),

      "q54_asof_join" ->
        """WITH clicks AS (
          |  SELECT user_id, epoch_us(ts) AS prior_ts_us,
          |    max(event_id) AS prior_event_id
          |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
          |purch AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          |  FROM events WHERE event_type = 'purchase')
          |SELECT p.event_id, p.user_id, p.ts_us,
          |  CAST(round(p.value * 100) AS BIGINT) AS value_cents,
          |  c.prior_event_id, c.prior_ts_us
          |FROM purch p ASOF LEFT JOIN clicks c
          |  ON p.user_id = c.user_id AND p.ts_us >= c.prior_ts_us
          |ORDER BY p.event_id""".stripMargin,

      "q59_range_join" ->
        """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us, value,
          |    event_type FROM events),
          |conv AS (SELECT event_id AS conv_id, user_id, us AS c_us
          |  FROM ev WHERE event_type = 'purchase')
          |SELECT c.conv_id, c.user_id, c.c_us,
          |  CAST(count(*) AS BIGINT) AS n_prior,
          |  CAST(sum(CAST(round(p.value * 100) AS BIGINT)) AS BIGINT)
          |    AS value_cents
          |FROM conv c JOIN ev p ON p.user_id = c.user_id
          |  AND p.us BETWEEN c.c_us - 43200000000 AND c.c_us - 1
          |GROUP BY 1, 2, 3 ORDER BY c.conv_id""".stripMargin,

      "q60_funnel" ->
        """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
          |  FROM events),
          |s1 AS (SELECT user_id,
          |    min(CASE WHEN event_type = 'signup' THEN us END) AS t1_us
          |  FROM e GROUP BY 1),
          |s2 AS (SELECT e.user_id,
          |    min(CASE WHEN e.event_type = 'click' AND e.us > s1.t1_us
          |      THEN e.us END) AS t2_us
          |  FROM e JOIN s1 USING (user_id) GROUP BY 1),
          |s3 AS (SELECT e.user_id,
          |    min(CASE WHEN e.event_type = 'purchase' AND e.us > s2.t2_us
          |      THEN e.us END) AS t3_us
          |  FROM e JOIN s2 USING (user_id) GROUP BY 1)
          |SELECT s1.user_id, t1_us, t2_us, t3_us,
          |  CAST(CASE WHEN t1_us IS NOT NULL THEN 1 ELSE 0 END
          |     + CASE WHEN t2_us IS NOT NULL THEN 1 ELSE 0 END
          |     + CASE WHEN t3_us IS NOT NULL THEN 1 ELSE 0 END AS INT)
          |    AS depth
          |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
          |WHERE t1_us IS NOT NULL ORDER BY s1.user_id""".stripMargin,

      "q61_event_transitions" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
          |    event_type FROM events),
          |p AS (SELECT event_type AS from_type,
          |    lead(event_type) OVER (PARTITION BY user_id
          |      ORDER BY us, event_id) AS to_type FROM e),
          |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
          |SELECT from_type, to_type, n,
          |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
          |  CAST((n * 1000000) //
          |    CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
          |    AS BIGINT) AS prob_ppm
          |FROM c ORDER BY from_type, to_type""".stripMargin,

      "q62_cohort_retention" ->
        """WITH a AS (SELECT DISTINCT user_id,
          |    epoch_us(ts) // 604800000000 AS wk FROM events),
          |c AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY 1)
          |SELECT c.cohort_wk, CAST(a.wk - c.cohort_wk AS INT)
          |    AS week_offset,
          |  CAST(count(*) AS BIGINT) AS n_users
          |FROM a JOIN c USING (user_id)
          |GROUP BY 1, 2 ORDER BY cohort_wk, week_offset""".stripMargin,

      "q63_interval_coverage" ->
        """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s_us,
          |    epoch_us(ts) + CAST(round(value * 100) AS BIGINT) * 10000
          |      AS e_us
          |  FROM events),
          |sw AS (SELECT *, max(e_us) OVER (PARTITION BY user_id
          |      ORDER BY s_us, e_us, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |    AS prev_end FROM iv),
          |fl AS (SELECT *, CASE WHEN prev_end IS NULL
          |      OR s_us > prev_end THEN 1 ELSE 0 END AS is_new FROM sw),
          |sp AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
          |      ORDER BY s_us, e_us, event_id ROWS UNBOUNDED PRECEDING)
          |    AS span FROM fl),
          |agg AS (SELECT user_id, span, min(s_us) AS ss, max(e_us) AS ee,
          |    count(*) AS n FROM sp GROUP BY 1, 2)
          |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
          |  CAST(count(*) AS BIGINT) AS n_spans,
          |  CAST(sum(ee - ss) AS BIGINT) AS covered_us
          |FROM agg GROUP BY 1 ORDER BY user_id""".stripMargin,

      "q64_anomaly" ->
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
          |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
          |w AS (SELECT event_id, user_id, c,
          |    CAST(count(c) OVER win AS BIGINT) AS n,
          |    CAST(sum(c) OVER win AS BIGINT) AS s,
          |    CAST(sum(c * c) OVER win AS BIGINT) AS q
          |  FROM e WINDOW win AS (PARTITION BY user_id
          |    ORDER BY us, event_id ROWS BETWEEN 20 PRECEDING
          |    AND 1 PRECEDING))
          |SELECT event_id, user_id, c AS value_cents, n AS win_n,
          |  (n * c - s) * (n * c - s) AS dev2,
          |  9 * (n * q - s * s) AS thr
          |FROM w WHERE n >= 10
          |  AND (n * c - s) * (n * c - s) > 9 * (n * q - s * s)
          |ORDER BY event_id""".stripMargin,

      "q67_twap" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
          |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
          |h AS (SELECT user_id, c, us,
          |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
          |      AS next_us FROM e)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_holds,
          |  CAST(sum(next_us - us) AS BIGINT) AS held_us,
          |  CAST(sum(c * (next_us - us)) AS BIGINT) AS weighted,
          |  CAST(sum(c * (next_us - us)) // sum(next_us - us) AS BIGINT)
          |    AS twap_cents
          |FROM h WHERE next_us IS NOT NULL
          |GROUP BY 1 ORDER BY user_id""".stripMargin,

      "q68_stickiness" ->
        """WITH a AS (SELECT DISTINCT user_id,
          |    epoch_us(ts) // 86400000000 AS d FROM events),
          |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau
          |  FROM a GROUP BY 1),
          |wins AS (SELECT DISTINCT user_id, d + o.o AS w FROM a
          |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o) o),
          |wau AS (SELECT w, CAST(count(*) AS BIGINT) AS wau
          |  FROM wins GROUP BY 1)
          |SELECT dau.d AS day, dau.dau, wau.wau,
          |  CAST((dau.dau * 1000000) // wau.wau AS BIGINT)
          |    AS stickiness_ppm
          |FROM dau JOIN wau ON wau.w = dau.d ORDER BY day""".stripMargin,

      "q69_event_pivot" ->
        """SELECT user_id,
          |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
          |    AS n_click,
          |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
          |    AS n_error,
          |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
          |    AS n_purchase,
          |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT)
          |    AS n_signup,
          |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT)
          |    AS n_view
          |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

      "q70_ltv_deciles" ->
        """WITH l AS (SELECT user_id,
          |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |      AS ltv_cents
          |  FROM events GROUP BY 1),
          |r AS (SELECT user_id, ltv_cents,
          |    row_number() OVER (ORDER BY ltv_cents DESC, user_id) AS rk,
          |    (SELECT count(*) FROM l) AS n FROM l)
          |SELECT CAST(((rk - 1) * 10) // n AS INT) AS decile,
          |  CAST(count(*) AS BIGINT) AS n_users,
          |  CAST(sum(ltv_cents) AS BIGINT) AS total_cents,
          |  CAST(min(ltv_cents) AS BIGINT) AS min_cents,
          |  CAST(max(ltv_cents) AS BIGINT) AS max_cents
          |FROM r GROUP BY 1 ORDER BY decile""".stripMargin,

      "q71_incremental_view" -> (cte +
        """SELECT group_id AS group_key,
          |  CAST(sum((CASE WHEN action <> 'delete' THEN 1 ELSE 0 END)
          |    - (CASE WHEN action <> 'insert' THEN 1 ELSE 0 END))
          |    AS BIGINT) AS n,
          |  CAST(sum(COALESCE(CASE WHEN action <> 'delete'
          |        THEN CAST(round(record_value * 100) AS BIGINT) END, 0)
          |    - COALESCE(CASE WHEN action <> 'insert'
          |        THEN CAST(round(old_value * 100) AS BIGINT) END, 0))
          |    AS BIGINT) AS sum_cents
          |FROM cdc WHERE commit_lsn <= 9000
          |GROUP BY 1 ORDER BY group_key""".stripMargin),

      "q72_rollup" -> (cte +
        """SELECT COALESCE(table_schema, '(all)') AS sch,
          |  COALESCE(table_name, '(all)') AS tbl,
          |  COALESCE(action, '(all)') AS act,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(round(record_value * 100) AS BIGINT)) AS BIGINT)
          |    AS cents
          |FROM cdc
          |GROUP BY ROLLUP(table_schema, table_name, action)
          |ORDER BY sch, tbl, act""".stripMargin),

      "q75_incremental_rollup" -> (cte +
        """SELECT COALESCE(table_schema, '(all)') AS sch,
          |  COALESCE(table_name, '(all)') AS tbl,
          |  CAST(sum((CASE WHEN action <> 'delete' THEN 1 ELSE 0 END)
          |    - (CASE WHEN action <> 'insert' THEN 1 ELSE 0 END))
          |    AS BIGINT) AS n,
          |  CAST(sum(COALESCE(CASE WHEN action <> 'delete'
          |        THEN CAST(round(record_value * 100) AS BIGINT) END, 0)
          |    - COALESCE(CASE WHEN action <> 'insert'
          |        THEN CAST(round(old_value * 100) AS BIGINT) END, 0))
          |    AS BIGINT) AS sum_cents
          |FROM cdc WHERE commit_lsn <= 9000
          |GROUP BY ROLLUP(table_schema, table_name)
          |ORDER BY sch, tbl""".stripMargin),

      "q76_string_agg" ->
        """SELECT user_id,
          |  string_agg(event_type, ',' ORDER BY ts, event_id) AS journey,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q77_window_nav" ->
        """SELECT event_id, user_id,
          |  lag(event_type) OVER w AS prev_et,
          |  lead(event_type) OVER w AS next_et,
          |  first_value(event_type) OVER w AS first_et,
          |  CAST(row_number() OVER w AS BIGINT) AS rn,
          |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |ORDER BY event_id""".stripMargin,

      // q78: union merge of observations (kind 0) and grid probes
      // (kind 1); running last_value in both directions brackets each
      // probe; portable floor division for the interpolation
      "q78_gapfill" ->
        """WITH obs AS (SELECT user_id, epoch_us(ts) AS t,
          |    max(CAST(round(value * 100) AS BIGINT)) AS v
          |  FROM events WHERE user_id < 200 AND ts IS NOT NULL
          |  GROUP BY 1, 2),
          |b AS (SELECT user_id,
          |    ((min(t) + 3599999999) // 3600000000) * 3600000000 AS gs,
          |    (max(t) // 3600000000) * 3600000000 AS ge
          |  FROM obs GROUP BY 1),
          |g AS (SELECT user_id, unnest(range(gs, ge + 1, 3600000000)) AS t
          |  FROM b WHERE gs <= ge),
          |u AS (SELECT user_id, t, 0 AS kind, v FROM obs
          |  UNION ALL SELECT user_id, t, 1, NULL FROM g),
          |m AS (SELECT user_id, t, kind,
          |    last_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS)
          |      OVER wa AS pt,
          |    last_value(CASE WHEN kind = 0 THEN v END IGNORE NULLS)
          |      OVER wa AS pv,
          |    last_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS)
          |      OVER wd AS nt,
          |    last_value(CASE WHEN kind = 0 THEN v END IGNORE NULLS)
          |      OVER wd AS nv
          |  FROM u WINDOW
          |    wa AS (PARTITION BY user_id ORDER BY t ASC, kind ASC
          |      ROWS UNBOUNDED PRECEDING),
          |    wd AS (PARTITION BY user_id ORDER BY t DESC, kind ASC
          |      ROWS UNBOUNDED PRECEDING)),
          |s AS (SELECT user_id, t AS h_us, pt, pv, nt, nv,
          |    (nv - pv) * (t - pt) AS num, nt - pt AS den
          |  FROM m WHERE kind = 1)
          |SELECT user_id, h_us, pv AS locf_cents,
          |  CASE WHEN den = 0 THEN pv
          |    ELSE pv + (num - (((num % den) + den) % den)) // den
          |  END AS interp_cents
          |FROM s ORDER BY user_id, h_us""".stripMargin,

      // q79: the exact bit-interleave formula is generated by
      // Layout.zValueSql — one definition for both engines
      "q79_zorder" ->
        s"""WITH d AS (SELECT o_orderkey, o_custkey AS za,
           |  date_diff('day', DATE '1992-01-01',
           |    CAST(o_orderdate AS DATE)) AS zb FROM orders)
           |SELECT o_orderkey,
           |  CAST(${Layout.zValueSql("za", "zb", 20)} AS BIGINT) AS zval
           |FROM d ORDER BY o_orderkey""".stripMargin,

      // q81: the same running-counter journey assignment in SQL — the
      // touch with k conversions strictly before it credits conversion
      // k+1; linear credit split with DIV/%, remainder to the last touch
      "q81_attribution" ->
        """WITH e AS (SELECT user_id, event_id,
          |    epoch_us(ts) AS us, event_type,
          |    CAST(round(value * 100) AS BIGINT) AS cents,
          |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
          |  FROM events),
          |o AS (SELECT *, SUM(is_conv) OVER (PARTITION BY user_id
          |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS cum
          |  FROM e),
          |conv AS (SELECT user_id, CAST(cum AS BIGINT) AS conv_idx,
          |    event_id AS conv_event_id, cents AS value_cents
          |  FROM o WHERE is_conv = 1),
          |touch AS (SELECT user_id, CAST(cum + 1 AS BIGINT) AS conv_idx,
          |    us, event_id, event_type
          |  FROM o WHERE event_type IN ('view', 'click')),
          |tn AS (SELECT *,
          |    row_number() OVER (PARTITION BY user_id, conv_idx
          |      ORDER BY us, event_id) AS ra,
          |    row_number() OVER (PARTITION BY user_id, conv_idx
          |      ORDER BY us DESC, event_id DESC) AS rd
          |  FROM touch),
          |agg AS (SELECT user_id, conv_idx,
          |    count(*) AS n_touches,
          |    max(CASE WHEN ra = 1 THEN event_type END) AS first_touch,
          |    max(CASE WHEN rd = 1 THEN event_type END) AS last_touch
          |  FROM tn GROUP BY 1, 2)
          |SELECT c.user_id, c.conv_idx, c.conv_event_id, c.value_cents,
          |  coalesce(a.n_touches, 0) AS n_touches,
          |  a.first_touch, a.last_touch,
          |  CASE WHEN coalesce(a.n_touches, 0) > 0
          |    THEN c.value_cents // a.n_touches ELSE 0 END AS per_touch_cents,
          |  CASE WHEN coalesce(a.n_touches, 0) > 0
          |    THEN c.value_cents % a.n_touches
          |    ELSE c.value_cents END AS remainder_cents
          |FROM conv c LEFT JOIN agg a USING (user_id, conv_idx)
          |ORDER BY user_id, conv_idx""".stripMargin,

      // q87-q89: identical integer arithmetic in SQL
      "q87_basket" ->
        """WITH baskets AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
          |  FROM lineitem JOIN part ON l_partkey = p_partkey),
          |n AS (SELECT count(DISTINCT o) AS n FROM baskets),
          |bc AS (SELECT b, CAST(count(*) AS BIGINT) AS cb
          |  FROM baskets GROUP BY b),
          |p AS (SELECT x.b AS brand_a, y.b AS brand_b,
          |    CAST(count(*) AS BIGINT) AS pair_orders
          |  FROM baskets x JOIN baskets y ON x.o = y.o AND x.b < y.b
          |  GROUP BY 1, 2 HAVING count(*) >= 50)
          |SELECT brand_a, brand_b, pair_orders,
          |  (1000000 * pair_orders) // n AS support_ppm,
          |  (1000000 * pair_orders) // ca.cb AS conf_a_to_b_ppm,
          |  (1000000 * pair_orders) // cb2.cb AS conf_b_to_a_ppm,
          |  (1000000 * pair_orders * n) // (ca.cb * cb2.cb) AS lift_micro
          |FROM p
          |JOIN bc ca ON ca.b = brand_a
          |JOIN bc cb2 ON cb2.b = brand_b
          |CROSS JOIN n
          |ORDER BY brand_a, brand_b""".stripMargin,

      "q88_pricing_summary" ->
        """WITH l AS (SELECT l_returnflag, l_linestatus,
          |    CAST(round(l_quantity) AS BIGINT) AS qty,
          |    CAST(round(l_extendedprice * 100) AS BIGINT) AS ext_cents,
          |    CAST(round(l_discount * 100) AS INT) AS disc_pct,
          |    CAST(round(l_tax * 100) AS INT) AS tax_pct
          |  FROM lineitem
          |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'),
          |x AS (SELECT *, (ext_cents * (100 - disc_pct)) // 100 AS disc_cents
          |  FROM l)
          |SELECT l_returnflag, l_linestatus,
          |  CAST(sum(qty) AS BIGINT) AS sum_qty,
          |  CAST(sum(ext_cents) AS BIGINT) AS sum_base_cents,
          |  CAST(sum(disc_cents) AS BIGINT) AS sum_disc_cents,
          |  CAST(sum((disc_cents * (100 + tax_pct)) // 100) AS BIGINT)
          |    AS sum_charge_cents,
          |  CAST(count(*) AS BIGINT) AS count_order
          |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q89_nation_revenue" ->
        """SELECT r_name, n_name,
          |  CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) *
          |    (100 - CAST(round(l_discount * 100) AS INT))) // 100)
          |    AS BIGINT) AS revenue_cents,
          |  CAST(count(*) AS BIGINT) AS n_lines
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q100_kpis" ->
        """WITH j AS (SELECT o_orderkey, o_custkey,
          |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
          |    CASE WHEN l_shipdate >
          |      CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
          |      THEN 1 ELSE 0 END AS late
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |a AS (SELECT
          |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
          |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
          |    CAST(sum(cents) AS BIGINT) AS revenue_cents,
          |    CAST(count(*) AS BIGINT) AS n_lines,
          |    CAST(sum(late) AS BIGINT) AS n_late
          |  FROM j)
          |SELECT n_orders, n_customers, revenue_cents, n_lines,
          |  revenue_cents // n_orders AS avg_order_cents,
          |  (1000000 * n_late) // n_lines AS late_ppm
          |FROM a""".stripMargin,

      // the oracle proves the bucketed layout changes the PLAN, not the
      // answer: values must equal the plain (shuffling) join
      "q101_bucketed_join" ->
        """SELECT o_orderpriority,
          |  CAST(count(*) AS BIGINT) AS n_lines,
          |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
          |  CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) *
          |    (100 - CAST(round(l_discount * 100) AS INT))) // 100)
          |    AS BIGINT) AS revenue_cents
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q102_epoch_compaction" -> (cte +
        """SELECT record_pk, record_id, action,
          |  CASE WHEN action = 'delete' THEN 'delete' ELSE 'upsert' END
          |    AS net_effect,
          |  commit_lsn, commit_idx FROM (
          |  SELECT record_pk, record_id, action, commit_lsn, commit_idx,
          |    row_number() OVER (PARTITION BY record_pk
          |      ORDER BY commit_lsn DESC, commit_idx DESC) AS rn
          |  FROM cdc WHERE commit_lsn > 5000 AND commit_lsn <= 9000)
          |WHERE rn = 1 ORDER BY record_id""".stripMargin),

      "q99_supplier_late_rate" ->
        """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_lines,
          |  CAST(sum(CASE WHEN l_shipdate >
          |    CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
          |  (1000000 * CAST(sum(CASE WHEN l_shipdate >
          |    CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
          |    THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT)
          |    AS late_ppm
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1 HAVING count(*) >= 50
          |ORDER BY 1""".stripMargin,

      "q98_rfm_segments" ->
        """WITH base AS (SELECT o_custkey,
          |    max(CAST(o_orderdate AS DATE)) AS last_od,
          |    CAST(count(*) AS BIGINT) AS freq,
          |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |      AS cents
          |  FROM orders GROUP BY 1),
          |rk AS (SELECT *,
          |    CAST(count(*) OVER () AS BIGINT) AS n,
          |    row_number() OVER (ORDER BY last_od DESC, o_custkey) AS r_rank,
          |    row_number() OVER (ORDER BY freq DESC, o_custkey) AS f_rank,
          |    row_number() OVER (ORDER BY cents DESC, o_custkey) AS m_rank
          |  FROM base),
          |seg AS (SELECT
          |    CASE WHEN r_rank <= n // 3 THEN 1
          |      WHEN r_rank <= (2 * n) // 3 THEN 2 ELSE 3 END AS r,
          |    CASE WHEN f_rank <= n // 3 THEN 1
          |      WHEN f_rank <= (2 * n) // 3 THEN 2 ELSE 3 END AS f,
          |    CASE WHEN m_rank <= n // 3 THEN 1
          |      WHEN m_rank <= (2 * n) // 3 THEN 2 ELSE 3 END AS m
          |  FROM rk)
          |SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers
          |FROM seg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

      "q97_supplier_hhi" ->
        """WITH bs AS (SELECT p_type, l_suppkey,
          |    CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)
          |      AS r
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |  GROUP BY 1, 2),
          |sh AS (SELECT p_type,
          |    (1000000 * r) // SUM(r) OVER (PARTITION BY p_type)
          |      AS share_ppm
          |  FROM bs)
          |SELECT p_type, CAST(count(*) AS BIGINT) AS n_suppliers,
          |  CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT)
          |    AS hhi_micro
          |FROM sh GROUP BY 1 ORDER BY p_type""".stripMargin,

      "q96_repeat_cadence" ->
        """WITH g AS (SELECT o_custkey, o_orderkey,
          |    CAST(date_diff('day',
          |      lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
          |        ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
          |      CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
          |  FROM orders),
          |j AS (SELECT c_mktsegment, o_orderkey, gap_days
          |  FROM g JOIN customer ON o_custkey = c_custkey
          |  WHERE gap_days IS NOT NULL),
          |r AS (SELECT *, row_number() OVER (PARTITION BY c_mktsegment
          |      ORDER BY gap_days, o_orderkey) AS rn,
          |    count(*) OVER (PARTITION BY c_mktsegment) AS n FROM j)
          |SELECT c_mktsegment, CAST(n AS BIGINT) AS n_gaps,
          |  max(CASE WHEN rn = (n + 1) // 2 THEN gap_days END)
          |    AS median_gap_days
          |FROM r GROUP BY c_mktsegment, n ORDER BY c_mktsegment""".stripMargin,

      "q95_ship_lag_bands" ->
        """WITH lag AS (SELECT o_orderpriority AS prio, l_orderkey,
          |    l_linenumber,
          |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
          |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_days
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |r AS (SELECT *, row_number() OVER (PARTITION BY prio
          |      ORDER BY lag_days, l_orderkey, l_linenumber) AS rn,
          |    count(*) OVER (PARTITION BY prio) AS n FROM lag)
          |SELECT prio, CAST(n AS BIGINT) AS n_lines,
          |  max(CASE WHEN rn = (n + 1) // 2 THEN lag_days END) AS p50_days,
          |  max(CASE WHEN rn = (n * 19 + 19) // 20 THEN lag_days END)
          |    AS p95_days,
          |  max(lag_days) AS max_days
          |FROM r GROUP BY prio, n ORDER BY prio""".stripMargin,

      "q94_brand_trend" ->
        """WITH monthly AS (SELECT p_brand,
          |    CAST(EXTRACT(year FROM l_shipdate) * 12 +
          |      EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS m,
          |    CAST(count(*) AS BIGINT) AS y
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |  GROUP BY 1, 2),
          |xs AS (SELECT p_brand, y,
          |    m - min(m) OVER (PARTITION BY p_brand) AS x
          |  FROM monthly),
          |agg AS (SELECT p_brand,
          |    CAST(count(*) AS BIGINT) AS n_months,
          |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |    CAST(sum(x * y) AS BIGINT) AS sxy,
          |    CAST(sum(x * x) AS BIGINT) AS sxx
          |  FROM xs GROUP BY 1),
          |d AS (SELECT p_brand, n_months,
          |    1000000 * (n_months * sxy - sx * sy) AS num,
          |    n_months * sxx - sx * sx AS den
          |  FROM agg WHERE n_months > 1)
          |SELECT p_brand, n_months,
          |  (num - (((num % den) + den) % den)) // den AS slope_micro
          |FROM d ORDER BY p_brand""".stripMargin,

      "q92_revenue_share" ->
        """WITH bn AS (SELECT n_regionkey, n_name,
          |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
          |      AS BIGINT) AS revenue_cents
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation ON c_nationkey = n_nationkey
          |  GROUP BY 1, 2)
          |SELECT n_regionkey, n_name, revenue_cents,
          |  CAST((1000000 * revenue_cents) //
          |    SUM(revenue_cents) OVER (PARTITION BY n_regionkey)
          |    AS BIGINT) AS share_ppm
          |FROM bn ORDER BY n_regionkey, n_name""".stripMargin,

      "q93_yoy_revenue" ->
        """WITH y AS (SELECT EXTRACT(year FROM o_orderdate) AS yr,
          |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |      AS revenue_cents
          |  FROM orders GROUP BY 1)
          |SELECT CAST(yr AS INT) AS yr, revenue_cents,
          |  lag(revenue_cents) OVER (ORDER BY yr) AS prev_cents,
          |  CASE WHEN lag(revenue_cents) OVER (ORDER BY yr) IS NOT NULL
          |    THEN (1000000 * (revenue_cents -
          |      lag(revenue_cents) OVER (ORDER BY yr))) //
          |      lag(revenue_cents) OVER (ORDER BY yr) END AS yoy_ppm
          |FROM y ORDER BY yr""".stripMargin,

      "q90_late_orders" ->
        """SELECT o_orderpriority,
          |  CAST(count(*) AS BIGINT) AS n_late_orders
          |FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |  WHERE l_orderkey = o_orderkey
          |    AND l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q91_dormant_customers" ->
        """WITH d AS (SELECT c_mktsegment,
          |    CAST(count(*) AS BIGINT) AS n_dormant
          |  FROM customer
          |  WHERE NOT EXISTS (SELECT 1 FROM orders
          |    WHERE o_custkey = c_custkey)
          |  GROUP BY 1),
          |t AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
          |  FROM customer GROUP BY 1)
          |SELECT t.c_mktsegment, t.n_customers,
          |  coalesce(d.n_dormant, 0) AS n_dormant,
          |  (1000000 * coalesce(d.n_dormant, 0)) // t.n_customers
          |    AS dormant_ppm
          |FROM t LEFT JOIN d USING (c_mktsegment)
          |ORDER BY t.c_mktsegment""".stripMargin,

      // q86: the DIRECT recompute at the advanced cursor — incremental
      // maintenance must land on it exactly
      "q86_incremental_max" -> (cte +
        """, latest AS (SELECT record_user_id, action,
          |    CAST(round(record_value * 100) AS BIGINT) AS cents,
          |    row_number() OVER (PARTITION BY record_user_id
          |      ORDER BY commit_lsn DESC, commit_idx DESC) AS rn
          |  FROM cdc WHERE commit_lsn <= 9000)
          |SELECT CAST(record_user_id % 10 AS BIGINT) AS group_key,
          |  max(cents) AS mx
          |FROM latest WHERE rn = 1 AND action <> 'delete'
          |GROUP BY 1 ORDER BY group_key""".stripMargin),

      // q85: the identical sketch arithmetic in SQL — global bins,
      // per-bin 7-day range window, per-day cumulative scan
      "q85_rolling_quantiles" ->
        """WITH base AS (SELECT epoch_us(ts) // 86400000000 AS day,
          |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
          |st AS (SELECT min(v) AS mn, max(v) AS mx FROM base),
          |pdb AS (SELECT day, ((v - mn) * 256) // (mx - mn + 1) AS bin,
          |    CAST(count(*) AS BIGINT) AS bc
          |  FROM base CROSS JOIN st GROUP BY 1, 2),
          |grid AS (SELECT d.day, b.bin, coalesce(p.bc, 0) AS bc
          |  FROM (SELECT DISTINCT day FROM pdb) d
          |  CROSS JOIN (SELECT DISTINCT bin FROM pdb) b
          |  LEFT JOIN pdb p ON p.day = d.day AND p.bin = b.bin),
          |rolled AS (SELECT day, bin, SUM(bc) OVER (PARTITION BY bin
          |    ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
          |    AS rbc FROM grid),
          |cum AS (SELECT day, bin,
          |    SUM(rbc) OVER (PARTITION BY day ORDER BY bin
          |      ROWS UNBOUNDED PRECEDING) AS cum,
          |    SUM(rbc) OVER (PARTITION BY day) AS n FROM rolled),
          |q AS (SELECT day, pct, n, min(bin) AS qbin
          |  FROM cum CROSS JOIN (VALUES (50), (95)) pcts(pct)
          |  WHERE n > 0 AND cum >= (pct * n + 99) // 100
          |  GROUP BY 1, 2, 3)
          |SELECT day, pct, CAST(n AS BIGINT) AS n_window,
          |  CAST(mn + (qbin * (mx - mn + 1)) // 256 AS BIGINT) AS q_lo
          |FROM q CROSS JOIN st ORDER BY day, pct""".stripMargin,

      // q83: identical rank arithmetic — k = ceil(q·n) as (n+1) div 2 and
      // (19n+19) div 20, value at rank via conditional max
      "q83_latency_bands" ->
        """WITH e AS (SELECT epoch_us(ts) // 3600000000 AS h, event_id,
          |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
          |r AS (SELECT *, row_number() OVER (PARTITION BY h
          |      ORDER BY cents, event_id) AS rn,
          |    count(*) OVER (PARTITION BY h) AS n FROM e)
          |SELECT h, CAST(n AS BIGINT) AS n_events,
          |  max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
          |  max(CASE WHEN rn = (n * 19 + 19) // 20 THEN cents END)
          |    AS p95_cents,
          |  max(cents) AS max_cents
          |FROM r GROUP BY h, n ORDER BY h""".stripMargin,

      // q84: q60's chain with the 24h window bound on each step
      "q84_timed_funnel" ->
        """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
          |  FROM events),
          |s1 AS (SELECT user_id,
          |    min(CASE WHEN event_type = 'signup' THEN us END) AS t1_us
          |  FROM e GROUP BY 1),
          |s2 AS (SELECT e.user_id,
          |    min(CASE WHEN e.event_type = 'click' AND e.us > s1.t1_us
          |      AND e.us <= s1.t1_us + 86400000000
          |      THEN e.us END) AS t2_us
          |  FROM e JOIN s1 USING (user_id) GROUP BY 1),
          |s3 AS (SELECT e.user_id,
          |    min(CASE WHEN e.event_type = 'purchase' AND e.us > s2.t2_us
          |      AND e.us <= s2.t2_us + 86400000000
          |      THEN e.us END) AS t3_us
          |  FROM e JOIN s2 USING (user_id) GROUP BY 1)
          |SELECT s1.user_id, t1_us, t2_us, t3_us,
          |  CAST(CASE WHEN t1_us IS NOT NULL THEN 1 ELSE 0 END
          |     + CASE WHEN t2_us IS NOT NULL THEN 1 ELSE 0 END
          |     + CASE WHEN t3_us IS NOT NULL THEN 1 ELSE 0 END AS INT)
          |    AS depth
          |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
          |WHERE t1_us IS NOT NULL ORDER BY s1.user_id""".stripMargin,

      // q82: identical first-k window + conditional pivot; concat_ws
      // skips NULL steps in both engines (short journeys keep short paths)
      "q82_paths" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
          |    event_type FROM events),
          |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
          |    ORDER BY us, event_id) AS rn FROM e),
          |f AS (SELECT user_id,
          |    max(CASE WHEN rn = 1 THEN event_type END) AS s1,
          |    max(CASE WHEN rn = 2 THEN event_type END) AS s2,
          |    max(CASE WHEN rn = 3 THEN event_type END) AS s3
          |  FROM r WHERE rn <= 3 GROUP BY user_id)
          |SELECT concat_ws('>', s1, s2, s3) AS path,
          |  CAST(count(*) AS BIGINT) AS n_users
          |FROM f GROUP BY 1 ORDER BY n_users DESC, path""".stripMargin,

      // q80: the recursive-CTE rendition of the fixed-count loop the
      // Spark side unrolls at plan-build time — i < 12 is the same bound
      // as iterate(..., n = 12)
      "q80_iterate" ->
        """WITH RECURSIVE it(o_orderkey, i, x) AS (
          |  SELECT o_orderkey, 0, o_orderkey % 2147483646 + 1 FROM orders
          |  UNION ALL
          |  SELECT o_orderkey, i + 1, (x * 48271) % 2147483647
          |  FROM it WHERE i < 12)
          |SELECT o_orderkey, x AS minstd FROM it WHERE i = 12
          |ORDER BY o_orderkey""".stripMargin,

      "q73_scd2" -> (cte +
        """SELECT group_id, record_id,
          |  CAST(round(record_value * 100) AS BIGINT) AS value_cents,
          |  commit_lsn AS valid_from_lsn, commit_idx AS valid_from_idx,
          |  valid_to_lsn, valid_to_idx, is_current
          |FROM (
          |  SELECT group_id, record_id, record_value, commit_lsn,
          |    commit_idx, action,
          |    lead(commit_lsn) OVER w AS valid_to_lsn,
          |    lead(commit_idx) OVER w AS valid_to_idx,
          |    CASE WHEN lead(commit_lsn) OVER w IS NULL THEN 1 ELSE 0 END
          |      AS is_current
          |  FROM cdc
          |  WINDOW w AS (PARTITION BY group_id ORDER BY commit_lsn, commit_idx))
          |WHERE action <> 'delete' ORDER BY record_id""".stripMargin),

      "q74_version_at" -> (cte +
        """SELECT group_id, record_id,
          |  commit_lsn AS valid_from_lsn, commit_idx AS valid_from_idx,
          |  valid_to_lsn, valid_to_idx
          |FROM (
          |  SELECT group_id, record_id, commit_lsn, commit_idx, action,
          |    lead(commit_lsn) OVER w AS valid_to_lsn,
          |    lead(commit_idx) OVER w AS valid_to_idx
          |  FROM cdc
          |  WINDOW w AS (PARTITION BY group_id ORDER BY commit_lsn, commit_idx))
          |WHERE action <> 'delete' AND commit_lsn <= 6000
          |  AND (valid_to_lsn IS NULL OR valid_to_lsn > 6000)
          |ORDER BY group_id, record_id""".stripMargin),

      "q65_pagerank" ->
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem),
          |ed AS (SELECT DISTINCT x.p AS a, y.p AS b
          |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          |adj AS (SELECT a AS s, b AS d FROM ed
          |  UNION ALL SELECT b, a FROM ed),
          |dg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg
          |  FROM adj GROUP BY 1),
          |r0 AS (SELECT s, CAST(1000000 AS BIGINT) AS r FROM dg),
          |c1 AS (SELECT adj.d AS s, CAST(sum(r0.r // dg.deg) AS BIGINT)
          |    AS c FROM adj JOIN r0 ON r0.s = adj.s
          |  JOIN dg ON dg.s = adj.s GROUP BY 1),
          |r1 AS (SELECT s, CAST(150000 + (c * 850000) // 1000000
          |    AS BIGINT) AS r FROM c1),
          |c2 AS (SELECT adj.d AS s, CAST(sum(r1.r // dg.deg) AS BIGINT)
          |    AS c FROM adj JOIN r1 ON r1.s = adj.s
          |  JOIN dg ON dg.s = adj.s GROUP BY 1),
          |r2 AS (SELECT s, CAST(150000 + (c * 850000) // 1000000
          |    AS BIGINT) AS r FROM c2),
          |c3 AS (SELECT adj.d AS s, CAST(sum(r2.r // dg.deg) AS BIGINT)
          |    AS c FROM adj JOIN r2 ON r2.s = adj.s
          |  JOIN dg ON dg.s = adj.s GROUP BY 1),
          |r3 AS (SELECT s, CAST(150000 + (c * 850000) // 1000000
          |    AS BIGINT) AS r FROM c3)
          |SELECT r3.s AS node_id, dg.deg, r3.r AS rank_ppm
          |FROM r3 JOIN dg ON dg.s = r3.s
          |ORDER BY rank_ppm DESC, node_id LIMIT 50""".stripMargin,

      // MATERIALIZED: ed/dg/o are each referenced 3-5 times; DuckDB
      // inlines CTEs by default, re-evaluating the whole chain per
      // reference — at sf1 that exhausted the oracle's buffer pool
      // (measured: OOM at 80 GB inlined, 70 s inside 40 GB materialized)
      "q66_triangles" ->
        """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem),
          |ed AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
          |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
          |adj AS (SELECT a AS s, b AS d FROM ed
          |  UNION ALL SELECT b, a FROM ed),
          |dg AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS deg
          |  FROM adj GROUP BY 1),
          |o AS MATERIALIZED (SELECT CASE WHEN da.deg < db.deg
          |      OR (da.deg = db.deg AND ed.a < ed.b) THEN ed.a
          |      ELSE ed.b END AS s,
          |    CASE WHEN da.deg < db.deg
          |      OR (da.deg = db.deg AND ed.a < ed.b) THEN ed.b
          |      ELSE ed.a END AS d
          |  FROM ed JOIN dg da ON da.s = ed.a JOIN dg db ON db.s = ed.b),
          |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
          |  FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.d < e2.d
          |  JOIN o e3 ON e3.s = e1.d AND e3.d = e2.d)
          |SELECT (SELECT CAST(count(*) AS BIGINT) FROM dg) AS n_nodes,
          |  (SELECT CAST(sum(deg) // 2 AS BIGINT) FROM dg) AS n_edges,
          |  (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) FROM dg)
          |    AS n_wedges,
          |  tri.n_triangles,
          |  CAST((3 * tri.n_triangles * 1000000) //
          |    (SELECT sum((deg * (deg - 1)) // 2) FROM dg) AS BIGINT)
          |    AS gcc_ppm
          |FROM tri""".stripMargin,

      "q55_sessionize" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
          |  FROM events),
          |lagged AS (SELECT *, lag(ts_us) OVER (
          |    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
          |  FROM e),
          |flagged AS (SELECT *, CASE WHEN prev_us IS NULL
          |    OR ts_us - prev_us > 43200000000 THEN 1 ELSE 0 END AS is_new
          |  FROM lagged),
          |sid AS (SELECT *, sum(is_new) OVER (
          |    PARTITION BY user_id ORDER BY ts_us, event_id
          |    ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
          |  FROM flagged)
          |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
          |  min(ts_us) AS start_us, max(ts_us) AS end_us,
          |  CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |    AS value_cents
          |FROM sid GROUP BY 1, 2
          |ORDER BY user_id, session_idx""".stripMargin,

      "q58_record_mutation" -> (cte +
        """SELECT record_id, record_user_id AS user_id,
          |  CASE WHEN CAST(round(record_value * 100) AS BIGINT) >= 15000
          |       THEN 'gold' ELSE 'std' END AS tier,
          |  CAST(round(record_value * 100) AS BIGINT) AS value_cents,
          |  (record_user_id % 97 = 0) AS suspect
          |FROM cdc ORDER BY record_id""".stripMargin),

      "q52_initial_sync" -> (cte +
        """SELECT record_pk, record_id, 'read' AS action,
          |  commit_lsn, commit_idx FROM (
          |  SELECT record_pk, record_id, action, commit_lsn, commit_idx,
          |    row_number() OVER (PARTITION BY record_pk
          |      ORDER BY commit_lsn DESC, commit_idx DESC) AS rn
          |  FROM cdc WHERE commit_lsn <= 5000
          |    AND record_pk NOT IN (
          |      SELECT record_pk FROM cdc WHERE commit_lsn > 5000))
          |WHERE rn = 1 AND action <> 'delete'
          |UNION ALL
          |SELECT record_pk, record_id, action, commit_lsn, commit_idx
          |FROM cdc WHERE commit_lsn > 5000
          |ORDER BY commit_lsn, commit_idx""".stripMargin),

      "q51_time_travel" -> (cte +
        """SELECT record_pk, record_id, action, commit_lsn, commit_idx FROM (
          |  SELECT record_pk, record_id, action, commit_lsn, commit_idx,
          |    row_number() OVER (PARTITION BY record_pk
          |      ORDER BY commit_lsn DESC, commit_idx DESC) AS rn
          |  FROM cdc WHERE commit_lsn <= 5000)
          |WHERE rn = 1 AND action <> 'delete'
          |ORDER BY record_id""".stripMargin),

      "q47_backfill_run" ->
        """SELECT o_orderkey, epoch_ms(o_orderdate) AS o_date_ms,
          |  'read' AS action
          |FROM orders ORDER BY o_orderkey""".stripMargin,

      "q48_event_table_merge" -> (cte +
        """SELECT record_pk, record_id, action, commit_lsn, commit_idx
          |FROM cdc ORDER BY record_id""".stripMargin),

      "q56_retention" -> (cte +
        """SELECT record_pk, record_id, action, commit_lsn, commit_idx
          |FROM cdc WHERE commit_ts >= TIMESTAMP '2024-01-16 00:00:00'
          |ORDER BY record_id""".stripMargin),

      "q104_replay_join" -> (cte +
        """SELECT w.record_pk, w.record_id, d.tier,
          |  CASE WHEN w.action = 'delete' THEN 'delete' ELSE 'upsert' END
          |    AS net_effect,
          |  w.commit_lsn, w.commit_idx
          |FROM (SELECT * FROM (SELECT *, row_number() OVER (
          |        PARTITION BY record_pk
          |        ORDER BY commit_lsn DESC, commit_idx DESC) AS rn
          |      FROM cdc WHERE commit_lsn > 4000 AND commit_lsn <= 9000)
          |      WHERE rn = 1) w
          |JOIN (SELECT DISTINCT record_pk,
          |        CAST(length(record_pk) % 5 AS INT) AS tier FROM cdc) d
          |  ON w.record_pk = d.record_pk
          |ORDER BY w.record_id""".stripMargin),

      "q57_replay" -> (cte +
        """SELECT record_id,
          |  'sequin' || '.' || table_schema || '.' || table_name AS topic,
          |  coalesce(group_id, record_pk) AS message_key,
          |  CAST(CAST('0x' || substr(md5(coalesce(group_id, record_pk)), 1, 8)
          |    AS BIGINT) % 32 AS BIGINT) AS partition,
          |  commit_lsn, commit_idx
          |FROM (SELECT *, row_number() OVER (PARTITION BY record_pk
          |        ORDER BY commit_lsn DESC, commit_idx DESC) AS rn
          |      FROM cdc WHERE commit_lsn > 4000 AND commit_lsn <= 9000)
          |WHERE rn = 1 AND action <> 'delete'
          |ORDER BY record_id""".stripMargin),

      "q42_composite_pks" ->
        """SELECT l_orderkey, l_linenumber,
          |  '["' || CAST(l_orderkey AS VARCHAR) || '","' ||
          |    CAST(l_linenumber AS VARCHAR) || '"]' AS record_pks,
          |  CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
          |    AS pk_key
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

      "q41_health_snapshot" -> (cte +
        """SELECT table_schema, table_name,
          |  CAST(count(*) AS BIGINT) AS n,
          |  min(commit_lsn) AS min_lsn,
          |  max(commit_lsn) AS max_lsn,
          |  CAST(sum(byte_size) AS BIGINT) AS bytes,
          |  CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
          |  CAST(max(epoch_us(commit_ts)) AS BIGINT) AS last_event_us,
          |  CAST(sum(CASE WHEN action = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_deletes
          |FROM cdc GROUP BY table_schema, table_name
          |ORDER BY table_schema, table_name""".stripMargin),

      "q36_windowed_metrics" -> (cte +
        """SELECT epoch_us(date_trunc('hour', commit_ts)) AS hour_us, action,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(value_cents) AS BIGINT) AS sum_cents,
          |  quantile_cont(value_cents, 0.5) AS med_cents
          |FROM (SELECT commit_ts, action,
          |        CAST(round(record_value * 100) AS BIGINT) AS value_cents FROM cdc)
          |GROUP BY 1, 2 ORDER BY hour_us, action""".stripMargin))
  }
}
