package graft.sinks

import graft.ops.Ordering
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.util.Try

/** Change-retention sink: idempotent upsert of CDC batches into an event
  * table — the reference's WAL-pipeline destination
  * (`lib/sequin/runtime/wal_pipeline_server.ex:336-445`:
  * `INSERT ... ON CONFLICT (seq, record_pk) DO UPDATE` — per-row conflict
  * resolution touches only the conflicting rows, never the whole table).
  * For high volume the reference time-partitions the event table with
  * pg_partman so retention DROPs whole partitions instead of DELETE-ing
  * rows (`docs/reference/change-retention.mdx:112-137`).
  *
  * Spark rendition — a TWO-dimensional layout `bucket=B/epoch=E`:
  *   - `bucket` = hash(record_pk) % numBuckets: bounds the blast radius of
  *     an upsert and gives point lookups a 1/numBuckets scan.
  *   - `epoch` = commit_lsn div epochWidth: the pg_partman time-partition
  *     analog. Commit order is monotone, so an append-mostly stream lands
  *     each batch in the newest epoch of each bucket; retention drops
  *     whole fully-expired `epoch=E` directories in O(expired) (no read,
  *     no rewrite) and rewrites only the one boundary epoch; replay
  *     windows (`changesBetween`/`stateAsOf` over the stored table) prune
  *     to in-window epoch dirs via partition filters.
  *
  * An upsert MERGEs last-writer-wins (version = `(commit_lsn,
  * commit_idx)`, NULL lowest) in three Spark jobs, deciding on the driver:
  *   1. the batch is persisted once and its `(pk, version, bucket, epoch,
  *      row id)` keys are collected (job 1);
  *   2. the stored versions of the batch's pks are read on the driver
  *      from the `_keys` index of every live dir in the touched buckets
  *      — no Spark job;
  *   3. per pk, the batch's latest version wins only if it beats the
  *      stored one — a tie or an older row loses, so a full replay
  *      rewrites nothing and runs no further job;
  *   4. one merge — the affected dirs (the winners' dirs plus the dirs of
  *      the stored versions they supersede) minus the superseded pks,
  *      union the winning rows — is staged (jobs 2-3: shuffle and write),
  *      each staged dir gets its `_keys`, and one commit replaces the
  *      affected dirs.
  * Inserting new rows touches one epoch dir per bucket, never the table's
  * history. With Delta/Iceberg this becomes a genuine `MERGE INTO` with
  * file-level pruning, same plan shape.
  *
  * Key index: each live `bucket=B/epoch=E` dir may hold a `_keys` file
  * listing every non-NULL `record_pk` in the dir with its version — the
  * file-level analogue of the reference's `(seq, record_pk)` conflict
  * index. The `_` prefix hides it from every listing. It is staged inside
  * its new dir and moves in with it, or, for a live dir indexed in place,
  * is staged alone and moved in by the same commit; every write path
  * replaces whole dirs, so the invariant is: if a dir has `_keys`, it is
  * exact. The upsert and [[compact]] (when all its sources are indexed)
  * write it; a dir without one (a table written before the index, a
  * [[retention]] boundary rewrite) is scanned once by the next upsert
  * that touches its bucket and indexed then. The probe still reads every
  * `_keys` in the touched buckets — O(retained rows) bytes on the driver
  * (22 B plus the pk's bytes a row), with no Spark job; a per-file bloom
  * filter would bound it. `record_pk` must be a string column.
  *
  * Schema: the table's data schema is recorded in `_schema` at the root
  * (temp file + atomic rename), widened by an upsert BEFORE its commit,
  * and every scan reads with it instead of a `mergeSchema` footer pass —
  * files older than an upstream schema change read back NULL-padded. A
  * table written before `_schema` existed is inferred once and recorded.
  *
  * Crash safety, one protocol for every mutation: it first builds a
  * staging dir `.tmp-<id>` at the table root (dot-prefixed, so invisible
  * to Spark's file index) holding its new `(bucket, epoch)` dirs with
  * their `_keys`, the `_keys` of dirs it indexes in place, and a manifest
  * of `replace` / `drop` / `index` ops. After the fence check and any
  * widening of `_schema` or `_compaction`, ONE atomic rename to
  * `.txn-<id>` commits it; [[finish]] then applies the ops (a replaced or
  * dropped live dir moves into the txn dir, a staged dir or `_keys` file
  * moves into place) and deletes the spent txn. [[repair]] runs before
  * every read and mutation: it deletes every `.tmp-` and finishes every
  * `.txn-`, so a crash before the commit rename rolls the mutation back
  * and a crash from the rename on rolls it forward — readers see a
  * mutation whole or not at all, like the reference's one statement per
  * batch, and replaying a batch is idempotent (W6's exactly-once contract
  * without a transactional store). Every mutation repairs first, so at
  * most one `.txn-` exists at a time. A crash after the widening but
  * before the commit leaves extra all-NULL columns (or a wider
  * compaction span), never hidden data.
  *
  * `numBuckets` and `epochWidth` are per-table layout constants chosen at
  * creation and must never change for an existing table (like the
  * reference's partition interval).
  *
  * `foreach`-batch usage:
  * {{{
  * stream.writeStream.foreachBatch { (batch, _) =>
  *   EventTableSink.upsert(spark, batch, path)
  * }
  * }}}
  */
object EventTableSink {

  val keyCols: Seq[String] = Seq("record_pk")
  val seqCols: Seq[String] = Seq("commit_lsn", "commit_idx")
  val BucketCol = "bucket"
  val EpochCol = "epoch"
  val DefaultBuckets = 64
  /** Default lsn-units per epoch dir. lsn strides like a byte offset, so
    * real tables size this to their WAL volume per retention interval
    * (one epoch ≈ one droppable retention unit).
    */
  val DefaultEpochWidth = 1L << 20

  /** Stable bucket assignment — must never change for an existing table. */
  def bucketOf(pk: Column, numBuckets: Int): Column =
    pmod(xxhash64(pk), lit(numBuckets)).cast("int")

  /** Stable epoch assignment — `lsn div width`. Exact integer semantics:
    * Column `/` is a double divide whose 53-bit mantissa would corrupt
    * lsn past 2^53, so divide the mod-aligned numerator as decimal(38,0).
    * NULL-lsn rows (never produced by the CDC pipeline, but defended) pin
    * to epoch -1 so they survive retention untouched.
    */
  def epochOf(lsn: Column, epochWidth: Long): Column =
    coalesce(
      ((lsn - pmod(lsn, lit(epochWidth))).cast("decimal(38,0)") /
        lit(epochWidth)).cast("int"),
      lit(-1))

  // ---- concurrent-writer fencing (the WireSink epoch pattern) ----------

  /** Handle for the table's single legitimate writer at a given epoch —
    * see [[openWriter]]. A fenced handle's upserts throw instead of
    * interleaving commits with the newer owner.
    */
  final class Writer private[sinks] (val path: String, val epoch: Long) {
    def upsert(spark: SparkSession, batch: DataFrame,
        numBuckets: Int = DefaultBuckets,
        epochWidth: Long = DefaultEpochWidth): Unit =
      EventTableSink.upsert(spark, batch, path, numBuckets, epochWidth,
        Some(this))
  }

  /** Current writer epoch (0 = table never opened with fencing). The
    * `_epoch` name is underscore-prefixed so Spark's file index ignores it.
    */
  def currentEpoch(path: String): Long = {
    val f = Paths.get(path).resolve("_epoch")
    if (!Files.exists(f)) 0L
    else Try(new String(Files.readAllBytes(f), "UTF-8").trim.toLong).getOrElse(0L)
  }

  /** Take over the table as its single writer: bump the `_epoch` file
    * (temp + atomic rename) and return a fenced handle. Every handle from
    * an earlier epoch is thereby fenced — its next mutation fails fast
    * rather than racing commits against the new owner. Two streams
    * upserting one table MUST each hold a current handle; the second
    * `openWriter` wins (last-writer-wins at the granularity of handles).
    *
    * The guarantee is BEST-EFFORT race narrowing, not mutual exclusion:
    * the epoch is checked on entry, before any `_schema` widening and
    * immediately before the commit rename (one rename's worth of window),
    * but a concurrent `openWriter` landing inside that window can still
    * commit one mutation after the new owner took over. Upsert
    * idempotency makes the outcome recoverable (the new owner's replay
    * converges); a hard guarantee needs a lock service or a
    * transactional table format.
    */
  def openWriter(path: String): Writer = {
    val next = currentEpoch(path) + 1
    writeRootFile(path, "_epoch", next.toString)
    new Writer(path, next)
  }

  private def fenceCheck(path: String, writer: Option[Writer]): Unit =
    writer.foreach { w =>
      val cur = currentEpoch(path)
      if (cur != w.epoch)
        throw new IllegalStateException(
          s"event-table writer fenced: epoch ${w.epoch} superseded by " +
            s"$cur at $path")
    }

  /** Read the table (internal layout columns dropped) under its recorded
    * `_schema` (see [[tableSchema]]): dirs untouched since an upstream
    * schema change still hold the narrower files and read back
    * NULL-padded, with no footer pass over the files.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    repair(path)
    scanTable(spark, path, Seq(path)).drop(BucketCol, EpochCol)
  }

  /** The table's data schema (layout columns excluded): the union of
    * every schema its upserts have written, recorded in `_schema` at the
    * table root. A table written before `_schema` existed is inferred
    * once with a `mergeSchema` footer pass and the result recorded (an
    * unreadable file fails it, as it fails any read). None for a table
    * with no data dirs yet.
    */
  def tableSchema(spark: SparkSession, path: String): Option[StructType] = {
    val f = Paths.get(path).resolve("_schema")
    if (Files.exists(f))
      Some(DataType.fromJson(Files.readString(f)).asInstanceOf[StructType])
    else if (!Files.exists(Paths.get(path)) || bucketDirs(Paths.get(path)).isEmpty) None
    else {
      val data = dataSchema(
        spark.read.option("mergeSchema", "true").parquet(path).schema)
      // never overwrites a writer's wider one
      writeRootFile(path, "_schema", data.json, replace = false)
      Some(data)
    }
  }

  /** The data columns of a scan or merge frame as `_schema` holds them:
    * layout columns dropped, every column nullable (as parquet reads it).
    */
  private def dataSchema(s: StructType): StructType =
    StructType(s.fields.filterNot(f => f.name == BucketCol || f.name == EpochCol)
      .map(_.copy(nullable = true)))

  /** Write the root file `name` (`_epoch`, `_schema`, `_compaction`)
    * through a `.tmp-` temp file, which [[repair]] deletes if a crash
    * strands it: an atomic rename over the old file, or, without
    * `replace`, a hard link that fails if the file exists already.
    */
  private def writeRootFile(path: String, name: String, content: String,
      replace: Boolean = true): Unit = {
    val root = Paths.get(path)
    Files.createDirectories(root)
    val tmp = root.resolve(s".tmp-${System.nanoTime()}$name")
    Files.writeString(tmp, content)
    if (replace)
      Files.move(tmp, root.resolve(name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    else { Try(Files.createLink(root.resolve(name), tmp)); Files.delete(tmp) }
  }

  /** The parquet files under `dirs` (the table root, or dirs inside it)
    * read with the data schema `data` and the layout columns typed as
    * partition columns — a table whose dirs were all dropped reads as an
    * empty frame. This is the relation `spark.read.schema(..).parquet(..)`
    * builds, but listed by [[DriverListing]].
    */
  private def scan(spark: SparkSession, path: String, data: StructType,
      dirs: Seq[String]): DataFrame = {
    val schema = data.add(BucketCol, IntegerType).add(EpochCol, IntegerType)
    val conf = spark.sparkContext.hadoopConfiguration
    val roots = dirs.map { d => val p = new HPath(d); p.getFileSystem(conf).makeQualified(p) }
    val index = new InMemoryFileIndex(spark, roots, Map("basePath" -> path),
      Some(schema), new DriverListing(conf))
    val parts = index.partitionSchema
    spark.baseRelationToDataFrame(HadoopFsRelation(index, parts,
      StructType(schema.filterNot(f => parts.fieldNames.contains(f.name))),
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** [[scan]] under the table schema; a table with no data falls back to
    * inference and fails as a plain parquet read of `dirs` does.
    */
  private def scanTable(spark: SparkSession, path: String,
      dirs: Seq[String]): DataFrame = tableSchema(spark, path) match {
    case Some(data) => scan(spark, path, data, dirs)
    case None => spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  /** The file index's listing, done serially on the driver: the index
    * asks its status cache for every root before listing, and its own
    * listing runs a Spark job for any dir with more than 32 children
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`). At 83
    * epoch dirs per bucket that job took ~2 s, the serial listing
    * ~0.13 s. Hidden `_`/`.` names are skipped, as Spark's listing does.
    */
  private final class DriverListing(conf: Configuration) extends FileStatusCache {
    override def getLeafFiles(path: HPath): Option[Array[FileStatus]] = {
      val fs = path.getFileSystem(conf)
      def leaves(s: FileStatus): Seq[FileStatus] =
        if (!s.isDirectory) Seq(s)
        else fs.listStatus(s.getPath).toSeq.filterNot { c =>
          val n = c.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }.flatMap(leaves)
      Some(leaves(fs.getFileStatus(path)).toArray)
    }
    override def putLeafFiles(path: HPath, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** Point lookup: the read-side payoff of bucketing — the key's bucket
    * is computed driver-side ([[bucketOfKey]]) and, when every dir of that
    * bucket has its `_keys`, ONLY the dirs listing the pk are scanned;
    * otherwise the whole bucket subtree (1/numBuckets of the table). The
    * file-level analogue of the reference's `consumer_events` pk index.
    */
  def lookup(spark: SparkSession, path: String, pk: String,
      numBuckets: Int = DefaultBuckets): DataFrame = {
    repair(path)
    val b = bucketOfKey(pk, numBuckets)
    val dir = bucketDir(path, b)
    if (!Files.exists(dir))
      scanTable(spark, path, Seq(path)).drop(BucketCol, EpochCol).limit(0)
    else {
      val epochs = epochsOf(dir)
      val dirs =
        if (epochs.forall(e => Files.exists(keysFile(path, b, e))))
          epochs.filter(e => keysOf(path, b, e).exists(_._1 == pk)).map(pairDir(path, b, _))
        else Seq(dir)
      if (dirs.isEmpty)
        spark.createDataFrame(java.util.List.of[Row](), tableSchema(spark, path).get)
      else
        scanTable(spark, path, dirs.map(_.toString)).drop(BucketCol, EpochCol)
          .filter(col(keyCols.head) === pk)
    }
  }

  /** [[bucketOf]] for one pk on the driver, with no Spark plan: the
    * `xxhash64` of the UTF-8 bytes with Spark's seed 42 (the seed itself
    * for NULL), floor-mod `numBuckets`.
    */
  def bucketOfKey(pk: String, numBuckets: Int): Int = {
    val h = if (pk == null) 42L else XXH64.hashUTF8String(UTF8String.fromString(pk), 42L)
    Math.floorMod(h, numBuckets.toLong).toInt
  }

  /** Idempotently merge `batch` into the layout at `path`, rewriting only
    * the affected `(bucket, epoch)` dirs: those receiving winning batch
    * rows plus those holding the stored versions they supersede. Three
    * Spark jobs: the batch's keys to the driver, then the merge write's
    * shuffle and write (none when every batch row loses, e.g. a full
    * replay). The stored versions come from the `_keys` of each live dir
    * in the touched buckets, read on the driver with only the batch's
    * pks kept. A dir without `_keys` is scanned once on its key columns
    * (one more job) and indexed, in its new dir when the upsert rewrites
    * it, else in place. Every staged dir gets `_keys` — its old entries
    * minus the superseded pks, plus the winners landing in it. All of it
    * is ONE commit (see the header): after a crash a winner's pk is never
    * missing from both its old and its new dir. With a `writer` handle,
    * the epoch is checked on entry, before the schema widening and before
    * the commit (see [[openWriter]] for the exact guarantee).
    */
  def upsert(spark: SparkSession, batch: DataFrame, path: String,
      numBuckets: Int = DefaultBuckets,
      epochWidth: Long = DefaultEpochWidth,
      writer: Option[Writer] = None): Unit = {
    val pkType = batch.select(col(keyCols.head)).schema.head.dataType
    require(pkType == StringType,
      s"event-table ${keyCols.head} must be a string column, got ${pkType.simpleString}")
    fenceCheck(path, writer)
    repair(path)
    run(path, stageUpsert(spark, batch, path, numBuckets, epochWidth), writer)
  }

  /** The staging step of [[upsert]]: decide the winners and stage the
    * merge; None when the batch changes nothing and indexes nothing.
    */
  private[graft] def stageUpsert(spark: SparkSession, batch: DataFrame, path: String,
      numBuckets: Int, epochWidth: Long): Option[Staged] = {
    val pk = keyCols.head
    val keyed = batch
      .withColumn(BucketCol, bucketOf(col(pk), numBuckets))
      .withColumn(EpochCol, epochOf(col(seqCols.head), epochWidth))
      .withColumn(RowId, monotonically_increasing_id())
      .persist() // the key collect fills it, the merge write reads it
    try {
      // job 1: every batch row's key, version and target dir
      val rows = keyed.select(versionCols :+ col(RowId): _*).collect()
        .map(r => (stored(r), r.getLong(5)))
      if (rows.isEmpty) return None
      val latest: Map[String, (Stored, Long)] = rows.groupBy(_._1.pk).map {
        case (k, vs) => k -> vs.maxBy(_._1.version)(VersionOrder)
      }
      val recorded = tableSchema(spark, path)
      // dirs exist only once a schema is recorded or inferred
      def scanDirs(dirs: Seq[String]): DataFrame =
        scan(spark, path, recorded.get, dirs)
      // the stored versions of the batch's pks: every live dir of the
      // touched buckets, from its `_keys` on the driver, or — a dir
      // without one — from a scan of its key columns
      val live = latest.values.map(_._1.bucket).toSeq.distinct.sorted
        .flatMap(b => epochsOf(bucketDir(path, b)).map(b -> _))
      val (indexed, unindexed) =
        live.partition { case (b, e) => Files.exists(keysFile(path, b, e)) }
      val scanned: Map[(Int, Int), Seq[(String, Version)]] =
        if (unindexed.isEmpty) Map.empty
        else scanDirs(unindexed.map { case (b, e) => pairDir(path, b, e).toString })
          .select(versionCols: _*).collect().map(stored).toSeq.filter(_.pk != null)
          .groupBy(s => (s.bucket, s.epoch)).map { case (d, ss) => d -> ss.map(s => s.pk -> s.version) }
      val prior = mutable.ArrayBuffer.empty[Stored]
      def probe(b: Int, e: Int)(k: String, v: Version): Unit =
        if (latest.contains(k)) prior += Stored(k, v, b, e)
      indexed.foreach { case (b, e) => readKeys(keysFile(path, b, e))(probe(b, e)) }
      scanned.foreach { case ((b, e), kvs) => kvs.foreach { case (k, v) => probe(b, e)(k, v) } }
      val priorOf = prior.toSeq.groupBy(_.pk)
      // last-writer-wins on the driver: a stored version that ties or
      // beats the batch's latest wins, so a full replay rewrites nothing
      val winners = latest.values.filter { case (b, _) =>
        priorOf.getOrElse(b.pk, Nil).forall(s => VersionOrder.lt(s.version, b.version))
      }.toSeq
      val superseded = winners.flatMap { case (b, _) => priorOf.getOrElse(b.pk, Nil) }
      val affected = (winners.map(_._1) ++ superseded)
        .map(v => (v.bucket, v.epoch)).distinct.sorted
      // the scanned dirs this upsert leaves as they are: indexed in place
      val inPlace = unindexed.filterNot(affected.contains)
      stage(path) { tmp =>
        val (merge, widen) = if (winners.isEmpty) (Nil, Nil) else {
          val winnerIds = winners.map(_._2).toSet
          val losers = rows.collect { case (_, id) if !winnerIds(id) => id }
          val fresh = (if (losers.isEmpty) keyed
            else keyed.filter(!col(RowId).isin(losers.toSeq: _*))).drop(RowId)
          val affectedDirs = affected.map { case (b, e) => pairDir(path, b, e) }
            .filter(Files.exists(_)).map(_.toString)
          val supersededPks = superseded.map(_.pk).distinct
          // the affected dirs minus the superseded pks, plus the winners.
          // NO Try: if an affected dir cannot be read, the upsert must
          // ABORT (nothing committed) rather than commit a merge without
          // it. allowMissingColumns both ways: an upstream schema change
          // (column added or dropped mid-stream, S2b relation change)
          // widens the table with nulls instead of silently DROPPING the
          // batch's columns.
          val merged =
            if (affectedDirs.isEmpty) fresh
            else {
              val kept = scanDirs(affectedDirs)
              // NULL-safe: NOT IN is NULL for a NULL pk, which must stay
              (if (supersededPks.isEmpty) kept
                else kept.filter(coalesce(!keyIn(supersededPks), lit(true))))
                .unionByName(fresh, allowMissingColumns = true)
            }
          val data = dataSchema(merged.schema)
          val widened = recorded.fold(data) { r =>
            StructType(r.fields.map(f => data.find(_.name == f.name).getOrElse(f)) ++
              data.fields.filterNot(f => r.fieldNames.contains(f.name)))
          }
          writeStaged(merged, tmp)
          // each staged dir's `_keys`: its old entries minus the superseded
          // pks, plus the winners that land in it; an affected dir the
          // merge emptied (all its rows superseded) is dropped
          val gone = supersededPks.toSet
          val landing = winners.map(_._1).groupBy(w => (w.bucket, w.epoch))
          val ops = affected.map { case (b, e) =>
            val staged = tmp.resolve(relDir(b, e))
            if (!Files.exists(staged)) Op(Drop, b, e)
            else {
              val old = scanned.getOrElse((b, e), keysOf(path, b, e))
              writeKeys(staged.resolve(KeysFile), old.filterNot(kv => gone(kv._1)) ++
                landing.getOrElse((b, e), Nil).filter(_.pk != null).map(w => w.pk -> w.version))
              Op(Replace, b, e)
            }
          }
          (ops, if (recorded.contains(widened)) Nil else Seq("_schema" -> widened.json))
        }
        inPlace.foreach { case (b, e) =>
          val staged = Files.createDirectories(tmp.resolve(relDir(b, e)))
          writeKeys(staged.resolve(KeysFile), scanned.getOrElse((b, e), Nil))
        }
        (merge ++ inPlace.map { case (b, e) => Op(Index, b, e) }, widen)
      }
    } finally keyed.unpersist()
  }

  private val RowId = "_graft_row_id"

  /** `(commit_lsn, commit_idx)`, either part possibly NULL. */
  private type Version = (Option[Long], Option[Long])

  /** One row's key, version and `(bucket, epoch)` dir. */
  private final case class Stored(pk: String, version: Version, bucket: Int, epoch: Int)

  /** `(commit_lsn, commit_idx)` with NULL lowest — dedupLatest's order. */
  private val VersionOrder = scala.math.Ordering[Version]

  private val versionCols: Seq[Column] = Seq(col(keyCols.head),
    col(seqCols.head).cast("long"), col(seqCols(1)).cast("long"),
    col(BucketCol), col(EpochCol))

  private def stored(r: Row): Stored = Stored(r.getString(0),
    (Option(r.get(1)).map(_.asInstanceOf[Long]), Option(r.get(2)).map(_.asInstanceOf[Long])),
    r.getInt(3), r.getInt(4))

  private def keyIn(pks: Seq[String]): Column = col(keyCols.head).isin(pks: _*)

  // ---- the per-dir key index ---------------------------------------------

  private val KeysFile = "_keys"

  private def keysFile(path: String, b: Int, e: Int): Path =
    pairDir(path, b, e).resolve(KeysFile)

  /** Write a `_keys` file: an entry count, then per entry the pk's UTF-8
    * bytes behind their length, and a NULL flag plus a long for each
    * version part.
    */
  private def writeKeys(f: Path, entries: Seq[(String, Version)]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)))
    def part(v: Option[Long]): Unit = { out.writeBoolean(v.isEmpty); out.writeLong(v.getOrElse(0L)) }
    try {
      out.writeInt(entries.size)
      entries.foreach { case (k, (lsn, idx)) =>
        val bytes = k.getBytes(UTF_8)
        out.writeInt(bytes.length); out.write(bytes)
        part(lsn); part(idx)
      }
    } finally out.close()
  }

  /** Stream a `_keys` file's entries into `each`. */
  private def readKeys(f: Path)(each: (String, Version) => Unit): Unit = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(f)))
    def part(): Option[Long] = { val isNull = in.readBoolean(); val v = in.readLong()
      if (isNull) None else Some(v) }
    try {
      var n = in.readInt()
      while (n > 0) {
        val bytes = new Array[Byte](in.readInt())
        in.readFully(bytes)
        val k = new String(bytes, UTF_8)
        each(k, (part(), part()))
        n -= 1
      }
    } finally in.close()
  }

  /** Every entry of a live dir's `_keys`; none for a dir not yet written. */
  private def keysOf(path: String, b: Int, e: Int): Seq[(String, Version)] = {
    val f = keysFile(path, b, e)
    val out = mutable.ArrayBuffer.empty[(String, Version)]
    if (Files.exists(f)) readKeys(f)((k, v) => out += k -> v)
    out.toSeq
  }

  // ---- the commit protocol -------------------------------------------------

  /** A staged mutation, `.tmp-<id>` at the table root: its new
    * `bucket=B/epoch=E` dirs, the `_keys` of the dirs it indexes in place
    * and its manifest. `widen` holds the root files (`_schema`,
    * `_compaction`) to rewrite before the commit.
    */
  private[graft] final case class Staged(id: String, widen: Seq[(String, String)])

  /** A manifest op on the dir `bucket=b/epoch=e`: [[Replace]] it with the
    * staged dir, [[Drop]] it, or [[Index]] it with the staged `_keys`.
    */
  private final case class Op(kind: String, b: Int, e: Int)
  private val Replace = "replace"
  private val Drop = "drop"
  private val Index = "index"
  private val Manifest = "_manifest"
  /** Where a txn keeps the live dirs it replaced or dropped. */
  private val Spent = "_spent"

  private def relDir(b: Int, e: Int): String = s"$BucketCol=$b/$EpochCol=$e"

  /** Build a staging dir with `body`, which returns the ops and the root
    * files to widen, then write the manifest; None when there is no op.
    * A failure deletes the dir.
    */
  private def stage(path: String)(
      body: Path => (Seq[Op], Seq[(String, String)])): Option[Staged] = {
    val id = System.nanoTime().toString
    val tmp = Paths.get(path).resolve(s".tmp-$id")
    try {
      val (ops, widen) = body(tmp)
      if (ops.isEmpty) None
      else {
        Files.createDirectories(tmp)
        Files.writeString(tmp.resolve(Manifest),
          ops.map(o => s"${o.kind} ${o.b} ${o.e}").mkString("\n"))
        Some(Staged(id, widen))
      }
    } catch { case t: Throwable => deleteRecursively(tmp); throw t }
  }

  /** Write `df` into the staging dir `tmp`, one `bucket=B/epoch=E` dir
    * per pair. Clustered by `(bucket, epoch)` first, so one task owns each
    * dir and writes a few contiguous files, not (tasks × dirs) fragments;
    * sorted by key within each dir, so parquet min/max stats are tight and
    * a point lookup prunes row groups inside the dir.
    */
  private def writeStaged(df: DataFrame, tmp: Path): Unit =
    df.repartition(col(BucketCol), col(EpochCol))
      .sortWithinPartitions(Seq(col(BucketCol), col(EpochCol)) ++ keyCols.map(col): _*)
      .write.partitionBy(BucketCol, EpochCol).mode(SaveMode.Overwrite)
      .parquet(tmp.toString)

  /** Commit a staged mutation: check the fence, widen its root files
    * (a crash after this leaves them wider than the files, never files a
    * reader cannot see), check the fence again and rename `.tmp-<id>` to
    * `.txn-<id>`. Returns the txn dir; a failure deletes the staging dir.
    */
  private[graft] def commit(path: String, s: Staged, writer: Option[Writer]): Path = {
    val root = Paths.get(path)
    val tmp = root.resolve(s".tmp-${s.id}")
    try {
      if (s.widen.nonEmpty) {
        fenceCheck(path, writer)
        s.widen.foreach { case (name, content) => writeRootFile(path, name, content) }
      }
      fenceCheck(path, writer)
      Files.move(tmp, root.resolve(s".txn-${s.id}"), StandardCopyOption.ATOMIC_MOVE)
    } catch { case t: Throwable => deleteRecursively(tmp); throw t }
  }

  /** The renames still due to apply the txn `txn`, in order — a pure
    * function of its manifest and the files it names. A replaced or
    * dropped live dir moves into the txn's `_spent`, then the staged dir
    * or `_keys` file moves into place; an applied op has none left.
    */
  private[graft] def moves(root: Path, txn: Path): Seq[(Path, Path)] =
    Files.readString(txn.resolve(Manifest)).split("\n").toSeq.flatMap { line =>
      val Array(kind, b, e) = line.split(" ")
      val rel = relDir(b.toInt, e.toInt)
      val (live, staged) = (root.resolve(rel), txn.resolve(rel))
      val spent = txn.resolve(Spent).resolve(rel)
      kind match {
        case Replace if Files.exists(staged) =>
          (if (Files.exists(live)) Seq(live -> spent) else Nil) :+ (staged -> live)
        case Drop if Files.exists(live) => Seq(live -> spent)
        case Index if Files.exists(staged.resolve(KeysFile)) && Files.exists(live) =>
          Seq(staged.resolve(KeysFile) -> live.resolve(KeysFile))
        case _ => Nil
      }
    }

  /** One of [[moves]]: a rename that fails rather than replace a target. */
  private[graft] def move(m: (Path, Path)): Unit = {
    Files.createDirectories(m._2.getParent)
    Files.move(m._1, m._2)
  }

  /** Apply a committed txn's remaining [[moves]], delete the bucket dirs
    * its drops emptied, then retire it: rename it back to `.tmp-<id>` and
    * delete that. Idempotent from any point it was interrupted at.
    */
  private[graft] def finish(root: Path, txn: Path): Unit = {
    moves(root, txn).foreach(move)
    val spent = txn.resolve(Spent)
    if (Files.exists(spent)) list(spent).map(b => root.resolve(b.getFileName.toString))
      .foreach(b => if (Files.exists(b) && list(b).isEmpty) Files.delete(b))
    val done = root.resolve(".tmp-" + txn.getFileName.toString.stripPrefix(".txn-"))
    Files.move(txn, done, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(done)
  }

  /** Commit and finish a staged mutation, if there is one. */
  private def run(path: String, s: Option[Staged], writer: Option[Writer]): Unit =
    s.foreach(s => finish(Paths.get(path), commit(path, s, writer)))

  /** Epoch-compaction span metadata: the max `groupEpochs` ever applied
    * to this table (1 = never compacted). The stored-table
    * [[changesBetween]] reads it to widen its lower partition bound —
    * a compacted dir is labeled with its GROUP-MIN epoch, so rows of
    * epoch E can live in a dir labeled as low as `E − (span−1)`. An
    * unparseable file fails the read: taking it as 1 would prune
    * compacted dirs away and silently return fewer rows.
    */
  def compactionSpan(path: String): Int = {
    val f = Paths.get(path).resolve("_compaction")
    if (!Files.exists(f)) 1
    else Files.readString(f).trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalStateException(s"unparseable _compaction span at $path"))
  }

  /** Epoch compaction — the OPTIMIZE half of the pg_partman analogy. An
    * append-mostly stream leaves one narrow epoch dir per `epochWidth`
    * of WAL forever: a year of retention at production WAL volume is
    * hundreds of thousands of tiny dirs per bucket, and every replay
    * pays the file-listing. `compact` coalesces each run of
    * `groupEpochs` consecutive cold epochs (label ≤ `uptoEpoch`; callers
    * keep a margin below the live head) into ONE dir labeled with the
    * group-min epoch — dir count drops ×groupEpochs while rows, reads,
    * [[changesBetween]], [[stateAsOf]], [[lookup]] and [[retention]] are
    * all unchanged (they are row-predicate-driven; epoch labels only
    * prune). Partition pruning stays EXACT via the `_compaction` span
    * bound, widened BEFORE the commit.
    *
    * One commit (see the header) replaces each group's label dir with
    * the combined dir and drops its other sources, so every crash point
    * leaves either the table before or after the compaction — never
    * duplicated rows, never lost ones. With a `writer` handle, the epoch
    * is checked on entry, before the span widening and before the commit.
    *
    * Returns the number of directories eliminated.
    */
  def compact(spark: SparkSession, path: String, uptoEpoch: Int,
      groupEpochs: Int, writer: Option[Writer] = None): Int = {
    require(groupEpochs >= 2 && groupEpochs <= (1 << 20),
      s"groupEpochs must be in [2, 2^20]: $groupEpochs")
    fenceCheck(path, writer)
    repair(path)
    val (eliminated, staged) = stageCompact(spark, path, uptoEpoch, groupEpochs)
    run(path, staged, writer)
    eliminated
  }

  /** The staging step of [[compact]]: the dirs it eliminates and the
    * staged combined dirs.
    */
  private[graft] def stageCompact(spark: SparkSession, path: String, uptoEpoch: Int,
      groupEpochs: Int): (Int, Option[Staged]) = {
    val root = Paths.get(path)
    if (!Files.exists(root)) return (0, None)
    // driver-side dir listing (bounded by live dir count): cold epochs
    // grouped to their floor boundary; only multi-dir groups move
    val groups: Seq[(Int, Int, Seq[Int])] = bucketDirs(root)
      .flatMap { bdir =>
        val b = bdir.getFileName.toString.stripPrefix(s"$BucketCol=").toInt
        val es = epochsOf(bdir).filter(_ <= uptoEpoch)
        es.groupBy(e => e - Math.floorMod(e, groupEpochs)).toSeq.collect {
          case (label, srcs) if srcs.size >= 2 => (b, label, srcs.sorted)
        }
      }
    if (groups.isEmpty) return (0, None)
    val srcDirs = groups.flatMap { case (b, _, es) =>
      es.map(e => pairDir(path, b, e).toString) }
    (groups.map { case (_, _, srcs) => srcs.size - 1 }.sum, stage(path) { tmp =>
      writeStaged(scanTable(spark, path, srcDirs).withColumn(EpochCol,
        (col(EpochCol) - pmod(col(EpochCol), lit(groupEpochs))).cast("int")), tmp)
      val ops = groups.flatMap { case (b, label, srcs) =>
        // the combined dir holds exactly its sources' rows, so its
        // `_keys` is their union when every source has one
        val staged = tmp.resolve(relDir(b, label))
        if (Files.exists(staged) && srcs.forall(e => Files.exists(keysFile(path, b, e))))
          writeKeys(staged.resolve(KeysFile), srcs.flatMap(keysOf(path, b, _)))
        Op(Replace, b, label) +: srcs.filter(_ != label).map(Op(Drop, b, _))
      }
      val span = compactionSpan(path)
      (ops, if (groupEpochs > span) Seq("_compaction" -> groupEpochs.toString) else Nil)
    })
  }

  /** Retention: evict rows whose `tsCol` is before `cutoff` — the
    * reference's change-retention expiry
    * (`/root/reference/docs/reference/change-retention.mdx:112-137`:
    * a pg_cron job runs `DELETE ... WHERE committed_at < now() - interval
    * '30 days'`; pg_partman drops whole time partitions for high volume).
    *
    * Spark rendition at pg_partman parity: a per-(bucket,epoch) expiry
    * probe with the cutoff PUSHED into a thin ts-column scan (row-group
    * ts stats skip fully-live epochs; the payload is never read)
    * classifies each candidate epoch dir. Fully-expired dirs are
    * DROPPED outright — no read, no rewrite, O(1) data I/O each — and
    * only boundary dirs (mixed expired/live rows; with monotone commit
    * ts, one per bucket) are rewritten. Both change in one commit (see
    * the header), so a crash evicts all of the rows or none. Total cost
    * ∝ expired rows + boundary dirs, NOT table size (probe included —
    * dirs with no expired rows are never read or touched). With a
    * `writer` handle, the epoch is checked on entry and before the
    * commit. Returns the number of rows evicted; a table whose schema
    * or files cannot be read fails, as [[read]] does.
    */
  def retention(spark: SparkSession, path: String, tsCol: String,
      cutoff: Column, writer: Option[Writer] = None): Long = {
    fenceCheck(path, writer)
    repair(path)
    val (evicted, staged) = stageRetention(spark, path, tsCol, cutoff)
    run(path, staged, writer)
    evicted
  }

  /** The staging step of [[retention]]: the rows it evicts and the staged
    * boundary rewrites.
    */
  private[graft] def stageRetention(spark: SparkSession, path: String, tsCol: String,
      cutoff: Column): (Long, Option[Staged]) = {
    // a table with no data dirs has nothing to evict
    val data = tableSchema(spark, path).getOrElse(return (0L, None))
    val t = scan(spark, path, data, Seq(path))
    // Expiry probe, pass 1 — find EXPIRED rows with the cutoff PUSHED
    // into the scan: parquet row-group ts stats skip fully-live epochs
    // wholesale (commit ts correlates with the lsn-derived epoch, so a
    // live epoch's min ts clears the cutoff), leaving data I/O ∝ expired
    // + boundary rows, not table rows. NULL ts rows never match
    // `< cutoff` (e.g. dirs written before tsCol existed, read back as
    // NULL under the table schema): they keep their dir off the full-drop
    // path and survive any boundary rewrite.
    val expiredByPair = t.filter(col(tsCol) < cutoff)
      .groupBy(col(BucketCol), col(EpochCol))
      .agg(count(lit(1)).as("expired"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    if (expiredByPair.isEmpty) return (0L, None)
    // Pass 2 — totals for CANDIDATE dirs only (the ones holding any
    // expired row): dirs with zero expired rows are never read or
    // touched. Bounded: |candidates| ≤ expired rows.
    val totals = scan(spark, path, data, expiredByPair.keys.toSeq.sorted
        .map { case (b, e) => pairDir(path, b, e).toString })
      .groupBy(col(BucketCol), col(EpochCol))
      .agg(count(lit(1)).as("total"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    val stats = expiredByPair.map { case (pair, expired) =>
      pair -> ((totals.getOrElse(pair, expired), expired))
    }
    // .toSeq BEFORE collect: collecting (Int, Int) pairs out of a Map
    // would rebuild a Map keyed by bucket, silently collapsing all but
    // one epoch per bucket
    val fullDrop = stats.toSeq.collect {
      case (pair, (total, expired)) if expired == total && total > 0 => pair
    }.sorted
    val boundary = stats.toSeq.collect {
      case (pair, (total, expired)) if expired > 0 && expired < total => pair
    }.sorted
    (stats.values.map(_._2).sum, stage(path) { tmp =>
      // pg_partman path: whole expired epoch dirs drop with no data I/O
      if (boundary.nonEmpty)
        writeStaged(scan(spark, path, data, boundary.map { case (b, e) => pairDir(path, b, e).toString })
          .filter(col(tsCol) >= cutoff || col(tsCol).isNull), tmp)
      (fullDrop.map { case (b, e) => Op(Drop, b, e) } ++
        boundary.map { case (b, e) => Op(Replace, b, e) }, Nil)
    })
  }

  /** Change feed between two cursors: the NET effect per record_pk of
    * every change in `(fromLsn, toLsn]` — latest version in the window,
    * tagged with whether the pk ended up upserted or deleted. The
    * incremental-consumer primitive: a downstream rebuilt from snapshot
    * `fromLsn` applies exactly these rows to reach `toLsn` (one windowed
    * dedup over a cursor-pruned scan).
    */
  def changesBetween(events: DataFrame, fromLsn: Long, toLsn: Long): DataFrame = {
    val window = events.filter(
      col(seqCols.head) > fromLsn && col(seqCols.head) <= toLsn)
    Ordering.dedupLatest(window, keyCols, seqCols.map(col))
      .withColumn("net_effect",
        when(col("action") === "delete", "delete").otherwise("upsert"))
  }

  /** [[changesBetween]] over a STORED table: the epoch layout turns the
    * window bound into a partition filter, so the scan lists only the
    * in-window `epoch=E` dirs — a replay of last hour's changes against
    * 100 TB of retained history reads last hour's directories, nothing
    * else. (Exact: rows with lsn in `(from, to]` live in epochs
    * `[from div w, to div w]` by construction.)
    */
  def changesBetween(spark: SparkSession, path: String, fromLsn: Long,
      toLsn: Long, epochWidth: Long = DefaultEpochWidth): DataFrame = {
    repair(path)
    // compacted dirs are labeled with their group-min epoch, so the
    // lower bound widens by (span−1); the upper bound is unchanged
    // (labels never exceed their rows' epochs). Uncompacted tables have
    // span = 1 — the original exact bound.
    val span = compactionSpan(path)
    val t = scanTable(spark, path, Seq(path))
      .filter(
        col(EpochCol) >= lit((fromLsn / epochWidth).toInt - (span - 1)) &&
        col(EpochCol) <= lit((toLsn / epochWidth).toInt))
      .drop(BucketCol, EpochCol)
    changesBetween(t, fromLsn, toLsn)
  }

  /** Replay-consumer enrichment join with ZERO join-attributable
    * Exchange — q101's co-located-join lever applied to the event table.
    *
    * The replay shape `changesBetween ⋈ dimension` repeats every time a
    * downstream rebuilds, so its shuffle is worth designing away: the
    * changes side arrives at the join ALREADY hash-partitioned on
    * `record_pk` (dedupLatest's window shuffles on exactly the join
    * key), and `dimTable` is a bucketed catalog table
    * ([[graft.ops.Layout.writeBucketed]]) whose bucket count matches the
    * session's shuffle partitions — so the SortMergeJoin consumes the
    * window's partitioning on the left and the bucket layout on the
    * right, introducing NO new Exchange (the plan's only shuffle is the
    * dedup window's own, which replay pays regardless). At 100 TB
    * retained, the dimension's write-time shuffle is paid once for every
    * replay that reuses it. PlanAuditSpec gates the shape.
    *
    * `dimKeyCol` must be the dimension's bucket column; rows keyed by
    * `record_pk`.
    */
  def replayJoin(spark: SparkSession, path: String, fromLsn: Long,
      toLsn: Long, epochWidth: Long, dimTable: String,
      dimKeyCol: String): DataFrame = {
    val changes = changesBetween(spark, path, fromLsn, toLsn, epochWidth)
    val dim = spark.table(dimTable).hint("merge")
    if (dimKeyCol == keyCols.head) // using-join keeps the key unambiguous
      changes.hint("merge").join(dim, Seq(dimKeyCol))
    else changes.hint("merge").join(dim, col(keyCols.head) === col(dimKeyCol))
  }

  /** Time travel over retained changes: the record state "as of" a WAL
    * cursor — for each `record_pk`, the latest version at or below
    * `(lsn, idx)`, with deleted records absent. This is the replay payoff
    * of change retention (the reference replays `consumer_events` /
    * `wal_events` to rebuild or backfill downstream state,
    * `wal_pipeline_server.ex` batch reader): any historical snapshot is a
    * pure query over the event table. Narrow filter (prunes on the lsn
    * column at scan time) + one hash-partitioned window by pk.
    */
  def stateAsOf(events: DataFrame, lsn: Long, idx: Long = Long.MaxValue): DataFrame = {
    val upTo = events.filter(
      col(seqCols.head) < lsn ||
        (col(seqCols.head) === lsn && col(seqCols(1)) <= idx))
    Ordering.dedupLatest(upTo, keyCols, seqCols.map(col))
      .filter(col("action") =!= "delete")
  }

  /** [[stateAsOf]] over a STORED table: epoch partition pruning caps the
    * scan at dirs `<= lsn div width` (plus the NULL-lsn pin at -1).
    */
  def stateAsOf(spark: SparkSession, path: String, lsn: Long, idx: Long,
      epochWidth: Long): DataFrame = {
    repair(path)
    val t = scanTable(spark, path, Seq(path))
      .filter(col(EpochCol) <= lit((lsn / epochWidth).toInt))
      .drop(BucketCol, EpochCol)
    stateAsOf(t, lsn, idx)
  }

  private def bucketDir(path: String, b: Int): Path =
    Paths.get(path).resolve(s"$BucketCol=$b")

  private def pairDir(path: String, b: Int, e: Int): Path =
    Paths.get(path).resolve(relDir(b, e))

  /** The live epochs of the bucket dir `bdir` (none if it is absent). */
  private def epochsOf(bdir: Path): Seq[Int] =
    if (!Files.exists(bdir)) Nil
    else list(bdir).map(_.getFileName.toString)
      .filter(_.startsWith(s"$EpochCol=")).map(_.stripPrefix(s"$EpochCol=").toInt)

  private def list(p: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def bucketDirs(root: Path): Seq[Path] = list(root).filter(p =>
    Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$BucketCol="))

  /** Bring the table to its last committed state with one listing of the
    * root: delete every `.tmp-` (a mutation that never committed, a
    * retired txn, a stranded root-file temp) and [[finish]] every `.txn-`
    * (a committed mutation, rolled forward).
    */
  def repair(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) list(root).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith(".tmp-")) deleteRecursively(p)
      else if (name.startsWith(".txn-")) finish(root, p)
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(f => Try(Files.delete(f)))
    }
  }
}
