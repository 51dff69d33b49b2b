package graft.dedup

import graft.functions.Hashing
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation at 100 TB scale:
  * exact (hash groupBy), MinHash + LSH banding, SimHash, and n-gram
  * Jaccard verification.
  *
  * Scale design:
  *   - Signatures (minhash / simhash / fingerprints) are narrow per-row
  *     expressions — no shuffle, linear scan.
  *   - Candidate generation shuffles only `(band_key, doc_id)` pairs — the
  *     LSH point: the O(n²) pair space is never materialized; only docs
  *     sharing a band bucket meet in a shuffle partition.
  *   - Verification joins re-fetch token sets for candidates only.
  *   - Hashes are engine-portable md5 ([[Hashing.portableHash]]) so every
  *     stage is oracle-checkable; swap in `xxhash64` for ~3× faster pure-
  *     runtime signatures.
  */
object Dedup {

  /** Exact dedup: canonical row per content fingerprint (min id wins),
    * with duplicate count. One hash-partitioned aggregation.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", Hashing.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature: `k` affine-permutation minima over the distinct
    * shingle set. The expensive md5 runs ONCE per shingle (materialized in
    * its own projection so Catalyst cannot inline it into every
    * permutation); each of the k permutations is then a cheap exact
    * integer transform — `min((a_i*h + b_i) mod p)`. Per-row HOFs, no
    * shuffle.
    */
  def withMinhashSignature(df: DataFrame, textCol: String, k: Int,
      shingleN: Int = 3): DataFrame = {
    val hashed = df.withColumn("hs",
      graft.functions.VectorExpressions.shingle_hashes(col(textCol), shingleN))
    hashed.withColumn("minhash",
      graft.functions.VectorExpressions.affine_minhash_sig(col("hs"), k))
  }

  /** LSH banding: split the k-length signature into `bands` bands of
    * `k/bands` rows; band key = md5 of the joined slice. Emits one row per
    * (doc, band) — the only exploded data is (id, band_idx, band_key).
    */
  def lshBands(df: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), posexplode(
        array((0 until bands).map { b =>
          md5(array_join(slice(col("minhash"), b * rowsPerBand + 1, rowsPerBand), ",")
            .cast("binary"))
        }: _*)).as(Seq("band_idx", "band_key")))

  /** Candidate pairs: docs sharing any band bucket, deduplicated, a < b.
    * Self-join on (band_idx, band_key) — shuffle of the banded keys only.
    */
  def candidatePairs(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col("band_idx"), col("band_key"), col(idCol).as("id_a"))
    val b = bandsDf.select(col("band_idx"), col("band_key"), col(idCol).as("id_b"))
    val raw = a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // r17: pin the pair-dedup exchange's width. Everything downstream of
    // this distinct (the exact-Jaccard verify, whose toks sides usually
    // broadcast) runs at ITS width, and AQE's byte-based coalescing folds
    // the few-MB pair stream to 1-2 tasks while the per-pair intersect is
    // the CPU (sf1 event log: two 2-task stages of 1.3-1.5 s in a 4.5 s
    // td05). The keyed repartition REPLACES the exchange distinct adds
    // anyway — same shuffle bytes, REPARTITION_BY_NUM is exempt from
    // coalescing.
    raw.repartition(bandsDf.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      .distinct()
  }

  /** Jaccard similarity of two token-set columns (exact verification for
    * LSH candidates): |∩| / |∪| over distinct shingles.
    */
  def jaccard(setA: Column, setB: Column): Column =
    size(array_intersect(setA, setB)).cast("double") /
      size(array_union(setA, setB)).cast("double")

  /** Jaccard over SORTED distinct shingle arrays via the codegen'd
    * merge-walk intersection ([[graft.functions.VectorExpressions
    * .SortedIntersectSize]]): |∩| / (|A| + |B| - |∩|). Identical result to
    * [[jaccard]], O(n+m) per pair instead of hash-set builds.
    */
  def jaccardSorted(sortedA: Column, sortedB: Column): Column = {
    val inter = graft.functions.VectorExpressions
      .sorted_intersect_size(sortedA, sortedB).cast("double")
    inter / (size(sortedA) + size(sortedB) - inter)
  }

  /** ONE corpus pass materializing both the sorted-distinct shingle set
    * and the minhash signature (localCheckpoint): band joins and
    * verification joins consume the checkpoint, never the corpus. The
    * signature hashes the sorted-distinct set instead of first-occurrence
    * order — minima are order-invariant, so the result (and the DuckDB
    * oracle, which also hashes `toks`) is unchanged. Tokens are bound in
    * their own projection: HOF lambdas are interpreted, so an inline
    * split would re-run once per shingle.
    */
  private def signatureBase(df: DataFrame, idCol: String, textCol: String,
      k: Int, shingleN: Int): DataFrame =
    // the md5-per-shingle signature work is the pass's CPU; spread a
    // narrow scan (single small parquet file = 1 task) across cores
    // first — a no-op when the input is already wide (guide §2.5)
    graft.Tables.spread(df, idCol).select(col(idCol),
        // fused kernel ≡ sort_array(array_distinct(shinglesOf(tokens)))
        graft.functions.VectorExpressions
          .distinct_shingles(col(textCol), shingleN, sorted = true)
          .as("toks"))
      .withColumn("minhash", graft.functions.VectorExpressions
        .affine_minhash_sig(
          transform(col("toks"), t => graft.functions.Hashing.portableHash(t)), k))
      .localCheckpoint()

  /** Should the verify join's final exchange be width-pinned? True only
    * when the toks relation is past the planner's own broadcast
    * threshold (i.e. the id-keyed join will shuffle anyway — the pin
    * re-labels an existing exchange); under it the joins broadcast and a
    * pin would add a shuffle round.
    */
  private def verifyWidthPin(toksRel: DataFrame): Boolean = {
    val bytes = toksRel.queryExecution.optimizedPlan.stats.sizeInBytes
    val thresh = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    thresh >= 0 && bytes > thresh
  }

  /** End-to-end MinHash-LSH near-dup pairs: signature → bands → candidate
    * pairs → exact-Jaccard verify ≥ threshold.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, threshold: Double = 0.5,
      shingleN: Int = 3): DataFrame = {
    val base = signatureBase(df, idCol, textCol, k, shingleN)
    val cands = candidatePairs(
      lshBands(base.select(col(idCol), col("minhash")), idCol, bands, k / bands),
      idCol)
    val j1 = cands
      .join(base.select(col(idCol).as("id_a"), col("toks").as("toks_a")), "id_a")
    // r17: pin the LAST verify exchange's width. The exact-Jaccard
    // stage is CPU-per-pair over small rows, so AQE's byte-based
    // coalescing folds it to 1-2 tasks (sf1 event log: two 2-task
    // stages of 1.3-1.5 s each inside a 4.5 s query). The keyed
    // repartition REPLACES the ENSURE_REQUIREMENTS exchange the id_b
    // join needs anyway — same shuffle bytes — but
    // REPARTITION_BY_NUM is exempt from AQE coalescing, so the verify
    // runs at the session's parallelism. Applied ONLY when the toks side
    // is past the planner's broadcast threshold (the same criterion the
    // planner uses): under it the joins are broadcast and exchange-free,
    // and the repartition would ADD a shuffle round (measured +0.2 s at
    // sf0.1). Scale-safe: p tracks the cluster, the criterion is the
    // planner's own, and past gate SF the exchange already existed.
    val j2in =
      if (!verifyWidthPin(base)) j1
      else j1.repartition(
        df.sparkSession.sparkContext.defaultParallelism, col("id_b"))
    j2in
      .join(base.select(col(idCol).as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("jaccard", jaccardSorted(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental (cross-corpus) MinHash-LSH dedup: match each INCOMING
    * document against an existing BASE corpus — the nightly-crawl shape:
    * dedup the new snapshot against 100 TB of already-curated data
    * WITHOUT re-pairing the base with itself. Candidates are strictly
    * base × incoming band collisions (never base × base), verified by
    * exact Jaccard ≥ threshold. Returns (base_id, new_id, jaccard).
    *
    * Scale shape: the base side's signatures are a pure per-doc
    * computation, paid once — in production they live in a materialized
    * signature/band table keyed by band_key (the same layout
    * [[candidatePairs]] shuffles to), so a nightly increment shuffles
    * only the increment's bands plus the colliding base buckets.
    */
  def minhashNearDupsAgainst(base: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, k: Int = 12, bands: Int = 4,
      threshold: Double = 0.5, shingleN: Int = 3): DataFrame = {
    val basePrep = signatureBase(base, idCol, textCol, k, shingleN)
    val incPrep = signatureBase(incoming, idCol, textCol, k, shingleN)
    val rowsPerBand = k / bands
    val baseBands = lshBands(basePrep.select(col(idCol), col("minhash")),
      idCol, bands, rowsPerBand).withColumnRenamed(idCol, "base_id")
    val incBands = lshBands(incPrep.select(col(idCol), col("minhash")),
      idCol, bands, rowsPerBand).withColumnRenamed(idCol, "new_id")
    val cands = baseBands.join(incBands, Seq("band_idx", "band_key"))
      .filter(col("base_id") =!= col("new_id"))
      .select("base_id", "new_id").distinct()
    val j1 = cands
      .join(basePrep.select(col(idCol).as("base_id"), col("toks").as("toks_a")),
        "base_id")
    // same verify-width pin as minhashNearDups (see note there)
    val j2in =
      if (!verifyWidthPin(incPrep)) j1
      else j1.repartition(
        base.sparkSession.sparkContext.defaultParallelism, col("new_id"))
    j2in
      .join(incPrep.select(col(idCol).as("new_id"), col("toks").as("toks_b")),
        "new_id")
      .withColumn("jaccard", jaccardSorted(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select("base_id", "new_id", "jaccard")
  }

  /** Asymmetric near-dup: shingle CONTAINMENT `|A∩B| / |A|` — finds a
    * document CONTAINED in another (a quote, a boilerplate-wrapped copy,
    * an article embedded in an aggregator page) that symmetric Jaccard
    * misses entirely: A ⊂ B with |B| = 4|A| has containment 1.0 but
    * Jaccard 0.25, far under any near-dup threshold (and under the
    * minhash-LSH collision floor). Emits one row per detected direction
    * `(id_a contained-in id_b)` with exact integer-micro containment and
    * Jaccard side by side.
    *
    * Candidates: each document probes its `prefix` RAREST shingles
    * (ascending corpus df, shingle text as tie-break — a total order)
    * against the full inverted index. COMPLETE for full containment
    * (every prefix shingle of A is in B when A ⊆ B); for thresholds < 1
    * a containing pair is missed only if ALL `prefix` rarest shingles of
    * A fall in the uncovered fraction — vanishing for real copies. The
    * DuckDB oracle replicates the same candidate rule, so the compare is
    * exact (the td05/td15 discipline: determinism, not sampling).
    *
    * Scale shape: df aggregate + one per-doc rank window (doc id
    * partitions — full cardinality), then a (shingle) equi-join whose
    * fan-out is prefix-side occurrences × df; the prefix picks the
    * RAREST shingles, so hub tokens effectively never appear on the
    * probing side. Verification touches candidate pairs only, via the
    * sorted-merge intersect kernel.
    */
  def containmentNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, prefix: Int = 8,
      thresholdMicro: Long = 800000L): DataFrame = {
    require(prefix >= 1 && prefix <= 64, s"prefix out of range: $prefix")
    val spark = df.sparkSession
    // every big checkpointed intermediate lives on block-manager DISK,
    // not heap: deserialized in-memory caching of the shingle-set /
    // prefix / pair relations is what exhausted a default-sized driver
    // at probe scale — each is re-read sequentially, which disk serves
    // fine, while heap stays free for the joins' execution memory
    val diskLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY
    // NOTE (r16 opt): a Tables.spread here was measured 5.4s -> 7.0-10.3s
    // at sf0.1 — the 32-way partition multiplication propagates through
    // every DISK_ONLY checkpoint and chunk pass of the machinery below
    // (38 jobs/rep, overhead-dominated). The shingle pass stays on the
    // scan's own width; at real scale the input is already wide.
    //
    // r17: the r16 event logs show the three FAT stages all run on ONE
    // task — not because the scan is narrow but because AQE coalesces
    // their shuffle reads BY BYTES (pair/prefix rows are a few MB) while
    // the stages are CPU-bound (shingle arrays, rank window,
    // sorted-intersect verify). Keyed `repartition(p, cols)` pins those
    // three exchanges at defaultParallelism: REPARTITION_BY_NUM is
    // exempt from AQE coalescing, the keys are real (deterministic under
    // retry), and p tracks the session — no local constant. The r16
    // loss mechanism (width propagating through EVERY pass) does not
    // recur: each repartition sits where an Exchange already was.
    val spreadP = spark.sparkContext.defaultParallelism
    val sets = graft.Tables.spread(df.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol),
        graft.functions.VectorExpressions
          .distinct_shingles(col(textCol), shingleN, sorted = true)
          .as("toks"))
      .localCheckpoint(eager = true, diskLevel)
    val tok = sets.select(col(idCol), explode(col("toks")).as("t"))
    val freq = tok.groupBy("t").agg(count(lit(1)).cast("bigint").as("df"))
    // the rank window runs ONCE (checkpointed — docs x prefix rows, tiny
    // next to the corpus); bands filter the materialized prefix table
    val prefAll = tok.join(freq, Seq("t"))
      .repartition(spreadP, col(idCol))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("df").asc, col("t").asc)))
      .filter(col("rn") <= prefix)
      .select(col(idCol).as("id_a"), col("t"), col("rn"))
      .localCheckpoint(eager = true, diskLevel)
    // CANDIDATE + VERIFY, fused and chunked by PROBING DOC. Two facts
    // set the shape at probe scale (measured, sf10): the RAW pair
    // stream is O(Σ prefix-shingle df) = 2.2 B rows (a boilerplate
    // doc's 8 "rarest" shingles each match thousands of partners), and
    // even the DISTINCT pair stream is tens of GB — materializing it
    // whole (or shuffling it against the shingle arrays) exhausts
    // scratch disk. So the pair space is PARTITIONED by hash(id_a) into
    // K chunks sized from the measured raw volume (prefix ⋈ df sum —
    // one cheap agg) against a per-pass row target
    // (spark.graft.dedup.candidateTargetRows, default 150 M), and each
    // chunk is generated, VERIFIED, reduced to its final (tiny) output
    // and RELEASED before the next chunk starts. Peak scratch = one
    // chunk's pairs + one pass's shuffle; peak heap = the broadcast
    // strata below. Chunks are disjoint in id_a — no cross-chunk dedupe.
    //
    // VERIFY-JOIN PAYLOAD: joining the full shingle arrays onto the
    // pair stream would duplicate each doc's array once per candidate
    // partner (~100+ GB of shuffle on a replica-heavy corpus), so
    // arrays are normally NEVER shuffled: both verify joins broadcast
    // strata of the sets table. The id_a side of chunk k is
    // sets∩(hash%K == k) — ≤ size/K by construction; the id_b side
    // spans the corpus, so it sub-chunks by ceil(size/budget) where the
    // budget derives from THIS JVM's heap (a fixed figure would OOM a
    // default driver), capped at 512 MiB, overridable via
    // spark.graft.dedup.broadcastBudgetBytes. Block-nested-loop by
    // strata: bounded memory at ANY corpus size — the chunk counts are
    // UNCAPPED (the loop is serial, so more chunks cost passes, never
    // memory). Only when the strata count itself turns pathological
    // (> spark.graft.dedup.maxBroadcastStrata, default 4096 — i.e.
    // ≥ 2 TiB of shingle sets at the default budget, where serial
    // broadcast passes stop being the right trade) does verification
    // fall back to plain shuffle joins: arrays DO shuffle there, but
    // sort-merge spills to disk, so memory stays bounded — the escape
    // hatch is scratch-heavy, never OOM-prone, and it logs loudly.
    val targetRows =
      spark.conf.getOption("spark.graft.dedup.candidateTargetRows")
        .map(_.toLong).getOrElse(150000000L)
    // coalesce: sum() over an empty corpus is NULL, not 0
    val rawEst = prefAll.join(freq, Seq("t"))
      .agg(coalesce(sum("df"), lit(0L))).head.getLong(0)
    val setsBytes = sets.queryExecution.optimizedPlan.stats.sizeInBytes
    val setsBroadcastBudget = BigInt(
      spark.conf.getOption("spark.graft.dedup.broadcastBudgetBytes")
        .map(_.toLong)
        .getOrElse(math.min(512L << 20, Runtime.getRuntime.maxMemory() / 12)))
    val maxStrata =
      spark.conf.getOption("spark.graft.dedup.maxBroadcastStrata")
        .map(_.toInt).getOrElse(4096)
    val strataNeeded =
      ((setsBytes + setsBroadcastBudget - 1) / setsBroadcastBudget)
        .max(BigInt(1))
    val broadcastOk = strataNeeded <= maxStrata
    if (!broadcastOk)
      println(s"[graft-dedup] containment verify: sets~${setsBytes}B need " +
        s"$strataNeeded broadcast strata (> maxBroadcastStrata $maxStrata) " +
        "— falling back to shuffle (sort-merge) verify joins; memory stays " +
        "bounded (SMJ spills) but shuffle volume carries the shingle arrays")
    val bChunks = if (broadcastOk) strataNeeded.toInt else 1
    // K covers both constraints: candidate volume per pass AND (on the
    // broadcast path) the id_a stratum fitting the budget
    val kChunks = math.max(
      math.max(1L, (rawEst + targetRows - 1) / targetRows),
      bChunks.toLong).toInt
    if (kChunks > 1 || bChunks > 1)
      println(s"[graft-dedup] containment chunked: raw~$rawEst rows " +
        s"(target $targetRows), sets~${setsBytes}B " +
        s"(budget ${setsBroadcastBudget}B) -> id_a chunks=$kChunks, " +
        s"id_b subchunks=$bChunks")
    val tokB = tok.select(col(idCol).as("id_b"), col("t"))
    def chunkPairs(k: Int): DataFrame = {
      val probe =
        if (kChunks == 1) prefAll
        else prefAll.filter(pmod(hash(col("id_a")), lit(kChunks)) === k)
      val raw = probe.select("id_a", "t")
        .join(tokB, Seq("t"))
        .filter(col("id_a") =!= col("id_b"))
        .select("id_a", "id_b")
      // pin the pair dedup + verify width (see spreadP note above): the
      // repartition replaces the exchange `distinct` would add anyway —
      // same shuffle, but AQE cannot coalesce the CPU-bound verify side
      // down to one task on byte estimates
      raw.repartition(spreadP, col("id_a"), col("id_b")).distinct()
    }
    def stratum(suffix: String, modulo: Int, chunk: Int): DataFrame = {
      val base =
        if (modulo == 1) sets
        else sets.filter(pmod(hash(col(idCol)), lit(modulo)) === chunk)
      base.select(col(idCol).as(s"id_$suffix"),
        col("toks").as(s"toks_$suffix"))
    }
    def score(joined: DataFrame): DataFrame = joined
      .withColumn("inter", graft.functions.VectorExpressions
        .sorted_intersect_size(col("toks_a"), col("toks_b")).cast("bigint"))
      .withColumn("sza", size(col("toks_a")).cast("bigint"))
      .withColumn("szb", size(col("toks_b")).cast("bigint"))
      .withColumn("cont_a_micro",
        expr("(inter * 1000000) div greatest(sza, 1)"))
      .withColumn("jaccard_micro",
        expr("(inter * 1000000) div greatest(sza + szb - inter, 1)"))
      .filter(col("cont_a_micro") >= thresholdMicro)
      .select("id_a", "id_b", "cont_a_micro", "jaccard_micro")
    def verify(pk: DataFrame, sideA: DataFrame, cb: Int): DataFrame = {
      val scoped =
        if (bChunks == 1) pk
        else pk.filter(pmod(hash(col("id_b")), lit(bChunks)) === cb)
      val sideB =
        if (broadcastOk) broadcast(stratum("b", bChunks, cb))
        else stratum("b", bChunks, cb)
      score(scoped.join(sideA, "id_a").join(sideB, "id_b"))
    }
    if (kChunks == 1 && bChunks == 1) {
      val sideA =
        if (broadcastOk) broadcast(stratum("a", 1, 0)) else stratum("a", 1, 0)
      verify(chunkPairs(0), sideA, 0)
    } else {
      val parts = (0 until kChunks).flatMap { ka =>
        // ONE chunk's pairs live at a time: generate, verify against
        // every id_b stratum, keep only the verified output, release.
        // persist (CacheManager), NOT localCheckpoint: unpersist on a
        // checkpoint is a silent no-op (the blocks are raw RDD blocks
        // freed only at JVM GC) — measured on the sf10 probe, 23 dead
        // chunk caches held 78 GB of scratch disk until it ran out
        val pk = chunkPairs(ka).persist(diskLevel)
        pk.count() // materialize before the broadcast micro-joins
        // the id_a stratum is shared by every id_b sub-chunk: pin it
        // once per ka (re-deriving it inside the cb loop re-filtered
        // and re-shipped the same rows up to bChunks times)
        val aBase = stratum("a", kChunks, ka).persist(diskLevel)
        aBase.count()
        val sideA = if (broadcastOk) broadcast(aBase) else aBase
        val outs = (0 until bChunks).map(cb =>
          verify(pk, sideA, cb).localCheckpoint(eager = true, diskLevel))
        aBase.unpersist(blocking = true)
        pk.unpersist(blocking = true)
        outs
      }
      parts.reduce(_.unionAll(_))
    }
  }


  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): hash every k-gram, slide a window of `w`
    * consecutive hashes, keep each window's MINIMUM — the selected
    * hashes are a deterministic, position-robust fingerprint set with
    * the guarantee that any shared substring of ≥ w + k − 1 tokens
    * yields at least one shared fingerprint. Substring-level dedup that
    * MinHash (whole-document Jaccard) and SimHash (global bit votes)
    * can't express: a paragraph copied into an otherwise-different
    * document still collides.
    *
    * Emitted SPARSE: one `(id, fp)` row per distinct selected hash —
    * per-row HOFs only (no shuffle); the near-dup pairing
    * ([[winnowingNearDups]]) groups on fp, so pair space is bounded by
    * fingerprint collisions exactly like LSH banding.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive: $k, $w")
    // fused positional hashes ≡ transform(shinglesOf(tokens), portableHash)
    // (no interpreted per-gram lambda); window minima stay declarative
    val wins = transform(
      sequence(lit(1), greatest(size(col("__hs")) - lit(w - 1), lit(1))),
      i => array_min(slice(col("__hs"), i, lit(w))))
    df.select(col(idCol), graft.functions.VectorExpressions
        .all_shingle_hashes(col(textCol), k).as("__hs"))
      .select(col(idCol), explode(array_distinct(wins)).as("fp"))
  }

  /** Near-dup pairs by shared winnowing fingerprints: docs sharing ≥
    * `minShared` selected hashes (within any blocking strata the caller
    * pre-applies). The fp equi-join bounds candidates to genuine
    * substring collisions + the random floor of a 32-bit hash space —
    * the same shuffle discipline as [[minhashNearDups]]'s bands.
    */
  def winnowingNearDups(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Int = 2): DataFrame = {
    val fps = winnowingFingerprints(df, idCol, textCol, k, w)
      .localCheckpoint()
    val a = fps.select(col(idCol).as("id_a"), col("fp"))
    val b = fps.select(col(idCol).as("id_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash fingerprints (`bits` wide, ≤ 60) for a whole DataFrame:
    * majority vote per bit over the distinct shingles' portable hashes —
    * the fused [[graft.functions.VectorExpressions.SimhashBits]] kernel
    * (one tight vote loop; bit-identical to [[withSimhashDeclarative]],
    * property-tested in `DedupSpec`).
    *
    * Default width is 60 (the widest exact in a signed 64-bit integer on
    * every engine — 15 md5 hex chars per shingle hash): with
    * [[simhashNearDups]]'s 4 bands that is 2¹⁵ buckets per band, so the
    * random band-collision floor is N²/2¹⁵ pairs per band instead of the
    * N²/2⁸ a 32-bit fingerprint gives — the difference between a
    * candidate explosion at ~10⁵ docs and at ~10⁷.
    */
  def withSimhash(df: DataFrame, textCol: String, bits: Int = 60,
      shingleN: Int = 3): DataFrame =
    df.withColumn("simhash", graft.functions.VectorExpressions.simhash_bits(
      graft.functions.VectorExpressions.shingle_hashes(col(textCol), shingleN,
        hexCharsFor(bits)),
      bits))

  /** md5 hex digits needed to cover `bits` vote positions. */
  private def hexCharsFor(bits: Int): Int = {
    require(bits >= 1 && bits <= 60, s"simhash bits must be in [1, 60]: $bits")
    (bits + 3) / 4
  }

  /** Declarative twin of [[withSimhash]] (HOF vote fold + when-chain bit
    * pack) — kept as the equivalence oracle for the fused kernel.
    */
  def withSimhashDeclarative(df: DataFrame, textCol: String, bits: Int = 60,
      shingleN: Int = 3): DataFrame = {
    val hashed = df.withColumn("hs",
      graft.functions.VectorExpressions.shingle_hashes(col(textCol), shingleN,
        hexCharsFor(bits)))
    val voted = hashed.withColumn("votes",
      aggregate(col("hs"), array_repeat(lit(0L), bits),
        (acc, h) => zip_with(acc,
          array((0 until bits).map(i => (shiftright(h, i) % 2) * 2 - 1): _*),
          (a, b) => a + b)))
    voted.withColumn("simhash",
      (0 until bits).map { i =>
        when(element_at(col("votes"), i + 1) >= 0, lit(1L << i)).otherwise(0L)
      }.reduce(_ + _)).drop("hs", "votes")
  }

  /** SimHash near-dup pairs: candidates share one of `bands` equal-width
    * bands (pigeonhole: hamming ≤ bands−1 ⇒ some band equal — maxHamming
    * must stay < bands for exact recall), verified by exact hamming
    * distance ≤ maxHamming. With the default 60-bit fingerprint each of
    * the 4 bands is 15 bits → 2¹⁵ buckets per band, so random collisions
    * (the quadratic term in candidate volume) stay negligible to ~10⁷
    * docs; band width scales automatically with `bits`.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole recall needs maxHamming < bands: $maxHamming >= $bands")
    require(bits % bands == 0, s"bits ($bits) must divide into bands ($bands)")
    val bandBits = bits / bands
    val hashed = withSimhash(df, textCol, bits).select(col(idCol), col("simhash"))
      .localCheckpoint()
    val banded = hashed.select(col(idCol), col("simhash"), posexplode(
      array((0 until bands).map { b =>
        // Long shift: Int `1 << bandBits` wraps for bandBits >= 31
        // (bands = 1 would silently band on the low 28 bits)
        shiftright(col("simhash"), bandBits * b) % (1L << bandBits)
      }: _*)).as(Seq("band_idx", "band_val")))
    val a = banded.select(col("band_idx"), col("band_val"),
      col(idCol).as("id_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band_idx"), col("band_val"),
      col(idCol).as("id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Blocked n-gram Jaccard near-dups: EXACT pairwise Jaccard over word
    * n-gram shingle sets within blocking strata — with prefix-filtered
    * candidate generation instead of a block² cross join.
    *
    * Prefix filter (the AllPairs/PPJoin bound): under any total token
    * order, two sets with `J(A,B) ≥ t` MUST share a token within the
    * first `|x| − ⌈t·|x|⌉ + 1` tokens of each sorted set. So candidates
    * come from an equi-join on (block, prefix-token) — pair space is
    * bounded by prefix-token co-occurrence, not block size, and the
    * result is PROVABLY identical to the all-pairs form (no LSH-style
    * recall loss; the oracle is unchanged).
    *
    * At 100 TB: the shuffle key is (block, token). The prefix tokens are
    * ordered RAREST-FIRST from a corpus frequency pass — the AllPairs
    * bound holds under ANY consistent total token order, and ranking by
    * ascending global frequency pushes pathologically common tokens to
    * the END of every sorted set, where the prefix window never reaches
    * them: a stop-word shared by every document stops generating block²
    * candidates (probed in `ScaleProbeSpec`). The exact verification walk
    * stays on the lexically-sorted arrays, so the ordering choice cannot
    * change results — only candidate volume.
    */
  /** Edit-distance fuzzy pairs: block on a normalized fixed-length
    * prefix, verify candidates with exact levenshtein on a bounded key.
    * The classic record-linkage shape (blocking + expensive verifier) —
    * here both stages are BUILT-IN codegen'd expressions (`substring`,
    * `lower`, `levenshtein`), no UDF.
    *
    * At 100 TB: the equi-join on the block key is an ordinary shuffle
    * join whose pair space is block-local (Σ|block|², bounded by the
    * blocking choice, never corpus²), and the verifier runs on a
    * `keyLen`-char key, so each pair costs O(keyLen²) CONSTANT work —
    * the distance computation can never scale with document size. Pairs
    * sharing nothing in the first `blockLen` chars are out of recall by
    * design (add a suffix-block union pass for robustness to head
    * edits, as the pHash/aHash consensus does for images).
    */
  def fuzzyPairs(docs: DataFrame, idCol: String, textCol: String,
      keyLen: Int = 64, blockLen: Int = 12, maxDist: Int = 24): DataFrame = {
    require(blockLen >= 1 && blockLen <= keyLen,
      s"blockLen must be in [1, keyLen]: $blockLen")
    val d = docs.select(col(idCol).as("__id"),
        lower(substring(col(textCol), 1, keyLen)).as("__k"))
      .withColumn("__blk", substring(col("__k"), 1, blockLen))
    d.select(col("__id").as("id_a"), col("__k").as("ka"), col("__blk"))
      .join(d.select(col("__id").as("id_b"), col("__k").as("kb"),
        col("__blk")), Seq("__blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("ka"), col("kb")))
      .where(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  def ngramJaccardNearDups(df: DataFrame, idCol: String, textCol: String,
      n: Int, blockCols: Seq[String], threshold: Double): DataFrame = {
    val sets = df.select(
      (col(idCol) +: blockCols.map(col)) :+
        graft.functions.VectorExpressions
          .distinct_shingles(col(textCol), n, sorted = true).as("sh"): _*)
      .localCheckpoint()
    val cands = ppjoinCandidates(sets, idCol, blockCols, threshold)
    // exact verification on candidates only
    cands
      .join(sets.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      // exact prune: j(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) — skip the O(n+m)
      // merge walk for pairs that cannot reach the threshold
      .filter(least(size(col("sh_a")), size(col("sh_b"))).cast("double") >=
        lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b"))))
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** PPJoin candidate pairs: share ≥ 1 token among the first
    * `|x| − ⌈t·|x|⌉ + 1` tokens of each set under the RAREST-FIRST order
    * (ascending corpus frequency, token text as tie-break — a total
    * order, so the AllPairs prefix bound applies verbatim). floor, not
    * ceil, in the prefix length: under FP rounding floor only ever
    * LENGTHENS the prefix (more candidates, same verified output), never
    * shortens it. Package-private so the skew probe can count candidates.
    *
    * Plan shape: one token-frequency aggregate, one rank window per doc
    * (both map-side-combinable / one (id) shuffle), then the
    * (block, token) equi-join — no step is quadratic in block size.
    */
  private[graft] def ppjoinCandidates(sets: DataFrame, idCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    val exploded = sets.select(
      (col(idCol) +: blockCols.map(col)) :+
        size(col("sh")).as("setsz") :+ explode(col("sh")).as("tok"): _*)
    val freq = exploded.groupBy("tok").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(idCol).orderBy(col("tf"), col("tok"))
    val prefixes = exploded.join(freq, "tok")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <=
        col("setsz") - floor(lit(threshold) * col("setsz")).cast("int") + 1)
    val pa = prefixes.select(
      (col(idCol).as("id_a") +: blockCols.map(col)) :+ col("tok"): _*)
    val pb = prefixes.select(
      (col(idCol).as("id_b") +: blockCols.map(col)) :+ col("tok"): _*)
    pa.join(pb, blockCols :+ "tok")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Duplicate-cluster assignment: connected components over verified
    * near-dup pairs via large-star / small-star alternation (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", 2014) — each
    * vertex ends labeled with the smallest id in its component (the
    * canonical doc). Unlike plain min-label propagation (O(diameter)
    * rounds), the alternation contracts components in O(log n) rounds, so
    * a pathological duplicate CHAIN (a→b→c→…, e.g. iteratively edited
    * boilerplate) converges as fast as a tight cluster. Each round is two
    * hash-join+aggregate passes over the edge set, checkpointed so plans
    * stay flat. Throws on non-convergence rather than returning silently
    * partial labels.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // canonical undirected edge set (u < v), self-loops dropped
    var edges = pairs.select(
        least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()

    // large-star: every neighbor y > x re-links to m = min(N(x) ∪ {x});
    // output stays canonical because m ≤ x < y
    def largeStar(e: DataFrame): DataFrame = {
      val nb = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val mins = nb.groupBy("x").agg(min("y").as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      nb.join(mins, "x")
        .filter(col("y") > col("x") && col("m") =!= col("y"))
        .select(col("m").as("u"), col("y").as("v"))
        .distinct()
    }

    // small-star: direct each edge larger→smaller; every smaller neighbor
    // and the center itself re-link to the minimum neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(col("v").as("x"), col("u").as("y")) // x > y
      val mins = dir.groupBy("x").agg(min("y").as("m"))
      val relinked = dir.join(mins, "x")
        .filter(col("y") =!= col("m"))
        .select(col("m").as("u"), col("y").as("v")) // m < y: canonical
      val centers = mins.select(col("m").as("u"), col("x").as("v"))
      relinked.union(centers).distinct()
    }

    // carry the cardinality across iterations: edges was counted when it
    // was `next` last round, so recounting it per fixed-point check paid
    // one extra full job per iteration (r16 opt)
    var edgeCount = edges.count()
    var converged = edgeCount == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextCount = next.count()
      // exact fixed-point check: equal cardinality + empty difference
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters: large/small-star did not converge in $maxIter rounds " +
          "(cycle in edge contraction — raise maxIter)")

    // fixed point is a forest of stars centered at each component minimum
    edges.select(col("v").as("id"), col("u").as("comp"))
      .union(edges.select(col("u").as("id"), col("u").as("comp")))
      .groupBy("id").agg(min("comp").as("comp"))
  }
}
