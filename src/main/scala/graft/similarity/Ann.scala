package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once — embarrassingly parallel, no shuffle of the corpus).
  * Scale path: sign-LSH bucketing (axis-aligned hyperplanes) so candidate
  * generation is a bucket-equijoin instead of a full cross product; same
  * pattern extends to IVF with learned centroids.
  *
  * Dot products run through `zip_with` + `aggregate` with explicit
  * float→double casts: sequential left-fold, deterministic and
  * reproducible by any engine (oracle-checkable).
  */
object Ann {

  /** Dot product of two float-array columns, computed in double —
    * a custom codegen'd Catalyst expression
    * ([[graft.functions.VectorExpressions.FloatVecDot]]); bit-equal to the
    * declarative `aggregate(zip_with(...))` sequential left fold but ~50×
    * faster (no per-element boxing).
    */
  def dot(x: Column, y: Column): Column =
    graft.functions.VectorExpressions.float_vec_dot(x, y)

  /** L2 norm. */
  def norm(x: Column): Column = sqrt(dot(x, x))

  /** Pin a METADATA-sized relation (centroids, codebooks — rows bounded by
    * model parameters k/m, never by corpus size) as a driver-local
    * relation. Every downstream `broadcast()` then builds from a
    * LocalTableScan — no Spark job, no re-execution of the aggregation
    * subtree per consumer (opt guide §5 "don't recompute a subtree per
    * consumer" / §2.4 "remove actions outright"). `localCheckpoint` kept
    * the plan flat but still cost one broadcast-build job per consumer;
    * the r16 event logs put the deep IVF-PQ chains at 38-41 jobs/rep,
    * nearly all sub-second single-task broadcast builds. Values
    * round-trip exactly (Row collect → createDataFrame, same schema).
    */
  private[graft] def localPin(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(df.collect().toList.asJava, df.schema)
  }

  /** Cosine similarity of two float-array columns, computed in double.
    * For pairwise workloads prefer precomputing per-row norms (see
    * [[bruteForceTopK]]) — recomputing norms per pair triples the HOF work.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k: for each query vector, the k nearest corpus vectors
    * by cosine. Queries are broadcast (small side); the corpus is scanned
    * once per partition — at 100 TB this is the map-side-only plan, with
    * the final top-k as a partial-aggregate-friendly window.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm")))
    val c = corpus.select(col("vec_id").as("corpus_id"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
    val scored = q.join(c, col("query_id") =!= col("corpus_id"))
      .withColumn("cos",
        dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }

  /** Rademacher ±1 hyperplane coefficient for (table, bit, dim) — the low
    * bit of a fixed-seed md5. Computed DRIVER-side and baked into both the
    * Spark plan and the oracle SQL as literals, so the "random" hyperplanes
    * are deterministic, engine-portable, and seed-stable across rounds.
    * Random ±1 projections are sign-LSH-valid (Charikar 2002 with
    * Achlioptas-style ±1 entries) and — unlike the axis-aligned bits they
    * replace — mix ALL dimensions into every bit, so bucket collision
    * probability actually tracks cosine similarity on dense embeddings.
    */
  def hyperplaneSign(table: Int, bit: Int, dim: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft-lsh|$table|$bit|$dim".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1 else -1
  }

  /** Default LSH-table count / bits per table for the td11/td15 configs.
    * Chosen from the MEASURED tradeoff on the synthetic embeddings (top-10
    * neighbors sit at cos 0.30-0.48, i.e. per-bit collision prob ≈ 0.63):
    * 16 tables × 8 bits reaches recall@10 ≈ 0.3 while touching ~7% of the
    * corpus per query (vs 100% brute force); fewer bits raise recall but
    * candidate volume grows toward brute force (12×6: 0.46 @ 18%). The
    * round-5 axis-aligned single table measured recall 0.015-0.02.
    */
  val LshTables = 16
  val LshBits = 8

  /** Embedding quantized to integer micro-units — exact cross-engine
    * arithmetic for the hyperplane projections (a double sum near zero
    * could sign-flip between engines; integer sums cannot).
    */
  def microVec(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 1e6).cast("bigint"))

  /** Bucket key for one LSH table — the DECLARATIVE form: `bits` sign
    * bits of Rademacher projections over the micro-quantized embedding,
    * packed into a long. Kept as the property-test twin of the fused
    * [[graft.functions.VectorExpressions.HyperplaneBuckets]] kernel that
    * the pipeline actually runs (tables×bits interpreted HOF folds per
    * row measured td11 at 3.6s; the kernel is one tight loop).
    */
  def hyperplaneBucket(qv: Column, table: Int, bits: Int, dims: Int): Column =
    (0 until bits).map { h =>
      val signs = array((0 until dims).map(d =>
        lit(hyperplaneSign(table, h, d).toLong)): _*)
      val proj = aggregate(zip_with(qv, signs, (x, s) => x * s),
        lit(0L), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** `(tbl, bucket)` keys for all LSH tables, ready to explode: one row
    * per table per vector, the OR-amplification fan-out. All buckets
    * come from ONE pass over the raw embedding (fused kernel).
    */
  def hyperplaneKeys(emb: Column, tables: Int, bits: Int, dims: Int): Column =
    zip_with(
      graft.functions.VectorExpressions
        .hyperplane_buckets(emb, tables, bits, dims),
      sequence(lit(0), lit(tables - 1)),
      (bucket, t) => struct(t.as("tbl"), bucket.as("bucket")))

  /** Multi-table LSH ANN: candidates share a hyperplane bucket in ANY of
    * `tables` tables (OR-amplification); exact cosine + top-k over the
    * deduped candidate set. The 100 TB plan: corpus shuffles once by
    * (tbl, bucket) — `tables`× the corpus rows, each carrying one key —
    * queries are broadcast, and the exact ranking touches only the
    * candidate fraction the table count buys (see [[LshTables]] for the
    * measured recall/volume curve on this corpus).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, tables: Int, bits: Int,
      dims: Int, k: Int): DataFrame = {
    def keyed(df: DataFrame, idAlias: String, pfx: String): DataFrame =
      df.select(col("vec_id").as(idAlias),
          col("embedding").as(s"${pfx}_emb"),
          norm(col("embedding")).as(s"${pfx}_norm"),
          explode(hyperplaneKeys(col("embedding"), tables, bits, dims)).as("tb"))
        .select(col(idAlias), col(s"${pfx}_emb"), col(s"${pfx}_norm"),
          col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = broadcast(keyed(queries, "query_id", "q"))
    val c = keyed(corpus, "corpus_id", "c")
    val cand = q.join(c, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select("query_id", "corpus_id", "q_emb", "q_norm", "c_emb", "c_norm")
      .distinct() // a pair colliding in several tables scores once
    val scored = cand.withColumn("cos",
      dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }

  /** IVF-style ANN: coarse quantization over deterministic MEDOID
    * centroids (every `centroidEvery`-th corpus vector — no FP averaging,
    * so assignments are engine-reproducible; a k-means refinement would
    * drop in without changing the plan shape). Corpus vectors are
    * assigned to their nearest centroid once (the "inverted file");
    * queries probe their `nprobe` nearest centroids and rank only those
    * cells' members — at 100 TB the assignment is a materialized bucketed
    * table and each query touches nprobe/nlist of the corpus.
    */
  /** Assign vectors to their `keep` nearest centroids (the IVF coarse
    * quantizer). `centroids` must be broadcastable.
    *
    * keep = 1 (the corpus-side assignment — the 100 TB-sized input) is an
    * ARGMIN aggregate, not a window: `min_by` over (−cos, centroid_id)
    * gets map-side partial aggregation, so the shuffle carries one
    * best-so-far row per vector per partition instead of the full
    * |corpus| × |centroids| score space a row_number window would move.
    * The (−cos, centroid_id) ordering struct is the exact negation of the
    * window's (cos DESC, centroid_id ASC), tie-broken by the unique
    * centroid id — same winner, deterministic. keep > 1 (query probes — a
    * small side by construction) keeps the top-n window.
    */
  private def assignToCentroids(centroids: DataFrame, df: DataFrame,
      idAlias: String, keep: Int): DataFrame = {
    val scored = df.select(col("vec_id").as(idAlias), col("embedding"))
      .join(broadcast(centroids))
      .withColumn("ccos", dot(col("embedding"), col("cent_emb")) /
        (norm(col("embedding")) * norm(col("cent_emb"))))
    if (keep == 1) {
      scored.groupBy(col(idAlias))
        .agg(min_by(struct(col("centroid_id"), col("embedding")),
          struct((-col("ccos")).as("neg_cos"), col("centroid_id"))).as("best"))
        .select(col(idAlias), col("best.centroid_id").as("centroid_id"),
          col("best.embedding").as("embedding"))
    } else {
      val w = Window.partitionBy(idAlias)
        .orderBy(col("ccos").desc, col("centroid_id"))
      scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") <= keep)
        .select(col(idAlias), col("centroid_id"), col("embedding"))
    }
  }

  private def medoidCentroids(corpus: DataFrame, centroidEvery: Int): DataFrame =
    corpus.filter(pmod(col("vec_id"), lit(centroidEvery)) === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))

  /** Deterministic k-means||-style seeding (Bahmani et al. 2012): a few
    * distributed rounds oversample candidates with probability ∝ their
    * cosine distance to the current seed set — the sampling coin is a
    * portable hash of (round, vec_id), so the "random" draw is a pure
    * function of the data — then the O(k·oversample) candidate set is
    * reduced to k on the driver by greedy farthest-point. Beats every-Nth
    * medoids because seeds repel each other into distinct modes instead
    * of landing ∝ id order (measured on the sf0.1 embeddings: recall@10
    * 0.23→0.31 at nprobe=2, 0.535→0.60 at nprobe=8, 0.78 at nprobe=16,
    * same Lloyd budget).
    *
    * Scale shape per round: one broadcast of ≤ k·oversample current seeds,
    * one corpus scan computing max-cos (map-side partial agg), one filter;
    * only candidates (not the corpus) are ever collected.
    */
  def kMeansParallelSeeds(corpus: DataFrame, k: Int, rounds: Int = 5,
      oversample: Double = 2.0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val first = corpus.orderBy("vec_id")
      .select("vec_id", "embedding").head()
    var sel = Vector((first.getLong(0), first.getSeq[Float](1).toArray))
    (0 until rounds).foreach { r =>
      val seeds = broadcast(sel.toDF("centroid_id", "cent_emb"))
      val dist = corpus.select(col("vec_id"), col("embedding"))
        .join(seeds)
        .groupBy("vec_id")
        .agg(first_value(col("embedding")).as("embedding"),
          max(dot(col("embedding"), col("cent_emb")) /
            (norm(col("embedding")) * norm(col("cent_emb")))).as("maxcos"))
        .withColumn("d", lit(1.0) - col("maxcos"))
      val sumD = dist.agg(sum(col("d"))).head().getDouble(0)
      if (sumD > 0) {
        val p = least(lit(1.0),
          lit(oversample * k / rounds) * col("d") / lit(sumD))
        val coin = graft.functions.Hashing
          .portableHash(col("vec_id"), salt = 100 + r)
          .cast("double") / lit(4294967296.0)
        val selectedIds = sel.map(_._1).toSet
        val picked = dist.filter(coin < p)
          .select("vec_id", "embedding").collect()
          .map(row => (row.getLong(0), row.getSeq[Float](1).toArray))
          .filterNot(c => selectedIds.contains(c._1))
        sel = sel ++ picked
      }
    }
    // driver-side reduction: greedy farthest-point over the candidates
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cands = sel.toArray
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    val minD = Array.tabulate(cands.length)(i => 1.0 - cos(cands(i)._2, cands(0)._2))
    while (chosen.length < k && chosen.length < cands.length) {
      var best = -1; var bd = -1.0
      var i = 0
      while (i < cands.length) {
        // deterministic tie-break on vec_id keeps the seed set stable
        if (minD(i) > bd + 1e-12 ||
            (math.abs(minD(i) - bd) <= 1e-12 && best >= 0 &&
              cands(i)._1 < cands(best)._1)) {
          if (!chosen.contains(i)) { best = i; bd = minD(i) }
        }
        i += 1
      }
      if (best < 0) return sel.take(k).toDF("centroid_id", "cent_emb")
      chosen += best
      i = 0
      while (i < cands.length) {
        val d = 1.0 - cos(cands(i)._2, cands(best)._2)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    chosen.map(cands(_)).toSeq.toDF("centroid_id", "cent_emb")
  }

  /** Deterministic Lloyd's refinement of IVF centroids: `iters` rounds of
    * cosine-argmin assignment followed by a per-dimension mean computed in
    * integer MICRO-UNITS — Σ round(xᵢ·10⁶) floor-divided by the member
    * count, then scaled back to float — so the refined centroids are
    * bit-identical in any engine (the integer discipline the KL/outlier
    * ops use, applied to k-means). Medoid seeding alone is recall-fragile
    * on clustered corpora: a seed that lands between modes attracts both;
    * one or two Lloyd rounds pull centroids onto the modes (recall@k
    * spec-proven against brute force).
    *
    * Scale shape per round: assignment is the same min_by argmin as the
    * coarse quantizer (map-side partial agg, broadcast centroids); the
    * update is one posexplode + two partial-agg aggregates over
    * corpus×dims rows. Each round checkpoints, keeping plans flat. Empty
    * cells drop out (k may shrink), matching the SQL mirror's GROUP BY.
    */
  def refineCentroids(corpus: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    var cents = seeds
    (1 to iters).foreach { _ =>
      val assigned = assignToCentroids(cents, corpus, "corpus_id", 1)
      cents = assigned
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("centroid_id", "dim")
        .agg(sum(round(col("v").cast("double") * 1e6).cast("bigint")).as("s"),
          count(lit(1)).as("n"))
        // Spark `div` and DuckDB BIGINT `//` both truncate toward zero
        // (verified: -7 // 2 = -3 in DuckDB on integer operands)
        .withColumn("micro", expr("s div n"))
        .withColumn("val", (col("micro").cast("double") / 1e6).cast("float"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("val")))).as("pv"))
        .select(col("centroid_id"),
          transform(col("pv"), p => p.getField("val")).as("cent_emb"))
      // localPin, not localCheckpoint (r17): the k-row centroid table is
      // metadata-sized; as a local relation every downstream broadcast
      // build is job-free instead of one job per consumer
      cents = localPin(cents)
    }
    cents
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      centroidEvery: Int, nprobe: Int, k: Int, refineIters: Int = 0,
      seedsOverride: Option[DataFrame] = None): DataFrame = {
    val seeds = seedsOverride.getOrElse(medoidCentroids(corpus, centroidEvery))
    val centroids =
      if (refineIters > 0) refineCentroids(corpus, seeds, refineIters) else seeds
    val cells = assignToCentroids(centroids, corpus, "corpus_id", 1)
    val probes = assignToCentroids(centroids, queries, "query_id", nprobe)
    val scored = probes.select(col("query_id"), col("centroid_id"),
        col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
      .join(cells.select(col("corpus_id"), col("centroid_id"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm")),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos",
        dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .select("query_id", "corpus_id", "cos").distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }

  /** Materialize the IVF inverted file: centroids + corpus cells written
    * as parquet PARTITIONED BY centroid_id — the 100 TB form, where
    * assignment is paid once and every query then touches only its
    * `nprobe` cells' directories (partition pruning), not the corpus.
    */
  def buildIvfIndex(corpus: DataFrame, centroidEvery: Int, path: String,
      refineIters: Int = 0): Unit = {
    val seeds = medoidCentroids(corpus, centroidEvery)
    val centroids =
      if (refineIters > 0) refineCentroids(corpus, seeds, refineIters) else seeds
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    // cluster by cell before the partitioned write: each cell becomes a
    // handful of contiguous files instead of (writer tasks × cells) tiny
    // ones — the layout a probe-side scan wants at any scale
    assignToCentroids(centroids, corpus, "corpus_id", 1)
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/cells")
  }

  /** Append new vectors to a materialized IVF index WITHOUT reseeding:
    * the frozen centroids assign each new vector to its cell, and the
    * rows append into the same partitioned layout (touching only the
    * affected cell directories). This is the streaming-growth contract:
    *   - the result is EXACTLY what a one-shot assignment of the grown
    *     corpus against the same centroids would produce (spec-proven),
    *     so queries see appended vectors immediately;
    *   - recall degrades only as far as the centroids drift from the
    *     grown corpus distribution — for append fractions ≤ ~30% the
    *     probe gate (`DedupSpec`) holds recall; beyond that, rebuild
    *     with [[buildIvfIndex]] (reseed + reassign) is the contract.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newVectors: DataFrame): Unit = {
    val centroids = spark.read.parquet(s"$path/centroids")
    assignToCentroids(centroids, newVectors, "corpus_id", 1)
      .repartition(col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$path/cells")
  }

  /** Query a materialized IVF index: probe `nprobe` cells per query and
    * rank only their members. The probed centroid ids become a static
    * partition filter on the cells table, so the scan reads only those
    * directories (visible as PartitionFilters in the plan). Results are
    * identical to [[ivfTopK]] with the same parameters (spec-proven).
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val probes = assignToCentroids(centroids, queries, "query_id", nprobe)
    // nprobe × |queries| centroid ids — small by construction
    val probedIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0))
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("centroid_id").isin(probedIds: _*))
    val scored = probes.select(col("query_id"), col("centroid_id"),
        col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
      .join(cells.select(col("corpus_id"), col("centroid_id"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm")),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos",
        dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .select("query_id", "corpus_id", "cos").distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * cluster-then-pairwise-cosine. Vectors are coarse-clustered with the
    * same deterministic medoid quantizer as [[ivfTopK]]; within each
    * cluster, pairs at/above `threshold` cosine are semantic duplicates
    * and only the smallest vec_id of each duplicate chain survives.
    * Returns the KEPT vectors as (vec_id, centroid_id).
    *
    * Scale shape: clustering bounds the pair space to per-cell O(cell²)
    * (the paper's point — same way IVF bounds probe cost); the cell
    * assignment is computed once (checkpoint) and feeds both pair sides
    * and the final anti-join. At 100 TB the assignment is the
    * materialized [[buildIvfIndex]] cells table and dedup runs per cell
    * directory.
    */
  def semDedup(corpus: DataFrame, centroidEvery: Int,
      threshold: Double): DataFrame = {
    val centroids = medoidCentroids(corpus, centroidEvery)
    val cells = assignToCentroids(centroids, corpus, "vec_id", 1)
      .localCheckpoint()
    val a = cells.select(col("centroid_id"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), norm(col("embedding")).as("norm_a"))
    val b = cells.select(col("centroid_id"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), norm(col("embedding")).as("norm_b"))
    val dupIds = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("emb_a"), col("emb_b")) /
        (col("norm_a") * col("norm_b")) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    cells.join(dupIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("centroid_id"))
  }

  /** Cluster label-purity diagnostics over the medoid quantizer: per
    * cell, the label histogram reduced to EXACT integer metrics — Gini
    * impurity and majority share in parts-per-million (integer div, no
    * FP) plus the distinct-label count. The dataset-curation read on a
    * clustering: a high-impurity cell mixes sources/classes (sampling
    * or relabeling target); a large pure cell is redundancy (dedup
    * target). Scale shape: one broadcast assignment pass + label
    * histograms (map-side combinable) — never a pairwise op.
    */
  def clusterPurity(corpus: DataFrame, centroidEvery: Int): DataFrame = {
    val cents = medoidCentroids(corpus, centroidEvery)
    val assigned = assignToCentroids(cents, corpus, "vec_id", 1)
      .select("vec_id", "centroid_id")
      .join(corpus.select(col("vec_id"), col("label")), Seq("vec_id"))
    val hist = assigned.groupBy(col("centroid_id"), col("label"))
      .agg(count(lit(1)).as("c"))
    val wm = Window.partitionBy("centroid_id")
      .orderBy(col("c").desc, col("label"))
    val maj = hist.withColumn("rn", row_number().over(wm))
      .filter(col("rn") === 1)
      .select(col("centroid_id"), col("label").as("majority_label"),
        col("c").as("mc"))
    hist.groupBy("centroid_id")
      .agg(sum(col("c")).as("t"), sum(col("c") * col("c")).as("sq"),
        count(lit(1)).cast("int").as("n_labels"))
      .join(maj, Seq("centroid_id"))
      .select(col("centroid_id"), col("t").as("n_vecs"), col("n_labels"),
        col("majority_label"),
        expr("(1000000 * mc) div t").as("majority_micro"),
        expr("(1000000 * (t * t - sq)) div (t * t)").as("gini_micro"))
  }

  /** Contrastive hard-negative mining: for each vector, the
    * highest-cosine neighbor with a DIFFERENT label inside its medoid
    * cell — the embedding-model-training staple (a hard negative is
    * similar in representation but semantically distinct). Anchors whose
    * cell holds no other label are absent (no negative to mine).
    *
    * Scale shape: the cell bounds the candidate space exactly like
    * [[semDedup]] — per-cell O(m²), never corpus² — and mining SHARES
    * the assignment pass with the other cell-based curation ops.
    * `cos_micro` is the similarity in integer micro-units.
    */
  def hardNegatives(corpus: DataFrame, centroidEvery: Int): DataFrame = {
    val cents = medoidCentroids(corpus, centroidEvery)
    val cells = assignToCentroids(cents, corpus, "vec_id", 1)
      .join(corpus.select(col("vec_id"), col("label")), Seq("vec_id"))
      .localCheckpoint()
    val a = cells.select(col("centroid_id"), col("vec_id"), col("label"),
      col("embedding").as("emb_a"), norm(col("embedding")).as("norm_a"))
    val b = cells.select(col("centroid_id"), col("vec_id").as("neg_id"),
      col("label").as("neg_label"), col("embedding").as("emb_b"),
      norm(col("embedding")).as("norm_b"))
    val scored = a.join(b, Seq("centroid_id"))
      .filter(col("label") =!= col("neg_label"))
      .withColumn("cos", dot(col("emb_a"), col("emb_b")) /
        (col("norm_a") * col("norm_b")))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("neg_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("neg_id"),
        round(col("cos") * 1e6).cast("bigint").as("cos_micro"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold within blocking
    * groups (label = coarse IVF-style partition). Pair space is per-block
    * O(m²), never global.
    */
  def embeddingNearDups(df: DataFrame, threshold: Double): DataFrame = {
    val a = df.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), norm(col("embedding")).as("norm_a"))
    val b = df.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), norm(col("embedding")).as("norm_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("cos") >= threshold)
      .select("label", "id_a", "id_b", "cos")
  }

  /** LSH-bounded embedding near-duplicates — the scale path for
    * [[embeddingNearDups]]: candidates must share a hyperplane bucket in
    * ANY of `tables` LSH tables inside their label block, so the pair
    * space is per-(label, tbl, bucket), never per-label O(m²). A hot
    * label at 100 TB splits across 2^bits buckets per table; recall
    * trades against (tables, bits) exactly like [[lshTopK]].
    */
  /** Margin-based bitext mining (the ratio-margin criterion of
    * Artetxe & Schwenk, ACL'19 — the CCMatrix/LASER parallel-pair
    * miner): score every cross-side candidate pair by cos(x,y) RELATIVE
    * to each endpoint's own neighborhood density, keep MUTUAL best
    * matches above a margin threshold. Raw cosine mining drowns in hub
    * vectors that score high against everything; dividing by the
    * average of each side's top-k candidate cosines normalizes the hubs
    * away — margin > 1 means "closer than your usual neighbors".
    *
    * Exactness discipline: each pair's cosine is ONE double expression
    * (identical op order in both engines), rounded to integer micro
    * units per pair BEFORE any aggregation; the neighborhood sums and
    * the margin ratio are then exact bigint arithmetic —
    *   margin_micro = (2·cos·n_a·n_b·1e6) div (sum_a·n_b + sum_b·n_a)
    * with n = min(k, candidates) — reproducible bit-for-bit in SQL.
    *
    * Scale shape: the pair space is LSH-bounded, never |src|×|tgt| —
    * candidates are hyperplane-bucket collisions (`tables`×`bits`, the
    * td11/td15 machinery), every window partitions by a vector id with
    * bucket-bounded partition sizes, and the neighborhood aggregates
    * are hash aggs over the candidate relation. At 100 TB the candidate
    * relation shuffles (src_id, tgt_id, cos_micro) triples only — no
    * embedding payload moves past the bucket join.
    *
    * SIZING CONTRACT: `bits` must grow with the corpus — per-table
    * bucket count 2^bits should track N / (target per-bucket size), or
    * bucket collisions (and with them the candidate relation) grow
    * quadratically in N. The scale probe enforces this: constant bits
    * over 10x vectors measured a 109x cost ratio; log2-scaled bits
    * restore ~linear growth. Same knob discipline as the IVF family's
    * cell count (~sqrt N cells) — the index geometry is part of the
    * deployment, not a constant.
    */
  def bitextMarginMine(src: DataFrame, tgt: DataFrame, dims: Int, k: Int,
      tables: Int, bits: Int, marginThresholdMicro: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def keyed(df: DataFrame, side: String) =
      df.select(col("vec_id").as(s"${side}_id"),
          col("embedding").as(s"${side}_emb"),
          norm(col("embedding")).as(s"${side}_nrm"),
          explode(hyperplaneKeys(col("embedding"), tables, bits, dims))
            .as("tb"))
        .select(col(s"${side}_id"), col(s"${side}_emb"),
          col(s"${side}_nrm"), col("tb.tbl").as("tbl"),
          col("tb.bucket").as("bucket"))
    val cand = keyed(src, "src").join(keyed(tgt, "tgt"), Seq("tbl", "bucket"))
      .select("src_id", "tgt_id", "src_emb", "src_nrm", "tgt_emb", "tgt_nrm")
      .distinct() // a pair colliding in several tables is one candidate
      .withColumn("cos_micro",
        round(lit(1e6) * dot(col("src_emb"), col("tgt_emb")) /
          (col("src_nrm") * col("tgt_nrm"))).cast("bigint"))
      .select("src_id", "tgt_id", "cos_micro")
    val wS = Window.partitionBy("src_id")
      .orderBy(col("cos_micro").desc, col("tgt_id").asc)
    val wT = Window.partitionBy("tgt_id")
      .orderBy(col("cos_micro").desc, col("src_id").asc)
    val ranked = cand
      .withColumn("rn_s", row_number().over(wS))
      .withColumn("rn_t", row_number().over(wT))
    val denS = ranked.filter(col("rn_s") <= k).groupBy("src_id")
      .agg(sum("cos_micro").as("sum_a"), count(lit(1)).as("n_a"))
    val denT = ranked.filter(col("rn_t") <= k).groupBy("tgt_id")
      .agg(sum("cos_micro").as("sum_b"), count(lit(1)).as("n_b"))
    val margin = cand
      .join(denS, Seq("src_id")).join(denT, Seq("tgt_id"))
      // a non-positive neighborhood (all-negative cosines) has no
      // meaningful density to normalize by — those vectors mine nothing
      .filter(col("sum_a") * col("n_b") + col("sum_b") * col("n_a") > 0)
      .withColumn("margin_micro", expr(
        "(2 * cos_micro * n_a * n_b * 1000000) div (sum_a * n_b + sum_b * n_a)"))
    val wSm = Window.partitionBy("src_id")
      .orderBy(col("margin_micro").desc, col("tgt_id").asc)
    val wTm = Window.partitionBy("tgt_id")
      .orderBy(col("margin_micro").desc, col("src_id").asc)
    margin
      .withColumn("bs", row_number().over(wSm))
      .withColumn("bt", row_number().over(wTm))
      .filter(col("bs") === 1 && col("bt") === 1 &&
        col("margin_micro") >= marginThresholdMicro)
      .select("src_id", "tgt_id", "cos_micro", "margin_micro")
  }

  def embeddingNearDupsLsh(df: DataFrame, tables: Int, bits: Int,
      dims: Int, threshold: Double): DataFrame = {
    val keyed = df.select(col("label"), col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"),
        explode(hyperplaneKeys(col("embedding"), tables, bits, dims)).as("tb"))
      .select(col("label"), col("vec_id"), col("embedding"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val a = keyed.select(col("label"), col("tbl"), col("bucket"),
      col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("nrm").as("norm_a"))
    val b = keyed.select(col("label"), col("tbl"), col("bucket"),
      col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("nrm").as("norm_b"))
    a.join(b, Seq("label", "tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("label", "id_a", "id_b", "emb_a", "norm_a", "emb_b", "norm_b")
      .distinct() // a pair colliding in several tables is one candidate
      .withColumn("cos",
        dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("cos") >= threshold)
      .select("label", "id_a", "id_b", "cos")
  }

  /** Embedding outlier detection: distance of each vector to its label's
    * centroid, flagged past a threshold — the embedding-QA pass that
    * catches mislabeled/garbage vectors before they poison ANN buckets or
    * semantic dedup clusters.
    *
    * Exactness discipline: vectors quantize to integer micro-units
    * (`round(x·1e6)`) so the per-label per-dimension centroid SUMS are
    * exact integers (cross-row float sums are order-dependent — banned);
    * the per-row deviation then runs in doubles derived from those exact
    * integers, summed in fixed dimension order (left-to-right `aggregate`),
    * and rounds once to an integer micro-unit distance.
    *
    * Scale shape: one map-side-combined aggregate builds the (tiny)
    * per-label centroid table — `dims` integer sums per label — which
    * broadcasts back onto the corpus; the per-row distance is a narrow
    * projection. No corpus self-join, no shuffle of embedding data beyond
    * the centroid partials.
    */
  def centroidOutliers(df: DataFrame, dims: Int,
      thresholdMicro: Long): DataFrame = {
    val q = transform(col("embedding"),
      e => round(e.cast("double") * 1e6).cast("bigint"))
    val quant = df.select(col("vec_id"), col("label"), q.as("qv"))
    val cent = quant.groupBy("label").agg(
      count(lit(1)).as("n"),
      array((1 to dims).map(d =>
        sum(element_at(col("qv"), d))): _*).as("sums"))
    quant.join(broadcast(cent), "label")
      .withColumn("dev2", aggregate(
        zip_with(col("qv"), col("sums"), (qd, sd) => {
          val dev = qd.cast("double") - sd.cast("double") / col("n")
          dev * dev
        }),
        lit(0.0), (acc, x) => acc + x))
      .select(col("vec_id"), col("label"),
        round(sqrt(col("dev2"))).cast("bigint").as("dist_micro"))
      .withColumn("is_outlier", col("dist_micro") > thresholdMicro)
  }
}
