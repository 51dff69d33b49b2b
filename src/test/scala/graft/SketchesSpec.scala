package graft

import graft.sketch.Sketches
import graft.text.Retrieval
import graft.training.TrainingPrep
import org.apache.spark.sql.functions._

/** Specs for the sketch family (HLL / Bloom / Count-Min), BM25 retrieval,
  * and exact quantiles — structural guarantees a hash mismatch wouldn't
  * catch: sketch error bounds, no-false-negative membership, score formula
  * equivalence against a Scala-side mirror.
  */
class SketchesSpec extends SparkSpec {

  test("hllDistinct: estimate within 15% on the documents corpus") {
    val toks = Tables.documents(spark, sf("sf0.01"))
      .select(lit("all").as("g"),
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("t"))
    val r = Sketches.hllDistinct(toks, "g", "t").collect()
    assert(r.length == 1)
    val row = r.head
    val est = row.getAs[Long]("est").toDouble
    val exact = row.getAs[Long]("n_exact").toDouble
    assert(exact > 0)
    // m=64 gives a ~1.04/sqrt(64) = 13% standard error; 15% is one sigma
    // plus slack — a register bug lands far outside it
    assert(math.abs(est - exact) / exact < 0.15,
      s"est=$est exact=$exact off by ${math.abs(est - exact) / exact}")
    assert(row.getAs[Int]("n_filled") + row.getAs[Int]("v_empty") == 64)
  }

  test("hllDistinct: linear counting regime is near-exact for small sets") {
    import spark.implicits._
    // 10 distinct values in 64 buckets: mostly-empty registers → the
    // small-range correction applies, so est = round(m * ln(m / V))
    // computed from the observed empty-bucket count V (bucket collisions
    // are the hash's business; the correction formula is ours)
    val df = (1 to 1000).map(i => ("g", s"v${i % 10}")).toDF("g", "t")
    val row = Sketches.hllDistinct(df, "g", "t").collect().head
    val est = row.getAs[Long]("est")
    val v = row.getAs[Int]("v_empty")
    assert(v >= 54, s"10 distinct values cannot fill ${64 - v} buckets")
    val expected = math.round(64.0 * math.log(64.0 / v))
    assert(est == expected, s"est=$est, linear counting gives $expected")
  }

  test("bm25TopK matches a Scala-side mirror of the formula") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a x"), (2L, "b c"), (3L, "a a a a"), (4L, "x y z"))
      .toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("a", "b"), 4)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_micro"))).toMap
    // mirror: N=4, avgdl=13/4; df(a)=2, df(b)=2
    val n = 4.0; val avgdl = 13.0 / 4.0; val k1 = 1.2; val b = 0.75
    def idf(dfq: Double) = math.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
    def contrib(tf: Long, dl: Long, dfq: Double) = math.round(1e6 *
      idf(dfq) * (tf * (k1 + 1.0) /
        (tf + k1 * ((1.0 - b) + b * dl / avgdl))))
    val exp = Map(
      1L -> (contrib(2, 4, 2) + contrib(1, 4, 2)),
      2L -> contrib(1, 2, 2),
      3L -> contrib(4, 4, 2))
    assert(got == exp, s"got=$got exp=$exp")
    // doc 4 has no query terms — absent from the ranking
    assert(!got.contains(4L))
  }

  test("hybridRerank: dense cosine re-orders the lexical candidates") {
    import spark.implicits._
    // docs 1-3 all match term 'a' (same tf, same dl → same BM25 score);
    // embeddings point doc 3 at the query vector, doc 1 away from it
    val docs = Seq((1L, "a p q"), (2L, "a r s"), (3L, "a t u"),
      (4L, "z z z")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(-1f, 0f)), (2L, Array(0.5f, 0.5f)), (3L, Array(1f, 0.1f)),
      (4L, Array(0f, 1f)), (42L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val r = Retrieval.hybridRerank(docs, emb, "doc_id", "text",
      Seq("a"), queryVecId = 42L, kLex = 3, k = 3).collect()
    // rerank order by cosine to (1,0): doc 3 (~0.995), doc 2 (0.707),
    // doc 1 (-1); doc 4 never entered the lexical candidate set
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L, 2L, 1L))
    // lexical ranks survive into the output (ties broke by doc_id)
    assert(r.map(row => row.getAs[Long]("doc_id") ->
      row.getAs[Int]("rk_lex")).toMap == Map(3L -> 3, 2L -> 2, 1L -> 1))
    assert(r.head.getAs[Double]("cos") > 0.99)
  }

  test("bloomDecontam: no false negatives, flagged >= true overlap") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val r = Sketches.bloomDecontam(
      docs.where(col("source") === "src0"),
      docs.where(col("source") =!= "src0"),
      "doc_id", "text", n = 5).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val flagged = row.getAs[Long]("n_flagged")
      val exact = row.getAs[Long]("n_true")
      val total = row.getAs[Long]("n_shingles")
      // Bloom's contract: a present element ALWAYS hits (no false negs)
      assert(flagged >= exact,
        s"doc ${row.get(0)}: flagged=$flagged < true=$exact")
      assert(flagged <= total)
    }
  }

  test("cmsHeavyHitters: estimate dominates exact count; top token sane") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val hh = Sketches.cmsHeavyHitters(docs, "text", k = 20).collect()
    assert(hh.length == 20)
    hh.foreach { row =>
      // the CMS one-sided error guarantee
      assert(row.getAs[Long]("est") >= row.getAs[Long]("n_exact"),
        s"token ${row.get(0)}: est < exact")
    }
    // with 4x1024 cells over this corpus, collision noise is far below
    // the head of the distribution: sketch top-1 = exact top-1
    val exactTop = docs
      .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("t").count().orderBy(col("count").desc, col("t")).first()
    assert(hh.head.getAs[String]("t") == exactTop.getAs[String]("t"))
  }

  test("invertedIndex round-trips: positions reconstruct every document") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf()).limit(50).cache()
    try {
      val idx = Retrieval.invertedIndex(docs, "doc_id", "text")
      // re-assemble each doc by placing every term at its listed positions
      val rebuilt = idx
        .select(col("doc_id"), col("t"),
          explode(split(col("pos_csv"), ",")).as("ps"))
        .select(col("doc_id"), col("t"), col("ps").cast("int").as("p"))
        .groupBy("doc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("p"), col("t")))),
          s => s.getField("t")), " ").as("text2"))
      val diff = docs.join(rebuilt, "doc_id")
        .where(col("text") =!= col("text2")).count()
      assert(diff == 0)
      // tf equals the number of listed positions
      val badTf = idx.where(
        size(split(col("pos_csv"), ",")) =!= col("tf")).count()
      assert(badTf == 0)
    } finally docs.unpersist()
  }

  test("kmvSetOps: exact below k, estimates track exact Jaccard above it") {
    import spark.implicits._
    // two sets of 20 distinct values sharing 10: under k=64 the sketch IS
    // the set, so every estimate must be exact
    val rows = ((1 to 20).map(i => ("a", s"v$i")) ++
      (11 to 30).map(i => ("b", s"v$i"))).toDF("g", "v")
    val r = Sketches.kmvSetOps(rows, "g", "v", k = 64).collect().head
    assert(r.getAs[Long]("est_a") == 20L)
    assert(r.getAs[Long]("est_b") == 20L)
    assert(r.getAs[Long]("est_union") == 30L)
    assert(r.getAs[Long]("jaccard_micro") == r.getAs[Long]("exact_jaccard_micro"))
    assert(r.getAs[Long]("exact_jaccard_micro") ==
      math.round(1e6 * 10.0 / 30.0))
    // above k: corpus shingle sets — the estimate stays in the right
    // ballpark (KMV k=64 has ~12.5% relative error at one sigma)
    val sh = Tables.documents(spark, sf("sf0.01")).select(col("source"),
      explode(graft.text.TextAnalysis.shingles(col("text"), 3)).as("v"))
    val pairs = Sketches.kmvSetOps(sh, "source", "v", k = 64).collect()
    assert(pairs.length > 100)
    pairs.foreach { row =>
      val est = row.getAs[Long]("jaccard_micro").toDouble
      val ex = row.getAs[Long]("exact_jaccard_micro").toDouble
      assert(math.abs(est - ex) < 250000,
        s"${row.get(0)}-${row.get(1)}: jacc est=$est exact=$ex")
    }
  }

  test("rollingHistQuantiles: the bin containing the exact rolling quantile, every window") {
    import spark.implicits._
    // 10 days × 50 values with day-dependent drift; exact rolling
    // quantiles recomputed in Scala from the raw multiset per window
    val rows = for (d <- 0 until 10; i <- 0 until 50)
      yield (d.toLong, (i * 37 + d * 100) % 1000L)
    val df = rows.toDF("day", "v")
    val bins = 64
    val out = Sketches.rollingHistQuantiles(df, "day", "v", bins,
        Seq(50, 95), windowDays = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val mn = rows.map(_._2).min
    val mx = rows.map(_._2).max
    val width = (mx - mn + 1 + bins - 1) / bins
    for (d <- 0L until 10L; pct <- Seq(50, 95)) {
      val window = rows.filter(r => r._1 >= d - 2 && r._1 <= d).map(_._2)
        .sorted
      val exact = window((((pct.toLong * window.length + 99) / 100) - 1).toInt)
      val (n, qLo) = out((d, pct))
      assert(n == window.length, s"day=$d n=$n != ${window.length}")
      assert(qLo <= exact && exact < qLo + width,
        s"day=$d pct=$pct exact=$exact outside bin [$qLo, ${qLo + width})")
    }
  }

  test("kmvSetOps: exactAudit=false keeps schema, NULLs the audit columns") {
    import spark.implicits._
    val rows = ((1 to 20).map(i => ("a", s"v$i")) ++
      (11 to 30).map(i => ("b", s"v$i"))).toDF("g", "v")
    val full = Sketches.kmvSetOps(rows, "g", "v", k = 64)
    val noAudit = Sketches.kmvSetOps(rows, "g", "v", k = 64,
      exactAudit = false)
    assert(noAudit.schema == full.schema)
    val r = noAudit.collect().head
    // estimates identical to the audited run; audit column NULL
    assert(r.getAs[Long]("est_a") == 20L)
    assert(r.getAs[Long]("est_union") == 30L)
    assert(r.getAs[Long]("jaccard_micro") ==
      full.collect().head.getAs[Long]("jaccard_micro"))
    assert(r.isNullAt(r.fieldIndex("exact_jaccard_micro")))
  }

  test("bottom_k_longs equals sorted.take(k), with duplicate hashes and k > n") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // group "dup" draws from 40 values so hashes repeat across rows and
    // partitions; group "tiny" has fewer rows than any k below
    val rows = Seq.fill(2000)(("wide", rnd.nextLong())) ++
      Seq.fill(500)(("dup", rnd.nextInt(40).toLong - 20L)) ++
      Seq(("tiny", 5L), ("tiny", -3L), ("tiny", 5L)) ++
      Seq(("edge", Long.MaxValue), ("edge", Long.MinValue), ("edge", 0L))
    // 8 partitions: map-side partial buffers merge (and serialize)
    val df = rows.toDF("g", "h").repartition(8)
    Seq(1, 3, 64, 5000).foreach { k =>
      val got = df.groupBy("g")
        .agg(graft.functions.VectorExpressions.bottom_k_longs(col("h"), k)
          .as("hs"))
        .as[(String, Seq[Long])].collect().toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(_._2).sorted.take(k) }
      assert(got == want, s"k=$k")
    }
  }

  test("kmvSetOps: refuses high-cardinality group columns (quadratic guard)") {
    import spark.implicits._
    val manyGroups = (1 to 50).flatMap(g => (1 to 3).map(i => (s"g$g", s"v$i")))
      .toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      Sketches.kmvSetOps(manyGroups, "g", "v", k = 16, maxGroups = 10)
    }
    assert(e.getMessage.contains("quadratic"))
    // at the bound it still runs
    val ok = (1 to 10).flatMap(g => (1 to 3).map(i => (s"g$g", s"v$i")))
      .toDF("g", "v")
    assert(Sketches.kmvSetOps(ok, "g", "v", k = 16, maxGroups = 10)
      .count() == 45L)
  }

  test("collocations: planted glued bigram tops the PMI ranking") {
    import spark.implicits._
    // 'aa bb' always adjacent; 'cc' and 'dd' never adjacent to each other
    val docs = Seq.fill(30)("aa bb cc dd").toDF("text")
    val r = TrainingPrep.collocations(docs, "text", minCount = 5L, k = 10)
      .collect()
    // pairs: (aa,bb) (bb,cc) (cc,dd) each 30 times; all tokens c_t=30
    // p(xy)=30/90, p(x)p(y)=(30/120)^2 → pmi = ln(16/3) for every pair —
    // degenerate corpus gives ties; check the exact value and tie order
    val expected = math.round(1e6 * math.log((30.0 / 90.0) / ((30.0 / 120.0) * (30.0 / 120.0))))
    assert(r.length == 3)
    assert(r.forall(_.getAs[Long]("pmi_micro") == expected))
    assert(r.map(row => (row.getString(0), row.getString(1))).toSeq ==
      Seq(("aa", "bb"), ("bb", "cc"), ("cc", "dd")))
  }

  test("weightedSample: keys match the Scala mirror; weight skews the draw") {
    import spark.implicits._
    // 500 light rows (w=1) vs 500 heavy rows (w=100): heavy rows should
    // dominate the sample far beyond their 50% share
    val rows = ((0L until 500L).map(i => (i, 1L)) ++
      (500L until 1000L).map(i => (i, 100L))).toDF("doc_id", "wt")
    val got = TrainingPrep.weightedSample(rows, "doc_id", "wt", k = 100)
      .collect()
    // exact key parity against the Scala md5 mirror
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = r.getAs[Long]("w")
      val h = graft.streaming.StreamingSketch.portableHash(id.toString)
      val exp = math.round(1e9 * math.log((h + 1).toDouble / 4294967296.0) / w)
      assert(r.getAs[Long]("key_micro") == exp, s"id=$id")
    }
    val heavy = got.count(_.getAs[Long]("doc_id") >= 500L)
    assert(heavy > 85, s"only $heavy/100 heavy rows sampled")
    // E-S keys are <= 0 and ranks are dense 1..100
    assert(got.forall(_.getAs[Long]("key_micro") <= 0L))
    assert(got.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to 100))
  }

  test("vocabGrowth: hand-computed curve on a two-doc corpus") {
    import spark.implicits._
    // stream: a b | b c → N=4; first positions a=1 b=2 c=4
    val docs = Seq((0L, "a b"), (1L, "b c")).toDF("doc_id", "text")
    val r = TrainingPrep.vocabGrowth(docs, "doc_id", "text")
      .orderBy("j").collect()
      .map(row => (row.getAs[Int]("j"), row.getAs[Long]("n_cum"),
        row.getAs[Long]("vocab")))
    assert(r.length == 10)
    // n_cum = (j*4) div 10; vocab = |{fp <= n_cum}|
    val exp = (1 to 10).map { j =>
      val n = (j * 4L) / 10
      (j, n, Seq(1L, 2L, 4L).count(_ <= n).toLong)
    }
    assert(r.toSeq == exp)
    // the curve is monotone by construction
    assert(r.map(_._3).toSeq == r.map(_._3).sorted.toSeq)
  }

  test("vocabGrowth: block-split prefix sums equal the corpus-order stream") {
    // > 1024 docs forces multiple blocks: the two-level offset must give
    // the same first positions as a single global prefix sum would
    import spark.implicits._
    val docs = (0 until 1500).map { i =>
      (i.toLong, s"a${i % 97} b${i % 13} common")
    }.toDF("doc_id", "text")
    val r = TrainingPrep.vocabGrowth(docs, "doc_id", "text")
      .orderBy("j").collect()
    // total = 4500 tokens; full-corpus checkpoint sees the whole vocab
    assert(r.last.getAs[Long]("n_cum") == 4500L)
    assert(r.last.getAs[Long]("vocab") == 97L + 13L + 1L)
    // 10% checkpoint (450 tokens = 150 docs): docs 0..149 contain all 13
    // w%13 tokens, w%97 values 0..96 only for i<97 → 97... i%97 cycles
    // fully within 150 docs, so vocab(10%) is already the full 111
    assert(r.head.getAs[Long]("vocab") == 111L)
  }

  test("lengthQuantiles: percentile_disc semantics on a known ladder") {
    import spark.implicits._
    // token lengths exactly 1..10 → p50 = 5, p90 = 9, p99 = ceil(9.9) = 10
    val docs = (1 to 10).map(i => ("g", i.toLong, Seq.fill(i)("w").mkString(" ")))
      .toDF("source", "doc_id", "text")
    val row = TrainingPrep.lengthQuantiles(docs, "source", "doc_id", "text")
      .collect().head
    assert(row.getAs[Long]("n_docs") == 10L)
    assert(row.getAs[Long]("p50") == 5L)
    assert(row.getAs[Long]("p90") == 9L)
    assert(row.getAs[Long]("p99") == 10L)
  }

  test("histQuantiles: hand-computed bins, boundaries, exact companions") {
    import spark.implicits._
    // group a: values 0..99 with 10 bins → bin = v div 10, bin width 10.
    // p50 target = 50 → bin 4 (cum 50), est_lo 40, exact rank-50 = 49.
    // p90 target = 90 → bin 8, est_lo 80, exact 89.
    // p99 target = 99 → bin 9 (cum 90 < 99), est_lo 90, exact 98.
    // group b: constant 7 → single bin, est_lo = exact = 7 at every pct.
    val df = ((0 until 100).map(v => ("a", v.toLong)) ++
      Seq.fill(5)(("b", 7L))).toDF("g", "v")
    val got = graft.sketch.Sketches
      .histQuantiles(df, "g", "v", bins = 10, pcts = Seq(50, 90, 99))
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Int]("pct")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("est_lo"),
          r.getAs[Long]("exact_v"))).toMap
    assert(got == Map(
      ("a", 50) -> (100L, 40L, 49L), ("a", 90) -> (100L, 80L, 89L),
      ("a", 99) -> (100L, 90L, 98L),
      ("b", 50) -> (5L, 7L, 7L), ("b", 90) -> (5L, 7L, 7L),
      ("b", 99) -> (5L, 7L, 7L)))
  }
}
