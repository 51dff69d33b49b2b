package graft

import graft.dedup.Dedup
import graft.functions.{Hashing, VectorExpressions}
import graft.similarity.Ann
import graft.text.TextAnalysis
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.util.Random

/** Specs for dedup/similarity kernels, incl. randomized (fixed-seed)
  * property checks that the custom codegen'd expressions equal their
  * declarative HOF forms.
  */
class DedupSpec extends SparkSpec {

  test("incremental dedup == full-corpus dedup restricted to crossing pairs") {
    // the nightly-crawl contract: deduping the increment against the base
    // finds EXACTLY the near-dup pairs a full re-dedup would find between
    // the two sides — no recall loss from splitting, no base×base noise
    val docs = Tables.documents(spark, sf())
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val incremental = Dedup.minhashNearDupsAgainst(base, inc, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashNearDups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val crossing = full.filter { case (a, b, _) =>
      (a % 5 == 0) != (b % 5 == 0)
    }.map { case (a, b, j) => // (base_id, new_id) orientation
      if (a % 5 == 0) (b, a, j) else (a, b, j)
    }.toSet
    assert(incremental == crossing)
    // base docs never pair with other base docs in the incremental result
    assert(incremental.forall { case (b, n, _) => b % 5 != 0 && n % 5 == 0 })
  }

  test("semDedup keeps the min id of a planted duplicate chain, drops the rest") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf())
    // plant exact copies of vector 3 at high ids: same embedding ⇒ cosine
    // 1.0 ⇒ same cell ⇒ only the smallest id (3) survives the chain
    val dup = emb.filter(col("vec_id") === 3)
    val planted = emb
      .union(dup.withColumn("vec_id", lit(9001L)))
      .union(dup.withColumn("vec_id", lit(9002L)))
    val kept = Ann.semDedup(planted, centroidEvery = 50, threshold = 0.3)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(3L) && !kept.contains(9001L) && !kept.contains(9002L))
    // every kept vector exists in the input; count shrank by at least 2
    assert(kept.subsetOf(planted.select("vec_id").as[Long].collect().toSet))
    assert(kept.size <= planted.count() - 2)
  }

  // The vector kernels against the declarative HOF forms they replaced
  // (the pre-r17 PQ plans were built from exactly these folds). Equal-
  // length inputs only — the kernels' documented contract.
  private def hofSum(a: Column, b: Column)(f: (Column, Column) => Column) =
    aggregate(zip_with(a, b, f), lit(0.0), (acc, v) => acc + v)
  private def hofDot(a: Column, b: Column): Column =
    hofSum(a, b)((x, y) => x.cast("double") * y.cast("double"))
  private def hofNorm(v: Column): Column = sqrt(hofDot(v, v))
  private val vectorKernels
      : Seq[(String, String, Boolean, (Column, Column) => Column,
        (Column, Column) => Column)] = Seq(
    // (kernel, declarative form, double right side, kernel, HOF)
    ("FloatVecDot", "zip_with/aggregate fold", false,
      VectorExpressions.float_vec_dot, hofDot),
    ("VecSqDist (float x float)", "zip_with/aggregate fold", false,
      VectorExpressions.vec_sqdist, (a, b) => hofSum(a, b)((x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double")))),
    ("VecSqDist (float x double)", "zip_with/aggregate fold", true,
      VectorExpressions.vec_sqdist, (a, b) => hofSum(a, b)((x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double")))),
    ("FloatVecUnitDiff", "zip_with unit-vector difference", false,
      VectorExpressions.float_vec_unit_diff, (a, b) =>
        zip_with(a, b, (x, y) =>
          x.cast("double") / hofNorm(a) - y.cast("double") / hofNorm(b))))

  vectorKernels.foreach { case (kernel, form, doubleRight, native, hof) =>
    test(s"$kernel equals the declarative $form bit-for-bit") {
      import spark.implicits._
      val rnd = new Random(42)
      val bits: Any => Seq[Long] = {
        case d: Double => Seq(java.lang.Double.doubleToLongBits(d))
        case s: scala.collection.Seq[_] =>
          s.map(v => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])).toSeq
      }
      Seq.fill(10)(Seq.fill(16)(rnd.nextFloat() * 20 - 10)).foreach { a =>
        val b = Seq.fill(16)(rnd.nextFloat() * 20 - 10)
        val df =
          if (doubleRight) Seq((a, b.map(_.toDouble * 1.000001))).toDF("a", "b")
          else Seq((a, b)).toDF("a", "b")
        // the local relation evaluates interpreted; the repartitioned one
        // runs the projection through whole-stage codegen
        Seq(df, df.repartition(1)).foreach { in =>
          val row = in.select(native(col("a"), col("b")),
            hof(col("a"), col("b"))).collect().head
          assert(bits(row.get(0)) == bits(row.get(1)), s"a=$a b=$b")
        }
      }
    }
  }

  test("HyperplaneBuckets equals the declarative per-table micro-unit projection fold") {
    import spark.implicits._
    val rnd = new Random(47)
    // random floats plus adversarial values: exact halves at micro scale
    // (ties rounded away from zero) and tiny magnitudes that put the
    // projection near zero, where a rounding mismatch would flip a bit
    val cases = Seq.fill(10)(Seq.fill(16)(rnd.nextFloat() * 4 - 2)) ++
      Seq(Seq.fill(16)(0.0000005f), Seq.fill(16)(-0.0000005f),
        Seq.tabulate(16)(i => if (i % 2 == 0) 1e-7f else -1e-7f))
    val (tables, bits, dims) = (4, 6, 16)
    cases.foreach { emb =>
      val df = Seq(Tuple1(emb)).toDF("embedding")
      val fused = df.select(VectorExpressions.hyperplane_buckets(
          col("embedding"), tables, bits, dims))
        .collect().head.getSeq[Long](0)
      val declarative = df.select(array((0 until tables).map(t =>
          graft.similarity.Ann.hyperplaneBucket(
            graft.similarity.Ann.microVec(col("embedding")), t, bits, dims)): _*))
        .collect().head.getSeq[Long](0)
      assert(fused == declarative, s"mismatch for: $emb")
    }
  }

  test("SortedIntersectSize equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new Random(43)
    def words(n: Int) = Seq.fill(n)(rnd.alphanumeric.take(3).mkString)
    val cases = Seq.fill(10)((words(rnd.nextInt(30)), words(rnd.nextInt(30))))
    cases.foreach { case (a, b) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      val df = Seq((sa, sb)).toDF("a", "b")
      val native = df.select(
        VectorExpressions.sorted_intersect_size(col("a"), col("b")))
        .collect().head.getInt(0)
      val builtin = df.select(size(array_intersect(col("a"), col("b"))))
        .collect().head.getInt(0)
      assert(native == builtin)
    }
  }

  test("AffineMinHashSig equals k separate array_min(transform(affine)) folds") {
    import spark.implicits._
    val rnd = new Random(44)
    val cases = Seq.fill(10)(Seq.fill(1 + rnd.nextInt(50))(
      (rnd.nextLong() & 0xFFFFFFFFL)))
    cases.foreach { hs =>
      val df = Seq(Tuple1(hs)).toDF("hs")
      val native = df.select(VectorExpressions.affine_minhash_sig(col("hs"), 6))
        .collect().head.getSeq[Long](0)
      val declarative = df.select(array((0 until 6).map(i =>
        array_min(transform(col("hs"), h => Hashing.affinePerm(h, i)))): _*))
        .collect().head.getSeq[Long](0)
      assert(native == declarative)
    }
  }

  test("ShingleHashes equals transform(array_distinct(shingles), portableHash)") {
    import spark.implicits._
    val rnd = new Random(45)
    val texts = Seq.fill(10)(
      Seq.fill(3 + rnd.nextInt(40))(s"w${rnd.nextInt(20)}").mkString(" ")) :+
      "one two" :+ "single"
    texts.foreach { t =>
      val df = Seq(Tuple1(t)).toDF("text")
      val fused = df.select(VectorExpressions.shingle_hashes(col("text"), 3))
        .collect().head.getSeq[Long](0)
      val declarative = df.select(
        transform(array_distinct(TextAnalysis.shingles(col("text"), 3)),
          x => Hashing.portableHash(x))).collect().head.getSeq[Long](0)
      assert(fused == declarative, s"mismatch for: $t")
    }
  }

  test("DistinctShingles equals the declarative distinct(+sort) shingle forms") {
    import spark.implicits._
    val rnd = new Random(48)
    val texts = Seq.fill(40)(
      Seq.fill(rnd.nextInt(10))(s"w${rnd.nextInt(6)}").mkString(" ")) :+
      "" :+ "one" :+ "a b" :+ "x  y z" // repeats + short + empty-token edges
    for (t <- texts; n <- Seq(2, 3, 5)) {
      val df = Seq(t).toDF("text")
      val unsortedFused = df.select(graft.functions.VectorExpressions
        .distinct_shingles(col("text"), n, sorted = false))
        .collect().head.getSeq[String](0)
      val unsortedDecl = df.select(array_distinct(
        TextAnalysis.shinglesOf(TextAnalysis.tokens(col("text")), n)))
        .collect().head.getSeq[String](0)
      assert(unsortedFused == unsortedDecl, s"unsorted mismatch: '$t' n=$n")
      val sortedFused = df.select(graft.functions.VectorExpressions
        .distinct_shingles(col("text"), n, sorted = true))
        .collect().head.getSeq[String](0)
      val sortedDecl = df.select(sort_array(array_distinct(
        TextAnalysis.shinglesOf(TextAnalysis.tokens(col("text")), n))))
        .collect().head.getSeq[String](0)
      assert(sortedFused == sortedDecl, s"sorted mismatch: '$t' n=$n")
      val cntFused = df.select(graft.functions.VectorExpressions
        .distinct_shingle_count(col("text"), n)).collect().head.getInt(0)
      assert(cntFused == unsortedDecl.length, s"count mismatch: '$t' n=$n")
    }
    // ordered non-distinct form matches shinglesOf exactly
    {
      import spark.implicits._
      for (t <- Seq("a b a b c", "", "x y", "a  b"); n <- Seq(2, 3)) {
        val df = Seq(t).toDF("text")
        val fused = df.select(graft.functions.VectorExpressions
          .all_shingles(col("text"), n)).collect().head.getSeq[String](0)
        val decl = df.select(TextAnalysis.shinglesOf(
          TextAnalysis.tokens(col("text")), n)).collect().head.getSeq[String](0)
        assert(fused == decl, s"all_shingles mismatch: '$t' n=$n")
      }
    }
    // positional hashes match the declarative transform(portableHash) form
    {
      import spark.implicits._
      for (t <- Seq("a b a b c", "", "x", "a  b"); n <- Seq(2, 4)) {
        val df = Seq(t).toDF("text")
        val fused = df.select(graft.functions.VectorExpressions
          .all_shingle_hashes(col("text"), n)).collect().head.getSeq[Long](0)
        val decl = df.select(transform(TextAnalysis.shinglesOf(
            TextAnalysis.tokens(col("text")), n),
          s => Hashing.portableHash(s))).collect().head.getSeq[Long](0)
        assert(fused == decl, s"all_shingle_hashes mismatch: '$t' n=$n")
      }
    }
    // n=1 distinct-shingle count == distinct token count (td31/td38 use)
    import spark.implicits._
    for (t <- Seq("a b a", "", "x", "a  a")) {
      val df = Seq(t).toDF("text")
      val cnt = df.select(graft.functions.VectorExpressions
        .distinct_shingle_count(col("text"), 1)).collect().head.getInt(0)
      val decl = df.select(size(array_distinct(
        TextAnalysis.tokens(col("text"))))).collect().head.getInt(0)
      assert(cnt == decl, s"n=1 mismatch: '$t'")
    }
  }

  test("TokenPairs equals the declarative transform/concat_ws form") {
    import spark.implicits._
    val rnd = new Random(47)
    val texts = Seq.fill(40)(
      Seq.fill(rnd.nextInt(8))(s"w${rnd.nextInt(20)}").mkString(" ")) :+
      "" :+ "single" :+ "two toks" :+ "a  b" // incl. empty token edge
    texts.foreach { t =>
      val df = Seq(t).toDF("text")
      val fused = df.select(graft.functions.VectorExpressions
        .token_pairs(col("text"))).collect().head.getSeq[String](0)
      val declarative = df.select(
        graft.training.TrainingPrep.tokenPairsDeclarative(col("text")))
        .collect().head.getSeq[String](0)
      assert(fused == declarative, s"mismatch for: '$t'")
    }
  }

  test("SimhashBits equals the declarative vote-fold + bit-pack form") {
    import spark.implicits._
    val rnd = new Random(46)
    val texts = Seq.fill(20)(
      Seq.fill(3 + rnd.nextInt(60))(s"w${rnd.nextInt(25)}").mkString(" ")) :+
      "one two" :+ "single"
    val df = texts.zipWithIndex.map(_.swap).toDF("doc_id", "text")
    val fused = graft.dedup.Dedup.withSimhash(df, "text")
      .select("doc_id", "simhash").orderBy("doc_id")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val declarative = graft.dedup.Dedup.withSimhashDeclarative(df, "text")
      .select("doc_id", "simhash").orderBy("doc_id")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(fused.sameElements(declarative))
  }

  test("jaccardSorted equals jaccard on sorted distinct sets") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a"), Seq("b")),
      (Seq("x", "y"), Seq("x", "y"))).toDF("a", "b")
    val out = df.select(
      Dedup.jaccardSorted(col("a"), col("b")).as("js"),
      Dedup.jaccard(col("a"), col("b")).as("j")).collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("exact dedup groups identical texts under one canonical id") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_dups"))).toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds the near-identical pair") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok40", "tok41")
    val far = (100 to 140).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L))
  }

  test("winnowing guarantee: a shared substring of >= w+k-1 tokens shares a fingerprint") {
    import spark.implicits._
    // k=4, w=4: guarantee threshold = 7 tokens. Plant a 10-token phrase
    // inside two otherwise-disjoint documents.
    val phrase = (1 to 10).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 20).map(i => s"alpha$i").mkString(" ") + " " + phrase),
      (2L, phrase + " " + (1 to 20).map(i => s"beta$i").mkString(" ")),
      (3L, (1 to 30).map(i => s"gamma$i").mkString(" ")))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowingFingerprints(docs, "doc_id", "text", k = 4, w = 4)
    val byDoc = fps.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "planted phrase not detected")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "disjoint docs share a fingerprint")
    // the pair surface finds exactly the planted pair
    val pairs = Dedup.winnowingNearDups(docs, "doc_id", "text",
        k = 4, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // fingerprints are position-robust: the SAME phrase at different
    // offsets produced the shared hashes (guaranteed by window minima)
  }

  test("simhash of identical text is identical; near text is close in hamming") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok60", "tok61")
    val df = Seq((1L, base), (2L, base), (3L, near)).toDF("doc_id", "text")
    val hs = Dedup.withSimhash(df, "text").select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L))
    // one swapped token perturbs 3 of ~58 shingle votes; on a 60-bit
    // fingerprint that flips only low-margin bits (≤ 15 ≈ quarter width)
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(3L)) <= 15)
  }

  test("materialized IVF index == ivfTopK, with a partition-pruned cell scan") {
    import graft.similarity.Ann
    val emb = Tables.embeddings(spark, sf())
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx"
    Ann.buildIvfIndex(emb, centroidEvery = 50, path = dir)
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val direct = rows(Ann.ivfTopK(q, emb, centroidEvery = 50, nprobe = 2, k = 5))
    val indexed = Ann.ivfTopKIndexed(spark, dir, q, nprobe = 2, k = 5)
    assert(rows(indexed).sameElements(direct))
    // the cells scan must read only the probed centroid directories
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(1500))
    assert(plan.contains("centroid_id"), plan.take(1500))
  }

  test("IVF append: 10% growth lands in the frozen-centroid cells; appended vectors are queryable at full recall vs rebuild") {
    import graft.similarity.Ann
    val emb = Tables.embeddings(spark, sf()).cache()
    val n = emb.count()
    val cut = (n * 9 / 10).toInt
    val base = emb.filter(col("vec_id") < cut)
    val grow = emb.filter(col("vec_id") >= cut)
    assert(grow.count() > 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString + "/idx"
    Ann.buildIvfIndex(base, centroidEvery = 50, path = dir)
    Ann.appendToIvfIndex(spark, dir, grow)
    // 1) exactness: every vector present exactly once — the append is
    //    indistinguishable from a one-shot assignment against the same
    //    frozen centroids
    val cells = spark.read.parquet(s"$dir/cells").cache()
    assert(cells.count() == n)
    assert(cells.select("corpus_id").distinct().count() == n)
    // 2) each appended vector sits in its NEAREST frozen cell (recomputed
    //    independently here from the collected centroid table)
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val appended = cells.filter(col("corpus_id") >= cut)
      .select(col("corpus_id"),
        col("centroid_id").cast("bigint").as("centroid_id"),
        col("embedding")).collect()
    assert(appended.length == grow.count())
    appended.take(40).foreach { r =>
      val v = r.getSeq[Float](2).toArray
      val best = cents.maxBy { case (_, c) => cos(v, c) }._1
      assert(r.getLong(1) == best,
        s"vec ${r.getLong(0)} in cell ${r.getLong(1)}, nearest is $best")
    }
    // 3) appended vectors are immediately queryable — gate recall@5 for
    //    appended-vector queries against the brute-force ground truth
    val q = emb.filter(col("vec_id") >= cut).limit(10)
    val truth = Ann.bruteForceTopK(q, emb, k = 5)
      .select("query_id", "corpus_id").collect()
      .groupBy(_.getLong(0)).map { case (k2, v) => k2 -> v.map(_.getLong(1)).toSet }
    val got = Ann.ivfTopKIndexed(spark, dir, q, nprobe = 8, k = 5)
      .select("query_id", "corpus_id").collect()
      .groupBy(_.getLong(0)).map { case (k2, v) => k2 -> v.map(_.getLong(1)).toSet }
    val recall = truth.map { case (qid, t) =>
      got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / truth.size
    assert(recall >= 0.5, s"appended-vector recall@5 = $recall")
    cells.unpersist(); emb.unpersist()
  }

  test("dupClusters: chain components converge to the min id (multi-hop)") {
    import spark.implicits._
    // two components: a 5-chain 1-2-3-4-5 (diameter forces >1 round) and
    // a pair 10-11; vertex 3 also bridges to 7
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (10L, 11L),
      (3L, 7L)).toDF("id_a", "id_b")
    val out = graft.dedup.Dedup.dupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("Lloyd-refined IVF centroids improve recall@k over raw medoid seeds") {
    import spark.implicits._
    // clustered corpus: 8 modes on disjoint dimension blocks, UNEQUAL
    // cluster sizes so every-Nth medoid seeding lands skewed (cluster 0
    // gets several seeds, small clusters get none) — the recall-fragile
    // case the refinement exists for
    val rnd = new Random(42)
    val dims = 64
    val sizes = Seq(100, 60, 40, 30, 25, 25, 20, 20)
    val centers = (0 until 8).map { j =>
      val v = Array.fill(dims)(0.1f * (rnd.nextFloat() - 0.5f))
      (0 until 8).foreach(i => v(8 * j + i) = 0.8f + 0.4f * rnd.nextFloat())
      v
    }
    val rows = sizes.zipWithIndex.flatMap { case (n, j) =>
      (0 until n).map(_ => centers(j).map(x => x + 0.35f * (rnd.nextFloat() - 0.5f)))
    }.zipWithIndex.map { case (v, id) => (id.toLong, v) }
    val corpus = rows.toDF("vec_id", "embedding").localCheckpoint()
    val queries = corpus.filter(col("vec_id") % 37 === 0) // spread over clusters
    val k = 10

    val truth = graft.similarity.Ann.bruteForceTopK(queries, corpus, k)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => r.getLong(1)).toSet }
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(r => r.getLong(1)).toSet }
      val per = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size }
      per.sum / per.size
    }
    val seeded = recallOf(graft.similarity.Ann.ivfTopK(
      queries, corpus, centroidEvery = 40, nprobe = 2, k = k))
    val refined = recallOf(graft.similarity.Ann.ivfTopK(
      queries, corpus, centroidEvery = 40, nprobe = 2, k = k, refineIters = 2))
    assert(refined >= seeded, s"refined=$refined < seeded=$seeded")
    assert(refined > seeded + 0.02,
      s"expected a material recall gain: seeded=$seeded refined=$refined")
  }

  test("dupClusters: path graph with diameter > 20 gets correct components") {
    import spark.implicits._
    // a 64-node path 1000-1001-...-1063 (diameter 63) would defeat plain
    // O(diameter) min-label propagation capped at 20 rounds; large/small-
    // star contracts it in O(log n). Interleave a second path descending
    // through LOWER ids so both link directions are exercised.
    val p1 = (1000L until 1063L).map(i => (i + 1, i))
    val p2 = (1L to 40L).map(i => (i, i + 1)) // path 1..41
    val out = graft.dedup.Dedup.dupClusters((p1 ++ p2).toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 64 + 41)
    assert(out.filter(_._1 >= 1000L).forall(_._2 == 1000L))
    assert(out.filter(_._1 < 1000L).forall(_._2 == 1L))
  }

  test("dupClusters raises on non-convergence instead of partial labels") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      graft.dedup.Dedup.dupClusters(pairs, maxIter = 0)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("embeddingNearDupsLsh finds a subset of the exact near-dup pairs, each ONCE") {
    val emb = Tables.embeddings(spark, sf())
    val exact = graft.similarity.Ann.embeddingNearDups(emb, 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRows = graft.similarity.Ann.embeddingNearDupsLsh(emb,
        tables = graft.similarity.Ann.LshTables,
        bits = graft.similarity.Ann.LshBits, dims = 64, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val lsh = lshRows.toSet
    // OR-amplification must not duplicate a pair that collides in
    // several tables
    assert(lshRows.length == lsh.size)
    assert(lsh.subsetOf(exact)) // no false positives vs the exact verify
    // 16-table amplification on sf0.001 must recover a healthy share of
    // the exact pairs (the single axis-aligned table found almost none)
    if (exact.nonEmpty) assert(lsh.size.toDouble / exact.size >= 0.2,
      s"lsh=${lsh.size} exact=${exact.size}")
  }

  test("langId picks the marker-heaviest language") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog of to is"),
      (2L, "el que la los de"),
      (3L, "qqq zzz www")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "es" && out(3L) == "und")
  }

  test("normalize_text: NFC composes, NFKC folds compatibility forms, " +
      "both reachable from SQL; dedup unifies composed/decomposed text") {
    import spark.implicits._
    import graft.functions.VectorExpressions.normalize_text
    val composed = "caf\u00e9"          // precomposed e-acute
    val decomposed = "cafe\u0301"       // e + combining acute
    val compat = "\uFB01le \uFF12"     // fi ligature + FULLWIDTH TWO
    val df = Seq((1L, decomposed), (2L, composed), (3L, compat))
      .toDF("id", "t")
    val out = df.select(col("id"),
        normalize_text(col("t"), "NFC").as("nfc"),
        normalize_text(col("t"), "NFKC").as("nfkc"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == composed) // decomposed composes
    assert(out(0).getString(1) == out(1).getString(1)) // 1 == 2 post-NFC
    assert(out(0).getString(2) == out(1).getString(2))
    // NFC leaves compatibility forms alone; NFKC folds them
    assert(out(2).getString(1) == compat)
    assert(out(2).getString(2) == "file 2")
    // fingerprints unify after normalization -- the dedup motivation
    val fp = df.select(graft.functions.Hashing.fingerprint(
      normalize_text(col("t"), "NFC")).as("f")).collect().map(_.getString(0))
    assert(fp(0) == fp(1) && fp(0) != fp(2))
    // SQL surface (GraftExtensions)
    graft.GraftExtensions.install(spark)
    val viaSql = spark.sql(
      s"SELECT normalize_text('$decomposed', 'NFC')").head().getString(0)
    assert(viaSql == composed)
    intercept[Exception](
      spark.sql("SELECT normalize_text('x', 'NFX')").collect())
  }

  test("ANN brute-force top-k ranks the exact nearest vector first") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 0),
      (3L, Seq(0f, 0f, 1f, 0f), 0)).toDF("vec_id", "embedding", "label")
    val out = Ann.bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs, 2)
      .orderBy("rank").collect().map(_.getAs[Long]("corpus_id"))
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("IVF-PQ rerank: exact rescoring of the ADC shortlist never hurts " +
      "recall and orders by true cosine") {
    val emb = Tables.embeddings(spark, sf()).localCheckpoint()
    val q = emb.filter(col("vec_id") < 5)
    val seeds = graft.similarity.Quantize.pqCodebooks(
      emb, "embedding", m = 8, k = 16, step = 25, dims = 64)
    val books = graft.similarity.Quantize.refineCodebooks(
      emb, "embedding", seeds, m = 8, dims = 64, iters = 1)
    val codes = graft.similarity.Quantize.pqEncode(
      emb, "embedding", books, m = 8, dims = 64)
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
      val exact = Ann.bruteForceTopK(q, emb, k = 5)
      val hits = exact.select("query_id", "corpus_id")
        .join(approx.select("query_id", "corpus_id"),
          Seq("query_id", "corpus_id"), "left_semi").count()
      hits.toDouble / exact.count()
    }
    val raw = graft.similarity.Quantize.ivfPqTopK(q, emb, codes, books,
      "embedding", m = 8, dims = 64, centroidEvery = 50, nprobe = 4, k = 5)
    val rr = graft.similarity.Quantize.ivfPqRerankTopK(q, emb, codes,
      books, "embedding", m = 8, dims = 64, centroidEvery = 50,
      nprobe = 4, shortlist = 50, k = 5)
    assert(recallOf(rr) >= recallOf(raw),
      s"rerank recall ${recallOf(rr)} < raw ADC ${recallOf(raw)}")
    // rerank output is ordered by TRUE cosine (descending per query)
    val rows = rr.orderBy("query_id", "rank").collect()
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // shortlist >= k enforced
    intercept[IllegalArgumentException](
      graft.similarity.Quantize.ivfPqRerankTopK(q, emb, codes, books,
        "embedding", m = 8, dims = 64, centroidEvery = 50,
        nprobe = 4, shortlist = 3, k = 5))
  }

  test("kMeansParallelSeeds is deterministic and beats medoid seeding on recall") {
    val emb = Tables.embeddings(spark, sf()).localCheckpoint()
    def seedIds() = Ann.kMeansParallelSeeds(emb, k = 10)
      .select("centroid_id").collect().map(_.getLong(0)).toSeq
    val s1 = seedIds()
    assert(s1 == seedIds()) // hash-coin sampling: a pure function of data
    assert(s1.length == 10 && s1.distinct.length == 10)

    // same Lloyd budget + probe budget, only the seeding differs: the
    // distance-weighted seeds must not lose to every-Nth medoids
    val q = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(q, emb, k = 5).localCheckpoint()
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
      val hits = exact.select("query_id", "corpus_id")
        .join(approx.select("query_id", "corpus_id"),
          Seq("query_id", "corpus_id"), "left_semi").count()
      hits.toDouble / exact.count()
    }
    val seeds = Some(Ann.kMeansParallelSeeds(emb, k = 10).localCheckpoint())
    val kpp = recallOf(Ann.ivfTopK(q, emb, centroidEvery = 50, nprobe = 2,
      k = 5, refineIters = 1, seedsOverride = seeds))
    val medoid = recallOf(Ann.ivfTopK(q, emb, centroidEvery = 50, nprobe = 2,
      k = 5, refineIters = 1))
    assert(kpp >= medoid - 1e-9, s"kpp=$kpp medoid=$medoid")
  }

  test("containmentNearDups finds an embedded copy that Jaccard-LSH misses (the asymmetric case)") {
    import spark.implicits._
    val inner = (1 to 30).map(i => s"quoted passage word $i body").mkString(" ")
    val padding = (1 to 110).map(i => s"host article filler $i prose").mkString(" ")
    val hand = Seq(
      (1L, inner),                       // the contained document
      (2L, s"$padding $inner"),          // the container (inner verbatim)
      (3L, (1 to 40).map(i => s"unrelated text $i here").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.containmentNearDups(hand, "doc_id", "text",
      shingleN = 3, prefix = 8, thresholdMicro = 800000L)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // doc 1 is FULLY contained in doc 2: containment exactly 1.0 …
    assert(rows.contains((1L, 2L)), s"missed the embedded copy: $rows")
    val (cont, jac) = rows((1L, 2L))
    assert(cont == 1000000L, s"containment should be exactly 1.0: $cont")
    // … while its Jaccard is far below any symmetric near-dup threshold
    assert(jac < 500000L, s"planted case should be Jaccard-weak: $jac")
    // and the symmetric detector indeed misses the pair at its threshold
    val sym = Dedup.minhashNearDups(hand, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sym.contains((1L, 2L)) && !sym.contains((2L, 1L)),
      "Jaccard near-dup unexpectedly found the asymmetric pair — spec premise broken")
    // the unrelated doc pairs with nothing
    assert(!rows.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // deterministic across runs
    val again = Dedup.containmentNearDups(hand, "doc_id", "text",
      shingleN = 3, prefix = 8, thresholdMicro = 800000L)
    assert(out.exceptAll(again).count() == 0 &&
      again.exceptAll(out).count() == 0)
  }

  test("containmentNearDups chunking is plan-invariant, uncapped past 32 strata, and the shuffle fallback agrees") {
    import spark.implicits._
    // a corpus with real containment structure: 12 families, each a
    // contained seed doc + a padded container, plus unrelated noise
    val docs = (0 until 12).flatMap { f =>
      val seed = (1 to 25).map(i => s"family$f seed token $i").mkString(" ")
      val pad = (1 to 60).map(i => s"family$f host filler $i").mkString(" ")
      Seq((f * 10L, seed), (f * 10L + 1, s"$pad $seed"))
    } ++ (0 until 8).map(i =>
      (1000L + i, (1 to 30).map(j => s"noise doc $i word $j").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    def run(): Set[(Long, Long, Long, Long)] =
      Dedup.containmentNearDups(df, "doc_id", "text",
          shingleN = 3, prefix = 8, thresholdMicro = 800000L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val reference = run() // default budgets: single-chunk plan
    assert(reference.nonEmpty, "probe corpus planted no containment pairs")
    def withConfs(confs: (String, String)*)(body: => Set[(Long, Long, Long, Long)]) = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    // force the previously-CAPPED region: a 32-byte budget puts the sets
    // table PAST 32 id_b strata (the old clamp silently broke the budget
    // exactly here)
    val chunked = withConfs(
      "spark.graft.dedup.broadcastBudgetBytes" -> "32")(run())
    assert(chunked == reference,
      s"uncapped chunked plan changed the result: ${chunked.diff(reference)} / ${reference.diff(chunked)}")
    // force the non-broadcast escape hatch: strata needed >> maxStrata
    val shuffled = withConfs(
      "spark.graft.dedup.broadcastBudgetBytes" -> "64",
      "spark.graft.dedup.maxBroadcastStrata" -> "2")(run())
    assert(shuffled == reference,
      s"shuffle-fallback plan changed the result: ${shuffled.diff(reference)} / ${reference.diff(shuffled)}")
  }

  test("containmentNearDups over an empty corpus returns empty (no NPE on the volume estimate)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.containmentNearDups(empty, "doc_id", "text").count() == 0)
  }
}
