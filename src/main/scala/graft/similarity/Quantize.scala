package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar (int8-style) embedding quantization — the storage/IO lever for
  * vector search at 100 TB: a 64-dim float32 corpus shrinks 4× when
  * row-scaled to 8-bit codes, and ANN shortlists scan codes instead of
  * floats (exact re-scoring only on the top candidates).
  *
  * Per-vector affine scaling (each row carries its own `(vmin, scale)`):
  * `q_i = round((x_i − vmin) / scale)` with `scale = (vmax − vmin)/255`,
  * dequantized as `x̂_i = vmin + q_i·scale`. All arithmetic is IEEE double
  * in a fixed evaluation order, so any engine reproduces the codes and the
  * reconstruction error bit-for-bit (oracle-checked).
  */
object Quantize {

  /** Quantization codes for a float-array column: int array in [0, 255]
    * (constant vectors quantize to all-zero codes).
    */
  def int8Codes(vec: Column): Column = {
    val d = transform(vec, _.cast("double"))
    val vmin = array_min(d)
    val scale = (array_max(d) - vmin) / lit(255.0)
    when(scale === 0.0, transform(vec, _ => lit(0L)))
      .otherwise(transform(d, x => round((x - vmin) / scale).cast("bigint")))
  }

  // ---- Product quantization (the storage half of IVF-PQ) ---------------

  /** PQ codebooks: the vector space split into `m` subspaces of
    * `dims / m` components; subspace centroids are drawn deterministically
    * from the corpus (centroid `k` of every subspace = the subvector of
    * the training vector `vec_id = k * step`), the same medoid-style
    * seeding as [[Ann]]'s IVF — reproducible by any engine, no iterative
    * k-means state. Returns `(m, code, cvec)`.
    *
    * At 100 TB the codebook is tiny (m × k rows) and broadcast; encode is
    * one scan of the corpus.
    */
  def pqCodebooks(emb: DataFrame, vecCol: String, m: Int, k: Int,
      step: Int, dims: Int): DataFrame = {
    val d = dims / m
    val sub = emb.sparkSession.range(m).select(col("id").cast("int").as("m"))
    emb.filter(col("vec_id") % step === 0 && col("vec_id") < k.toLong * step)
      .crossJoin(sub)
      .select(col("m"), (col("vec_id") / step).cast("int").as("code"),
        slice(col(vecCol), col("m") * d + 1, lit(d)).as("cvec"))
  }

  /** Sequential-fold squared L2 between two float subvectors — the same
    * left-fold shape as DuckDB's `list_aggregate(..., 'sum')`, so the
    * double is engine-identical. Since r17 this runs through the
    * codegen'd [[graft.functions.VectorExpressions.VecSqDist]] kernel —
    * bit-equal to the interpreted `aggregate(zip_with(...))` fold (same
    * IEEE op order), minus the per-element boxing; the PQ hot path
    * (encode/refine/ADC) evaluates it corpus × m × k times.
    */
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_sqdist(a, b)

  /** Deterministic Lloyd's refinement of PQ codebooks: `iters` rounds of
    * per-subspace squared-L2 argmin assignment + per-dimension subvector
    * mean in integer MICRO-UNITS (floor-divided by the member count), the
    * same engine-reproducible discipline as
    * [[graft.similarity.Ann.refineCentroids]]. Codes that lose all members
    * drop out of the book. Each round is a broadcast join + two
    * partial-agg aggregates over corpus×m×(dims/m) rows, checkpointed.
    */
  def refineCodebooks(emb: DataFrame, vecCol: String, codebooks: DataFrame,
      m: Int, dims: Int, iters: Int): DataFrame = {
    val d = dims / m
    val sub = emb.sparkSession.range(m).select(col("id").cast("int").as("m"))
    val pieces = emb.crossJoin(sub)
      .select(col("vec_id"), col("m"),
        slice(col(vecCol), col("m") * d + 1, lit(d)).as("svec"))
    var cb = codebooks
    (1 to iters).foreach { _ =>
      // (dist, code) is already unique per group, so svec rides along in
      // the argmin struct without ever being compared
      cb = pieces.join(broadcast(cb), Seq("m"))
        .withColumn("dist", sqDist(col("svec"), col("cvec")))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("dist"), col("code"), col("svec"))).as("best"))
        .select(col("m"), col("best.code").as("code"),
          posexplode(col("best.svec")).as(Seq("dim", "v")))
        .groupBy("m", "code", "dim")
        .agg(sum(round(col("v").cast("double") * 1e6).cast("bigint")).as("s"),
          count(lit(1)).as("n"))
        // Spark `div` and DuckDB BIGINT `//` both truncate toward zero
        .withColumn("micro", expr("s div n"))
        .withColumn("val", (col("micro").cast("double") / 1e6).cast("float"))
        .groupBy("m", "code")
        .agg(array_sort(collect_list(struct(col("dim"), col("val")))).as("pv"))
        .select(col("m"), col("code"),
          transform(col("pv"), p => p.getField("val")).as("cvec"))
      // localPin, not localCheckpoint (r17): the m×k codebook is
      // metadata-sized; as a local relation every downstream broadcast
      // build (encode, ADC tables, next refine round) is job-free
      cb = Ann.localPin(cb)
    }
    cb
  }

  /** Encode the corpus: each vector → `m` codes (argmin squared L2 to the
    * subspace's centroids, lowest code on ties). Returns
    * `(vec_id, m, code)` — the 4-byte-per-subspace representation that
    * replaces the float vector in the scan.
    */
  def pqEncode(emb: DataFrame, vecCol: String, codebooks: DataFrame,
      m: Int, dims: Int): DataFrame = {
    val d = dims / m
    val sub = emb.sparkSession.range(m).select(col("id").cast("int").as("m"))
    val pieces = emb.crossJoin(sub)
      .select(col("vec_id"), col("m"),
        slice(col(vecCol), col("m") * d + 1, lit(d)).as("svec"))
    val scored = pieces.join(broadcast(codebooks), Seq("m"))
      .withColumn("dist", sqDist(col("svec"), col("cvec")))
    // argmin via lexicographic struct-min (dist asc, code asc on ties):
    // partial-aggregates map-side, so the shuffle carries corpus x m rows
    // — not the corpus x m x k scored rows a ranking window would move
    scored.groupBy("vec_id", "m")
      .agg(min(struct(col("dist"), col("code"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.code").as("code"))
  }

  /** ADC top-k: queries never touch corpus floats — each query builds an
    * (m × k) lookup table of distances to every centroid (integer
    * MICRO-UNITS, so the cross-subspace sum is exact integer arithmetic,
    * order-independent across engines), and corpus codes join the table
    * on `(m, code)`. Approximate distance = Σ table[m, code_m]. Returns
    * `(query_id, corpus_id, adist_micro, rank)`.
    */
  def pqTopK(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
      vecCol: String, m: Int, dims: Int, k: Int): DataFrame = {
    val d = dims / m
    val sub = queries.sparkSession.range(m).select(col("id").cast("int").as("m"))
    val adc = queries.crossJoin(sub)
      .select(col("vec_id").as("query_id"), col("m"),
        slice(col(vecCol), col("m") * d + 1, lit(d)).as("qvec"))
      .join(broadcast(codebooks), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        round(sqDist(col("qvec"), col("cvec")) * 1e6).cast("bigint")
          .as("dist_micro"))
    val scored = codes.join(broadcast(adc), Seq("m", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("corpus_id"))
      .agg(sum("dist_micro").as("adist_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adist_micro"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("adist_micro"),
        col("rank").cast("int").as("rank"))
  }

  /** IVF-PQ top-k (the FAISS IVFADC composition — coarse quantizer +
    * product codes): queries probe their `nprobe` nearest IVF cells and
    * ADC-score ONLY the PQ codes of vectors living in those cells — the
    * full 100 TB ANN shape, combining the partition-pruned access path
    * (cost ∝ probed cells, not corpus) with the 4-byte/subspace storage
    * (queries never touch corpus floats).
    *
    * Determinism: cells are the medoid coarse quantizer (cosine argmin,
    * ties by centroid id — the [[Ann]] assignment), the ADC table is
    * integer micro-units summed exactly (td30's contract), final rank
    * ties break by corpus id. Scale shape: centroids and codebooks
    * broadcast; the corpus shuffles once into cells; each query's
    * candidate set is its probed cells' members only.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, codes: DataFrame,
      codebooks: DataFrame, vecCol: String, m: Int, dims: Int,
      centroidEvery: Int, nprobe: Int, k: Int): DataFrame = {
    import graft.similarity.Ann.{dot, norm}
    val centroids = corpus
      .filter(pmod(col("vec_id"), lit(centroidEvery)) === 0)
      .select(col("vec_id").as("centroid_id"), col(vecCol).as("cent_emb"))
    def ccos = dot(col(vecCol), col("cent_emb")) /
      (norm(col(vecCol)) * norm(col("cent_emb")))
    val cells = corpus.select(col("vec_id"), col(vecCol))
      .join(broadcast(centroids))
      .withColumn("ccos", ccos)
      .groupBy("vec_id")
      .agg(min_by(col("centroid_id"),
        struct((-col("ccos")).as("neg_cos"), col("centroid_id")))
        .as("centroid_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("ccos").desc, col("centroid_id"))
    val probes = queries.select(col("vec_id").as("query_id"), col(vecCol))
      .join(broadcast(centroids))
      .withColumn("ccos", ccos)
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nprobe)
      .select("query_id", "centroid_id")
    val allowed = probes
      .join(cells.select(col("vec_id").as("corpus_id"), col("centroid_id")),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select("query_id", "corpus_id")
    val d = dims / m
    val sub = queries.sparkSession.range(m).select(col("id").cast("int").as("m"))
    val adc = queries.crossJoin(sub)
      .select(col("vec_id").as("query_id"), col("m"),
        slice(col(vecCol), col("m") * d + 1, lit(d)).as("qvec"))
      .join(broadcast(codebooks), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        round(sqDist(col("qvec"), col("cvec")) * 1e6).cast("bigint")
          .as("dist_micro"))
    val scored = allowed
      .join(codes.select(col("vec_id").as("corpus_id"), col("m"), col("code")),
        Seq("corpus_id"))
      .join(broadcast(adc), Seq("query_id", "m", "code"))
      .groupBy("query_id", "corpus_id")
      .agg(sum("dist_micro").as("adist_micro"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adist_micro"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(rw)).filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("adist_micro"),
        col("rank").cast("int").as("rank"))
  }

  // ---- Residual IVF-PQ (FAISS IVFADC's by-residual encoding) -----------

  /** Coarse cell assignment: each corpus vector to its max-cosine
    * centroid (ties by centroid id) — the [[Ann]]/[[ivfPqTopK]] rule,
    * factored out so the residual path trains and queries against the
    * SAME cells. `centroids` is `(centroid_id, cent_emb)` — medoids or
    * Lloyd-refined, the caller's choice (the refined quantizer raises
    * the probe ceiling, the binding recall bound at small nprobe).
    * Returns `(vec_id, centroid_id)`.
    */
  def coarseCells(corpus: DataFrame, vecCol: String,
      centroids: DataFrame): DataFrame = {
    import graft.similarity.Ann.{dot, norm}
    corpus.select(col("vec_id"), col(vecCol))
      .join(broadcast(centroids))
      .withColumn("ccos", dot(col(vecCol), col("cent_emb")) /
        (norm(col(vecCol)) * norm(col("cent_emb"))))
      .groupBy("vec_id")
      .agg(min_by(col("centroid_id"),
        struct((-col("ccos")).as("neg_cos"), col("centroid_id")))
        .as("centroid_id"))
  }

  /** The residual corpus over UNIT vectors:
    * `rvec = vec/‖vec‖ − cent/‖cent‖` for the vector's coarse cell,
    * double precision throughout. Two design points, both forced by the
    * retrieval metric being COSINE:
    *  - normalize first — on unit vectors squared L2 is `2 − 2·cos`, so
    *    the ADC shortlist ranks by exactly the metric the re-rank stage
    *    scores (unnormalized L2-ADC shortlists cosine neighbors poorly:
    *    measured 0.555 vs 0.635 baseline at rerank-200);
    *  - encode residuals — the coarse quantizer absorbs the cell's
    *    location, so the m×k code budget spends on the within-cell
    *    displacement only.
    * Returns `(vec_id, centroid_id, rvec)`.
    */
  def residuals(corpus: DataFrame, vecCol: String,
      centroids: DataFrame): DataFrame = {
    corpus.join(coarseCells(corpus, vecCol, centroids), Seq("vec_id"))
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        graft.functions.VectorExpressions
          .float_vec_unit_diff(col(vecCol), col("cent_emb")).as("rvec"))
  }

  /** Residual-space PQ seeds: [[pqCodebooks]]'s medoid rule applied to
    * the residual corpus (centroid `k` of each subspace = training
    * vector `k·step`'s residual subvector), cast through float so the
    * codebook representation matches the non-residual books.
    * Refine with [[refineCodebooks]] over the same residual frame
    * (`vecCol = "rvec"`); encode with [[pqEncode]] likewise.
    */
  def residualCodebooks(res: DataFrame, m: Int, k: Int, step: Int,
      dims: Int): DataFrame = {
    val d = dims / m
    val off = step / 2
    val sub = res.sparkSession.range(m).select(col("id").cast("int").as("m"))
    // seed at step/2 OFFSETS from the medoid grid: a coarse centroid's
    // own residual is the zero vector, so seeding at vec_id % step == 0
    // (where the every-Nth medoids live) would fill the book with
    // duplicate zero codes — measured as a recall LOSS vs raw PQ
    res.filter(col("vec_id") % step === off &&
        col("vec_id") < k.toLong * step + off)
      .crossJoin(sub)
      .select(col("m"), ((col("vec_id") - off) / step).cast("int").as("code"),
        transform(slice(col("rvec"), col("m") * d + 1, lit(d)),
          _.cast("float")).as("cvec"))
  }

  /** Residual IVF-PQ top-k: coarse probe + ADC over residual codes. The
    * ADC table is PER (query, probed cell) — `q − cent_emb(cell)` against
    * the residual codebooks — so its size is queries × nprobe × m × k
    * (still broadcast-sized: the per-query cost scales with nprobe, never
    * with the corpus). Candidates, determinism and the integer-micro sum
    * are exactly [[ivfPqTopK]]'s.
    */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame,
      codes: DataFrame, books: DataFrame, centroids: DataFrame,
      vecCol: String, m: Int, dims: Int, nprobe: Int, k: Int): DataFrame = {
    import graft.similarity.Ann.{dot, norm}
    val cells = coarseCells(corpus, vecCol, centroids)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("ccos").desc, col("centroid_id"))
    val probes = queries.select(col("vec_id").as("query_id"), col(vecCol))
      .join(broadcast(centroids))
      .withColumn("ccos", dot(col(vecCol), col("cent_emb")) /
        (norm(col(vecCol)) * norm(col("cent_emb"))))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("centroid_id"),
        graft.functions.VectorExpressions
          .float_vec_unit_diff(col(vecCol), col("cent_emb")).as("qrvec"))
    val d = dims / m
    val sub = queries.sparkSession.range(m).select(col("id").cast("int").as("m"))
    val adc = probes.crossJoin(sub)
      .select(col("query_id"), col("centroid_id"), col("m"),
        slice(col("qrvec"), col("m") * d + 1, lit(d)).as("qsub"))
      .join(broadcast(books), Seq("m"))
      .select(col("query_id"), col("centroid_id"), col("m"), col("code"),
        round(sqDist(col("qsub"), col("cvec")) * 1e6).cast("bigint")
          .as("dist_micro"))
    val allowed = probes.select("query_id", "centroid_id")
      .join(cells.select(col("vec_id").as("corpus_id"), col("centroid_id")),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("corpus_id"))
    val scored = allowed
      .join(codes.select(col("vec_id").as("corpus_id"), col("m"), col("code")),
        Seq("corpus_id"))
      .join(broadcast(adc), Seq("query_id", "centroid_id", "m", "code"))
      .groupBy("query_id", "corpus_id")
      .agg(sum("dist_micro").as("adist_micro"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adist_micro"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(rw)).filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("adist_micro"),
        col("rank").cast("int").as("rank"))
  }

  /** Residual IVF-PQ with exact re-ranking — [[ivfPqResidualTopK]]
    * shortlists from residual codes, floats fetched only for
    * shortlist × queries rows ([[ivfPqRerankTopK]]'s refine stage).
    */
  def ivfPqResidualRerankTopK(queries: DataFrame, corpus: DataFrame,
      codes: DataFrame, books: DataFrame, centroids: DataFrame,
      vecCol: String, m: Int, dims: Int, nprobe: Int, shortlist: Int,
      k: Int): DataFrame = {
    import graft.similarity.Ann.{dot, norm}
    require(shortlist >= k, s"shortlist must be >= k: $shortlist, $k")
    val cand = ivfPqResidualTopK(queries, corpus, codes, books, centroids,
      vecCol, m, dims, nprobe, shortlist)
      .select("query_id", "corpus_id")
    val rescored = cand
      .join(queries.select(col("vec_id").as("query_id"),
        col(vecCol).as("q_emb")), Seq("query_id"))
      .join(corpus.select(col("vec_id").as("corpus_id"),
        col(vecCol).as("c_emb")), Seq("corpus_id"))
      .withColumn("cos", dot(col("q_emb"), col("c_emb")) /
        (norm(col("q_emb")) * norm(col("c_emb"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"),
        col("rank").cast("int").as("rank"))
  }

  /** IVF-PQ with exact re-ranking — the full production retrieval shape
    * (FAISS's refine stage): [[ivfPqTopK]] shortlists `shortlist`
    * candidates per query from the compressed codes, then ONLY those
    * candidates' float vectors are fetched and exactly cosine-scored for
    * the final top-k. The corpus-sized scan touches 4-byte codes; floats
    * are read for shortlist × queries rows — the recall of exact scoring
    * at (almost) the IO cost of PQ.
    */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame,
      codes: DataFrame, codebooks: DataFrame, vecCol: String, m: Int,
      dims: Int, centroidEvery: Int, nprobe: Int, shortlist: Int,
      k: Int): DataFrame = {
    import graft.similarity.Ann.{dot, norm}
    require(shortlist >= k, s"shortlist must be >= k: $shortlist, $k")
    val cand = ivfPqTopK(queries, corpus, codes, codebooks, vecCol, m,
      dims, centroidEvery, nprobe, shortlist)
      .select("query_id", "corpus_id")
    val rescored = cand
      .join(queries.select(col("vec_id").as("query_id"),
        col(vecCol).as("q_emb")), Seq("query_id"))
      .join(corpus.select(col("vec_id").as("corpus_id"),
        col(vecCol).as("c_emb")), Seq("corpus_id"))
      .withColumn("cos", dot(col("q_emb"), col("c_emb")) /
        (norm(col("q_emb")) * norm(col("c_emb"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"),
        col("rank").cast("int").as("rank"))
  }

  /** Adds `codes` (int8-style), `vmin`, `scale`, and `max_err` — the
    * per-vector max |dequantized − original| reconstruction error, which
    * is bounded by scale/2.
    */
  def withInt8(df: DataFrame, vecCol: String): DataFrame = {
    val withParams = df
      .withColumn("__d", transform(col(vecCol), _.cast("double")))
      .withColumn("vmin", array_min(col("__d")))
      .withColumn("scale", (array_max(col("__d")) - col("vmin")) / lit(255.0))
      .withColumn("codes", when(col("scale") === 0.0,
          transform(col("__d"), _ => lit(0L)))
        .otherwise(transform(col("__d"),
          x => round((x - col("vmin")) / col("scale")).cast("bigint"))))
    withParams
      .withColumn("max_err", when(col("scale") === 0.0, lit(0.0))
        .otherwise(array_max(zip_with(col("codes"), col("__d"),
          (q, x) => abs(col("vmin") + q.cast("double") * col("scale") - x)))))
      .drop("__d")
  }
}
