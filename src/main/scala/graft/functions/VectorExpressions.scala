package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the similarity/dedup hot kernels.
  *
  * The declarative forms (`zip_with` + `aggregate`, `array_intersect`)
  * are interpreted per-element with boxing — ~1µs/element, which dominates
  * pairwise workloads (25k pairs × 3 folds × 64 dims). These expressions
  * generate tight Java loops over the unsafe array format instead
  * (`doGenCode`), keeping the whole stage inside codegen. Semantics are
  * IDENTICAL to the declarative forms (same fold order, same double
  * arithmetic), so DuckDB oracles are unaffected.
  */
object VectorExpressions {

  /** THE word-shingle definition, shared by every shingle kernel so edge
    * semantics (single-space split incl. trailing empties; short texts
    * yield ONE clipped shingle) can never diverge between them — each
    * kernel differs only in what it does with the emitted strings.
    * Matches `shinglesOf(tokens(text), n)` exactly (property-tested per
    * kernel in `DedupSpec`).
    */
  private def forEachShingle(text: String, n: Int)(f: String => Unit): Unit = {
    val toks = text.split(" ", -1)
    val count = math.max(toks.length - n + 1, 1)
    var i = 0
    while (i < count) {
      val end = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      f(sb.toString)
      i += 1
    }
  }

  /** Dot product of two `array<float>` columns in double precision.
    * Bit-equal to `aggregate(zip_with(a, b, (x,y) => double(x)*double(y)),
    * 0.0, _+_)` — sequential left fold.
    * Both inputs must have EQUAL length: on unequal inputs this folds
    * over the shorter prefix while `zip_with` pads the shorter side with
    * nulls, so the bit-equality holds only at equal length. Every caller
    * passes fixed-`dims` vectors.
    */
  case class FloatVecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // fresh names, NOT fixed literals: two FloatVecDot calls in one
        // codegen scope (cosine = dot/sqrt(dot·dot)) would otherwise
        // redefine the same Java local and fail whole-stage compile
        val n = ctx.freshName("fvdN")
        val s = ctx.freshName("fvdS")
        val i = ctx.freshName("fvdI")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Squared L2 distance of two numeric-array columns (float or double
    * elements) in double precision. Bit-equal to
    * `aggregate(zip_with(a, b, (x,y) => (double(x)-double(y)) *
    * (double(x)-double(y))), 0.0, _+_)` — the same sequential left fold
    * in the same IEEE order, without the per-element boxing of the
    * interpreted HOF chain (opt brief rule 4: codegen the hot path; this
    * is the PQ kernel, evaluated corpus × m × k times in
    * encode/refine/ADC).
    * Both inputs must have EQUAL length: on unequal inputs this folds
    * over the shorter prefix while `zip_with` pads the shorter side with
    * nulls, so the bit-equality holds only at equal length. Every caller
    * passes fixed-`dims` vectors.
    */
  case class VecSqDist(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType

    private def isFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case other => sys.error(s"VecSqDist: unsupported input type $other")
    }
    @transient private lazy val leftFloat = isFloat(left)
    @transient private lazy val rightFloat = isFloat(right)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val xv = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
        val d = xv - yv
        s += d * d
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("vsdN")
        val s = ctx.freshName("vsdS")
        val i = ctx.freshName("vsdI")
        val d = ctx.freshName("vsdD")
        def get(arr: String, float: Boolean): String =
          if (float) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = ${get(a, leftFloat)} - ${get(b, rightFloat)};
           |  $s += $d * $d;
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Unit-vector difference of two `array<float>` columns in double:
    * `out[i] = x[i]/‖x‖ − y[i]/‖y‖`. Bit-equal to
    * `zip_with(x, y, (a,b) => double(a)/norm(x) − double(b)/norm(y))`
    * with `norm = sqrt(FloatVecDot(v,v))` — same sequential-fold norms,
    * same per-element IEEE ops — but the norms are computed ONCE per row
    * instead of once per ELEMENT (the interpreted lambda re-evaluates the
    * embedded norm subtree per element: O(dims²) boxed flops per row in
    * the residual-encoding hot path).
    * Both inputs must have EQUAL length: on unequal inputs the output
    * covers only the shorter prefix while `zip_with` pads the shorter
    * side with nulls, so the bit-equality holds only at equal length.
    * Every caller passes fixed-`dims` vectors.
    */
  case class FloatVecUnitDiff(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      // norms fold over each vector's FULL length (the declarative form's
      // norm(x) sees the whole column, not the zipped prefix)
      var sx = 0.0
      var sy = 0.0
      var i = 0
      while (i < x.numElements()) {
        sx += x.getFloat(i).toDouble * x.getFloat(i).toDouble
        i += 1
      }
      i = 0
      while (i < y.numElements()) {
        sy += y.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      val nx = math.sqrt(sx)
      val ny = math.sqrt(sy)
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        out(i) = x.getFloat(i).toDouble / nx - y.getFloat(i).toDouble / ny
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Intersection size of two SORTED distinct `array<string>` columns via
    * a merge walk — O(n+m), no per-call hash set. Equal to
    * `size(array_intersect(a, b))` when both inputs are sorted distinct.
    */
  case class SortedIntersectSize(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val (n, m) = (x.numElements(), y.numElements())
      var i = 0; var j = 0; var c = 0
      while (i < n && j < m) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
      c
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** All k affine-permutation MinHash minima in ONE pass over the hash
    * array: `sig[j] = min_i (a_j * (h_i mod p) + b_j) mod p`. Equal to the
    * k separate `array_min(transform(...))` folds, evaluated O(n·k) with
    * no boxing.
    */
  case class AffineMinHashSig(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    private val p = Hashing.AffineP
    private val as = Array.tabulate(k)(i => Hashing.affineCoeffs(i)._1)
    private val bs = Array.tabulate(k)(i => Hashing.affineCoeffs(i)._2)

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val sig = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val hm = hs.getLong(i) % p
        var j = 0
        while (j < k) {
          val v = (as(j) * hm + bs(j)) % p
          if (v < sig(j)) sig(j) = v
          j += 1
        }
        i += 1
      }
      new GenericArrayData(sig)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Fused word-shingle + portable-hash kernel: tokenizes on single
    * spaces, forms `n`-gram shingles, dedupes (first occurrence), and
    * emits each distinct shingle's portable hash — the first `hexChars`
    * md5 hex digits as an unsigned value (8 → the classic 32-bit
    * portable hash, bit-identical to
    * `transform(array_distinct(shingles(text, n)), portableHash)`;
    * 15 → a 60-bit hash, the widest that stays exact in a SIGNED 64-bit
    * integer on every engine — the DuckDB twin is
    * `CAST('0x' || substr(md5(t), 1, hexChars) AS BIGINT)`). No
    * intermediate arrays, one MessageDigest per thread.
    */
  case class ShingleHashes(child: Expression, n: Int, hexChars: Int = 8)
      extends UnaryExpression with CodegenFallback {
    require(hexChars >= 1 && hexChars <= 15,
      s"hexChars must be in [1, 15] to stay exact in a signed long: $hexChars")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    @transient private lazy val digest =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val seen = new java.util.LinkedHashSet[String]()
      forEachShingle(text, n)(seen.add(_))
      val md = digest.get()
      val out = new Array[Long](seen.size())
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) {
        md.reset()
        val d = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // value of the first hexChars hex digits of the md5 — nibble-wise
        // so odd widths (15 → 60 bits) match conv(substr(hex,1,w),16,10)
        var v = 0L
        var c = 0
        while (c < hexChars) {
          val nib =
            if (c % 2 == 0) (d(c / 2) >>> 4) & 0xF else d(c / 2) & 0xF
          v = (v << 4) | nib
          c += 1
        }
        out(k) = v
        k += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Fused SimHash: majority vote per bit over the shingle hashes, packed
    * into one long — `votes[b] = Σ_h (((h >> b) & 1) * 2 - 1)`, bit set
    * when the vote is ≥ 0. Bit-identical to the declarative
    * `aggregate(hs, votes, zip_with...)` + when-chain form, but one tight
    * loop instead of a ~32-way `when` tree whose generated code dominated
    * td06's runtime.
    */
  /** Unicode normalization (NFC / NFD / NFKC / NFKD via the JDK's
    * `java.text.Normalizer`) — the first stage of every real text
    * pipeline: é-composed vs e+combining-acute must fingerprint, shingle
    * and dedup identically, and NFKC folds compatibility forms
    * (ligatures ﬁ→fi, full-width digits, superscripts) that would
    * otherwise split token statistics. Pure per-row projection, no
    * shuffle; the JDK normalizer is Unicode-standard and stable across
    * JVMs (oracle parity with DuckDB's `nfc_normalize` for NFC;
    * NFKC/NFKD have no DuckDB counterpart and are spec-pinned).
    */
  case class NormalizeText(child: Expression, form: String)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType

    @transient private lazy val f: java.text.Normalizer.Form =
      java.text.Normalizer.Form.valueOf(form)

    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(java.text.Normalizer.normalize(
        input.asInstanceOf[UTF8String].toString, f))

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class SimhashBits(child: Expression, bits: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val votes = new Array[Int](bits)
      var i = 0
      while (i < n) {
        val h = hs.getLong(i)
        var b = 0
        while (b < bits) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
        i += 1
      }
      var sim = 0L
      var b = 0
      while (b < bits) {
        if (votes(b) >= 0) sim |= (1L << b)
        b += 1
      }
      sim
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Fused distinct-word-shingle kernel: tokenize on single spaces, form
    * `n`-gram shingle STRINGS, dedupe (first occurrence), optionally
    * sort (UTF8String byte order — identical to `sort_array`). Covers
    * the two declarative shapes the text-dedup family pays interpreted
    * HOF costs for:
    *   - sorted=false ≡ `array_distinct(shinglesOf(tokens(text), n))`
    *     (boilerplate span tables);
    *   - sorted=true ≡ `sort_array(array_distinct(shinglesOf(...)))`
    *     (minhash signature bases, Jaccard sets).
    * Bit-identical to both (property-tested in `DedupSpec`).
    */
  case class DistinctShingles(child: Expression, n: Int, sorted: Boolean)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val seen = new java.util.LinkedHashSet[String]()
      forEachShingle(text, n)(seen.add(_))
      val out = new Array[UTF8String](seen.size())
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      if (sorted)
        java.util.Arrays.sort(out,
          new java.util.Comparator[UTF8String] {
            override def compare(a: UTF8String, b: UTF8String): Int =
              a.compareTo(b)
          })
      new GenericArrayData(out.asInstanceOf[Array[Any]])
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Ordered NON-distinct sibling of [[DistinctShingles]]:
    * ≡ `shinglesOf(tokens(text), n)` — every position's shingle string
    * in order (posexplode over it preserves token positions, which the
    * boilerplate scrub's cover-window arithmetic depends on).
    */
  case class AllShingles(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      forEachShingle(text, n)(s => out += UTF8String.fromString(s))
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Positional sibling of [[ShingleHashes]]: every position's shingle
    * hash in order, NO dedupe — ≡ `transform(shinglesOf(tokens(text), n),
    * portableHash)`. The winnowing fingerprint path needs ordered
    * occurrences (window minima over positions).
    */
  case class AllShingleHashes(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    @transient private lazy val digest =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val md = digest.get()
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      forEachShingle(text, n) { s =>
        md.reset()
        val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out += (((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL))
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Content-defined chunk boundaries — one incremental rolling-hash
    * pass over the codepoints: position i (1-based, i ≥ window) is a
    * boundary iff the base-31 polynomial hash of the trailing `window`
    * codepoints, mod 1000003, divides by `divisor`; the final position
    * is always appended. Semantics are IDENTICAL to the declarative
    * `transform(sequence(window, size(cp)), i -> aggregate(slice(...)))`
    * form (and the DuckDB `list_reduce(list_slice(...))` oracle twin),
    * but O(len) instead of O(len × window) with zero per-position array
    * allocation — the declarative form re-aggregated a window slice per
    * character and was td102's entire cost.
    */
  case class CdcBoundaries(child: Expression, window: Int, divisor: Int)
      extends UnaryExpression with CodegenFallback {
    require(window >= 4 && window <= 256, s"window out of range: $window")
    require(divisor >= 2, s"divisor out of range: $divisor")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    private val Mod = 1000003L
    // 31^window mod M — the coefficient of the codepoint leaving the window
    private val pow: Long = {
      var p = 1L; var k = 0
      while (k < window) { p = (p * 31L) % Mod; k += 1 }
      p
    }

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      // codepoint array (matches ascii()/unicode() per-char semantics)
      val n = s.codePointCount(0, s.length)
      if (n < window) return new GenericArrayData(Array.empty[Int])
      val cp = new Array[Int](n)
      var ci = 0; var off = 0
      while (off < s.length) {
        val c = s.codePointAt(off)
        cp(ci) = c; ci += 1; off += Character.charCount(c)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var h = 0L
      var i = 0
      while (i < n) {
        h = (h * 31L + cp(i)) % Mod
        if (i >= window)
          h = (((h - (cp(i - window) * pow) % Mod) % Mod) + Mod) % Mod
        if (i >= window - 1 && h % divisor == 0) out += (i + 1)
        i += 1
      }
      if (out.isEmpty || out.last != n) out += n
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Count-only sibling of [[DistinctShingles]]:
    * ≡ `size(array_distinct(shinglesOf(tokens(text), n)))` without
    * materializing any array — the repetition/quality family only needs
    * the distinct count next to the arithmetic total.
    */
  case class DistinctShingleCount(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val seen = new java.util.HashSet[String]()
      forEachShingle(text, n)(seen.add(_))
      seen.size()
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Fused adjacent-token-pair kernel: one pass over the text emitting
    * `"tokᵢ tokᵢ₊₁"` for every consecutive whitespace-token pair —
    * bit-identical to the declarative
    * `transform(sequence(1, n-1), i -> concat_ws(" ", t[i], t[i+1]))`
    * form, but without the interpreted per-element lambda evaluation
    * that dominated td35's runtime (the ShingleHashes lesson applied to
    * pair mining). Empty output for texts with < 2 tokens.
    */
  case class TokenPairs(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val toks = text.split(" ", -1)
      if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
      val out = new Array[Any](toks.length - 1)
      var i = 0
      while (i < toks.length - 1) {
        out(i) = UTF8String.fromString(toks(i) + " " + toks(i + 1))
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Greedy BPE application (the GPT-2 merge loop): each whitespace word
    * starts as characters; repeatedly merge ALL occurrences of the
    * lowest-rank adjacent piece pair present until none applies. Merges
    * are "left right" strings, rank = position. Inherently iterative —
    * per-word convergence in ≤ |word| merges — which is why this is a
    * kernel and not SQL (and why its gate is rows-only + property specs
    * rather than a DuckDB oracle).
    */
  case class BpeEncode(child: Expression, merges: Seq[String])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    @transient private lazy val rank: Map[(String, String), Int] =
      merges.iterator.zipWithIndex.map { case (m, i) =>
        val sp = m.split(" ", 2)
        require(sp.length == 2, s"merge must be 'left right': '$m'")
        (sp(0), sp(1)) -> i
      }.toMap

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
      text.split(" ", -1).foreach { w =>
        if (w.nonEmpty) {
          // split on CODEPOINTS, not UTF-16 units: a non-BMP char must be
          // one piece (surrogate halves are not valid strings, and the
          // codepoint-based pair mining could never match them)
          var pieces: Vector[String] = {
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < w.length) {
              val cp = w.codePointAt(i)
              b += new String(Character.toChars(cp))
              i += Character.charCount(cp)
            }
            b.result()
          }
          var done = false
          while (!done && pieces.length > 1) {
            var best = Int.MaxValue
            var i = 0
            while (i < pieces.length - 1) {
              val r = rank.getOrElse((pieces(i), pieces(i + 1)), Int.MaxValue)
              if (r < best) best = r
              i += 1
            }
            if (best == Int.MaxValue) done = true
            else {
              val merged = scala.collection.mutable.ArrayBuffer.empty[String]
              var j = 0
              while (j < pieces.length) {
                if (j < pieces.length - 1 &&
                    rank.getOrElse((pieces(j), pieces(j + 1)), -1) == best) {
                  merged += pieces(j) + pieces(j + 1)
                  j += 2
                } else {
                  merged += pieces(j)
                  j += 1
                }
              }
              pieces = merged.toVector
            }
          }
          pieces.foreach(p => out += UTF8String.fromString(p))
        }
      }
      new GenericArrayData(out.toArray[Any])
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** All `tables` random-hyperplane LSH bucket keys in ONE pass over an
    * `array<float>` embedding. For table t, bit h:
    * `proj = Σ_d round(emb[d]·1e6) · sign(t,h,d)` (Rademacher ±1
    * coefficients from [[graft.similarity.Ann.hyperplaneSign]]'s fixed
    * md5 seed, materialized once per expression), `bucket[t]` packs the
    * `proj >= 0` bits. Equal to the declarative per-table
    * `aggregate(zip_with(microVec(emb), signs, _*_), 0L, _+_)` form
    * (property-tested), but one tight loop instead of tables×bits
    * interpreted HOF folds per row — the micro-unit rounding uses the
    * same BigDecimal HALF_UP as Spark's `round`, so buckets stay
    * bit-identical to the DuckDB oracle.
    */
  case class HyperplaneBuckets(child: Expression, tables: Int, bits: Int,
      dims: Int) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    // flat sign matrix: signs((t * bits + h) * dims + d)
    @transient private lazy val signs: Array[Byte] = {
      val out = new Array[Byte](tables * bits * dims)
      var t = 0
      while (t < tables) {
        var h = 0
        while (h < bits) {
          var d = 0
          while (d < dims) {
            out((t * bits + h) * dims + d) =
              graft.similarity.Ann.hyperplaneSign(t, h, d).toByte
            d += 1
          }
          h += 1
        }
        t += 1
      }
      out
    }

    override def nullSafeEval(input: Any): Any = {
      val emb = input.asInstanceOf[ArrayData]
      val n = math.min(emb.numElements(), dims)
      val qv = new Array[Long](n)
      var d = 0
      while (d < n) {
        // Spark round() semantics exactly: BigDecimal HALF_UP (ties away
        // from zero) on the double value — Math.round would round -2.5
        // toward +inf and sign-flip a projection near zero
        qv(d) = java.math.BigDecimal.valueOf(emb.getFloat(d).toDouble * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        d += 1
      }
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var bucket = 0L
        var h = 0
        while (h < bits) {
          val base = (t * bits + h) * dims
          var proj = 0L
          var i = 0
          while (i < n) {
            proj += qv(i) * signs(base + i)
            i += 1
          }
          if (proj >= 0) bucket |= (1L << h)
          h += 1
        }
        out(t) = bucket
        t += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Bottom-k multiset of a LONG column as a bounded imperative aggregate
    * (r17, the td66 sketch phase): partial aggregation keeps at most `k`
    * values per group per map task, so the shuffle carries ≤ groups×k×
    * partitions longs instead of the full exploded stream, and no sort of
    * that stream ever happens. Result-equal to the two-phase row_number
    * window chain it replaced: the bottom-k MULTISET of h values is
    * uniquely determined by the input multiset (ties at the boundary have
    * EQUAL h, so which row survives cannot change the kept values), and
    * the output array is sorted ascending. Memory is O(k) per group per
    * task — a max-heap of longs, never the group's rows.
    */
  case class BottomKLongs(child: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate
        .TypedImperativeAggregate[java.util.PriorityQueue[java.lang.Long]]
      with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
    require(k >= 1, s"k must be >= 1: $k")

    override def createAggregationBuffer(): java.util.PriorityQueue[java.lang.Long] =
      new java.util.PriorityQueue[java.lang.Long](
        k + 1, java.util.Collections.reverseOrder[java.lang.Long]())

    private def add(buf: java.util.PriorityQueue[java.lang.Long], x: Long): Unit =
      if (buf.size < k) buf.add(x)
      else if (x < buf.peek()) { buf.poll(); buf.add(x) }

    override def update(buf: java.util.PriorityQueue[java.lang.Long],
        input: InternalRow): java.util.PriorityQueue[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) add(buf, v.asInstanceOf[Long])
      buf
    }

    override def merge(buf: java.util.PriorityQueue[java.lang.Long],
        other: java.util.PriorityQueue[java.lang.Long]): java.util.PriorityQueue[java.lang.Long] = {
      val it = other.iterator()
      while (it.hasNext) add(buf, it.next())
      buf
    }

    override def eval(buf: java.util.PriorityQueue[java.lang.Long]): Any = {
      val arr = new Array[Long](buf.size)
      val it = buf.iterator()
      var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      java.util.Arrays.sort(arr)
      new GenericArrayData(arr)
    }

    override def serialize(buf: java.util.PriorityQueue[java.lang.Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
      bb.putInt(buf.size)
      val it = buf.iterator()
      while (it.hasNext) bb.putLong(it.next())
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[java.lang.Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = createAggregationBuffer()
      var i = 0
      while (i < n) { add(buf, bb.getLong); i += 1 }
      buf
    }

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(offset: Int): BottomKLongs =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): BottomKLongs =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  // Column wrappers ------------------------------------------------------

  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  def bottom_k_longs(c: Column, k: Int): Column =
    column(BottomKLongs(expression(c), k).toAggregateExpression())

  def hyperplane_buckets(emb: Column, tables: Int, bits: Int, dims: Int): Column =
    column(HyperplaneBuckets(expression(emb), tables, bits, dims))

  def float_vec_dot(a: Column, b: Column): Column =
    column(FloatVecDot(expression(a), expression(b)))

  def vec_sqdist(a: Column, b: Column): Column =
    column(VecSqDist(expression(a), expression(b)))

  def float_vec_unit_diff(a: Column, b: Column): Column =
    column(FloatVecUnitDiff(expression(a), expression(b)))

  def sorted_intersect_size(a: Column, b: Column): Column =
    column(SortedIntersectSize(expression(a), expression(b)))

  def affine_minhash_sig(hs: Column, k: Int): Column =
    column(AffineMinHashSig(expression(hs), k))

  def shingle_hashes(text: Column, n: Int, hexChars: Int = 8): Column =
    column(ShingleHashes(expression(text), n, hexChars))

  def simhash_bits(hs: Column, bits: Int): Column =
    column(SimhashBits(expression(hs), bits))

  def normalize_text(text: Column, form: String): Column = {
    require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
      s"normalize_text form must be NFC|NFD|NFKC|NFKD: $form")
    column(NormalizeText(expression(text), form))
  }

  def bpe_encode(text: Column, merges: Seq[String]): Column =
    column(BpeEncode(expression(text), merges))

  def token_pairs(text: Column): Column =
    column(TokenPairs(expression(text)))

  def distinct_shingles(text: Column, n: Int, sorted: Boolean): Column =
    column(DistinctShingles(expression(text), n, sorted))

  def distinct_shingle_count(text: Column, n: Int): Column =
    column(DistinctShingleCount(expression(text), n))

  def all_shingles(text: Column, n: Int): Column =
    column(AllShingles(expression(text), n))

  def all_shingle_hashes(text: Column, n: Int): Column =
    column(AllShingleHashes(expression(text), n))

  def cdc_boundaries(text: Column, window: Int, divisor: Int): Column =
    column(CdcBoundaries(expression(text), window, divisor))
}
