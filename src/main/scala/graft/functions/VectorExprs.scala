package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ExprBridge.{toColumn => toCol, toExpression => toExpr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels the codegen'd expressions call into — one static call
  * per row keeps the loop inside whole-stage codegen without interpreting
  * the expression tree. All loops are tight primitive loops over
  * `ArrayData`; nothing allocates per element.
  */
object VecOps {

  /** The length both vectors of a pairwise kernel share; vectors of
    * unequal length are refused, never compared on a common prefix. */
  private def sameLength(a: ArrayData, b: ArrayData, kernel: String): Int = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"$kernel: vectors of unequal length $n and ${b.numElements()}")
    n
  }

  /** Cosine similarity over two float vectors (0.0 when either is zero). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = sameLength(a, b, "cosine")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = sameLength(a, b, "dot")
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** True iff ANY aligned position of the two long arrays differs by at
    * most `h` bits (popcount of the XOR). The min-band dedup test for
    * banded LSH candidate generation: a (probe, corpus) pair colliding
    * in band b is kept only when no band b' < b already collided — each
    * side carries the PREFIX of its band signatures, and this kernel
    * answers "did an earlier band collide?" per row, so each candidate
    * pair survives exactly once WITHOUT a corpus-wide distinct
    * ([[graft.operators.Similarity.knnJoin]]). Tight primitive loop,
    * no allocation; an empty prefix (band 0) returns false.
    */
  def anyBandCollides(a: ArrayData, b: ArrayData, h: Int): Boolean = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i)) <= h)
        return true
      i += 1
    }
    false
  }

  /** 64-bit hash of a UTF8String via 2×murmur3 (lo/hi with different
    * seeds) — deterministic across JVMs, no allocation.
    */
  def hash64(s: UTF8String, seed: Int): Long = {
    val lo = Murmur3_x86_32.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)
    val hi = Murmur3_x86_32.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes(), seed ^ 0x9747b28c)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** SimHash over a token array: per-bit majority vote of token hashes
    * (Charikar 2002, public algorithm). 60 bits, not 64: the per-token
    * hash is the SQL-replicable [[md5Base60]] (60-bit md5 prefix), so
    * an external engine can recompute the exact signature — bit j's
    * vote is `(x >> j) & 1 ? +1 : -1` summed over ALL token
    * occurrences, bit set when the sum is strictly positive, empty
    * token array → 0. Pigeonhole banding splits 60 bits into 4×15-bit
    * chunks (same hamming ≤ 3 guarantee as 4×16).
    */
  val SimhashBits = 60

  def simhash(tokens: ArrayData): Long = {
    val counts = new Array[Int](SimhashBits)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = md5Base60(tokens.getUTF8String(i))
        var j = 0
        while (j < SimhashBits) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < SimhashBits) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** `round(x * 1e7)` with ties away from zero on the BINARY double
    * value — equals C++ std::round and SQL engines' round(DOUBLE), so a
    * quantization an external engine replicates exactly. Computed
    * trunc-then-compare: `s - trunc(s)` is exact for |s| < 2^52, which
    * avoids the `floor(s+0.5)` double-rounding bug at
    * 0.49999999999999994. (True .5 ties cannot actually occur for float
    * inputs — x*10^7 = k+1/2 requires a non-dyadic x — the tie branch
    * exists for the documented std::round equivalence.)
    */
  def roundAwayScaled(x: Float): Long = {
    val s = x.toDouble * 1e7
    // Garbage must FAIL, not quantize: NaN used to map silently to 0
    // and |x|·1e7 beyond Long range wrapped past Long.MaxValue (toLong
    // saturates, then the ties-away +1 overflows) — both diverge from
    // SQL round(x)::BIGINT, which errors, and would silently corrupt
    // every signature built on the quantization. Embeddings are O(1),
    // so the guard never fires on real input.
    if (java.lang.Double.isNaN(s) || s >= 9.2e18 || s <= -9.2e18)
      throw new ArithmeticException(
        s"roundAwayScaled: unquantizable value $x (NaN or |x|*1e7 beyond Long range)")
    val t = s.toLong
    val frac = s - t
    if (frac >= 0.5) t + 1 else if (frac <= -0.5) t - 1 else t
  }

  /** ±1 sign matrix for Rademacher sign-projection LSH (Achlioptas
    * 2001's database-friendly random projections + Charikar 2002 sign
    * hashing — both public), derived per (seed, plane, dim) from bit 0
    * of the SQL-replicable [[md5Base60]] of "seed:plane:dim".
    */
  def rademacherSigns(numPlanes: Int, dims: Int, seed: Long): Array[Int] = {
    val out = new Array[Int](numPlanes * dims)
    var p = 0
    while (p < numPlanes) {
      var i = 0
      while (i < dims) {
        val h = md5Base60(UTF8String.fromString(s"$seed:$p:$i"))
        out(p * dims + i) = if ((h & 1L) == 1L) 1 else -1
        i += 1
      }
      p += 1
    }
    out
  }

  /** Exact-integer sign-projection signature: components quantized by
    * [[roundAwayScaled]], then a ±1 dot in LONG arithmetic per plane;
    * bit p set iff the dot is strictly positive. Unlike the float
    * gaussian-hyperplane formulation, every step is order-independent integer math,
    * so an external SQL engine recomputes IDENTICAL buckets — this is
    * what flips the ANN-LSH gate from recall-only to a full oracle.
    * |t| <= ~2^31 per component and dims <= ~2^20 keep the dot far from
    * long overflow. A vector whose length is not `dims` is refused: a
    * prefix or a short vector would sign into a bucket no twin shares.
    */
  def rademacherSig(v: ArrayData, signs: Array[Int],
      numPlanes: Int, dims: Int): Long = {
    val n = v.numElements()
    if (n != dims) throw new IllegalArgumentException(
      s"vector has $n elements; the signature planes have dims=$dims")
    val t = new Array[Long](n)
    var i = 0
    while (i < n) { t(i) = roundAwayScaled(v.getFloat(i)); i += 1 }
    var sig = 0L
    var p = 0
    while (p < numPlanes) {
      var s = 0L
      val off = p * dims
      var j = 0
      while (j < n) { s += t(j) * signs(off + j); j += 1 }
      if (s > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** MinHash prime modulus — small enough that (P-1)² + P < 2^63, so
    * the universal-hash arithmetic never overflows a BIGINT in ANY
    * engine (same reasoning as Sampling.idScore).
    */
  val MinhashP = 1000003L

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit md5 prefix of a string's UTF-8 bytes — numerically equal to
    * parsing the first 15 hex chars of the md5 digest, which any SQL
    * engine can replicate verbatim (DuckDB:
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`). Non-negative by
    * construction (60 < 63 bits). This replaces a JVM-private murmur3
    * base hash so the minhash gate query is cross-engine checkable.
    */
  def md5Base60(s: UTF8String): Long = {
    val d = md5Local.get()
    d.reset()
    val b = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Single-pass k-permutation MinHash: one base hash per shingle, k
    * universal-hash permutations h_i(x) = (x·a_i + b_i) mod P over the
    * prime field (the textbook Carter–Wegman family), running minima
    * kept in a local array. One traversal of the shingle array instead
    * of k (the transform+array_min formulation re-walks the array per
    * hash function).
    *
    * Every ingredient is deliberately SQL-replicable — md5-prefix base
    * ([[md5Base60]]), closed-form coefficients ([[minhashCoefs]]),
    * mod-first bounded arithmetic — so an external engine can recompute
    * the exact signatures and the LSH gate query gets a full
    * rows+schema+hash oracle instead of a recall-only check.
    */
  def minhashSig(shingles: ArrayData, k: Int, seed: Int): ArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val coef = minhashCoefs(k, seed)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val x = md5Base60(shingles.getUTF8String(i)) % MinhashP
        var j = 0
        while (j < k) {
          val v = (x * coef(2 * j) + coef(2 * j + 1)) % MinhashP
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Closed-form universal-hash coefficients in [0, P): a_i from the
    * Knuth multiplier, b_i from a small LCG step, both seed-shifted —
    * pure integer arithmetic an oracle SQL can mirror literally:
    * `a_i = ((i+1)*2654435761 + seed) % 1000003` (never 0 for the
    * default seed and i < 64 — guarded anyway), `b_i = (i*40503 +
    * seed) % 1000003`. No JVM Random, no 64-bit wraparound.
    */
  private val coefCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  def minhashCoefs(k: Int, seed: Int): Array[Long] =
    coefCache.computeIfAbsent((k, seed), { _ =>
      val out = new Array[Long](2 * k)
      var i = 0
      while (i < k) {
        var a = (((i + 1).toLong * 2654435761L + seed) % MinhashP
          + MinhashP) % MinhashP
        if (a == 0L) a = 1L
        out(2 * i) = a
        out(2 * i + 1) = ((i.toLong * 40503L + seed) % MinhashP
          + MinhashP) % MinhashP
        i += 1
      }
      out
    })

  // ---- product quantization (Jégou et al., TPAMI 2011 — public) ----
  // codebook layout: flat [m][ksub][dsub] row-major floats.

  /** Encode a vector as m sub-codebook indices (nearest sub-centroid by
    * L2 per subspace).
    */
  def pqEncode(v: ArrayData, codebook: Array[Float],
      m: Int, ksub: Int, dsub: Int): ArrayData = {
    val codes = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < ksub) {
        val off = (sub * ksub + j) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = v.getFloat(sub * dsub + i) - codebook(off + i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      codes(sub) = best
      sub += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** Per-query ADC lookup table: lut[sub*ksub + j] = dot(q_sub, c_sub_j).
    * Σ over subspaces of lut entries then approximates dot(q, x).
    */
  def pqLut(q: ArrayData, codebook: Array[Float],
      m: Int, ksub: Int, dsub: Int): ArrayData = {
    val lut = new Array[Double](m * ksub)
    var sub = 0
    while (sub < m) {
      var j = 0
      while (j < ksub) {
        val off = (sub * ksub + j) * dsub
        var s = 0.0
        var i = 0
        while (i < dsub) {
          s += q.getFloat(sub * dsub + i).toDouble * codebook(off + i)
          i += 1
        }
        lut(sub * ksub + j) = s
        j += 1
      }
      sub += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(lut)
  }

  /** Asymmetric distance computation: approximate dot(q, x) from x's
    * codes and q's lookup table — m adds per corpus row, no float math.
    */
  def pqAdc(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    var s = 0.0
    var sub = 0
    val m = codes.numElements()
    while (sub < m) {
      s += lut.getDouble(sub * ksub + codes.getInt(sub))
      sub += 1
    }
    s
  }

  /** SQ8 encode: one byte per dimension, round((v-min)/scale) clamped
    * to [0, 255]; scale 0 (constant dimension) encodes as 0.
    */
  def sq8Encode(v: ArrayData, mins: Array[Float],
      scales: Array[Float]): Array[Byte] = {
    val d = mins.length
    val out = new Array[Byte](d)
    var i = 0
    while (i < d) {
      val s = scales(i)
      val c = if (s == 0f) 0
        else math.round((v.getFloat(i) - mins(i)) / s)
      out(i) = math.max(0, math.min(255, c)).toByte
      i += 1
    }
    out
  }

  /** SQ8 asymmetric dot: Σ q_i · (min_i + code_i·scale_i) — the
    * dequantization folds into the accumulate, one pass, no allocation.
    */
  def sq8Dot(codes: Array[Byte], q: ArrayData, mins: Array[Float],
      scales: Array[Float]): Double = {
    val d = codes.length
    var s = 0.0
    var i = 0
    while (i < d) {
      val c = codes(i) & 0xff
      s += q.getFloat(i).toDouble * (mins(i) + c * scales(i))
      i += 1
    }
    s
  }

  /** y = R·x for a row-major dims×dims matrix — the OPQ rotation applied
    * per vector in one kernel pass (float accumulate in double).
    */
  def matVec(v: ArrayData, matrix: Array[Float], dims: Int): ArrayData = {
    val out = new Array[Any](dims)
    var r = 0
    while (r < dims) {
      var s = 0.0
      var c = 0
      val off = r * dims
      while (c < dims) { s += matrix(off + c) * v.getFloat(c); c += 1 }
      out(r) = s.toFloat
      r += 1
    }
    new GenericArrayData(out)
  }

  /** The one IVF cell-ranking score ([[graft.operators.Quantizer]]),
    * bit-identical to its column form `2.0 * dot(v, c) − dot(c, c)` over
    * [[dot]]'s double accumulation in ascending-index order: maximizing
    * it minimizes ‖v−c‖². The two accumulators are independent, so
    * fusing the loops changes no FP operation or order. */
  private def negDistAt(v: ArrayData, centroids: Array[Float],
      off: Int, dims: Int): Double = {
    var d = 0.0; var cc = 0.0
    var i = 0
    while (i < dims) {
      val c = centroids(off + i).toDouble
      d += v.getFloat(i).toDouble * c
      cc += c * c
      i += 1
    }
    2.0 * d - cc
  }

  /** Refuse a vector whose length is not `dims`: [[negDistAt]] would
    * read past its end or rank it by a prefix. */
  private def requireDims(v: ArrayData, dims: Int): Unit =
    if (v.numElements() != dims) throw new IllegalArgumentException(
      s"vector has ${v.numElements()} elements; the centroids have " +
        s"dims=$dims")

  /** [[negDistAt]] of `v` against `cell`, refused when not finite (a NaN
    * or infinite component makes every score NaN or ±Inf, so ranking
    * the vector would file it in an arbitrary cell). */
  private def finiteScore(v: ArrayData, centroids: Array[Float], cell: Int,
      dims: Int): Double = {
    val s = negDistAt(v, centroids, cell * dims, dims)
    if (s.isNaN || s.isInfinite) throw new IllegalArgumentException(
      s"vector has no finite score against cell $cell (a NaN or " +
        "infinite component)")
    s
  }

  /** Nearest-centroid cell of `v` over a row-major [nlist][dims] matrix:
    * argmax of [[negDistAt]], ties to the LOWEST cell (strict `>` over
    * ascending cells) — exactly the `topKRank(k=1)` ordering (score
    * desc, id asc) of the exchange-based assignment this kernel
    * replaces. One narrow pass per row, allocating nothing; no shuffle,
    * no join-back. A vector of the wrong length or with a non-finite
    * score throws. */
  def nearestCell(v: ArrayData, centroids: Array[Float], nlist: Int,
      dims: Int): Int = {
    requireDims(v, dims)
    var best = 0
    var bestS = Double.NegativeInfinity
    var cell = 0
    while (cell < nlist) {
      val s = finiteScore(v, centroids, cell, dims)
      if (s > bestS) { bestS = s; best = cell }
      cell += 1
    }
    best
  }

  /** The `nprobe` nearest cells of `v`, ordered by (score desc, cell
    * asc) — the probe-side mirror of [[nearestCell]]: strict `>` over
    * an ascending scan replicates the bounded-heap rank's tie-break
    * exactly. Selection is O(nlist · nprobe) over ≤4096 cells. A vector
    * of the wrong length or with a non-finite score throws. */
  def nearestCells(v: ArrayData, centroids: Array[Float], nlist: Int,
      dims: Int, nprobe: Int): ArrayData = {
    val n = math.min(nprobe, nlist)
    requireDims(v, dims)
    val scores = new Array[Double](nlist)
    var cell = 0
    while (cell < nlist) {
      scores(cell) = finiteScore(v, centroids, cell, dims)
      cell += 1
    }
    val taken = new Array[Boolean](nlist)
    val out = new Array[Any](n)
    var r = 0
    while (r < n) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var c = 0
      while (c < nlist) {
        if (!taken(c) && scores(c) > bestS) { bestS = scores(c); best = c }
        c += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** minhash_sig(array<string>) → array<long> of k running minima, one pass. */
case class MinHashSig(child: Expression, k: Int, seed: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftshim.ExprBridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(t: Any): Any =
    VecOps.minhashSig(t.asInstanceOf[ArrayData], k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.VecOps.minhashSig($t, $k, $seed)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** cosine(array<float>, array<float>) → double, codegen'd.
  *
  * The kernel reads via `ArrayData.getFloat`, so the input MUST be
  * array<float>: declaring `inputTypes` makes the analyzer coerce an
  * array<double> argument (SQL array literals, double-typed parquet
  * embeddings) instead of silently misreading 4 of its 8 bytes per
  * element — these are exposed as public SQL functions (graft_cosine).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftshim.ExprBridge.AbstractType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.cosine($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot(array<float>, array<float>) → double, codegen'd. Same
  * `inputTypes` rationale as [[CosineSim]].
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftshim.ExprBridge.AbstractType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** any_band_collides(array<long>, array<long>) → boolean, codegen'd:
  * true iff any aligned pair of longs is within hamming distance `h`.
  * See [[VecOps.anyBandCollides]] for the min-band dedup role.
  */
case class AnyBandCollides(left: Expression, right: Expression, h: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(h >= 0, s"hamming radius must be >= 0: $h")
  override def inputTypes: Seq[org.apache.spark.sql.graftshim.ExprBridge.AbstractType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.anyBandCollides(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], h)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VecOps.anyBandCollides($a, $b, $h)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** simhash64(array<string>) → long, codegen'd. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftshim.ExprBridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(t: Any): Any =
    VecOps.simhash(t.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.VecOps.simhash($t)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Rademacher sign-projection signature(array<float>) → long; the ±1
  * sign matrix is md5-derived at plan time from (numPlanes, dims, seed)
  * and the dot is exact long arithmetic — see [[VecOps.rademacherSig]].
  */
case class RademacherSig(child: Expression, numPlanes: Int, dims: Int,
    seed: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftshim.ExprBridge.AbstractType] = Seq(ArrayType(FloatType))
  @transient private lazy val signs: Array[Int] =
    VecOps.rademacherSigns(numPlanes, dims, seed)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    VecOps.rademacherSig(v.asInstanceOf[ArrayData], signs, numPlanes, dims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("radSigns", signs, "int[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VecOps.rademacherSig($v, $signsRef, $numPlanes, $dims)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A unary array<float> kernel with one plan-embedded float[] operand
  * (a centroid matrix, codebook or rotation: a few KB, carried by the
  * plan as a broadcast-referenced object) and one static [[VecOps]]
  * call: `call` names it over the generated vector and matrix terms,
  * `run` makes it when the expression is interpreted.
  */
abstract class FloatMatrixKernel extends UnaryExpression
    with ImplicitCastInputTypes {
  def matrix: Seq[Float]
  protected def call(v: String, m: String): String
  protected def run(v: ArrayData, m: Array[Float]): Any
  @transient private lazy val mat: Array[Float] = matrix.toArray
  override def inputTypes: Seq[org.apache.spark.sql.graftshim.ExprBridge.AbstractType] =
    Seq(ArrayType(FloatType))
  override protected def nullSafeEval(t: Any): Any =
    run(t.asInstanceOf[ArrayData], mat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("floatMatrix", mat, "float[]")
    defineCodeGen(ctx, ev, t => s"graft.functions.VecOps.${call(t, ref)}")
  }
}

/** rotate_vec(array<float>) → array<float>: y = R·x for a broadcast
  * row-major rotation matrix (OPQ pre-rotation).
  */
case class RotateVec(child: Expression, matrix: Seq[Float], dims: Int)
    extends FloatMatrixKernel {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  protected def call(v: String, m: String): String = s"matVec($v, $m, $dims)"
  protected def run(v: ArrayData, m: Array[Float]): Any =
    VecOps.matVec(v, m, dims)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** pq_encode(array<float>) → array<int> of m sub-codebook indices. */
case class PqEncode(child: Expression, codebook: Seq[Float],
    m: Int, ksub: Int, dsub: Int)
    extends FloatMatrixKernel {
  def matrix: Seq[Float] = codebook
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  protected def call(v: String, cb: String): String =
    s"pqEncode($v, $cb, $m, $ksub, $dsub)"
  protected def run(v: ArrayData, cb: Array[Float]): Any =
    VecOps.pqEncode(v, cb, m, ksub, dsub)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** nearest_cell(array<float>) → int: IVF coarse assignment against a
  * plan-embedded row-major [nlist][dims] centroid matrix (≤ 4096×dims
  * floats). One narrow codegen pass with zero shuffles; score and
  * tie-break are [[VecOps.nearestCell]]'s.
  */
case class NearestCell(child: Expression, centroids: Seq[Float],
    nlist: Int, dims: Int)
    extends FloatMatrixKernel {
  def matrix: Seq[Float] = centroids
  override def dataType: DataType = IntegerType
  protected def call(v: String, c: String): String =
    s"nearestCell($v, $c, $nlist, $dims)"
  protected def run(v: ArrayData, cents: Array[Float]): Any =
    VecOps.nearestCell(v, cents, nlist, dims)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** nearest_cells(array<float>) → array<int>: the `nprobe` nearest cells
  * by the [[NearestCell]] ranking, ordered (score desc, cell asc) — the
  * only probe-side cell ranking kernel, one pass instead of a per-query
  * crossJoin + bounded-heap rank exchange.
  */
case class NearestCells(child: Expression, centroids: Seq[Float],
    nlist: Int, dims: Int, nprobe: Int)
    extends FloatMatrixKernel {
  require(nprobe > 0, s"nprobe must be positive: $nprobe")
  def matrix: Seq[Float] = centroids
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  protected def call(v: String, c: String): String =
    s"nearestCells($v, $c, $nlist, $dims, $nprobe)"
  protected def run(v: ArrayData, cents: Array[Float]): Any =
    VecOps.nearestCells(v, cents, nlist, dims, nprobe)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** pq_lut(array<float>) → array<double> ADC table for one query. */
case class PqLut(child: Expression, codebook: Seq[Float],
    m: Int, ksub: Int, dsub: Int)
    extends FloatMatrixKernel {
  def matrix: Seq[Float] = codebook
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  protected def call(q: String, cb: String): String =
    s"pqLut($q, $cb, $m, $ksub, $dsub)"
  protected def run(q: ArrayData, cb: Array[Float]): Any =
    VecOps.pqLut(q, cb, m, ksub, dsub)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** sq8_encode(array<float>) → binary: one byte per dimension,
  * code_i = round((v_i - min_i)/scale_i) clamped to 0..255. 4–8×
  * smaller than raw float vectors with near-lossless recall after
  * exact rerank (FAISS's SQ8 layout, public).
  */
case class Sq8Encode(child: Expression, mins: Seq[Float], scales: Seq[Float])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftshim.ExprBridge.AbstractType] =
    Seq(ArrayType(FloatType))
  @transient private lazy val mn: Array[Float] = mins.toArray
  @transient private lazy val sc: Array[Float] = scales.toArray
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(t: Any): Any =
    VecOps.sq8Encode(t.asInstanceOf[ArrayData], mn, sc)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rmn = ctx.addReferenceObj("sq8Mins", mn, "float[]")
    val rsc = ctx.addReferenceObj("sq8Scales", sc, "float[]")
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.VecOps.sq8Encode($t, $rmn, $rsc)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** sq8_dot(codes binary, q array<float>) → double: asymmetric dot
  * against dequantized codes, Σ q_i·(min_i + code_i·scale_i).
  */
case class Sq8Dot(left: Expression, right: Expression,
    mins: Seq[Float], scales: Seq[Float])
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftshim.ExprBridge.AbstractType] =
    Seq(BinaryType, ArrayType(FloatType))
  @transient private lazy val mn: Array[Float] = mins.toArray
  @transient private lazy val sc: Array[Float] = scales.toArray
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.sq8Dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData], mn, sc)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rmn = ctx.addReferenceObj("sq8Mins", mn, "float[]")
    val rsc = ctx.addReferenceObj("sq8Scales", sc, "float[]")
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecOps.sq8Dot($a, $b, $rmn, $rsc)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** pq_adc(codes, lut) → double approximate dot product. */
case class PqAdc(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.pqAdc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.pqAdc($a, $b, $ksub)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level API over the native expressions. */
object VectorFunctions {
  def cosineSim(a: Column, b: Column): Column =
    toCol(CosineSim(toExpr(a), toExpr(b)))
  def dotProduct(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))
  def nearestCell(v: Column, centroids: Seq[Float], nlist: Int,
      dims: Int): Column =
    toCol(NearestCell(toExpr(v), centroids, nlist, dims))
  def nearestCells(v: Column, centroids: Seq[Float], nlist: Int,
      dims: Int, nprobe: Int): Column =
    toCol(NearestCells(toExpr(v), centroids, nlist, dims, nprobe))
  def simhash64(tokens: Column): Column = toCol(SimHash64(toExpr(tokens)))
  def anyBandCollides(a: Column, b: Column, h: Int): Column =
    toCol(AnyBandCollides(toExpr(a), toExpr(b), h))

  /** Cross-engine-replicable sign-projection signature (exact integer
    * arithmetic; see [[RademacherSig]]).
    */
  def rademacherSig(v: Column, numPlanes: Int, dims: Int, seed: Long = 42L): Column =
    toCol(RademacherSig(toExpr(v), numPlanes, dims, seed))

  /** MinHash signature as array<long>: k-permutation minima over the
    * shingle set in ONE array traversal (native expression). The earlier
    * formulation (transform + array_min per hash) re-walked the array k
    * times — 64× the work at k=64.
    */
  def minhashSignature(shingles: Column, numHashes: Int, seed: Int = 0x7f4a7c15): Column =
    toCol(MinHashSig(toExpr(shingles), numHashes, seed))

  def pqEncode(v: Column, codebook: Seq[Float], m: Int, ksub: Int, dsub: Int): Column =
    toCol(PqEncode(toExpr(v), codebook, m, ksub, dsub))
  def pqLut(q: Column, codebook: Seq[Float], m: Int, ksub: Int, dsub: Int): Column =
    toCol(PqLut(toExpr(q), codebook, m, ksub, dsub))
  def pqAdc(codes: Column, lut: Column, ksub: Int): Column =
    toCol(PqAdc(toExpr(codes), toExpr(lut), ksub))
  def sq8Encode(v: Column, mins: Seq[Float], scales: Seq[Float]): Column =
    toCol(Sq8Encode(toExpr(v), mins, scales))
  def sq8Dot(codes: Column, q: Column, mins: Seq[Float],
      scales: Seq[Float]): Column =
    toCol(Sq8Dot(toExpr(codes), toExpr(q), mins, scales))
  def rotateVec(v: Column, matrix: Seq[Float], dims: Int): Column =
    toCol(RotateVec(toExpr(v), matrix, dims))
}
