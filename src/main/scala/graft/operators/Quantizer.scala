package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The one coarse quantizer of every IVF path: the persisted indexes
  * ([[SegmentedIndex]], so [[IvfIndex]] and [[IvfPqIndex]]), the
  * one-shot operators ([[Similarity.ivfTopK]], [[Similarity.knnJoinIvf]],
  * [[Similarity.Pq.ivfTopK]]) and [[Dedup.semanticPairs]]. It holds the
  * `nlist × dims` centroid matrix in memory and ranks cells by ONE rule,
  * for assignment and probing alike: squared L2 (as the score
  * 2·v·c − c·c, highest first), ties to the lowest cell. The IVF paths
  * fit, assign and probe on L2-normalized vectors, so a duplicate of a
  * corpus vector provably lands in, and is probed first from, its twin's
  * cell; [[Dedup.semanticPairs]] clusters its raw column.
  */
private[graft] final case class Quantizer(centroids: Array[Array[Float]]) {
  require(centroids.nonEmpty, "empty quantizer")
  val nlist: Int = centroids.length
  val dims: Int = centroids(0).length
  private val flat: Seq[Float] = centroids.flatten.toSeq

  /** The cell of vector column `v` (int): one narrow codegen pass over
    * the plan-embedded matrix ([[graft.functions.NearestCell]]). */
  def assign(v: Column): Column =
    VectorFunctions.nearestCell(v, flat, nlist, dims)

  /** The `nprobe` cells query column `q` probes, nearest first
    * (array<int>, [[graft.functions.NearestCells]]): the same score and
    * tie-break as [[assign]], so a query's first cell is its own. */
  def probe(q: Column, nprobe: Int): Column =
    VectorFunctions.nearestCells(q, flat, nlist, dims, math.min(nprobe, nlist))

  /** The same cells as [[probe]], as (qid, cell) rows ranked through the
    * bounded-heap exchange ([[Similarity.topKRank]]) over the kernel's own
    * score: `queries` holds (qid, qn). The exchange's output partitioning
    * is what [[Similarity.knnJoinIvf]] keeps it for. */
  def probeRanked(queries: DataFrame, nprobe: Int): DataFrame = {
    val scored = queries.crossJoin(broadcast(frame(queries.sparkSession)))
      .select(col("qid"), col("cell").as("id"),
        Quantizer.score(col("qn"), col("centroid")).as("score"))
    Similarity.topKRank(scored, math.min(nprobe, nlist), "score")
      .select(col("qid"), col("id").as("cell"))
  }

  /** The (cell: int, centroid: array<float>) frame, a local relation. */
  def frame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    centroids.toSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "centroid")
  }
}

private[graft] object Quantizer {

  /** The cell-ranking score as a column, 2·v·c − c·c over two
    * double-accumulated dot products: bit-identical to the kernels'
    * per-cell score, and highest exactly where ‖v − c‖² is lowest. */
  def score(v: Column, c: Column): Column =
    lit(2.0) * VectorFunctions.dotProduct(v, c) -
      VectorFunctions.dotProduct(c, c)

  /** The caller's `nlist`, or the √n occupancy rule (at least 8, capped
    * at 4096) over the corpus count; `knownCount` ≥ 0 skips the count
    * job. */
  def nlistFor(corpus: DataFrame, idCol: String, nlist: Int,
      knownCount: Long): Int =
    if (nlist > 0) nlist
    else {
      val n = if (knownCount >= 0) knownCount
        else corpus.select(col(idCol)).count()
      math.min(4096, math.max(8, math.sqrt(n.toDouble).toInt))
    }

  /** Fit `nlist` centroids: a DRIVER-SIDE Lloyd's k-means ([[lloyd]])
    * over a bounded content-ordered sample of `vecs(vecCol)`
    * ([[deterministicSample]], L2-normalized first when `normalize`).
    * The sample holds 256·nlist rows (the public FAISS training
    * guidance), floored at 2048 and capped at 2^20. A driver fit
    * schedules no per-iteration cluster jobs; the MLlib fit it replaced
    * was 2–3 s of fixed job overhead per cold build at sf0.1 and ~94% of
    * the 2M-vector build wall (BASELINE.md round 16). Same content, same
    * centroids, under any physical layout. Centroids steer only layout
    * and recall: a probe with nprobe = nlist is exact under any
    * centroids, and production-nprobe recall is pinned in the specs. */
  def fit(vecs: DataFrame, vecCol: String, nlist: Int, seed: Long,
      normalize: Boolean): Quantizer = {
    val cap = math.min(1L << 20, math.max(2048L, 256L * nlist)).toInt
    Quantizer(lloyd(deterministicSample(vecs, vecCol, cap, normalize),
      nlist, seed))
  }

  /** The quantizer of a bounded (cell, centroid) frame: ≤ 4096 rows
    * collected driver-side, cells required contiguous 0..n−1 (every
    * build writes them that way). */
  def fromFrame(centroids: DataFrame): Quantizer = {
    val rows = centroids.select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty, "empty centroid frame")
    require(rows.head._1 == 0 && rows.last._1 == rows.length - 1,
      s"centroid cells must be contiguous 0..n-1, got " +
        s"${rows.head._1}..${rows.last._1} over ${rows.length} rows")
    Quantizer(rows.map(_._2))
  }

  /** The one training sample of every quantizer fit (IVF, PQ, OPQ,
    * SQ8): the top-`sampleN` rows of `vecCol` ranked by a hash of the
    * (optionally L2-normalized) vector itself, the vector breaking hash
    * ties. A bare `.limit(N)` depends on partition order, so the same
    * corpus under another file layout would train another codebook;
    * the hash-ranked pick is identical under any layout and plans as
    * one narrow TakeOrderedAndProject.
    *
    * Input contract: a null vector is dropped (assignment drops it too,
    * [[SegmentedIndex.assignWith]]); a sampled vector with a NaN or
    * infinite component is refused with an `IllegalArgumentException`
    * naming the column and the value. */
  def deterministicSample(corpus: DataFrame, vecCol: String, sampleN: Int,
      normalize: Boolean): Array[Array[Float]] = {
    val raw = col(vecCol)
    // ‖v‖² is NaN or +Inf exactly when a component is: one codegen'd dot
    // (the one normalize computes) flags the row, and only a flagged row
    // carries its raw vector to the driver
    val sq = VectorFunctions.dotProduct(raw, raw)
    corpus.filter(raw.isNotNull)
      .select((if (normalize) Embeddings.normalize(raw) else raw).as("v"),
        when(isnan(sq) || sq === Double.PositiveInfinity, raw).as("bad"))
      .orderBy(xxhash64(col("v")), col("v"))
      .limit(sampleN)
      .collect().map { r =>
        if (!r.isNullAt(1)) r.getSeq[Float](1)
          .find(x => x.isNaN || x.isInfinite).foreach { x =>
            throw new IllegalArgumentException(
              s"vector column `$vecCol` holds a non-finite component $x")
          }
        r.getSeq[Float](0).toArray
      }
  }

  /** Driver-side Lloyd's k-means with restarts: `nRedo` independent
    * (seeded k-means++ init → Lloyd to convergence) runs, keeping the
    * lowest-SSE fit — the FAISS `nredo` practice; a single k-means++
    * start can land in a noticeably worse local optimum than MLlib's
    * multi-candidate kmeans|| init did (measured: SemDeDup recall 0.38
    * vs ≥ 0.5 on the 500-vector spec corpus at one restart).
    * Deterministic for a fixed (sample order, k, seed). */
  def lloyd(sample: Array[Array[Float]], k: Int,
      seed: Long, maxIter: Int = 10, nRedo: Int = 3): Array[Array[Float]] = {
    var best: Array[Array[Float]] = null
    var bestSse = Double.PositiveInfinity
    var r = 0
    while (r < nRedo) {
      val (cents, sse) = lloydOnce(sample, k, seed + 7919L * r, maxIter)
      if (sse < bestSse) { bestSse = sse; best = cents }
      r += 1
    }
    best
  }

  /** One (k-means++ init → Lloyd) run; returns (centroids, SSE of the
    * final assignment). ≤ `maxIter` assignment/update rounds with early
    * exit once no assignment moves. Deterministic for a fixed (sample
    * order, k, seed): the assignment pass parallelizes over FIXED
    * 16384-row chunks whose partial sums merge in chunk-index order, so
    * thread scheduling cannot reorder FP accumulation. Returns exactly
    * `k` float32 centroids: a sample with fewer than `k` distinct rows
    * pads the init deterministically, and an empty cell keeps its
    * previous position. */
  private def lloydOnce(sample: Array[Array[Float]], k: Int,
      seed: Long, maxIter: Int): (Array[Array[Float]], Double) = {
    require(sample.nonEmpty, "empty quantizer training sample")
    require(k > 0, s"k must be positive: $k")
    val n = sample.length
    val dims = sample(0).length
    val cents = Array.ofDim[Double](k, dims)
    def d2(row: Array[Float], c: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < dims) { val x = row(i) - c(i); d += x * x; i += 1 }
      d
    }
    // seeded k-means++ (Arthur & Vassilvitskii 2007, public): first
    // center uniform, each next ∝ current squared distance — one pass
    // per center, k·n·dims total (≈ one Lloyd iteration)
    val rnd = new java.util.Random(seed)
    val first = sample(rnd.nextInt(n))
    var j = 0
    while (j < dims) { cents(0)(j) = first(j); j += 1 }
    val minD = new Array[Double](n)
    var i = 0
    while (i < n) { minD(i) = d2(sample(i), cents(0)); i += 1 }
    var cIdx = 1
    while (cIdx < k) {
      var total = 0.0
      i = 0
      while (i < n) { total += minD(i); i += 1 }
      val pick =
        if (total <= 0.0) sample(cIdx % n) // < k distinct rows: pad
        else {
          val r = rnd.nextDouble() * total
          var acc = 0.0; var p = n - 1; var q = 0
          var found = false
          while (q < n && !found) {
            acc += minD(q)
            if (acc >= r) { p = q; found = true }
            q += 1
          }
          sample(p)
        }
      j = 0
      while (j < dims) { cents(cIdx)(j) = pick(j); j += 1 }
      if (total > 0.0) {
        i = 0
        while (i < n) {
          val d = d2(sample(i), cents(cIdx))
          if (d < minD(i)) minD(i) = d
          i += 1
        }
      }
      cIdx += 1
    }
    val assign = new Array[Int](n)
    java.util.Arrays.fill(assign, -1)
    val chunk = 16384
    val nChunks = (n + chunk - 1) / chunk
    var it = 0
    var changedAny = true
    var sse = Double.PositiveInfinity
    while (it < maxIter && changedAny) {
      val partSums = new Array[Array[Double]](nChunks)
      val partCounts = new Array[Array[Long]](nChunks)
      val partChanged = new Array[Int](nChunks)
      val partSse = new Array[Double](nChunks)
      def doChunk(ci: Int): Unit = {
        val lo = ci * chunk
        val hi = math.min(n, lo + chunk)
        val sums = new Array[Double](k * dims)
        val counts = new Array[Long](k)
        var changed = 0
        var se = 0.0
        var r = lo
        while (r < hi) {
          val row = sample(r)
          var best = 0
          var bestD = d2(row, cents(0))
          var c = 1
          while (c < k) {
            val d = d2(row, cents(c))
            if (d < bestD) { bestD = d; best = c } // ties → lowest cell
            c += 1
          }
          if (assign(r) != best) { assign(r) = best; changed += 1 }
          counts(best) += 1
          se += bestD
          val off = best * dims
          var x = 0
          while (x < dims) { sums(off + x) += row(x); x += 1 }
          r += 1
        }
        partSums(ci) = sums
        partCounts(ci) = counts
        partChanged(ci) = changed
        partSse(ci) = se
      }
      if (nChunks == 1) doChunk(0)
      else java.util.stream.IntStream.range(0, nChunks).parallel()
        .forEach(ci => doChunk(ci))
      val sums = new Array[Double](k * dims)
      val counts = new Array[Long](k)
      var changed = 0
      var ci = 0
      sse = 0.0
      while (ci < nChunks) {
        val s = partSums(ci)
        val c2 = partCounts(ci)
        var x = 0
        while (x < k * dims) { sums(x) += s(x); x += 1 }
        var c = 0
        while (c < k) { counts(c) += c2(c); c += 1 }
        changed += partChanged(ci)
        sse += partSse(ci)
        ci += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var x = 0
          while (x < dims) {
            cents(c)(x) = sums(c * dims + x) / counts(c)
            x += 1
          }
        }
        c += 1
      }
      changedAny = changed > 0
      it += 1
    }
    (Array.tabulate(k)(c => Array.tabulate(dims)(x => cents(c)(x).toFloat)),
      sse)
  }
}
