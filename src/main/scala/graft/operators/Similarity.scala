package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TopKAgg, VectorFunctions}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: queries are the SMALL side — always broadcast; the
  * corpus is scanned exactly once (brute force) or pre-bucketed (LSH).
  * Ranking is a TWO-STAGE exact top-k (see [[topKRank]]): a bounded-heap
  * aggregate prunes to k rows per (query, partition) map-side, so no
  * single task ever ranks |corpus| rows and the rank shuffle moves
  * k·partitions rows per query instead of the scored corpus.
  *
  *  - bruteForceTopK: exact. One corpus scan × |Q| cosine evals, all
  *    inside whole-stage codegen via the native CosineSim expression.
  *  - lshTopK: sign-projection-LSH bucketed. Corpus bucketed once (can be
  *    persisted/bucketed-by in storage at scale); each query probes its
  *    own bucket plus all buckets within hamming ≤ `probeHamming` of its
  *    signature (multi-probe trades compute for recall).
  */
object Similarity {

  /** Order-independent bounded training sample: rank rows by a hash of
    * the vector itself and take the top-N. A bare `.limit(N)` is
    * partition-order dependent — the same corpus written with a
    * different file layout (or read on a different cluster layout)
    * trains a DIFFERENT codebook, so two builds of "the same" index
    * disagree. Hash-ranked top-N returns the identical sample for any
    * physical layout; `orderBy(...).limit(n)` plans as
    * TakeOrderedAndProject (per-partition heap + driver merge — one
    * narrow pass at train time only, no full sort shuffle). The vector
    * column is the tiebreak for (astronomically rare) hash collisions
    * at the boundary, making the pick fully deterministic.
    */
  private[operators] def deterministicSample(corpus: DataFrame,
      vexpr: org.apache.spark.sql.Column, sampleN: Int): Array[Array[Float]] =
    corpus.select(vexpr.as("v"))
      .orderBy(xxhash64(col("v")), col("v"))
      .limit(sampleN)
      .collect().map(_.getSeq[Float](0).toArray)

  /** Fit the coarse quantizer: a DRIVER-SIDE Lloyd's k-means over a
    * bounded content-ordered sample of `vecs(vecCol)`, computed from
    * the input on every call. The former MLlib fit scheduled
    * ~(kmeans|| init rounds + 10 Lloyd iterations) of cluster jobs over
    * a ≤ 256·k-row sample: pure fixed job overhead (guide §1.2 / §5
    * driver rules) — measured 2–3 s of every cold index build at sf0.1
    * and ~94% of the 2M-vector build wall (BASELINE.md round 16). The
    * sample is content-hash-ordered ([[deterministicSample]]) so the
    * same content fits the same centroids under ANY physical layout,
    * and the fit is deterministic end-to-end (seeded k-means++ init
    * over that order, fixed-chunk FP reduction in [[lloyd]]). Nothing
    * is cached: a cache keyed on the plan identifies a file scan by its
    * path, not its content, and the fit costs one sample pass anyway.
    * Centroids steer only layout/recall: every declared gate probes
    * nprobe = nlist / reranks ≥ corpus, which is provably exact under
    * any centroids; production-nprobe recall is pinned in the specs.
    * The sample holds 256·k rows (the public FAISS training guidance),
    * floored at 2048 and capped at 2^20. */
  private[graft] def fitQuantizer(vecs: DataFrame, vecCol: String,
      nlist: Int, seed: Long): Array[Array[Float]] = {
    val cap = math.min(1L << 20, math.max(2048L, 256L * nlist)).toInt
    lloyd(deterministicSample(vecs, col(vecCol), cap), nlist, seed)
  }

  /** Driver-side Lloyd's k-means with restarts: `nRedo` independent
    * (seeded k-means++ init → Lloyd to convergence) runs, keeping the
    * lowest-SSE fit — the FAISS `nredo` practice; a single k-means++
    * start can land in a noticeably worse local optimum than MLlib's
    * multi-candidate kmeans|| init did (measured: SemDeDup recall 0.38
    * vs ≥ 0.5 on the 500-vector spec corpus at one restart).
    * Deterministic for a fixed (sample order, k, seed). */
  private[graft] def lloyd(sample: Array[Array[Float]], k: Int,
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

  /** Exact per-query top-k over a scored frame (qid, id, scoreCol).
    *
    * Stage 1 is the map side of the TopKByScore aggregate: each input
    * partition reduces to ≤k entries per qid before the exchange.
    * Stage 2 merges the per-partition heaps and emits rank 1..k with
    * the same ordering as
    * `row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC)`
    * — bit-identical output to the single-stage window, minus its
    * one-task-per-query scale ceiling.
    */
  private[graft] def topKRank(scored: DataFrame, k: Int,
      scoreCol: String): DataFrame =
    scored.groupBy(col("qid"))
      .agg(TopKAgg.topKByScore(col(scoreCol), col("id"), k).as("topk"))
      .select(col("qid"), explode(col("topk")).as("e"))
      .select(col("qid"), col("e.id").as("id"),
        col("e.score").as(scoreCol), col("e.rank").as("rank"))

  /** Exact cosine top-k. corpus(idCol, vecCol), queries(qidCol, vecCol) →
    * (qid, id, cosine, rank ≤ k).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("cvec"), col("qvec")).as("cosine"))
      .filter(col("qid") =!= col("id"))
    topKRank(scored, k, "cosine")
  }

  /** LSH-bucketed ANN top-k with multi-probe. Same output shape as
    * bruteForceTopK; approximate (recall measured in tests).
    *
    * Buckets come from the Rademacher sign-projection signature —
    * exact integer arithmetic end-to-end, so the candidate set is
    * deterministic under any partitioning AND recomputable by an
    * external SQL engine: the gate checks the full (qid, id, rank)
    * output against a DuckDB re-derivation of the same buckets.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
      numPlanes: Int = 12, probeHamming: Int = 1, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid"): DataFrame = {
    val sig = (v: org.apache.spark.sql.Column) =>
      VectorFunctions.rademacherSig(v, numPlanes, dims, seed)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"),
      sig(col(vecCol)).as("bucket"))

    // multi-probe: each query expands to its signature + all signatures
    // within hamming <= probeHamming (numPlanes choose <=h buckets)
    val flips: Seq[Long] = hammingFlips(numPlanes, probeHamming)
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"),
        sig(col(vecCol)).as("qsig"))
      .withColumn("flip", explode(lit(flips.toArray)))
      .select(col("qid"), col("qvec"),
        col("qsig").bitwiseXOR(col("flip")).as("bucket"))

    val scored = c.join(broadcast(q), Seq("bucket"))
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("cvec"), col("qvec")).as("cosine"))
      .filter(col("qid") =!= col("id"))
      .groupBy("qid", "id").agg(max("cosine").as("cosine")) // dedupe probes
    topKRank(scored, k, "cosine")
  }

  /** kNN JOIN: top-k nearest corpus vectors for EVERY probe row — the
    * kNN-graph / SemDeDup-prep / diversity-sampling workload where the
    * probe set is the corpus itself (or another large table) and
    * nothing can broadcast. Same integer-exact Rademacher buckets as
    * [[lshTopK]], with the two changes a non-broadcastable probe side
    * forces:
    *  - the bucket match is a SHUFFLE equi-join, not `broadcast(q)`;
    *  - candidate generation moves only (qid, bucket) / (id, bucket) —
    *    vectors join back AFTER candidates are deduped (the
    *    slim-candidates split the banded dedup uses), so the probe
    *    multi-probe expansion (×flips) never multiplies vector bytes
    *    on the wide shuffle. Cross-band dedup is a shuffle-free
    *    min-band filter (each pair survives only in its FIRST colliding
    *    band), not a corpus-wide distinct — see the inline comment.
    *
    * `numPlanes` defaults to AUTO (≤ 0: [[Dedup.scaledPlanes]] over the
    * corpus count): total candidate mass is ~|probes|·flips·n/2^planes
    * — quadratic in n at a FIXED plane count when probes ≈ corpus, the
    * same footgun the banded dedup's auto default exists for. Explicit
    * planes remain for replicable-signature gates.
    *
    * `numBands` is the RECALL knob (≤ 0 = auto). One sign signature is
    * an AND over `planes` bits, so a true neighbor's match probability
    * decays exponentially as the occupancy rule grows planes with the
    * corpus — measured per-band recall 0.207 / 0.080 / 0.045 at
    * 2k/20k/200k (BASELINE.md round-11). Banding is the standard OR
    * repair (MMDS ch.3): `b` independent signatures (seed + band·7919,
    * the [[Dedup.embeddingNearDupPairs]] convention) make recall
    * 1-(1-p)^b at b× candidate mass — 16 bands lifts those same
    * corpora to ~0.97 / 0.74 / 0.52. Auto = 16 when planes are auto
    * too; an EXPLICIT plane count keeps the single-band construction
    * (replicable-signature gates pin bands=1 semantics by passing
    * planes).
    *
    * Probe rows whose `qidCol` equals a corpus `idCol` value are
    * treated as the same vector (self-match excluded) — the self-join
    * convention shared with [[lshTopK]]/[[bruteForceTopK]].
    */
  def knnJoin(corpus: DataFrame, probes: DataFrame, k: Int, dims: Int,
      numPlanes: Int = 0, probeHamming: Int = 1, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", knownCount: Long = -1L,
      numBands: Int = 0): DataFrame = {
    // knownCount: skip the auto-planes count job when the caller
    // already has the corpus row count (catalog stats are free at
    // scale; a second scan of the corpus isn't)
    val planes =
      if (numPlanes > 0) numPlanes
      else Dedup.scaledPlanes(
        if (knownCount >= 0) knownCount
        else corpus.select(col(idCol)).count())
    val bands =
      if (numBands > 0) numBands
      else if (numPlanes > 0) 1
      else 16
    // candidate generation moves ONLY (band, bucket, id) rows — the
    // band explode multiplies slim rows, never vector bytes.
    //
    // Cross-band dedup is a MIN-BAND FILTER, not a distinct: within a
    // band each pair matches at most one flip (the flip is forced to
    // qsig XOR csig), so duplicates arise only across bands, and a pair
    // colliding in band b is kept exactly when no band b' < b collided.
    // Each exploded row therefore carries the PREFIX of its side's band
    // signatures (bands 0..band-1; band 0 carries none, avg (bands-1)/2
    // longs) and a codegen'd per-row kernel (AnyBandCollides) drops the
    // later-band copies locally. The former `.distinct()` over the full
    // candidate set was the single largest stage of the banded join —
    // a double hash aggregate + exchange over ~|probes|·flips·bands·
    // occupancy rows (~1e9 at 200k probes × 16 bands) — and is now zero
    // shuffles (BASELINE.md round-12 kNN table).
    val bandSig = (v: org.apache.spark.sql.Column, bnd: Int) =>
      VectorFunctions.rademacherSig(v, planes, dims, seed + bnd * 7919L)
    val withPrefix = bands > 1
    // one struct per band: (band, that band's signature, the prefix of
    // earlier-band signatures when bands > 1)
    def bandStructs(sigs: org.apache.spark.sql.Column) =
      array((0 until bands).map { bnd =>
        if (withPrefix)
          struct(lit(bnd).as("band"), sigs(bnd).as("sig"),
            slice(sigs, 1, bnd).as("prefix"))
        else struct(lit(bnd).as("band"), sigs(bnd).as("sig"))
      }: _*)
    def explodeBands(df: DataFrame, keyIn: String, keyOut: String,
        prefixOut: String): DataFrame = {
      val base = df
        .select(col(keyIn).as(keyOut),
          array((0 until bands).map(bnd => bandSig(col(vecCol), bnd)): _*)
            .as("sigs"))
        .select(col(keyOut), explode(bandStructs(col("sigs"))).as("bb"))
      val cols = Seq(col(keyOut), col("bb.band").as("band"),
        col("bb.sig").as("sig")) ++
        (if (withPrefix) Seq(col("bb.prefix").as(prefixOut)) else Nil)
      base.select(cols: _*)
    }
    val cb = explodeBands(corpus, idCol, "id", "cprefix")
      .withColumnRenamed("sig", "bucket")
    // the min-band filter and the flip enumeration must agree on ONE
    // probe radius: hammingFlips enumerates up to popcount 2, so a
    // probeHamming ≥ 3 would make AnyBandCollides treat a hamming-3
    // earlier band as a collision the join never produced — silently
    // dropping valid pairs. Clamp once, use everywhere.
    val effHamming = math.min(probeHamming, 2)
    val flips: Seq[Long] = hammingFlips(planes, effHamming)
    val qbCols = Seq(col("qid"), col("band"),
      col("sig").bitwiseXOR(col("flip")).as("bucket")) ++
      (if (withPrefix) Seq(col("qprefix")) else Nil)
    val qb = explodeBands(probes, qidCol, "qid", "qprefix")
      .withColumn("flip", explode(lit(flips.toArray)))
      .select(qbCols: _*)
    // the bucket match is pinned SHUFFLE HASH: parquet-scan → explode
    // chains make Catalyst underestimate both exploded sides (Generate
    // keeps the child's size estimate), so the planner would otherwise
    // try to BROADCAST the probe side — |probes|·bands·flips rows,
    // measured 8.5 GiB at the 200k decade, i.e. a driver OOM at any
    // real scale. Neither side of this join is ever broadcastable by
    // this operator's contract; hash (not sort-merge) because the
    // corpus side builds a small per-partition table and neither side
    // benefits from a sort.
    val joined = cb.hint("shuffle_hash").join(qb, Seq("band", "bucket"))
      .filter(col("qid") =!= col("id"))
    val cand = (if (withPrefix)
        joined.filter(!VectorFunctions.anyBandCollides(
          col("qprefix"), col("cprefix"), effHamming))
      else joined)
      .select(col("qid"), col("id"))
    val cv = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
    val qv = probes.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    val scored = cand.join(cv, "id").join(qv, "qid")
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("cvec"), col("qvec")).as("cosine"))
    topKRank(scored, k, "cosine")
  }

  /** IVF kNN JOIN: top-k nearest corpus vectors for every probe row via
    * an inverted-file coarse quantizer — the [[knnJoin]] workload (probe
    * set too large to broadcast) through the [[ivfTopK]] index shape.
    * On clustered corpora IVF beats sign-LSH's recall-per-candidate
    * (cells follow the data's density; hyperplanes don't), and its
    * candidate mass is exactly `nprobe/nlist` of the corpus per probe —
    * no banding multiplier. Measured head-to-head with the banded LSH
    * join in BASELINE.md round-11.
    *
    * Scale shape: centroids broadcast (nlist ≤ 4096 × dims floats); the
    * per-probe cell ranking reduces |probes|·nlist slim (qid, cell,
    * score) rows through the bounded-heap [[topKRank]] aggregate (no
    * per-qid window task ceiling); the candidate equi-join on `cell`
    * moves only id/qid pairs and each corpus vector lives in exactly
    * ONE cell, so candidates need no dedup; vectors join back by key
    * for the exact cosine, once per candidate.
    *
    * `nlist` ≤ 0 derives √n (the per-cell-occupancy rule, capped at
    * 4096); `nprobe = nlist` probes every cell, which makes the result
    * PROVABLY equal to brute force (the gate configuration — same
    * argument as sim_topk_ivf's oracle).
    */
  def knnJoinIvf(corpus: DataFrame, probes: DataFrame, k: Int,
      nlist: Int = 0, nprobe: Int = 8, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", knownCount: Long = -1L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cells =
      if (nlist > 0) nlist
      else {
        val n = if (knownCount >= 0) knownCount
          else corpus.select(col(idCol)).count()
        math.min(4096, math.max(8, math.sqrt(n.toDouble).toInt))
      }
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
    // driver-side Lloyd fit (see fitQuantizer); corpus assignment is the
    // NearestCell kernel — argmin L2 over the plan-embedded centroid
    // matrix, one narrow pass, no MLlib transform job
    val cents = fitQuantizer(c.select(col("cvec")), "cvec", cells, seed)
    val cflat = cents.flatten.toSeq
    val assigned = c.select(col("id"),
      VectorFunctions.nearestCell(col("cvec"), cflat, cents.length,
        cents(0).length).cast("long").as("cell"))
    val centroids = cents.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("cell", "centroid")
    // nprobe nearest cells per probe, via the map-side-combine top-k
    // aggregate over slim rows (a per-qid row_number window would put
    // one task per qid on the table — the ceiling topKRank exists for).
    // DELIBERATELY kept on the exchange path rather than the
    // NearestCellsCosine kernel: this operator's candidate join streams
    // probeCells (the corpus side broadcasts when small / can't
    // broadcast at scale), so the rank exchange is what WIDTHS the
    // downstream cosine-verify stage — the r16 kernel variant collapsed
    // the 4M-candidate verify onto the probe scan's partition count
    // (2.1 s → 2.9 s warm). Re-attempted in r17 per the VERDICT with an
    // explicit repartition restoring the width (same-JVM 3-way A/B at
    // 32c, recorded in OPTIMIZATION_r17.md): exchange 2.0–2.7 s vs
    // kernel+repartition(qid) 3.3–3.6 s vs
    // kernel+repartition(defaultParallelism, qid) 3.3–3.8 s — the
    // explicit exchange costs the same as the rank exchange it
    // replaces while losing the aggregate's output statistics, so the
    // exchange path stays.
    val q = probes.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    val cellScores = q.crossJoin(broadcast(centroids))
      .select(col("qid"), col("cell").as("id"),
        VectorFunctions.cosineSim(col("qvec"), col("centroid")).as("ccos"))
    val probeCells = topKRank(cellScores, math.min(nprobe, cells), "ccos")
      .select(col("qid"), col("id").as("cell"))
    val cand = assigned.join(probeCells, Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"))
    val cv = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
    val qv = probes.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    val scored = cand.join(cv, "id").join(qv, "qid")
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("cvec"), col("qvec")).as("cosine"))
    topKRank(scored, k, "cosine")
  }

  /** XOR masks enumerating all signatures within hamming distance
    * `probeHamming` of a base signature (identity mask included). */
  private[graft] def hammingFlips(numPlanes: Int,
      probeHamming: Int): Seq[Long] = {
    val singles = (0 until numPlanes).map(1L << _)
    val base = Seq(0L)
    if (probeHamming <= 0) base
    else if (probeHamming == 1) base ++ singles
    else base ++ singles ++ (for {
      i <- 0 until numPlanes; j <- (i + 1) until numPlanes
    } yield (1L << i) | (1L << j))
  }

  /** Persist the corpus as an on-disk ANN index PARTITIONED BY sign
    * bucket — the storage half of the 100-TB LSH shape: at scale the
    * bucketed corpus is written once and every probe afterwards prunes
    * whole directories at scan time instead of scanning the corpus.
    * Bucket = the same exact-integer Rademacher signature
    * [[lshTopK]] buckets by, so [[probeSignIndex]] over this layout is
    * result-identical to the in-memory join.
    *
    * The corpus is hash-repartitioned ON the bucket before the
    * partitioned write: without it every input task writes a sliver of
    * every bucket directory (tasks × 2^planes tiny files — measured 5×
    * the write cost at 256 buckets), with it each bucket's rows land in
    * exactly one task so the file count is O(buckets). Same shuffle a
    * 1000-executor write wants: one exchange, then directory-local
    * sequential writes.
    *
    * `numPlanes` ≤ 0 derives the occupancy-scaled count
    * ([[Dedup.scaledPlanes]] over the corpus size — `knownCount` skips
    * the count job): a FIXED plane count tuned at one corpus size goes
    * quadratic a decade later (measured: the 6-plane index at 180k
    * vectors has 2,800-vector buckets, and a 20k-row batch probe costs
    * 89 s of cosine verification — BASELINE.md round-11). The planes /
    * dims / seed actually used are recorded in a `_graft_sign_meta.json`
    * sidecar, which [[probeSignIndex]] and
    * [[Dedup.incrementalNewNearDupEmbedDisk]] read back when THEIR
    * `numPlanes` is left ≤ 0 — the probe side must match the write side
    * bit-for-bit, so the index carries its own configuration the way
    * any real index format does.
    */
  def writeSignIndex(corpus: DataFrame, path: String, dims: Int,
      numPlanes: Int = 8, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Long = -1L): Unit = {
    val planes =
      if (numPlanes > 0) numPlanes
      else Dedup.scaledPlanes(
        if (knownCount >= 0) knownCount
        else corpus.select(col(idCol)).count())
    corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        VectorFunctions.rademacherSig(col(vecCol), planes, dims, seed)
          .as("bucket"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    IndexVersions.writeText(corpus.sparkSession, path, SignMetaFile,
      s"""{"planes":$planes,"dims":$dims,"seed":$seed}""")
  }

  private val SignMetaFile = "_graft_sign_meta.json"

  /** The (planes, dims, seed) a [[writeSignIndex]] layout was written
    * with, from its sidecar — None for pre-sidecar indexes. `path` is
    * the index ROOT: a compacted index resolves through its version
    * pointer ([[IndexVersions]]) to the committed generation's sidecar.
    */
  def signIndexMeta(spark: SparkSession,
      path: String): Option[(Int, Int, Long)] =
    IndexVersions.readText(spark, IndexVersions.resolvePath(spark, path),
        SignMetaFile).flatMap { txt =>
      val re = """"planes":(\d+),"dims":(\d+),"seed":(-?\d+)""".r
      re.findFirstMatchIn(txt).map(m =>
        (m.group(1).toInt, m.group(2).toInt, m.group(3).toLong))
    }

  /** Resolve the plane count for probing `path`: an explicit value wins
    * (and is validated against the sidecar when one exists — a
    * mismatched probe returns silently-wrong empty joins, the worst
    * failure mode an index can have); ≤ 0 requires the sidecar.
    */
  private[operators] def resolveSignPlanes(spark: SparkSession,
      path: String, numPlanes: Int, dims: Int, seed: Long): Int = {
    val meta = signIndexMeta(spark, path)
    meta.foreach { case (mp, md, ms) =>
      require(md == dims && ms == seed,
        s"sign index at $path was written with dims=$md seed=$ms; " +
          s"probe called with dims=$dims seed=$seed")
      if (numPlanes > 0) require(mp == numPlanes,
        s"sign index at $path was written with $mp planes; " +
          s"probe called with $numPlanes")
    }
    if (numPlanes > 0) numPlanes
    else meta.map(_._1).getOrElse(throw new IllegalArgumentException(
      s"no $SignMetaFile under $path — pass numPlanes explicitly"))
  }

  /** Multi-probe ANN top-k over a [[writeSignIndex]] layout. The probe
    * bucket set (|queries| × (1 + p + p(p−1)/2) longs, queries are
    * small by the ANN contract) is collected to a LITERAL IN-filter so
    * Catalyst prunes index directories at scan time — the scan reads
    * nprobe/2^p of the corpus, which is the property that survives a
    * 1000-executor scale-up. A query set large enough to probe more
    * than `maxBucketLiterals` (default 1024) distinct buckets skips the
    * filter instead of building an unbounded IN-list + driver
    * round-trip (the [[Dedup.incrementalNewNearDupEmbedDisk]] cap — at
    * that occupancy pruning buys nothing anyway). Scoring/dedup/rank
    * semantics are exactly [[lshTopK]]'s.
    */
  def probeSignIndex(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, dims: Int, numPlanes: Int = 0,
      probeHamming: Int = 1, seed: Long = 42L,
      qidCol: String = "qid", vecCol: String = "embedding",
      maxBucketLiterals: Int = 1024): DataFrame = {
    require(maxBucketLiterals >= 0, s"maxBucketLiterals: $maxBucketLiterals")
    val planes = resolveSignPlanes(spark, path, numPlanes, dims, seed)
    val flips = hammingFlips(planes, probeHamming)
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"),
        VectorFunctions.rademacherSig(col(vecCol), planes, dims, seed)
          .as("qsig"))
      .withColumn("flip", explode(lit(flips.toArray)))
      .select(col("qid"), col("qvec"),
        col("qsig").bitwiseXOR(col("flip")).as("bucket"))
    // bounded collect: distinct probe buckets, CAPPED — limit(cap+1)
    // bounds the driver materialization no matter how large the query
    // set is; past the cap the unpruned scan wins anyway
    val maxLits = maxBucketLiterals
    val buckets = q.select("bucket").distinct().limit(maxLits + 1)
      .collect().map(_.getLong(0))
    // read the COMMITTED generation: a compacted index resolves through
    // its version pointer, a legacy flat layout through itself
    val raw = spark.read.parquet(IndexVersions.resolvePath(spark, path))
    val pruned =
      if (buckets.length <= maxLits) raw.filter(col("bucket").isin(buckets: _*))
      else raw
    val index = pruned
      // partition-dir values type-infer as INT when they fit; normalize
      // so the bucket join below needs no implicit cast
      .withColumn("bucket", col("bucket").cast("long"))
    val scored = index.join(broadcast(q), Seq("bucket"))
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("vec"), col("qvec")).as("cosine"))
      .filter(col("qid") =!= col("id"))
      .groupBy("qid", "id").agg(max("cosine").as("cosine"))
    topKRank(scored, k, "cosine")
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer over the corpus,
    * each query probes its `nprobe` nearest cells. The 100-TB shape: the
    * corpus is clustered ONCE (and would be written out partitioned by
    * cell — probing then prunes whole partitions at scan time); per-query
    * work is nprobe/nlist of the corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
    // driver-side Lloyd fit (see fitQuantizer); corpus assignment is the
    // NearestCell kernel (argmin L2, ties to the lowest cell) — one
    // narrow pass, no MLlib transform job
    val cents = fitQuantizer(c.select(col("cvec")), "cvec", nlist, seed)
    val cflat = cents.flatten.toSeq
    val ncells = cents.length
    val dims = cents(0).length
    val assigned = c.select(col("id"), col("cvec"),
      VectorFunctions.nearestCell(col("cvec"), cflat, ncells, dims)
        .as("cell"))

    // each query → nprobe nearest cells by cosine to the centroid, as
    // ONE narrow kernel pass over the plan-embedded centroid matrix
    // (ordering identical to the former per-query row_number window:
    // cosine desc, cell asc) — the query side never shuffles
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    val probes = q.select(col("qid"), col("qvec"),
      explode(VectorFunctions.nearestCellsCosine(col("qvec"), cflat,
        ncells, dims, math.min(nprobe, ncells))).as("cell"))

    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("cvec"), col("qvec")).as("cosine"))
      .filter(col("qid") =!= col("id"))
    topKRank(scored, k, "cosine")
  }

  /** Scalar quantization (SQ8, the FAISS `SQ8` layout): one byte per
    * dimension with per-dimension (min, scale) learned from a sample.
    * Complements PQ: 4–8× compression with much lower distortion than
    * PQ at the same code budget when dims is small; encode/score are
    * single-pass codegen'd kernels. Same scan-codes → exact-rerank
    * plan shape as [[Pq]].
    */
  object Sq8 {

    /** Per-dimension (mins, scales) from a driver-side sample — scale
      * maps each dimension's sample range onto 0..255.
      */
    def train(corpus: DataFrame, dims: Int, sampleN: Int = 20000,
        vecCol: String = "embedding",
        preNormalized: Boolean = false): (Seq[Float], Seq[Float]) = {
      val vexpr =
        if (preNormalized) col(vecCol) else Embeddings.normalize(col(vecCol))
      val sample = deterministicSample(corpus, vexpr, sampleN)
      val mins = Array.fill(dims)(Float.MaxValue)
      val maxs = Array.fill(dims)(Float.MinValue)
      sample.foreach { v =>
        var i = 0
        while (i < dims) {
          if (v(i) < mins(i)) mins(i) = v(i)
          if (v(i) > maxs(i)) maxs(i) = v(i)
          i += 1
        }
      }
      val scales = Array.tabulate(dims)(i =>
        if (maxs(i) > mins(i)) (maxs(i) - mins(i)) / 255f else 0f)
      (mins.toSeq, scales.toSeq)
    }

    /** SQ8 top-k: compressed-domain approximate scan over byte codes,
      * exact cosine rerank of the top-`rerank` candidates per query.
      */
    def topK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
        rerank: Int = 100,
        idCol: String = "vec_id", vecCol: String = "embedding",
        qidCol: String = "qid"): DataFrame = {
      val (mins, scales) = train(corpus, dims, vecCol = vecCol)
      val encoded = corpus.select(col(idCol).as("id"),
        VectorFunctions.sq8Encode(
          Embeddings.normalize(col(vecCol)), mins, scales).as("codes"))
      val q = queries.select(col(qidCol).as("qid"),
        Embeddings.normalize(col(vecCol)).as("qn"))
      val approx = encoded.crossJoin(broadcast(q))
        .select(col("qid"), col("id"),
          VectorFunctions.sq8Dot(col("codes"), col("qn"), mins, scales)
            .as("adot"))
        .filter(col("qid") =!= col("id"))
      val cands = topKRank(approx, rerank, "adot").select(col("qid"), col("id"))
      val cvecs = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
      val scored = cands
        .join(cvecs, "id")
        .join(broadcast(queries.select(col(qidCol).as("qid"),
          col(vecCol).as("qv2"))), "qid")
        .select(col("qid"), col("id"),
          VectorFunctions.cosineSim(col("cvec"), col("qv2")).as("cosine"))
      topKRank(scored, k, "cosine")
    }
  }

  /** Product quantization (Jégou et al., TPAMI 2011): each vector is
    * compressed to `m` sub-codebook indices; a query scores the whole
    * corpus from its ADC lookup table — `m` table adds per row instead
    * of `dims` multiplies, over a codes table that is dims*4/m bytes
    * smaller than the raw vectors.
    *
    * 100 TB shape: train once on a sample (quantizer training on a
    * bounded sample is the standard practice — the codebook is a few KB
    * broadcast with the plan); encode in one codegen'd pass and persist
    * the codes table; per-query scan touches ONLY the codes (e.g. 8
    * bytes/vector at m=8 vs 256 bytes for float32×64) and the exact
    * rerank joins full vectors for `rerank` candidates per query only.
    * Vectors are L2-normalized before train/encode so the approximate
    * dot IS approximate cosine.
    */
  object Pq {

    /** Train per-subspace k-means (Lloyd's) on a driver-side sample of
      * the corpus; returns the flat [m][ksub][dsub] codebook.
      */
    def train(corpus: DataFrame, dims: Int, m: Int = 8, ksub: Int = 16,
        seed: Long = 42L, sampleN: Int = 20000,
        vecCol: String = "embedding", iters: Int = 12,
        preNormalized: Boolean = false): Array[Float] = {
      val vexpr =
        if (preNormalized) col(vecCol) else Embeddings.normalize(col(vecCol))
      val sample: Array[Array[Float]] =
        deterministicSample(corpus, vexpr, sampleN)
      fitCodebook(sample, dims, m, ksub, seed, iters)
    }

    /** Per-subspace k-means on an in-memory sample → flat
      * [m][ksub][dsub] codebook (driver-side; the sample is bounded):
      * one [[lloyd]] fit per subspace, seeded `seed + sub`.
      */
    private def fitCodebook(sample: Array[Array[Float]],
        dims: Int, m: Int, ksub: Int, seed: Long,
        iters: Int): Array[Float] = {
      require(dims % m == 0, s"dims=$dims not divisible by m=$m")
      val dsub = dims / m
      val codebook = new Array[Float](m * ksub * dsub)
      var sub = 0
      while (sub < m) {
        val lo = sub * dsub
        val cents = lloyd(sample.map(_.slice(lo, lo + dsub)), ksub,
          seed + sub, maxIter = iters)
        var c = 0
        while (c < ksub) {
          System.arraycopy(cents(c), 0, codebook, (sub * ksub + c) * dsub,
            dsub)
          c += 1
        }
        sub += 1
      }
      codebook
    }

    /** PQ-reconstruction of `v` under `cb` (nearest sub-centroid per
      * subspace) — used by OPQ training and quantization-error tests.
      */
    private[graft] def reconstruct(v: Array[Float], cb: Array[Float],
        dims: Int, m: Int, ksub: Int): Array[Float] = {
      val dsub = dims / m
      val out = new Array[Float](dims)
      var sub = 0
      while (sub < m) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < ksub) {
          val off = (sub * ksub + c) * dsub
          var d = 0.0; var i = 0
          while (i < dsub) {
            val diff = v(sub * dsub + i) - cb(off + i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        System.arraycopy(cb, (sub * ksub + best) * dsub, out, sub * dsub, dsub)
        sub += 1
      }
      out
    }

    /** OPQ (Ge et al., CVPR 2013, public): learn an orthonormal rotation
      * R minimizing PQ quantization error, by alternating (a) codebook
      * training on the rotated sample with (b) the orthogonal-Procrustes
      * update R = V·Uᵀ from SVD(Σ x·qᵀ) — PQ assumes subspaces are
      * independent; the rotation re-mixes correlated dimensions so the
      * same code budget quantizes tighter. Training is driver-side on a
      * bounded sample (like [[train]]); the learned R is a few KB
      * broadcast with the plan and applied per row by the native
      * RotateVec kernel. Returns (rotation row-major d×d, codebook).
      */
    def trainOpq(corpus: DataFrame, dims: Int, m: Int = 8, ksub: Int = 16,
        seed: Long = 42L, sampleN: Int = 20000,
        vecCol: String = "embedding", iters: Int = 12,
        opqIters: Int = 6): (Array[Float], Array[Float]) = {
      import breeze.linalg.{svd, DenseMatrix, DenseVector}
      val sample: Array[Array[Float]] = deterministicSample(corpus,
        Embeddings.normalize(col(vecCol)), sampleN)
      require(sample.nonEmpty, "empty training sample")
      var r = DenseMatrix.eye[Double](dims)
      def rotated(x: Array[Float]): Array[Float] = {
        val y = r * DenseVector(x.map(_.toDouble))
        y.toArray.map(_.toFloat)
      }
      var t = 0
      while (t < opqIters) {
        val y = sample.map(rotated)
        val cb = fitCodebook(y, dims, m, ksub, seed, iters)
        // Procrustes: maximize tr(R·M) with M = Σ x·qᵀ → R = V·Uᵀ
        val mMat = DenseMatrix.zeros[Double](dims, dims)
        var i = 0
        while (i < sample.length) {
          val q = reconstruct(y(i), cb, dims, m, ksub)
          val x = sample(i)
          var a = 0
          while (a < dims) {
            var b = 0
            while (b < dims) { mMat(a, b) += x(a) * q(b); b += 1 }
            a += 1
          }
          i += 1
        }
        val svd.SVD(u, _, vt) = svd(mMat)
        r = vt.t * u.t
        t += 1
      }
      // final codebook trained under the FINAL rotation
      val cbFinal = fitCodebook(sample.map(rotated), dims, m, ksub, seed, iters)
      val rFlat = new Array[Float](dims * dims)
      var a = 0
      while (a < dims) {
        var b = 0
        while (b < dims) { rFlat(a * dims + b) = r(a, b).toFloat; b += 1 }
        a += 1
      }
      (rFlat, cbFinal)
    }

    /** OPQ top-k: rotate (native RotateVec) then the same
      * compressed-domain ADC scan + exact rerank as [[topK]]. The exact
      * rerank uses the ORIGINAL vectors (rotation preserves cosine).
      */
    def opqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
        m: Int = 8, ksub: Int = 16, rerank: Int = 100, seed: Long = 42L,
        idCol: String = "vec_id", vecCol: String = "embedding",
        qidCol: String = "qid", opqIters: Int = 6): DataFrame = {
      val dsub = dims / m
      val (rot, cb0) = trainOpq(corpus, dims, m, ksub, seed,
        vecCol = vecCol, opqIters = opqIters)
      val cb = cb0.toSeq
      val prep = (c: org.apache.spark.sql.Column) =>
        VectorFunctions.rotateVec(Embeddings.normalize(c), rot.toSeq, dims)

      val encoded = corpus.select(col(idCol).as("id"),
        VectorFunctions.pqEncode(prep(col(vecCol)), cb, m, ksub, dsub).as("codes"))
      val q = queries.select(col(qidCol).as("qid"),
        VectorFunctions.pqLut(prep(col(vecCol)), cb, m, ksub, dsub).as("lut"))

      val approx = encoded.crossJoin(broadcast(q))
        .select(col("qid"), col("id"),
          VectorFunctions.pqAdc(col("codes"), col("lut"), ksub).as("adc"))
        .filter(col("qid") =!= col("id"))
      val cands = topKRank(approx, rerank, "adc").select(col("qid"), col("id"))

      val cvecs = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
      val scored = cands
        .join(cvecs, "id")
        .join(broadcast(queries.select(col(qidCol).as("qid"), col(vecCol).as("qv2"))), "qid")
        .select(col("qid"), col("id"),
          VectorFunctions.cosineSim(col("cvec"), col("qv2")).as("cosine"))
      topKRank(scored, k, "cosine")
    }

    /** IVF+PQ composition — the classic billion-vector layout: k-means
      * cells prune which corpus fraction each query touches (at scale:
      * partition pruning on a cell-partitioned codes table), and within
      * a cell the scan is compressed-domain ADC over PQ codes of the
      * RESIDUAL (v − centroid). Since dot(q,v) = dot(q,c) + dot(q,r),
      * the approximate score is the exact centroid dot plus the
      * residual ADC — residual PQ quantizes a much tighter distribution
      * than raw vectors, so the same code budget gives better recall.
      * Exact cosine rerank on `rerank` candidates per query.
      */
    def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
        nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
        rerank: Int = 100, seed: Long = 42L,
        idCol: String = "vec_id", vecCol: String = "embedding",
        qidCol: String = "qid"): DataFrame = {
      val dsub = dims / m
      val spark = corpus.sparkSession
      import spark.implicits._

      // 1. coarse quantizer over normalized vectors — driver-side Lloyd
      // fit (see fitQuantizer); assignment via the NearestCell kernel
      // (argmin L2, ties to the lowest cell), one narrow pass
      val cNorm = corpus.select(col(idCol).as("id"),
        Embeddings.normalize(col(vecCol)).as("nvec"), col(vecCol).as("cvec"))
      val cents = fitQuantizer(cNorm.select(col("nvec")), "nvec", nlist, seed)
      val cflat = cents.flatten.toSeq
      val ncells = cents.length
      val centroids = cents.zipWithIndex
        .map { case (v, i) => (i, v) }
        .toSeq.toDF("cell", "centroid")
      val assigned = cNorm.select(col("id"), col("nvec"), col("cvec"),
        VectorFunctions.nearestCell(col("nvec"), cflat, ncells, dims)
          .as("cell"))

      // 2. residuals (nvec - centroid) + PQ codebook trained on them
      val residual = org.apache.spark.sql.functions.zip_with(
        col("nvec"), col("centroid"), (a, b) => (a - b).cast("float"))
      val withRes = assigned.join(broadcast(centroids), Seq("cell"))
        .withColumn("res", residual)
      val cb = train(withRes, dims, m, ksub, seed, vecCol = "res",
        preNormalized = true).toSeq
      val encoded = withRes.select(col("id"), col("cell"),
        VectorFunctions.pqEncode(col("res"), cb, m, ksub, dsub).as("codes"))

      // 3. per-query: nprobe nearest cells by centroid dot + shared LUT
      // — cell pick as one narrow kernel pass over the plan-embedded
      // centroid matrix (ordering identical to the former per-query
      // row_number window: dot desc, cell asc); the broadcast join back
      // to centroids recomputes the exact qdotc the scoring needs
      val qn = queries.select(col(qidCol).as("qid"),
        Embeddings.normalize(col(vecCol)).as("qn"), col(vecCol).as("qvec"))
      val probes = qn.select(col("qid"), col("qn"),
          explode(VectorFunctions.nearestCellsDot(col("qn"), cflat,
            ncells, dims, math.min(nprobe, ncells))).as("cell"))
        .join(broadcast(centroids), Seq("cell"))
        .select(col("qid"), col("cell"),
          VectorFunctions.dotProduct(col("qn"), col("centroid")).as("qdotc"),
          VectorFunctions.pqLut(col("qn"), cb, m, ksub, dsub).as("lut"))

      // 4. compressed-domain scoring within probed cells only
      val approx = encoded.join(broadcast(probes), Seq("cell"))
        .select(col("qid"), col("id"),
          (col("qdotc") + VectorFunctions.pqAdc(col("codes"), col("lut"), ksub))
            .as("adc"))
        .filter(col("qid") =!= col("id"))
      val cands = topKRank(approx, rerank, "adc").select(col("qid"), col("id"))

      // 5. exact rerank
      val cvecs = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
      val scored = cands.join(cvecs, "id")
        .join(broadcast(queries.select(col(qidCol).as("qid"), col(vecCol).as("qv2"))), "qid")
        .select(col("qid"), col("id"),
          VectorFunctions.cosineSim(col("cvec"), col("qv2")).as("cosine"))
      topKRank(scored, k, "cosine")
    }

    /** ADC top-k with exact rerank: compressed-domain scan → top
      * `rerank` candidates per query by approximate score → exact cosine
      * on those only. Same output shape as bruteForceTopK.
      */
    def topK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
        m: Int = 8, ksub: Int = 16, rerank: Int = 100, seed: Long = 42L,
        idCol: String = "vec_id", vecCol: String = "embedding",
        qidCol: String = "qid"): DataFrame = {
      val dsub = dims / m
      val cb = train(corpus, dims, m, ksub, seed, vecCol = vecCol).toSeq

      val encoded = corpus.select(col(idCol).as("id"),
        VectorFunctions.pqEncode(
          Embeddings.normalize(col(vecCol)), cb, m, ksub, dsub).as("codes"))
      val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"),
        VectorFunctions.pqLut(
          Embeddings.normalize(col(vecCol)), cb, m, ksub, dsub).as("lut"))

      // compressed-domain scan: scores come from the codes table alone
      val approx = encoded.crossJoin(broadcast(q.select(col("qid"), col("lut"))))
        .select(col("qid"), col("id"),
          VectorFunctions.pqAdc(col("codes"), col("lut"), ksub).as("adc"))
        .filter(col("qid") =!= col("id"))
      val cands = topKRank(approx, rerank, "adc").select(col("qid"), col("id"))

      // exact rerank joins the full vectors for the candidates only
      val cvecs = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
      val scored = cands
        .join(cvecs, "id")
        .join(broadcast(queries.select(col(qidCol).as("qid"), col(vecCol).as("qv2"))), "qid")
        .select(col("qid"), col("id"),
          VectorFunctions.cosineSim(col("cvec"), col("qv2")).as("cosine"))
      topKRank(scored, k, "cosine")
    }
  }
}
