package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** PERSISTED inverted-file (IVF) ANN index — the build-once/probe-many
  * deployment shape of [[Similarity.ivfTopK]]. Every quantizer-based
  * operator in [[Similarity]] fits k-means per call; a real ANN
  * service clusters the corpus ONCE, persists (centroids,
  * cell-partitioned vectors), and serves every probe afterwards from
  * the committed layout — re-clustering 100 TB per query batch is not
  * a plan. This is the embedding-search mirror of the text n-gram /
  * sign / phash indexes:
  *
  *  - LAYOUT: `<root>/_ixvN/centroids` (≤ nlist rows, broadcast at
  *    probe time) + `<root>/_ixvN/vectors/cell=K/` (raw vectors
  *    partitioned by their coarse cell) + a `_graft_ivf_meta.json`
  *    sidecar pinning (nlist, dims, kernel, build_mse). Committed
  *    through the [[IndexVersions]] pointer: a rebuild publishes
  *    generation N+1 BESIDE N and flips last, so probes never see a
  *    half-written index and rollback is moving the pointer back;
  *    generations older than N−1 are dropped (the model-artifact
  *    retention rule).
  *  - METRIC COHERENCE: the quantizer trains on L2-NORMALIZED vectors
  *    and assignment/probe both rank cells by exact squared-L2 on that
  *    normalized space, through the SAME dot-product kernel — so an
  *    arriving duplicate of a corpus vector provably lands in (and
  *    probes first) its twin's cell. Raw-space cosine ranks hyperplane
  *    cells inconsistently with a Euclidean quantizer when vector norms
  *    vary; candidate SCORING stays exact cosine on the RAW vectors.
  *    The k-means model itself is only the centroid source: build-side
  *    assignment uses the same expression as [[assignCells]], so build
  *    and arrival assignment can never drift (FP-summation-order
  *    differences in MLlib's BLAS path could otherwise flip a near-tie).
  *  - PROBE: centroids broadcast; nprobe cells per query ranked via the
  *    bounded-heap [[Similarity.topKRank]] aggregate (no per-query
  *    window task); the vectors scan is pruned to the probed cells by a
  *    bounded literal IN-filter (distinct probed cells ≤ nlist ≤ 4096 —
  *    Catalyst prunes `cell=K` directories at scan time), capped by the
  *    [[Similarity.probeSignIndex]] literal-cap contract; candidates
  *    need no dedup (each corpus vector lives in exactly one cell).
  *  - DRIFT: the sidecar records the build-time mean squared
  *    quantization error; [[drift]] compares an arrival batch's error
  *    under the FROZEN centroids against it — the "retrain the
  *    quantizer?" monitoring signal (distribution shift inflates the
  *    ratio; a rebuild publishes the next generation without pausing
  *    probes).
  *  - SEGMENTS (the ingest path): [[appendVectors]] folds an arrival
  *    batch in at O(batch) — assign under the FROZEN committed
  *    centroids, write `<root>/segments/segN/cell=K/` (the base
  *    layout's shape), commit a segment MANIFEST through a second
  *    [[IndexVersions]] pointer (`<root>/_graft_segs`). Probes read
  *    base ∪ live segments with the same cell prune on every leg.
  *    Rebuilding the base per batch would be O(corpus) per append —
  *    the LSM/segment shape (Lucene/Milvus-style) bounds each append
  *    by its batch and defers the O(corpus) fold to [[compact]] on a
  *    cadence. The base sidecar's `segs_upto` records the highest
  *    segment a compaction subsumed, so every crash window keeps
  *    probes exact: a segment dir without a manifest row is invisible
  *    (crashed append), and a manifest row ≤ `segs_upto` is ignored
  *    (compaction flipped the base but hadn't pruned the manifest
  *    yet); the next mutation heals both. Arrival ids must be new —
  *    the Shards/incremental-index contract; probes do not dedup.
  *
  * The `sim_topk_ivf_disk` gate probes with nprobe = nlist, making the
  * result provably equal to brute force (the sim_topk_ivf oracle
  * argument) while the measured plan keeps the full persisted shape:
  * versioned build, sidecar self-config, pruned cell scan, bounded-heap
  * rank. Production nprobe < nlist behavior (pruning, twin recall,
  * refusals, drift) is pinned in IvfIndexSpec.
  *
  * Reference scope note: the reference ETL tool (see SURVEY.md §2) has
  * no ANN surface; this extends the engine's LLM-pipeline family. IVF
  * design follows the public FAISS layout (Johnson et al. 2017).
  */
object IvfIndex {

  private val MetaFile = "_graft_ivf_meta.json"
  private val Kernel = "kmeans-l2-normalized"

  /** Exact squared L2 distance between two float vectors, computed from
    * three native dot products — the identity ‖a−b‖² = a·a − 2a·b + b·b
    * keeps every leg inside the codegen'd DotProd kernel. */
  private[operators] def sqDist(a: Column, b: Column): Column =
    VectorFunctions.dotProduct(a, a) -
      lit(2.0) * VectorFunctions.dotProduct(a, b) +
      VectorFunctions.dotProduct(b, b)

  /** Cell-ranking score: maximizing 2a·c − c·c over cells minimizes
    * ‖a−c‖² (the a·a term is constant per row) — one broadcast pass,
    * scores ranked by the bounded-heap aggregate downstream. */
  private[operators] def negDist(a: Column, c: Column): Column =
    lit(2.0) * VectorFunctions.dotProduct(a, c) -
      VectorFunctions.dotProduct(c, c)

  /** Build and COMMIT the next index generation over `corpus`.
    *
    * `nlist` ≤ 0 derives the √n occupancy rule (capped at 4096, the
    * [[Similarity.knnJoinIvf]] default); `knownCount` skips the count
    * job when the caller has catalog stats. The corpus is
    * hash-repartitioned on its cell before the partitioned write (one
    * exchange, then directory-local sequential writes — the
    * [[Similarity.writeSignIndex]] file-count argument). Scale shape:
    * one driver-side k-means fit over a BOUNDED training sample, one
    * assignment pass, one shuffle-by-cell, one bounded centroid write,
    * one quantization-error aggregate. Returns the committed version.
    *
    * `fitSamplePerCell` bounds the k-means TRAINING set at
    * `fitSamplePerCell × nlist` vectors (the public FAISS training
    * guidance: a coarse quantizer saturates around a few hundred
    * points per centroid; Johnson et al. 2017 / the FAISS FAQ train on
    * 39–256 × nlist). Training on the full corpus is O(corpus ×
    * nlist × iters) — the measured 2M-vector fit was ~95% of a
    * 1367 s build (BASELINE.md round 16) for centroids a 256×/cell
    * sample reproduces to within quantizer noise. The sample is
    * DETERMINISTIC (ordered by `xxhash64(id)`, a seed-free total order
    * on unique ids — same corpus, same sample) and only moves
    * centroid POSITIONS: assignment, probe, and drift still run over
    * the FULL corpus through the exact shared kernel, and a
    * nprobe = nlist probe is brute-force-exact under ANY centroids
    * (the `sim_topk_ivf_disk` oracle argument). `0` disables the cap
    * (train on everything).
    */
  def write(corpus: DataFrame, path: String, dims: Int, nlist: Int = 0,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", knownCount: Long = -1L,
      fitSamplePerCell: Int = 256, subsumedUpto: Long = -1L): Int = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(dims > 0, s"dims: $dims")
    require(fitSamplePerCell >= 0, s"fitSamplePerCell: $fitSamplePerCell")
    val cells = deriveNlist(corpus, idCol, nlist, knownCount)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Embeddings.normalize(col(vecCol)).as("nvec"))
    val centroids = fitCentroids(c, cells, seed, fitSamplePerCell)

    val v = IndexVersions.nextVersion(spark, path)
    val dir = IndexVersions.versionDir(path, v)
    // assignment through the SAME kernel arrivals use (not
    // model.transform): argmin cell by exact sqDist on the normalized
    // vector, ties to the lowest cell id — [[assignCells]] parity by
    // construction. NOT persisted (r17): the r16 pin paid for itself
    // when assignment was a crossJoin + bounded-heap argmin; the
    // NearestCell kernel made it a narrow scan+map, so caching the
    // (id, vec, nvec) corpus (≈ 3× the vector bytes, memory/disk)
    // costs more than the buildMse pass recomputing it.
    val assigned = assignWith(c, centroids)
    assigned.select(col("id"), col("vec"), col("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/vectors")
    centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/centroids")
    // build-time quantization error (mean ‖nvec − centroid‖² over the
    // corpus): the drift baseline, one broadcast join + one agg row
    val buildMse = assigned
      .join(broadcast(centroids), Seq("cell"))
      .select(sqDist(col("nvec"), col("centroid")).as("d2"))
      .agg(avg(col("d2"))).as[Double].head()
    // segs_upto: a compaction passes the highest live segment it
    // folded in; a plain rebuild carries the previous base's value
    // forward (its segments are still live arrivals it did NOT fold)
    val upto =
      if (subsumedUpto >= 0L) subsumedUpto
      else metaFull(spark, path).map(_.segsUpto).getOrElse(0L)
    val p = new org.apache.hadoop.fs.Path(dir, MetaFile)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(
      (s"""{"nlist":$cells,"dims":$dims,"seed":$seed,""" +
        s""""kernel":"$Kernel","build_mse":$buildMse,""" +
        s""""segs_upto":$upto}""").getBytes("UTF-8"))
    finally out.close()
    IndexVersions.commit(spark, path, v)
    IndexVersions.dropOldPathVersions(spark, path, keepPrevious = 1): Unit
    v
  }

  private[graft] case class Meta(nlist: Int, dims: Int, buildMse: Double,
    segsUpto: Long)

  /** Full sidecar of the COMMITTED generation — None when the resolved
    * generation has no sidecar (not an IVF index). Kernel mismatch
    * refuses: same key shape, none of the semantics (the phash-index
    * rule). Pre-segment sidecars parse with `segs_upto` = 0. */
  private[graft] def metaFull(spark: SparkSession,
      path: String): Option[Meta] = {
    val p = new org.apache.hadoop.fs.Path(
      IndexVersions.resolvePath(spark, path), MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val re = (""""nlist":(\d+),"dims":(\d+),"seed":(-?\d+),""" +
        """"kernel":"([^"]*)","build_mse":([-0-9.eE]+)""" +
        """(?:,"segs_upto":(\d+))?""").r
      re.findFirstMatchIn(txt).map { m =>
        require(m.group(4) == Kernel,
          s"IVF index at $path was built with kernel `${m.group(4)}`; " +
            s"this probe computes `$Kernel` assignments")
        Meta(m.group(1).toInt, m.group(2).toInt, m.group(5).toDouble,
          Option(m.group(6)).map(_.toLong).getOrElse(0L))
      }
    }
  }

  /** (nlist, dims, build_mse) of the committed sidecar — the public
    * shape [[metaFull]] extends. */
  def meta(spark: SparkSession, path: String): Option[(Int, Int, Double)] =
    metaFull(spark, path).map(m => (m.nlist, m.dims, m.buildMse))

  private def requireMeta(spark: SparkSession, path: String,
      dims: Int): Meta = {
    val m = metaFull(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no $MetaFile under the committed generation of $path — " +
          "not an IVF index"))
    if (dims > 0) require(m.dims == dims,
      s"IVF index at $path was built with dims=${m.dims}; " +
        s"probe called with dims=$dims")
    m
  }

  private def readCentroids(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(
      s"${IndexVersions.resolvePath(spark, path)}/centroids")

  /** Derive nlist: caller's value, or the √n occupancy rule (capped at
    * 4096); `knownCount` skips the count job. */
  private[operators] def deriveNlist(corpus: DataFrame, idCol: String,
      nlist: Int, knownCount: Long): Int =
    if (nlist > 0) nlist
    else {
      val n = if (knownCount >= 0) knownCount
        else corpus.select(col(idCol)).count()
      math.min(4096, math.max(8, math.sqrt(n.toDouble).toInt))
    }

  /** Fit the coarse quantizer on a bounded DETERMINISTIC sample of
    * `c` (id, nvec — see [[write]]'s fitSamplePerCell doc) and return
    * the (cell, centroid) frame — shared by the raw-vector and PQ
    * ([[IvfPqIndex]]) builds. */
  private[operators] def fitCentroids(c: DataFrame, cells: Int,
      seed: Long, fitSamplePerCell: Int): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val trainCap = math.min(Int.MaxValue.toLong,
      fitSamplePerCell.toLong * cells).toInt
    // the id-hash TakeOrderedAndProject bounds the fit input in one
    // narrow pass; the fit itself runs DRIVER-SIDE (Similarity.lloyd —
    // seeded k-means++ over a content-ordered re-sample), so a build
    // schedules NO per-init-round / per-iteration cluster jobs. The
    // former MLlib fit was ~2–3 s of fixed job overhead per cold build
    // at sf0.1 and ~94% of the 2M-vector build wall (guide §1.2 / §5
    // driver rules; BASELINE.md round 16).
    val trainSet =
      if (fitSamplePerCell == 0) c
      else c.orderBy(xxhash64(col("id"))).limit(trainCap)
    val cents = Similarity.fitQuantizer(trainSet, "nvec", cells, seed)
    cents.zipWithIndex.map { case (v, i) => (i, v) }
      .toSeq.toDF("cell", "centroid")
  }

  /** Segment numbers probes must read: committed manifest rows newer
    * than the committed base's `segs_upto`. */
  private[graft] def liveSegs(spark: SparkSession,
      path: String): Seq[Long] = {
    val upto = metaFull(spark, path).map(_.segsUpto).getOrElse(0L)
    SegmentLog.committedSegs(spark, path).filter(_ > upto)
  }

  /** The probe/compaction read: base vectors ∪ live segments. Every
    * leg is written `cell=`-partitioned, so a probe's bounded IN
    * prune pushes into each leg's directory listing. */
  private[graft] def vectorsView(spark: SparkSession,
      path: String): DataFrame = {
    val base = spark.read.parquet(
      s"${IndexVersions.resolvePath(spark, path)}/vectors")
    liveSegs(spark, path).foldLeft(base) { (acc, n) =>
      acc.unionByName(spark.read.parquet(SegmentLog.segDir(path, n)))
    }
  }

  /** Fold an arrival batch into the index at O(batch): assign under
    * the COMMITTED generation's FROZEN centroids (the shared
    * build/arrival kernel — a duplicate of a corpus vector provably
    * lands in its twin's cell), write the batch as the next
    * `cell=`-partitioned segment, and commit the segment manifest
    * through its own [[IndexVersions]] pointer. Probes see the batch
    * exactly when the manifest flips — a crash before the flip leaves
    * an invisible orphan dir the next mutation heals. The quantizer is
    * NOT retrained ([[drift]] is the retrain signal; [[compact]] the
    * retrain). Arrival ids must be new — probes do not dedup. Returns
    * the segment number, or -1 for an empty batch (committed no-op).
    *
    * `atSeg` ≥ 0 pins the segment number — the streaming writer's
    * exactly-once hook, identical contract to [[IvfPqIndex.append]]:
    * a retried micro-batch re-runs under the SAME number (frozen
    * centroids ⇒ deterministic re-write over the same dir, set-union
    * manifest commit), and a number a compaction already folded
    * (≤ `segs_upto`) returns -2 without writing.
    */
  def appendVectors(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = 0, atSeg: Long = -1L): Long = {
    val m = requireMeta(spark, path, dims)
    if (atSeg >= 0 && atSeg <= m.segsUpto) return -2L
    val committed = SegmentLog.committedSegs(spark, path)
    val live = committed.filter(_ > m.segsUpto)
    SegmentLog.heal(spark, path, live)
    if (live != committed) SegmentLog.commitManifest(spark, path, live)
    val b = batch.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Embeddings.normalize(col(vecCol)).as("nvec"))
    if (b.isEmpty) return -1L
    val n = if (atSeg >= 0) atSeg else (committed :+ m.segsUpto).max + 1
    assignWith(b, readCentroids(spark, path))
      .select(col("id"), col("vec"), col("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(SegmentLog.segDir(path, n))
    SegmentLog.commitManifest(spark, path, (live.toSet + n).toSeq.sorted)
    n
  }

  /** Fold base ∪ live segments into base generation N+1 — the
    * O(corpus) half of the LSM trade, paid on the compaction cadence
    * while [[appendVectors]] keeps every ingest batch O(batch). The
    * quantizer RETRAINS over the folded corpus (bounded sample), the
    * new sidecar's `segs_upto` subsumes every folded segment BEFORE
    * the manifest prune — so a crash between base flip and prune
    * still probes exactly (subsumed rows are ignored), and the next
    * mutation heals the leftover dirs. `nlist` 0 re-derives the √n
    * occupancy rule over the grown corpus. Returns the new base
    * version. */
  def compact(spark: SparkSession, path: String, dims: Int = 0,
      nlist: Int = 0, seed: Long = 42L,
      fitSamplePerCell: Int = 256): Int = {
    val m = requireMeta(spark, path, dims)
    val live = liveSegs(spark, path)
    val view = vectorsView(spark, path)
      .select(col("id").as("vec_id"), col("vec").as("embedding"))
    val upto = (live :+ m.segsUpto).max
    val v = write(view, path, m.dims, nlist, seed,
      fitSamplePerCell = fitSamplePerCell, subsumedUpto = upto)
    SegmentLog.commitManifest(spark, path, Seq.empty)
    SegmentLog.heal(spark, path, Seq.empty)
    v
  }

  /** The (flat row-major matrix, nlist, dims) of a bounded centroid
    * frame — ≤ nlist ≤ 4096 rows collected driver-side, cells required
    * contiguous 0..n−1 (the build writes them that way). Shared by the
    * narrow assignment and probe kernels. */
  private[operators] def centroidMatrix(
      centroids: DataFrame): (Seq[Float], Int, Int) = {
    val rows = centroids.select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(rows.nonEmpty, "empty centroid frame")
    require(rows.head._1 == 0 && rows.last._1 == rows.length - 1,
      s"centroid cells must be contiguous 0..n-1, got " +
        s"${rows.head._1}..${rows.last._1} over ${rows.length} rows")
    val dims = rows.head._2.length
    (rows.flatMap(_._2).toSeq, rows.length, dims)
  }

  /** Nearest-cell assignment of `batch` under FROZEN `centroids`: the
    * shared build/arrival kernel, as ONE narrow codegen pass — the
    * centroid matrix (≤ 4096 × dims floats) rides the plan as a
    * broadcast object ([[graft.functions.NearestCell]]), bit-identical
    * in score and tie-break to the former crossJoin + bounded-heap
    * argmin + join-back, minus its two exchanges. Keeps
    * (id, vec, nvec, cell). */
  private[operators] def assignWith(batch: DataFrame,
      centroids: DataFrame): DataFrame = {
    val (flat, nlist, dims) = centroidMatrix(centroids)
    // null vectors: the former crossJoin + rank assignment dropped them
    // at its inner join; the kernel's nullSafeEval would instead emit a
    // null cell, landing the row in the Hive default partition where no
    // pruned probe can reach it (ADVICE r16) — keep the drop semantics
    batch.filter(col("nvec").isNotNull)
      .withColumn("cell",
        VectorFunctions.nearestCell(col("nvec"), flat, nlist, dims))
  }

  /** Cell assignment of an arrival batch under the COMMITTED
    * generation's frozen centroids — the operator a streaming writer
    * stages arrivals with (fold = rebuild generation N+1 over
    * corpus ∪ arrivals; probes stay on N until the pointer flips).
    * Returns (idCol, cell). Identical vectors provably land in the
    * cell their corpus twin was built into: same kernel, same
    * tie-break (lowest cell id). */
  def assignCells(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = 0): DataFrame = {
    requireMeta(spark, path, dims)
    val b = batch.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Embeddings.normalize(col(vecCol)).as("nvec"))
    assignWith(b, readCentroids(spark, path))
      .select(col("id").as(idCol), col("cell"))
  }

  /** ANN top-k over the committed generation. Output shape =
    * [[Similarity.bruteForceTopK]] (qid, id, cosine, rank ≤ k);
    * `nprobe` ≥ nlist probes every cell (provably exact — the gate
    * configuration). The vectors scan reads only the probed cells'
    * directories (bounded literal IN ≤ min(cells probed, cap)); a
    * probe set past `maxCellLiterals` distinct cells skips the prune
    * (at that occupancy the unpruned scan wins anyway — the
    * probeSignIndex cap contract). */
  def probe(spark: SparkSession, path: String, queries: DataFrame, k: Int,
      nprobe: Int = 8, dims: Int = 0, qidCol: String = "qid",
      vecCol: String = "embedding",
      maxCellLiterals: Int = 1024): DataFrame = {
    require(maxCellLiterals >= 0, s"maxCellLiterals: $maxCellLiterals")
    val nlist = requireMeta(spark, path, dims).nlist
    val centroids = readCentroids(spark, path)
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"),
      Embeddings.normalize(col(vecCol)).as("qn"))
    // per-query cell ranking as one narrow kernel pass (score/tie-break
    // identical to the former crossJoin + bounded-heap rank — see
    // NearestCells); the query side never shuffles to pick its cells
    val (cflat, cn, cdims) = centroidMatrix(centroids)
    val probeCells = q.select(col("qid"),
      explode(VectorFunctions.nearestCells(col("qn"), cflat, cn, cdims,
        math.min(nprobe, nlist))).as("cell"))
    // bounded collect: distinct probed cells, capped — ≤ nlist ≤ 4096
    // by construction, limit(cap + 1) bounds the driver materialization
    // regardless. A full probe (nprobe ≥ nlist) needs no job at all:
    // every cell is probed by construction.
    val cellLits =
      if (nprobe >= nlist) (0 until nlist).toArray
      else probeCells.select(col("cell")).distinct()
        .limit(maxCellLiterals + 1).collect().map(_.getInt(0))
    val raw = vectorsView(spark, path)
    val pruned =
      if (cellLits.length <= maxCellLiterals)
        raw.filter(col("cell").isin(cellLits.map(Int.box): _*))
      else raw
    val index = pruned.withColumn("cell", col("cell").cast("int"))
    val qcells = probeCells
      .join(q.select(col("qid"), col("qvec")), Seq("qid"))
    val scored = index.join(broadcast(qcells), Seq("cell"))
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("vec"), col("qvec")).as("cosine"))
      .filter(col("qid") =!= col("id"))
    Similarity.topKRank(scored, k, "cosine")
  }

  /** Quantization-drift frame: an arrival batch's mean squared error
    * under the FROZEN committed centroids vs the build-time error the
    * sidecar recorded. One row: (n, build_mse, batch_mse, ratio) —
    * ratio ≫ 1 means the corpus distribution moved and the quantizer
    * deserves a retrain (publish generation N+1; probes never pause).
    * Zero-batch guarded; no collect of the batch (one broadcast join,
    * one agg row). */
  def drift(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = 0): DataFrame = {
    val buildMse = requireMeta(spark, path, dims).buildMse
    val b = batch.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Embeddings.normalize(col(vecCol)).as("nvec"))
    assignWith(b, readCentroids(spark, path))
      .join(broadcast(readCentroids(spark, path)), Seq("cell"))
      .select(sqDist(col("nvec"), col("centroid")).as("d2"))
      .agg(count(lit(1)).as("n"), avg(col("d2")).as("batch_mse"))
      .select(col("n"), lit(buildMse).as("build_mse"), col("batch_mse"),
        when(col("n") === 0L || lit(buildMse) === 0.0, lit(0.0))
          .otherwise(col("batch_mse") / lit(buildMse)).as("ratio"))
  }
}

/** Segment-LSM bookkeeping shared by the persisted vector indexes
  * ([[IvfIndex]], [[IvfPqIndex]]): a manifest of committed segment
  * numbers under `<root>/_graft_segs` (its own [[IndexVersions]]
  * pointer — pointer-flip-last, keep-last-2 retention) plus the
  * heal pass that reclaims dead `segments/segN` dirs. The crash
  * contract lives HERE so both indexes inherit it identically:
  * a segment dir without a manifest row is invisible (crashed
  * append); a manifest row ≤ the base sidecar's `segs_upto` is
  * ignored (compaction flipped the base, prune interrupted); the
  * next mutation heals both.
  */
private[graft] object SegmentLog {

  def segsRoot(path: String): String = s"$path/_graft_segs"
  def segDir(path: String, n: Long): String = s"$path/segments/seg$n"

  private val ManifestFile = "segs.txt"

  /** Every segment number the committed manifest lists — INCLUDING
    * rows a compaction already subsumed but hadn't pruned (callers
    * filter by the base sidecar's `segs_upto`). Empty before the first
    * append. The manifest is a bounded line-per-segment text file read
    * driver-side (zero Spark jobs — the former one-row-per-segment
    * parquet read cost a schema-inference pass plus a collect job per
    * mutation/probe); a version dir without the text file falls back to
    * the legacy parquet rows so pre-existing indexes stay readable. */
  def committedSegs(spark: SparkSession, path: String): Seq[Long] = {
    val root = segsRoot(path)
    IndexVersions.currentVersion(spark, root) match {
      case None => Seq.empty
      case Some(v) =>
        val dir = IndexVersions.versionDir(root, v)
        val p = new org.apache.hadoop.fs.Path(dir, ManifestFile)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) {
          val in = fs.open(p)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString finally in.close()
          txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
            .map(_.toLong).toSeq.sorted
        } else
          spark.read.parquet(dir)
            .select(col("seg")).collect().map(_.getLong(0)).toSeq.sorted
    }
  }

  def commitManifest(spark: SparkSession, path: String,
      segs: Seq[Long]): Unit = {
    val root = segsRoot(path)
    val v = IndexVersions.nextVersion(spark, root)
    val p = new org.apache.hadoop.fs.Path(
      IndexVersions.versionDir(root, v), ManifestFile)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(segs.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    IndexVersions.commit(spark, root, v)
    IndexVersions.dropOldPathVersions(spark, root, keepPrevious = 1): Unit
  }

  def dirsOnDisk(spark: SparkSession, path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/segments")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("seg") && n.stripPrefix("seg").nonEmpty &&
        n.stripPrefix("seg").forall(_.isDigit))
      .map(_.stripPrefix("seg").toLong)
  }

  /** Delete segment dirs not in `live` — a crashed append's orphan
    * (written, never committed) or a compaction's subsumed sources
    * (folded into the base, prune interrupted). Dead by the
    * manifest/`segs_upto` contract, so removal never changes a probe. */
  def heal(spark: SparkSession, path: String, live: Seq[Long]): Unit = {
    val keep = live.toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dirsOnDisk(spark, path).filterNot(keep).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(segDir(path, n)), true): Unit
    }
  }
}
