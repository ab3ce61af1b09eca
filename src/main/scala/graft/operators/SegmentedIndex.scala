package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The lifecycle both persisted cell-partitioned vector indexes share
  * ([[IvfIndex]]: raw vectors, [[IvfPqIndex]]: residual PQ codes). An
  * index supplies only its payload — what a corpus or arrival row is
  * stored as, and how a compaction rebuilds the base; everything else
  * lives here once:
  *
  *  - the coarse quantizer: the one [[Quantizer]] (fit on a bounded
  *    deterministic sample, one cell rule for build, arrival, drift and
  *    probe) over L2-normalized vectors, and the exact squared-L2
  *    quantization error;
  *  - the sidecar (`nlist`, `dims`, the index's own integer params,
  *    `seed`, `kernel`, `build_mse`, `segs_upto`), the index's layout
  *    record ([[IndexVersions.writeLayout]]): every probe, append and
  *    compaction takes its layout from it, a generation without one is
  *    refused, and a kernel mismatch refuses;
  *  - the base generation: `<root>/_ixvN/{centroids, <leg>/cell=K/}`
  *    committed through the [[IndexVersions]] pointer (sidecar → flip →
  *    retention of current + one rollback target). Every parquet dir of
  *    a generation or segment records its schema as it is written
  *    ([[IndexVersions.writeParquet]]), before the sidecar and the flip,
  *    so the centroids and the legs are read with that record and a
  *    driver-side listing: no schema job and no listing job, up to the
  *    4096-cell cap ([[IndexVersions.readParquet]]). A leg without a
  *    record, or whose files lack a recorded column, is refused;
  *  - the segments (the ingest path): an append assigns an arrival batch
  *    under the FROZEN committed centroids, writes it as
  *    `<root>/segments/segN/cell=K/` and commits the segment manifest
  *    (`segs.txt` under `<root>/_graft_segs`, its own pointer); probes
  *    read base ∪ live segments as one relation with the same cell
  *    prune on every leg. An append whose segment schema differs from
  *    the base leg's record is refused before it writes;
  *  - the crash contract: a segment dir without a manifest row is
  *    invisible (crashed append); a manifest row ≤ the base sidecar's
  *    `segs_upto` is ignored (compaction flipped the base, prune
  *    interrupted); the next mutation heals both. Compaction commits in
  *    the order base flip → manifest prune → heal, so every crash window
  *    keeps probes exact. Arrival ids must be new — probes do not dedup.
  */
private[graft] object SegmentedIndex {

  /** What distinguishes one index kind on disk: its sidecar file, its
    * kernel tag (a sidecar with another kernel is refused — same layout
    * shape, none of the semantics), its name in messages, the payload
    * leg's directory name, and the names of its integer params (written
    * between `dims` and `seed`). */
  case class Layout(metaFile: String, kernel: String, name: String,
      leg: String, params: Seq[String] = Nil)

  /** The committed sidecar. `params` holds the layout's own integer
    * params in the layout's order. */
  case class Meta(nlist: Int, dims: Int, seed: Long, buildMse: Double,
      segsUpto: Long = 0L, params: Seq[(String, Int)] = Nil) {
    def param(name: String): Int = params.collectFirst {
      case (`name`, v) => v
    }.getOrElse(throw new NoSuchElementException(s"sidecar param $name"))
  }

  private def writeMeta(spark: SparkSession, dir: String, layout: Layout,
      m: Meta): Unit =
    IndexVersions.writeLayout(spark, dir, layout.metaFile,
      Seq("nlist" -> m.nlist, "dims" -> m.dims) ++ m.params ++
        Seq("seed" -> m.seed, "kernel" -> layout.kernel,
          "build_mse" -> m.buildMse, "segs_upto" -> m.segsUpto): _*)

  /** Sidecar of the COMMITTED generation — None when the resolved
    * generation has none (not an index of this kind). A kernel mismatch
    * refuses. Sidecars written before segments parse with
    * `segs_upto` = 0. */
  def metaFull(spark: SparkSession, path: String,
      layout: Layout): Option[Meta] =
    IndexVersions.layoutIn(spark, IndexVersions.resolvePath(spark, path),
      layout.metaFile).map(metaOf(layout))

  private def metaOf(layout: Layout)(r: IndexVersions.LayoutRecord): Meta = {
    r.requireKernel(layout.kernel, s"${layout.name} index")
    Meta(r.int("nlist"), r.int("dims"), r.long("seed"),
      r.double("build_mse"), r.fields.get("segs_upto").fold(0L)(_.toLong),
      layout.params.map(k => k -> r.int(k)))
  }

  /** Sidecar of the COMMITTED generation; a generation without one is
    * refused with its path and "rebuild". */
  def requireMeta(spark: SparkSession, path: String, layout: Layout): Meta =
    metaOf(layout)(IndexVersions.layout(spark,
      IndexVersions.resolvePath(spark, path), layout.metaFile))

  /** The committed generation's (cell, centroid) frame, read with its
    * recorded schema ([[IndexVersions.readParquet]]: no metadata job). */
  def readCentroids(spark: SparkSession, path: String): DataFrame =
    IndexVersions.readParquet(spark,
      Seq(s"${IndexVersions.resolvePath(spark, path)}/centroids"))

  /** Write the (cell, centroid) frame into version dir `dir`. */
  def writeCentroids(centroids: DataFrame, dir: String): Unit =
    IndexVersions.writeParquet(centroids.coalesce(1), s"$dir/centroids")

  /** An index's working projection of a corpus or arrival batch:
    * (id, vec, nvec) with `nvec` the L2-normalized vector. */
  def arrivals(batch: DataFrame, idCol: String, vecCol: String): DataFrame =
    batch.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Embeddings.normalize(col(vecCol)).as("nvec"))

  /** Write an (id, payload, cell) frame as `cell=`-partitioned parquet:
    * one exchange by cell, then directory-local sequential writes. */
  def writeCells(df: DataFrame, dir: String): Unit =
    IndexVersions.writeParquet(df.repartition(col("cell")), dir, Seq("cell"))

  /** Exact squared L2 distance ‖a−b‖² = a·a − (2a·b − b·b): the
    * [[Quantizer.score]] arithmetic, every leg inside the codegen'd
    * DotProd kernel. */
  private def sqDist(a: Column, b: Column): Column =
    VectorFunctions.dotProduct(a, a) - Quantizer.score(a, b)

  /** Fit the coarse quantizer of a build: on the whole corpus, or on
    * its first `fitSamplePerCell × cells` rows by `xxhash64(id)` (see
    * [[IvfIndex.write]]'s fitSamplePerCell doc), always L2-normalized. */
  private def fit(corpus: DataFrame, idCol: String, vecCol: String,
      cells: Int, seed: Long, fitSamplePerCell: Int): Quantizer = {
    val trainCap = math.min(Int.MaxValue.toLong,
      fitSamplePerCell.toLong * cells).toInt
    val c = corpus.select(col(idCol), col(vecCol))
    val trainSet =
      if (fitSamplePerCell == 0) c
      else c.orderBy(xxhash64(col(idCol))).limit(trainCap)
    Quantizer.fit(trainSet, vecCol, cells, seed, normalize = true)
  }

  /** Nearest-cell assignment of `batch` (with an `nvec` column) under
    * the FROZEN quantizer `q`: one narrow codegen pass, the same score
    * and tie-break for build and arrival, so a duplicate of a corpus
    * vector provably lands in its twin's cell. Adds `cell`. */
  def assignWith(batch: DataFrame, q: Quantizer): DataFrame =
    // null vectors are dropped: the kernel would emit a null cell,
    // landing the row in the Hive default partition where no pruned
    // probe can reach it (ADVICE r16)
    batch.filter(col("nvec").isNotNull)
      .withColumn("cell", q.assign(col("nvec")))

  /** Publish the next base generation: `writeBase` fills the version
    * dir and returns its sidecar, whose `segs_upto` is replaced here — a
    * compaction passes the highest live segment it folded in
    * (`subsumedUpto` ≥ 0); a plain rebuild carries the previous base's
    * value forward (its segments are still live arrivals it did NOT
    * fold). Then sidecar → pointer flip → retention. Returns the
    * committed version. */
  def publish(spark: SparkSession, path: String, layout: Layout,
      subsumedUpto: Long)(writeBase: String => Meta): Int = {
    val v = IndexVersions.nextVersion(spark, path)
    val dir = IndexVersions.versionDir(path, v)
    val m = writeBase(dir)
    val upto =
      if (subsumedUpto >= 0L) subsumedUpto
      else metaFull(spark, path, layout).map(_.segsUpto).getOrElse(0L)
    writeMeta(spark, dir, layout, m.copy(segsUpto = upto))
    IndexVersions.commit(spark, path, v)
    // the segment dirs are not generation-zero data: live ones stay
    // live across a plain rebuild, and folded ones are reclaimed by heal
    IndexVersions.dropOldPathVersions(spark, path, keepPrevious = 1,
      keep = Set(SegmentsDir)): Unit
    v
  }

  /** Build a base generation over `corpus`: fit the coarse quantizer on
    * a bounded sample, assign every row through the shared kernel, let
    * `payload` turn the assigned (id, vec, nvec, cell) rows — given the
    * centroids and the version dir, where it may write its own
    * artifacts — into the (id, payload, cell) leg, write the leg and the
    * centroids, and record the build-time quantization error (mean
    * ‖nvec − centroid‖², the [[drift]] baseline). */
  def build(corpus: DataFrame, path: String, layout: Layout, dims: Int,
      nlist: Int, seed: Long, idCol: String, vecCol: String,
      knownCount: Long, fitSamplePerCell: Int, subsumedUpto: Long,
      params: Seq[(String, Int)] = Nil)(
      payload: (DataFrame, DataFrame, String) => DataFrame): Int = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(dims > 0, s"dims: $dims")
    require(fitSamplePerCell >= 0, s"fitSamplePerCell: $fitSamplePerCell")
    val cells = Quantizer.nlistFor(corpus, idCol, nlist, knownCount)
    val quant = fit(corpus, idCol, vecCol, cells, seed, fitSamplePerCell)
    val centroids = quant.frame(spark)
    publish(spark, path, layout, subsumedUpto) { dir =>
      // NOT persisted (r17): assignment is a narrow scan+map, so the
      // consumers below recompute it cheaper than a corpus-sized cache
      // materializes, bit-identically
      val assigned = assignWith(arrivals(corpus, idCol, vecCol), quant)
      writeCells(payload(assigned, centroids, dir), s"$dir/${layout.leg}")
      writeCentroids(centroids, dir)
      val buildMse = assigned
        .join(broadcast(centroids), Seq("cell"))
        .select(sqDist(col("nvec"), col("centroid")).as("d2"))
        .agg(avg(col("d2"))).as[Double].head()
      Meta(cells, dims, seed, buildMse, params = params)
    }
  }

  private val SegmentsDir = "segments"

  private def segsRoot(path: String): String = s"$path/_graft_segs"
  def segDir(path: String, n: Long): String = s"$path/$SegmentsDir/seg$n"

  private val SegsFile = "segs.txt"

  /** Every segment number the committed manifest lists — INCLUDING
    * rows a compaction already subsumed but hadn't pruned (callers
    * filter by the base sidecar's `segs_upto`). Empty before the first
    * append. A bounded line-per-segment text file read driver-side:
    * zero Spark jobs per mutation or probe. */
  def committedSegs(spark: SparkSession, path: String): Seq[Long] =
    IndexVersions.committedLines(spark, segsRoot(path), SegsFile)
      .getOrElse(Nil).map(_.toLong).sorted

  private def commitSegs(spark: SparkSession, path: String,
      segs: Seq[Long]): Unit =
    IndexVersions.commitLines(spark, segsRoot(path), SegsFile,
      segs.map(_.toString))

  /** Segment numbers probes must read: committed manifest rows newer
    * than the committed base's `segs_upto`. */
  def liveSegs(spark: SparkSession, path: String, layout: Layout): Seq[Long] = {
    val upto = metaFull(spark, path, layout).map(_.segsUpto).getOrElse(0L)
    committedSegs(spark, path).filter(_ > upto)
  }

  /** The probe/compaction read: the base leg ∪ live segments. Every leg
    * is `cell=`-partitioned, so a probe's bounded IN prune selects
    * `cell=K` dirs from the driver-side listing. */
  def view(spark: SparkSession, path: String, layout: Layout): DataFrame =
    legs(spark, path, layout, liveSegs(spark, path, layout))

  private def baseLeg(spark: SparkSession, path: String,
      layout: Layout): String =
    s"${IndexVersions.resolvePath(spark, path)}/${layout.leg}"

  /** The base leg and the `live` segments as ONE relation, read with
    * the schema their writers recorded ([[IndexVersions.readParquet]]):
    * no schema job, no listing job, one footer check per leg. */
  private def legs(spark: SparkSession, path: String, layout: Layout,
      live: Seq[Long]): DataFrame =
    IndexVersions.readParquet(spark,
      baseLeg(spark, path, layout) +: live.map(segDir(path, _)))

  def dirsOnDisk(spark: SparkSession, path: String): Seq[Long] =
    IndexVersions.numbered(spark, s"$path/$SegmentsDir", "seg")

  /** Delete segment dirs not in `live` — a crashed append's orphan
    * (written, never committed) or a compaction's subsumed sources
    * (folded into the base, prune interrupted). Dead by the
    * manifest/`segs_upto` contract, so removal never changes a probe. */
  private def heal(spark: SparkSession, path: String,
      live: Seq[Long]): Unit =
    IndexVersions.deleteNumbered(spark, s"$path/$SegmentsDir", "seg",
      n => !live.contains(n)): Unit

  /** Fold an arrival batch in at O(batch) as the next segment: `encode`
    * turns the assigned (id, vec, nvec, cell) rows — given the frozen
    * centroids and sidecar — into the (id, payload, cell) segment.
    * Probes see the batch exactly when the manifest flips. Returns the
    * segment number, -1 for an empty batch (committed no-op), or -2
    * when `atSeg` ≥ 0 pins a number a compaction already folded
    * (≤ `segs_upto`: the rows are already probe-able from the base).
    *
    * `atSeg` is the streaming writer's exactly-once hook: a retried
    * micro-batch re-runs under the SAME number, so the retry overwrites
    * the same segment dir with identical rows (frozen kernel ⇒
    * deterministic) and the manifest commit is a set-union. The caller
    * owns the numbering (single writer). */
  def append(spark: SparkSession, path: String, layout: Layout,
      batch: DataFrame, idCol: String, vecCol: String,
      atSeg: Long)(encode: (DataFrame, DataFrame, Meta) => DataFrame): Long = {
    val m = requireMeta(spark, path, layout)
    if (atSeg >= 0 && atSeg <= m.segsUpto) return -2L
    val committed = committedSegs(spark, path)
    val live = committed.filter(_ > m.segsUpto)
    // a pinned retry's own dir survives the heal only if committed; an
    // uncommitted prior attempt is reclaimed and rewritten below
    heal(spark, path, live)
    if (live != committed) commitSegs(spark, path, live)
    val b = arrivals(batch, idCol, vecCol)
    if (b.isEmpty) return -1L
    val n = if (atSeg >= 0) atSeg else (committed :+ m.segsUpto).max + 1
    val centroids = readCentroids(spark, path)
    val seg = encode(assignWith(b, Quantizer.fromFrame(centroids)),
      centroids, m)
    // a segment is read as part of the base's relation: its schema must
    // be the base leg's record
    IndexVersions.requireRecord(spark, baseLeg(spark, path, layout),
      seg.schema, Seq("cell"))
    writeCells(seg, segDir(path, n))
    IndexVersions.afterStep("segment-written")
    commitSegs(spark, path, (live.toSet + n).toSeq.sorted)
    IndexVersions.afterStep("manifest-flipped")
    n
  }

  /** Fold base ∪ live segments into the next base generation:
    * `rebuild(sidecar, view, upto)` publishes that generation with
    * `segs_upto` = `upto`, subsuming every folded segment BEFORE the
    * manifest prune — so a crash between base flip and prune still
    * probes exactly, and the next mutation heals the leftover dirs.
    * Returns the new base version. */
  def compact(spark: SparkSession, path: String, layout: Layout)(
      rebuild: (Meta, DataFrame, Long) => Int): Int = {
    val m = requireMeta(spark, path, layout)
    val live = committedSegs(spark, path).filter(_ > m.segsUpto)
    val v = rebuild(m, legs(spark, path, layout, live),
      (live :+ m.segsUpto).max)
    IndexVersions.afterStep("base-flipped")
    commitSegs(spark, path, Seq.empty)
    IndexVersions.afterStep("manifest-pruned")
    heal(spark, path, Seq.empty)
    v
  }

  /** Quantization-drift frame: an arrival batch's mean squared error
    * under the FROZEN committed centroids vs the build-time error the
    * sidecar recorded. One row: (n, build_mse, batch_mse, ratio) —
    * ratio ≫ 1 means the corpus distribution moved and the quantizer
    * deserves a retrain. Zero-batch guarded; no collect of the batch
    * (one broadcast join, one agg row). */
  def drift(spark: SparkSession, path: String, layout: Layout,
      batch: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val buildMse = requireMeta(spark, path, layout).buildMse
    val centroids = readCentroids(spark, path)
    assignWith(arrivals(batch, idCol, vecCol), Quantizer.fromFrame(centroids))
      .join(broadcast(centroids), Seq("cell"))
      .select(sqDist(col("nvec"), col("centroid")).as("d2"))
      .agg(count(lit(1)).as("n"), avg(col("d2")).as("batch_mse"))
      .select(col("n"), lit(buildMse).as("build_mse"), col("batch_mse"),
        when(col("n") === 0L || lit(buildMse) === 0.0, lit(0.0))
          .otherwise(col("batch_mse") / lit(buildMse)).as("ratio"))
  }

  /** A probe's cell selection: the committed sidecar, the centroids,
    * the (qid, qvec, qn, cell) probe rows, and the base ∪ live-segment
    * legs pruned to the probed cells (`cell` is the recorded int). */
  case class Probe(meta: Meta, centroids: DataFrame, cells: DataFrame,
      index: DataFrame)

  /** Rank `nprobe` cells per query ([[Quantizer.probe]]: one narrow
    * kernel pass, the build's cell rule on the normalized space; the
    * query side never shuffles to pick its cells) and prune every leg's
    * scan to the probed cells ([[IndexVersions.pruneToProbed]]). A full
    * probe (nprobe ≥ nlist) reads every cell and lists none. Each corpus
    * row lives in exactly one cell, so candidates need no dedup. */
  def probe(spark: SparkSession, path: String, layout: Layout,
      queries: DataFrame, qidCol: String, vecCol: String,
      nprobe: Int): Probe = {
    val meta = requireMeta(spark, path, layout)
    val centroids = readCentroids(spark, path)
    val quant = Quantizer.fromFrame(centroids)
    val cells = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"),
        Embeddings.normalize(col(vecCol)).as("qn"))
      .select(col("qid"), col("qvec"), col("qn"),
        explode(quant.probe(col("qn"), nprobe)).as("cell"))
    val raw = view(spark, path, layout)
    val index =
      if (nprobe >= meta.nlist) raw
      else IndexVersions.pruneToProbed(raw, cells, "cell")
    Probe(meta, centroids, cells, index)
  }
}
