package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED inverted-file (IVF) ANN index — the build-once/probe-many
  * deployment shape of [[Similarity.ivfTopK]], over the same
  * [[Quantizer]]. The one-shot operators in [[Similarity]] fit k-means
  * per call; a real ANN service clusters the corpus ONCE, persists (centroids,
  * cell-partitioned vectors), and serves every probe afterwards from
  * the committed layout — re-clustering 100 TB per query batch is not
  * a plan. This is the embedding-search mirror of the text n-gram /
  * sign / phash indexes:
  *
  *  - LAYOUT: `<root>/_ixvN/centroids` (≤ nlist rows, broadcast at
  *    probe time) + `<root>/_ixvN/vectors/cell=K/` (raw vectors
  *    partitioned by their coarse cell) + a `_graft_ivf_meta.json`
  *    sidecar pinning (nlist, dims, kernel, build_mse). The centroids
  *    and vectors dirs (and every segment) record their schema when
  *    written, so a probe or compaction reads them with no schema and
  *    no listing job ([[IndexVersions.readParquet]]). Committed
  *    through the [[IndexVersions]] pointer: a rebuild publishes
  *    generation N+1 BESIDE N and flips last, so probes never see a
  *    half-written index and rollback is moving the pointer back;
  *    generations older than N−1 are dropped (the model-artifact
  *    retention rule).
  *  - METRIC COHERENCE: the [[Quantizer]] trains on L2-NORMALIZED
  *    vectors and assignment/probe both rank cells by its one rule,
  *    exact squared-L2 on that normalized space — so an arriving
  *    duplicate of a corpus vector provably lands in (and probes first)
  *    its twin's cell. Candidate SCORING stays exact cosine on the RAW
  *    vectors ([[Similarity.exactTopK]]). Build-side assignment uses the
  *    same expression as [[assignCells]] ([[SegmentedIndex.assignWith]]),
  *    so build and arrival assignment can never drift.
  *  - PROBE: nprobe cells per query ranked by one narrow kernel pass
  *    over the broadcast centroid matrix (no per-query window task,
  *    [[SegmentedIndex.probe]]); the vectors scan is pruned to the
  *    probed cells by the one capped literal IN-filter
  *    ([[IndexVersions.pruneToProbed]] — Catalyst prunes `cell=K`
  *    directories at scan time); candidates need no dedup (each corpus
  *    vector lives in exactly one cell). Dims, nlist and seed come from
  *    the sidecar, never from the caller; a query of the wrong length
  *    throws in the cell kernel.
  *  - DRIFT: the sidecar records the build-time mean squared
  *    quantization error; [[drift]] compares an arrival batch's error
  *    under the FROZEN centroids against it — the "retrain the
  *    quantizer?" monitoring signal (distribution shift inflates the
  *    ratio; a rebuild publishes the next generation without pausing
  *    probes).
  *  - SEGMENTS (the ingest path): [[appendVectors]] folds an arrival
  *    batch in at O(batch) as a `cell=`-partitioned segment under the
  *    FROZEN committed centroids; probes read base ∪ live segments.
  *    Rebuilding the base per batch would be O(corpus) per append —
  *    the LSM/segment shape (Lucene/Milvus-style) bounds each append
  *    by its batch and defers the O(corpus) fold to [[compact]] on a
  *    cadence. The segment lifecycle and its crash contract are
  *    [[SegmentedIndex]]'s, shared with [[IvfPqIndex]].
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

  private val Layout = SegmentedIndex.Layout("_graft_ivf_meta.json",
    "kmeans-l2-normalized", "IVF", "vectors")

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
      fitSamplePerCell: Int = 256, subsumedUpto: Long = -1L): Int =
    SegmentedIndex.build(corpus, path, Layout, dims, nlist, seed, idCol,
        vecCol, knownCount, fitSamplePerCell, subsumedUpto) { (a, _, _) =>
      a.select(col("id"), col("vec"), col("cell"))
    }

  /** (nlist, dims, build_mse) of the committed sidecar — None when the
    * resolved generation has none (not an IVF index). */
  def meta(spark: SparkSession, path: String): Option[(Int, Int, Double)] =
    SegmentedIndex.metaFull(spark, path, Layout)
      .map(m => (m.nlist, m.dims, m.buildMse))

  /** Segment numbers probes must read (see [[SegmentedIndex.liveSegs]]). */
  private[graft] def liveSegs(spark: SparkSession,
      path: String): Seq[Long] =
    SegmentedIndex.liveSegs(spark, path, Layout)

  /** Fold an arrival batch into the index at O(batch): assign under
    * the COMMITTED generation's FROZEN centroids (a duplicate of a
    * corpus vector provably lands in its twin's cell) and commit the
    * batch as the next segment ([[SegmentedIndex.append]]: -1 for an
    * empty batch, `atSeg` the exactly-once retry hook, -2 for a number
    * a compaction already folded). The quantizer is NOT retrained
    * ([[drift]] is the retrain signal; [[compact]] the retrain).
    * Arrival ids must be new — probes do not dedup.
    */
  def appendVectors(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      atSeg: Long = -1L): Long =
    SegmentedIndex.append(spark, path, Layout, batch, idCol, vecCol,
        atSeg) { (a, _, _) =>
      a.select(col("id"), col("vec"), col("cell"))
    }

  /** Fold base ∪ live segments into base generation N+1 — the
    * O(corpus) half of the LSM trade, paid on the compaction cadence
    * while [[appendVectors]] keeps every ingest batch O(batch). The
    * quantizer RETRAINS over the folded corpus (bounded sample); the
    * commit order is [[SegmentedIndex.compact]]'s. `nlist` 0 re-derives
    * the √n occupancy rule over the grown corpus. Returns the new base
    * version. */
  def compact(spark: SparkSession, path: String, nlist: Int = 0,
      seed: Long = 42L, fitSamplePerCell: Int = 256): Int =
    SegmentedIndex.compact(spark, path, Layout) { (m, view, upto) =>
      write(view.select(col("id").as("vec_id"), col("vec").as("embedding")),
        path, m.dims, nlist, seed, fitSamplePerCell = fitSamplePerCell,
        subsumedUpto = upto)
    }

  /** Cell assignment of an arrival batch under the COMMITTED
    * generation's frozen centroids — the operator a streaming writer
    * stages arrivals with (fold = rebuild generation N+1 over
    * corpus ∪ arrivals; probes stay on N until the pointer flips).
    * Returns (idCol, cell). Identical vectors provably land in the
    * cell their corpus twin was built into: same kernel, same
    * tie-break (lowest cell id). */
  def assignCells(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    SegmentedIndex.requireMeta(spark, path, Layout)
    SegmentedIndex.assignWith(SegmentedIndex.arrivals(batch, idCol, vecCol),
        Quantizer.fromFrame(SegmentedIndex.readCentroids(spark, path)))
      .select(col("id").as(idCol), col("cell"))
  }

  /** ANN top-k over the committed generation. Output shape =
    * [[Similarity.bruteForceTopK]] (qid, id, cosine, rank ≤ k);
    * `nprobe` ≥ nlist probes every cell (provably exact — the gate
    * configuration). The vectors scan reads only the probed cells'
    * directories ([[SegmentedIndex.probe]]); candidates are scored by
    * exact cosine on the RAW vectors ([[Similarity.exactTopK]]). */
  def probe(spark: SparkSession, path: String, queries: DataFrame, k: Int,
      nprobe: Int = 8, qidCol: String = "qid",
      vecCol: String = "embedding"): DataFrame = {
    val p = SegmentedIndex.probe(spark, path, Layout, queries, qidCol,
      vecCol, nprobe)
    Similarity.exactTopK(p.index.withColumnRenamed("vec", "cvec")
      .join(broadcast(p.cells.select(col("qid"), col("qvec"), col("cell"))),
        Seq("cell")), k)
  }

  /** Quantization-drift frame of an arrival batch under the FROZEN
    * committed centroids: one row (n, build_mse, batch_mse, ratio) —
    * ratio ≫ 1 means the quantizer deserves a retrain (publish
    * generation N+1; probes never pause). See [[SegmentedIndex.drift]]. */
  def drift(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    SegmentedIndex.drift(spark, path, Layout, batch, idCol, vecCol)
}
