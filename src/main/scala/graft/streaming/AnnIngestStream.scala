package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexVersions, IvfPqIndex, SegmentedIndex}

/** Continuous MAINTENANCE of the persisted IVF-PQ ANN index — the
  * serving-freshness mirror of the dedup ingest streams. Those streams
  * gate which arrivals survive; this one makes every arrival
  * PROBE-ABLE: each micro-batch of embedding vectors is folded into
  * the committed [[IvfPqIndex]] as an O(batch) frozen-codebook segment
  * append, so an ANN probe sees the batch as soon as the segment
  * manifest pointer flips — no index rebuild on the arrival path.
  * Per batch the stream also
  *
  *  1. records the batch's coarse-quantization DRIFT under the frozen
  *     centroids to `driftDir/batch=<id>/` (one row per batch — the
  *     retrain monitoring trail, written with overwrite so a replay is
  *     idempotent),
  *  2. folds live segments back into the base with the PURE-FOLD
  *     [[IvfPqIndex.compact]] once their count passes
  *     `maxLiveSegments` (probe cost grows with the live-segment list:
  *     each leg is another cell-pruned scan — the LSM read-amp knob),
  *  3. and, when the batch's drift ratio exceeds `retrainRatio` AND
  *     the caller supplied `rebuildCorpus` (the full corpus view the
  *     arrivals also land in — the index stores no vectors to retrain
  *     from, by design), REBUILDS the quantizer + codebook as the next
  *     index generation. Probes never pause: they stay on generation N
  *     until the pointer flips.
  *
  * EXACTLY-ONCE without a transaction log: segment numbers are pinned
  * to `segBase + batchId + 1`, where `segBase` (the highest segment
  * number the index had when this stream FIRST ran) is recorded once
  * in a sidecar under the CHECKPOINT dir — the stream's identity. A
  * retried micro-batch re-appends under the SAME number: the frozen
  * kernel re-encodes byte-identical codes over the same dir and the
  * manifest commit is a set-union, so the retry converges to the same
  * committed state; if a compaction already folded that number
  * (crash between fold and checkpoint commit), [[IvfPqIndex.append]]
  * returns -2 and the retry is a no-op — the rows are already
  * probe-able from the base. A fresh checkpoint dir = a new stream
  * identity that seats its numbering above every existing segment.
  *
  * Arrival ids must be new relative to the indexed corpus (the
  * append contract — probes do not dedup); dedup-gating arrivals
  * first is [[EmbedIngestStream]]'s job, and the two compose by
  * pointing this stream's `srcDir` at that stream's accepted output.
  */
object AnnIngestStream {

  private val BaseFile = "graft_ann_seg_base.json"

  /** The stream's segment-number base: read the checkpoint sidecar, or
    * seat it above every segment the index currently has and record it
    * (first run only — the write is guarded by existence, and the
    * checkpoint dir is single-writer by Structured Streaming's own
    * lock). */
  private[graft] def segBase(spark: SparkSession, checkpointDir: String,
      indexPath: String): Long =
    IndexVersions.layoutIn(spark, checkpointDir, BaseFile) match {
      case Some(r) => r.long("seg_base")
      case None =>
        val meta = IvfPqIndex.metaFull(spark, indexPath).getOrElse(
          throw new IllegalArgumentException(
            s"no IVF-PQ index at $indexPath"))
        val base = (SegmentedIndex.committedSegs(spark, indexPath) :+
          meta.segsUpto).max
        IndexVersions.writeText(spark, checkpointDir, BaseFile,
          IndexVersions.renderLayout("seg_base" -> base), overwrite = false)
        base
    }

  /** One micro-batch through the maintenance stages — factored out so
    * tests can replay it batch-exactly (including retries). Returns
    * the drift row it logged. */
  private[graft] def applyBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, indexPath: String, base: Long, driftDir: String,
      idCol: String, vecCol: String, maxLiveSegments: Int,
      retrainRatio: Double, rebuildCorpus: Option[DataFrame],
      nlist: Int, fitSamplePerCell: Int): DataFrame = {
    val seg = IvfPqIndex.append(spark, indexPath, batch,
      idCol = idCol, vecCol = vecCol, atSeg = base + batchId + 1)
    val drift = IvfPqIndex.drift(spark, indexPath, batch,
        idCol = idCol, vecCol = vecCol)
      .select(lit(batchId).as("batch_id"), lit(seg).as("seg"),
        col("n"), col("build_mse"), col("batch_mse"), col("ratio"))
      .localCheckpoint(true)
    IndexVersions.writeParquet(drift, s"$driftDir/batch=$batchId")
    if (IvfPqIndex.liveSegs(spark, indexPath).size > maxLiveSegments)
      IvfPqIndex.compact(spark, indexPath): Unit
    val ratio = drift.select(col("ratio")).head().getDouble(0)
    if (ratio > retrainRatio) rebuildCorpus.foreach { corpus =>
      val meta = IvfPqIndex.metaFull(spark, indexPath).get
      // the rebuild corpus CONTAINS the appended arrivals (it is the
      // table they land in), so the new base must subsume every live
      // segment — otherwise probes would double-count arrival rows
      // from both the rebuilt base and the still-live segment legs
      val upto = (SegmentedIndex.committedSegs(spark, indexPath) :+
        meta.segsUpto).max
      IvfPqIndex.write(corpus, indexPath, meta.dims,
        nlist = nlist, m = meta.param("m"), ksub = meta.param("ksub"),
        seed = meta.seed,
        idCol = idCol, vecCol = vecCol,
        fitSamplePerCell = fitSamplePerCell, subsumedUpto = upto): Unit
    }
    drift
  }

  /** Drain `srcDir` through the maintenance pipeline
    * ([[IngestStream.drain]]). Restart-safe: the checkpoint tracks
    * consumed files and the pinned segment numbering makes replayed
    * appends converge (see the object doc). `nlist` ≤ 0 re-derives the
    * √n rule on a drift-triggered rebuild. */
  def run(spark: SparkSession, srcDir: String, indexPath: String,
      checkpointDir: String, driftDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxFilesPerTrigger: Int = 1, maxLiveSegments: Int = 8,
      retrainRatio: Double = Double.MaxValue,
      rebuildCorpus: Option[DataFrame] = None, nlist: Int = 0,
      fitSamplePerCell: Int = 256): Unit = {
    val base = segBase(spark, checkpointDir, indexPath)
    IngestStream.mkdirs(spark, driftDir)
    IngestStream.drain(spark, srcDir, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        applyBatch(spark, batch, batchId, indexPath, base, driftDir,
          idCol, vecCol, maxLiveSegments, retrainRatio, rebuildCorpus,
          nlist, fitSamplePerCell): Unit
    }
  }

  /** The drift trail this stream has logged so far — one row per
    * batch, (batch_id, seg, n, build_mse, batch_mse, ratio); the same
    * `batch=<id>` layout as a dedup stream's accepted set. */
  def driftLog(spark: SparkSession, driftDir: String): Option[DataFrame] =
    IngestStream.accepted(spark, driftDir)
}
