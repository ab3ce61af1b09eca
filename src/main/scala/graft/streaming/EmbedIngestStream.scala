package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexVersions, Similarity}

/** Continuous near-duplicate ingest for EMBEDDINGS — the vector-side
  * mirror of [[IngestStream]], probing the persisted
  * [[graft.operators.Similarity.writeSignIndex]] layout instead of the
  * bucketed n-gram tables. Each micro-batch of arriving vectors is
  *
  *  1. exact-deduped WITHIN the batch (identical embedding arrays →
  *     min-id keeper; re-emitted vectors from an upstream encoder),
  *  2. probed against the PERSISTED sign index
  *     ([[Dedup.incrementalNewNearDupEmbedDisk]] — directory-pruned
  *     bucket equi-join, the corpus keeps ONE frozen signature per row
  *     so the index is write-once/probe-many), and
  *  3. near-dup probed against everything this stream has ALREADY
  *     ACCEPTED ([[Dedup.incrementalNewNearDupEmbed]] with the SAME
  *     plane count the index was written with, read from its sidecar),
  *     so a near-dup arriving two batches after its original is caught
  *     even though the frozen index has neither.
  *
  * The micro-batch driver and the compaction fold are
  * [[IngestStream]]'s; this object brings the vector kernels and the
  * sign-index writer. The accepted-set probe grows with accepted
  * arrivals only; periodic re-index ([[compact]]) folds it back to
  * empty on the deployment's cadence.
  */
object EmbedIngestStream {

  /** One micro-batch through the three dedup stages — factored out so
    * tests and backfills can replay it batch-exactly. `accepted` is the
    * already-ingested set (None for the first batch of a fresh out dir).
    * `nearWithinBatch` opts into stage 1.5 — symmetric NEAR-dup
    * resolution INSIDE the batch (banded sign-LSH pairs → connected
    * components → min-id keeper, the [[IngestStream.applyBatch]]
    * contract on the vector side), for arrival sources that can emit
    * two near-identical vectors in one micro-batch; off by default
    * because it pays the symmetric batch×batch banding cost per
    * arrival. Its plane count derives from the BATCH size
    * ([[Dedup.embeddingNearDupPairs]]' default) — batch occupancy, not
    * corpus occupancy, is what bounds this stage's bucket width. Dims,
    * seed and the stage-2/3 plane count are the index record's.
    */
  private[graft] def applyBatch(spark: SparkSession, batch: DataFrame,
      accepted: Option[DataFrame], indexPath: String, idCol: String,
      vecCol: String, threshold: Double, probeHamming: Int,
      nearWithinBatch: Boolean = false): DataFrame = {
    val (planes, dims, seed) = Similarity.signIndexMeta(spark, indexPath)
    val b1e = IngestStream.exactWithinBatch(batch, idCol, col(vecCol))
    val b1 =
      if (!nearWithinBatch) b1e
      else IngestStream.keepComponentMin(b1e, idCol,
        Dedup.embeddingNearDupPairs(b1e, idCol, vecCol, dims,
          threshold = threshold, seed = seed))
    val newVsCorpus = Dedup.incrementalNewNearDupEmbedDisk(spark,
      indexPath, b1, idCol, vecCol, threshold = threshold,
      probeHamming = probeHamming)
    val b2 = b1.join(newVsCorpus, Seq(idCol))
    accepted match {
      case None => b2
      case Some(acc) =>
        // the accepted-set probe replays the index's own signature so
        // stage 2 and stage 3 share one signature definition
        val newVsAccepted = Dedup.incrementalNewNearDupEmbed(acc, b2,
          idCol, vecCol, dims, numPlanes = planes, threshold = threshold,
          probeHamming = probeHamming, seed = seed)
        b2.join(newVsAccepted, Seq(idCol))
    }
  }

  /** Drain `srcDir` through the ingest pipeline
    * ([[IngestStream.runDedup]]). Dims, seed and the plane count are
    * the index record's.
    */
  def run(spark: SparkSession, srcDir: String, indexPath: String,
      outDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.4, probeHamming: Int = 1,
      maxFilesPerTrigger: Int = 1,
      compactCorpus: Option[DataFrame] = None,
      compactMaxRows: Long = Long.MaxValue,
      nearWithinBatch: Boolean = false): Unit = {
    // an index without its record is refused before the stream starts
    Similarity.signIndexMeta(spark, indexPath): Unit
    IngestStream.runDedup(spark, srcDir, outDir, checkpointDir,
      maxFilesPerTrigger, compactMaxRows, compactCorpus.map(corpus => () =>
        compact(spark, corpus, indexPath, outDir, idCol, vecCol))) {
      (batch, accepted) =>
        applyBatch(spark, batch, accepted, indexPath, idCol, vecCol,
          threshold, probeHamming, nearWithinBatch)
    }
  }

  /** [[IngestStream.fold]] the accepted vectors into the sign-index
    * version `<indexPath>/_ixv<N+1>`. Dims and seed come from the
    * current index's record (the probe side must match the write side
    * bit-for-bit); the plane count re-derives from the GROWN corpus
    * size ([[Similarity.writeSignIndex]] auto mode) — `corpusCount` ≥ 0
    * spares that sizing its corpus re-scan.
    */
  def compact(spark: SparkSession, corpus: DataFrame, indexPath: String,
      outDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", corpusCount: Long = -1L): Long = {
    val (_, dims, seed) = Similarity.signIndexMeta(spark, indexPath)
    IngestStream.fold(spark, corpus, outDir, Seq(idCol, vecCol), indexPath,
      IndexVersions.versionDir(indexPath, _), corpusCount) {
      (rows, target, known) =>
        Similarity.writeSignIndex(rows, target, dims, numPlanes = 0,
          seed = seed, idCol = idCol, vecCol = vecCol, knownCount = known)
    }
  }
}
