package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bucketed, IndexVersions, Multimodal}

/** Continuous near-duplicate ingest for MEDIA — the perceptual mirror
  * of [[IngestStream]] (text) and [[EmbedIngestStream]] (vectors),
  * probing the persisted [[graft.operators.Multimodal.writePhashIndex]]
  * layout. Each micro-batch of arriving media assets is
  *
  *  1. BYTE-exact deduped WITHIN the batch (sha256 of the payload →
  *     min-id keeper — an uploader emitting the same file twice in one
  *     batch; the fixed 32-byte hash key is what shuffles, never the
  *     payloads themselves),
  *  2. PERCEPTUALLY probed against the PERSISTED phash index
  *     ([[Multimodal.probePhashIndex]] — banded-Hamming keys against
  *     the bucketed corpus layout: the corpus side is Exchange-free,
  *     the batch side shuffles only itself; bands come from the
  *     index's `_graft_phash_meta.json` sidecar so every stage shares
  *     ONE signature definition), and
  *  3. perceptually probed against everything this stream has ALREADY
  *     ACCEPTED ([[Multimodal.perceptualNearDupPairsAcross]]), so a
  *     transcode arriving two batches after its original is caught
  *     even though the frozen corpus index has neither.
  *
  * The micro-batch driver and the compaction fold are
  * [[IngestStream]]'s; this object brings the perceptual kernels and
  * the phash-index writer. The accepted-set probe grows with accepted
  * arrivals only; [[compact]] folds it into the next index generation
  * through the [[IndexVersions]] pointer, resetting stage 3 to empty.
  *
  * The decoder seam is [[Multimodal.perceptualSig]]'s: signatures hash
  * whatever sample stream the decode stage yields (here the payload
  * bytes — the container has no codecs); a real deployment decodes to
  * luma/PCM first and this stream is unchanged.
  */
object MediaIngestStream {

  /** One micro-batch through the three dedup stages — factored out so
    * tests, gates, and backfills can replay it batch-exactly.
    * `accepted` is the already-ingested set (None for the first batch
    * of a fresh out dir). `nearWithinBatch` opts into stage 1.5 —
    * symmetric PERCEPTUAL resolution INSIDE the batch
    * ([[Multimodal.perceptualNearDupPairs]] → connected components →
    * min-id keeper), for arrival sources that can emit two transcodes
    * of the same asset in one micro-batch; off by default because it
    * pays the symmetric batch×batch banding cost per arrival, which a
    * source that only re-emits byte-identical files never needs. Every
    * stage bands at the count the index recorded (the one signature
    * definition all three stages share).
    */
  private[graft] def applyBatch(spark: SparkSession, batch: DataFrame,
      accepted: Option[DataFrame], indexTable: String,
      idCol: String = "media_id", contentCol: String = "content",
      maxDist: Int = 8, nearWithinBatch: Boolean = false): DataFrame = {
    val (bands, _) = Multimodal.phashIndexMeta(spark, indexTable)
    val named = batch.withColumnRenamed(idCol, "media_id")
      .withColumnRenamed(contentCol, "content")
    val b1e = IngestStream.exactWithinBatch(named, "media_id",
      sha2(col("content"), 256))
    val b1 =
      if (!nearWithinBatch) b1e
      else IngestStream.keepComponentMin(b1e, "media_id",
        Multimodal.perceptualNearDupPairs(
            Multimodal.perceptualSig(b1e), maxDist, bands)
          .select(col("id_a"), col("id_b")))
    val dupVsCorpus = Multimodal.probePhashIndex(spark, indexTable,
        b1, maxDist)
      .select(col("media_id")).distinct()
    val b2 = b1.join(dupVsCorpus, Seq("media_id"), "left_anti")
    val out = accepted match {
      case None => b2
      case Some(acc) =>
        val accNamed = acc.withColumnRenamed(idCol, "media_id")
          .withColumnRenamed(contentCol, "content")
        val dupVsAccepted = Multimodal.perceptualNearDupPairsAcross(
            accNamed, b2, maxDist, bands)
          .select(col("id_b").as("media_id")).distinct()
        b2.join(dupVsAccepted, Seq("media_id"), "left_anti")
    }
    out.withColumnRenamed("media_id", idCol)
      .withColumnRenamed("content", contentCol)
  }

  /** Drain `srcDir` (parquet of (idCol, contentCol)) through the
    * ingest pipeline ([[IngestStream.runDedup]]). The band count comes
    * from the index record.
    */
  def run(spark: SparkSession, srcDir: String, indexTable: String,
      outDir: String, checkpointDir: String,
      idCol: String = "media_id", contentCol: String = "content",
      maxDist: Int = 8, maxFilesPerTrigger: Int = 1,
      compactCorpus: Option[DataFrame] = None,
      compactMaxRows: Long = Long.MaxValue,
      nearWithinBatch: Boolean = false): Unit = {
    // an index without its record is refused before the stream starts
    Multimodal.phashIndexMeta(spark, indexTable): Unit
    IngestStream.runDedup(spark, srcDir, outDir, checkpointDir,
      maxFilesPerTrigger, compactMaxRows, compactCorpus.map(corpus => () =>
        compact(spark, corpus, indexTable, outDir, idCol, contentCol))) {
      (batch, accepted) =>
        applyBatch(spark, batch, accepted, indexTable, idCol, contentCol,
          maxDist, nearWithinBatch)
    }
  }

  /** [[IngestStream.fold]] the accepted media into the phash-index
    * generation `<indexTable>_ixv<N+1>` (the index holds banded
    * signature rows, not payloads, so the fold needs the `corpus`
    * assets). Bands and bucket count replay the CURRENT generation's
    * records unless the bucket count is chosen (`buckets` > 0 — e.g. to
    * grow bucket width with the corpus).
    */
  def compact(spark: SparkSession, corpus: DataFrame, indexTable: String,
      outDir: String, idCol: String = "media_id",
      contentCol: String = "content", buckets: Int = 0): Long = {
    val resolved = Multimodal.resolvePhashTable(spark, indexTable)
    val (bands, _) = Multimodal.phashIndexMeta(spark, indexTable)
    val effBuckets =
      if (buckets > 0) buckets else Bucketed.bucketMeta(spark, resolved)._1
    IngestStream.fold(spark, corpus, outDir, Seq(idCol, contentCol),
      Multimodal.phashIndexRoot(spark, indexTable),
      IndexVersions.versionPrefix(indexTable, _)) { (rows, target, _) =>
      Multimodal.writePhashIndex(
        rows.select(col(idCol).as("media_id"), col(contentCol).as("content")),
        target, effBuckets, bands)
    }
  }

  /** Drop a (possibly compacted) phash index: every generation's table
    * AND the version pointer — the cleanup a self-contained gate needs
    * so a re-run starts from nothing. */
  def dropPhashIndex(spark: SparkSession, indexTable: String): Unit = {
    val root = Multimodal.phashIndexRoot(spark, indexTable)
    val cur = IndexVersions.currentVersion(spark, root).getOrElse(0)
    (1 to cur).foreach { v =>
      Bucketed.dropBucketed(spark,
        IndexVersions.versionPrefix(indexTable, v))
    }
    IndexVersions.clearPointer(spark, root)
    Bucketed.dropBucketed(spark, indexTable)
  }
}
