package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Dedup

/** Continuous near-duplicate ingest — the persisted-index arrival
  * pipeline (BASELINE.md round-10/11 ingest decades) as ONE streaming
  * query instead of a hand-scheduled batch job. Each micro-batch of
  * arriving documents is
  *
  *  1. exact-deduped WITHIN the batch (fingerprint hash-agg, min-id
  *     keeper — a crawler emitting the same page twice in one batch),
  *  2. probed against the PERSISTED bucketed n-gram index
  *     ([[graft.operators.Dedup.probeNgramIndexBucketed]]) — the
  *     write-once/probe-many corpus side, Exchange-free on the index —
  *     and
  *  3. near-dup probed against everything this stream has ALREADY
  *     ACCEPTED (the accumulating output), so a duplicate arriving two
  *     batches after its original is caught even though the frozen
  *     corpus index has neither.
  *
  * Survivors land in `outDir/batch=<id>/`, written with overwrite so a
  * foreachBatch retry after a crash rewrites the same directory —
  * append-exactly-once without a transaction log. The accepted-set
  * probe (step 3) reads the accumulated output; it grows with accepted
  * arrivals only, which at a 100 TB deployment is orders of magnitude
  * smaller than the corpus the index covers, and the operator it feeds
  * is the asymmetric PPJoin whose per-arrival cost is batch-sized.
  * Periodic re-index folds the accepted set into the next corpus
  * version, resetting step 3 to empty — the compaction cadence is the
  * deployment's knob, not this operator's.
  *
  * Within-batch NEAR-dups (two different-id, similar-text docs in one
  * arrival) are intentionally not resolved here: that is the symmetric
  * [[graft.operators.Dedup.ngramJaccardPairs]] on a batch-sized frame,
  * composable before this sink when the arrival source needs it.
  */
object IngestStream {

  /** Rows of `batch` that survive the within-batch exact pass: the
    * min-id keeper per fingerprint (the [[Dedup.exact]] contract). */
  private def exactWithinBatch(batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    batch.join(
      Dedup.exact(batch, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol))

  /** One micro-batch through the three dedup stages. Factored out of
    * the stream so tests (and backfills) can replay it batch-exactly.
    * `accepted` is the already-ingested set (None for the first batch
    * of a fresh output dir). `nearWithinBatch` opts into stage 1.5 —
    * symmetric near-dup resolution INSIDE the batch (PPJoin pairs →
    * connected components → min-id keeper), for arrival sources that
    * can emit two near-identical documents in one micro-batch; off by
    * default because it pays the symmetric batch×batch pair cost per
    * arrival, which most crawl frontiers (exact re-emits only) never
    * need.
    *
    * `modelPath` opts into stage 0 — MODEL-SCORED quality filtering
    * with the COMMITTED scorer generation at that path
    * ([[graft.operators.TextModel.score]]): arrivals at or below
    * `modelThreshold` drop before any dedup work. First because it is
    * the cheapest stage (one zero-shuffle codegen kernel pass — no
    * fingerprint agg, no index probe paid for docs the scorer
    * rejects), and read through the version pointer EVERY batch, so a
    * promotion committed mid-stream ([[graft.operators.TextModel
    * .promoteIfBetter]]) applies from the next micro-batch with no
    * stream restart — the weights collect it pays per batch is
    * bounded by the sidecar's bucket count.
    */
  private[graft] def applyBatch(spark: SparkSession, batch: DataFrame,
      accepted: Option[DataFrame], indexTablePrefix: String,
      idCol: String, textCol: String, n: Int,
      threshold: Double, nearWithinBatch: Boolean = false,
      modelPath: Option[String] = None,
      modelThreshold: Long = 0L): DataFrame = {
    val b0 = modelPath match {
      case None => batch
      case Some(p) =>
        graft.operators.TextModel.score(spark, batch, textCol, p)
          .filter(col("score_q") > modelThreshold)
          .drop("n_terms", "score_q")
    }
    val b1e = exactWithinBatch(b0, idCol, textCol)
    val b1 =
      if (!nearWithinBatch) b1e
      else {
        val drops = Dedup.connectedComponents(
            Dedup.ngramJaccardPairs(b1e, idCol, textCol, n, threshold))
          .filter(col("id") =!= col("comp"))
          .select(col("id").as(idCol))
        b1e.join(drops, Seq(idCol), "left_anti")
      }
    val dupVsCorpus = Dedup.probeNgramIndexBucketed(spark,
        indexTablePrefix, b1, idCol, textCol, n, threshold)
      .select(col("id_batch").as(idCol)).distinct()
    val b2 = b1.join(dupVsCorpus, Seq(idCol), "left_anti")
    accepted match {
      case None => b2
      case Some(acc) =>
        val dupVsAccepted = Dedup.ngramJaccardPairsAcross(acc, b2,
            idCol, textCol, n, threshold)
          .select(col("id_batch").as(idCol)).distinct()
        b2.join(dupVsAccepted, Seq(idCol), "left_anti")
    }
  }

  /** Run the ingest stream to completion over whatever is in `srcDir`
    * (AvailableNow — the drain-the-backlog trigger; swap for a
    * processing-time trigger in an always-on deployment). The bucketed
    * index tables are attached on entry when this session doesn't know
    * them yet ([[Dedup.attachNgramIndexBucketed]]; `indexBuckets` ≤ 0
    * self-configures from the index sidecars). Restart-safe: checkpoint
    * tracks consumed files, per-batch overwrite makes replays
    * idempotent. Restarting over an existing `outDir` with a FRESH
    * checkpoint is refused: batch ids would restart at 0, so prior
    * accepted batches would be both bypassed for dedup (nothing is
    * "strictly older" than batch 0) and clobbered by the per-batch
    * overwrite — resume with the original checkpoint, or point the
    * restart at an empty output dir.
    */
  def run(spark: SparkSession, srcDir: String, indexTablePrefix: String,
      indexBuckets: Int = 0, outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      threshold: Double = 0.5, maxFilesPerTrigger: Int = 1,
      compactCorpus: Option[DataFrame] = None,
      compactMaxBytes: Long = Long.MaxValue,
      compactMaxRows: Long = Long.MaxValue,
      nearWithinBatch: Boolean = false,
      compactCorpusCount: Long = -1L,
      modelPath: Option[String] = None,
      modelThreshold: Long = 0L): Unit = {
    require(
      Dedup.attachNgramIndexBucketed(spark, indexTablePrefix, indexBuckets),
      s"no bucketed n-gram index under table prefix $indexTablePrefix")
    val next = nextBatchId(spark, checkpointDir)
    val stale = batchDirs(spark, outDir).filter(_._1 >= next)
    require(stale.isEmpty,
      s"output dir $outDir already holds batches " +
        s"${stale.map(_._1).sorted.mkString(",")} at or past this " +
        s"checkpoint's next batch id $next — restarting would bypass " +
        "them for dedup and overwrite them; resume with the original " +
        "checkpoint dir or use a fresh output dir")
    mkdirs(spark, outDir)
    val schema = graft.Tables.read(spark, srcDir).schema
    val stream = graft.Tables.normalize(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(srcDir))
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a retry of batch N must not probe N's own half-written
        // output: only strictly-older batches count as accepted
        val acceptedDirs =
          batchDirs(spark, outDir).filter(_._1 < batchId).map(_._2)
        val accepted =
          if (acceptedDirs.isEmpty) None
          else Some(spark.read.parquet(acceptedDirs: _*))
        applyBatch(spark, batch, accepted, indexTablePrefix,
          idCol, textCol, n, threshold, nearWithinBatch,
          modelPath, modelThreshold)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        // opt-in auto-compact: when the accepted set outgrows its
        // thresholds, fold it into the next index version BETWEEN
        // micro-batches — the trigger policy the doc advice used to
        // leave to the caller's memory. The versioned commit makes a
        // crash here harmless: the stream keeps probing version N.
        // A crash in the compact→checkpoint-commit window replays
        // batch N against the index that already HOLDS its accepted
        // rows, so the replayed output is empty — every accepted doc
        // then lives exactly once, in the compaction archive, and the
        // dedup contract (nothing admitted twice, nothing lost) holds
        // through the replay.
        if (compactCorpus.isDefined &&
            shouldCompact(spark, outDir, compactMaxBytes, compactMaxRows)) {
          // compactCorpusCount >= 0 spares every auto-compaction the
          // bucket-sizing re-scan of the frozen corpus (the caller
          // knows its count; the archive side is footer-counted)
          compact(spark, compactCorpus.get, indexTablePrefix, outDir,
            idCol, textCol, n, threshold,
            corpusCount = compactCorpusCount): Unit
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Compaction trigger policy: true when the stream's accepted set —
    * the rows every stage-3 probe pays for — has outgrown either
    * threshold. Bytes come from filesystem metadata (free at any
    * scale); the row check reads only parquet footers and runs only
    * when a row threshold is actually set. No thresholds set = never
    * (compaction stays fully manual).
    */
  def shouldCompact(spark: SparkSession, outDir: String,
      maxAcceptedBytes: Long = Long.MaxValue,
      maxAcceptedRows: Long = Long.MaxValue): Boolean = {
    if (maxAcceptedBytes == Long.MaxValue && maxAcceptedRows == Long.MaxValue)
      return false
    val dirs = batchDirs(spark, outDir)
    if (dirs.isEmpty) return false
    if (maxAcceptedBytes != Long.MaxValue) {
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes = dirs.map { case (_, p) =>
        fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
      }.sum
      if (bytes > maxAcceptedBytes) return true
    }
    maxAcceptedRows != Long.MaxValue &&
      spark.read.parquet(dirs.map(_._2): _*).count() > maxAcceptedRows
  }

  /** Everything the stream has accepted so far. */
  def accepted(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val dirs = batchDirs(spark, outDir).map(_._2)
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs: _*))
  }

  /** Fold everything the stream has ACCEPTED into the next corpus
    * version of the persisted index — the periodic re-index the stream
    * docs promise, as an operator instead of a doc comment. The
    * accepted-set probe (stage 3) grows with every accepted arrival;
    * without this fold it grows without bound. After compaction the
    * duplicates it was catching are caught one stage earlier, by the
    * rebuilt INDEX (stage 2), and stage 3 restarts empty.
    *
    * `corpus` is the frozen GENERATION-ZERO corpus (the caller's corpus
    * store — the index tables hold shingle structures, not raw text, so
    * the fold needs the source rows). Accepted rows archived by EARLIER
    * compactions are folded in automatically (every
    * `outDir/compacted/upto=*` dir), so repeated compactions never need
    * the caller to grow the corpus frame. Steps, in crash-safe order:
    *
    *  1. archive the NOT-yet-archived accepted rows under
    *     `outDir/compacted/upto=<maxBatchId>` — they are the next
    *     generation's delta; deleting them unarchived would lose the
    *     stream's output. Batches already covered by a committed
    *     archive are skipped and partial archives from a crashed write
    *     are rebuilt, so a compaction retry after ANY crash folds each
    *     accepted row exactly once ([[archiveAccepted]]);
    *  2. build index version N+1 BESIDE version N over corpus ∪ all
    *     archives (reading the ARCHIVED copies, so the rebuild never
    *     races a deletion), under table prefix
    *     `<prefix>_ixv<N+1>` ([[graft.operators.IndexVersions]]), then
    *     FLIP THE POINTER — write-temp + atomic rename, the
    *     [[UpsertSink]] commit pattern. A crash anywhere before the
    *     flip leaves every probe on version N: the rebuild crash window
    *     is zero and rollback is moving the pointer back. The bucket
    *     count re-derives from the GROWN corpus size
    *     ([[Dedup.writeNgramIndexBucketed]] auto mode) unless pinned;
    *     `corpusCount` ≥ 0 skips that sizing count job — the rebuild
    *     then pays ONE cheap parquet-footer count over the archives
    *     instead of re-scanning the corpus it just materialized;
    *  3. remove the `batch=` dirs, so [[accepted]] and the stage-3
    *     probe restart empty. A crash between 2 and 3 leaves both
    *     defenses active (index AND accepted set catch the same dups) —
    *     redundant, never wrong.
    *
    * A restarted stream keeps its checkpoint, so batch ids continue
    * past the compaction point and the [[run]]-entry guard stays
    * satisfied. Returns the max batch id folded, or -1 when there was
    * nothing to compact.
    */
  def compact(spark: SparkSession, corpus: DataFrame,
      indexTablePrefix: String, outDir: String,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      threshold: Double = 0.5, buckets: Int = 0,
      corpusCount: Long = -1L): Long = {
    val dirs = batchDirs(spark, outDir)
    if (dirs.isEmpty) return -1L
    val maxId = dirs.map(_._1).max
    val archives = archiveAccepted(spark, outDir, dirs,
      Seq(idCol, textCol))
    val archived = spark.read.parquet(archives: _*)
    // knownCount spares the auto-bucket sizing its corpus re-scan: the
    // archive count reads parquet footers only
    val known =
      if (corpusCount >= 0) corpusCount + archived.count() else -1L
    val root = graft.operators.IndexVersions.tableRoot(spark,
      indexTablePrefix)
    val next = graft.operators.IndexVersions.nextVersion(spark, root)
    Dedup.writeNgramIndexBucketed(
      corpus.select(col(idCol), col(textCol)).unionByName(archived),
      graft.operators.IndexVersions.versionPrefix(indexTablePrefix, next),
      idCol, textCol, n, threshold, buckets, knownCount = known)
    graft.operators.IndexVersions.commit(spark, root, next)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dirs.foreach { case (_, p) =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true): Unit
    }
    maxId
  }

  /** Archive the NOT-YET-ARCHIVED accepted rows and return every
    * archive dir the compaction rebuild should fold. Shared by both
    * ingest-stream compacts ([[compact]],
    * [[EmbedIngestStream.compact]]); `cols` is the (id, payload)
    * projection the archive keeps.
    *
    * The invariant this enforces is "every accepted doc lives exactly
    * once across the archives", against two crash shapes a naive
    * archive-everything would break on:
    *
    *  - a compaction that crashed AFTER its archive write but before
    *    clearing the batch dirs leaves `upto=N` committed with batch
    *    dirs ≤ N still present; re-archiving those rows under a later
    *    `upto=M` would double-count them in every future rebuild (and
    *    in the `knownCount` bucket sizing). Only batches ABOVE the
    *    newest committed archive are archived here — batch ids are
    *    monotonic (fresh-checkpoint restarts are refused at [[run]]
    *    entry), so id ≤ N ⟺ already archived;
    *  - a compaction that crashed DURING its archive write leaves a
    *    partial `upto=` dir (no parquet-committer `_SUCCESS` marker —
    *    deployments that disable `mapreduce.fileoutputcommitter.
    *    marksuccessfuljobs` must not point compaction at this layout).
    *    Folding it would lose rows silently; it is deleted and its
    *    batches re-archived (their dirs still exist — deletion is the
    *    LAST compaction step).
    */
  private[graft] def archiveAccepted(spark: SparkSession,
      outDir: String, dirs: Seq[(Long, String)],
      cols: Seq[String]): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (committed, partial) = archiveDirs(spark, outDir).partition { d =>
      fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS"))
    }
    partial.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true): Unit
    }
    val prevUpto = committed.map(uptoOf).maxOption.getOrElse(-1L)
    val fresh = dirs.filter(_._1 > prevUpto)
    if (fresh.isEmpty) committed
    else {
      val archive = s"$outDir/compacted/upto=${dirs.map(_._1).max}"
      spark.read.parquet(fresh.map(_._2): _*)
        .select(cols.map(col): _*)
        .write.mode("overwrite").parquet(archive)
      committed :+ archive
    }
  }

  private def uptoOf(dir: String): Long =
    new org.apache.hadoop.fs.Path(dir).getName.stripPrefix("upto=").toLong

  /** All accepted-set archives under `outDir` (`compacted/upto=*`),
    * Hadoop-FS-listed for the same HDFS-safety reason as [[batchDirs]].
    */
  private[graft] def archiveDirs(spark: SparkSession,
      outDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(outDir, "compacted")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("upto="))
      .map(_.getPath.toString)
  }

  /** The `batch=<id>` output dirs under `outDir` as (id, path), through
    * the HADOOP filesystem API — `java.io.File` only sees the local
    * disk, so on HDFS/S3 (the 100 TB deployment) it would resolve the
    * accepted set to empty and silently skip cross-batch dedup.
    */
  private[graft] def batchDirs(spark: SparkSession,
      outDir: String): Seq[(Long, String)] = {
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(st =>
        (st.getPath.getName.stripPrefix("batch=").toLong,
          st.getPath.toString))
  }

  private[streaming] def mkdirs(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p): Unit
  }

  /** The batch id the stream engine will assign next under this
    * checkpoint: max committed-offset id + 1, or 0 for a fresh/absent
    * checkpoint — the run()-entry guard's reference point.
    */
  private[streaming] def nextBatchId(spark: SparkSession,
      checkpointDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).iterator
      .map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
      .foldLeft(-1L)(math.max) + 1L
  }
}
