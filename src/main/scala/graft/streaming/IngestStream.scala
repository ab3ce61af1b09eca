package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.TextFunctions
import graft.operators.{Dedup, IndexVersions}

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
  * The accepted-set probe (step 3) grows with accepted arrivals only,
  * which at a 100 TB deployment is orders of magnitude smaller than the
  * corpus the index covers, and the operator it feeds is the asymmetric
  * PPJoin whose per-arrival cost is batch-sized. Periodic re-index
  * ([[compact]]) folds the accepted set into the next corpus version,
  * resetting step 3 to empty — the compaction cadence is the
  * deployment's knob, not this operator's.
  *
  * Within-batch NEAR-dups (two different-id, similar-text docs in one
  * arrival) are resolved only on request (`nearWithinBatch`): that is
  * the symmetric [[graft.operators.Dedup.ngramJaccardPairs]] on a
  * batch-sized frame.
  *
  * What the three dedup streams share lives here: the micro-batch
  * driver ([[runDedup]]), the compaction fold ([[fold]]) and the
  * within-batch exact and stage-1.5 helpers.
  */
object IngestStream {

  /** Rows of `batch` that survive the within-batch exact pass: the
    * min-id keeper per value of `key` — the text fingerprint (the
    * [[Dedup.exact]] contract), the embedding array (exact: same bytes,
    * same vector) or a payload hash (so no payload shuffles). */
  private[streaming] def exactWithinBatch(batch: DataFrame, idCol: String,
      key: Column): DataFrame =
    batch.join(
      batch.groupBy(key).agg(min(col(idCol)).as(idCol)).select(col(idCol)),
      Seq(idCol))

  /** Stage 1.5: drop every row of `batch` that is in a near-dup
    * component of `pairs` (id_a, id_b) but is not that component's min
    * id — connected components, min-id keeper. */
  private[streaming] def keepComponentMin(batch: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    batch.join(
      Dedup.connectedComponents(pairs)
        .filter(col("id") =!= col("comp")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

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
    *
    * Every stage shingles and thresholds at the `n` and `threshold` the
    * committed index generation recorded ([[Dedup.ngramIndexMeta]], a
    * driver-side read of one small file per batch), so a compaction
    * that rebuilt the index applies from the next batch.
    */
  private[graft] def applyBatch(spark: SparkSession, batch: DataFrame,
      accepted: Option[DataFrame], indexTablePrefix: String,
      idCol: String, textCol: String, nearWithinBatch: Boolean = false,
      modelPath: Option[String] = None,
      modelThreshold: Long = 0L): DataFrame = {
    val (n, threshold) = Dedup.ngramIndexMeta(spark,
      Dedup.ngramDfDir(spark, indexTablePrefix))
    val b0 = modelPath match {
      case None => batch
      case Some(p) =>
        graft.operators.TextModel.score(spark, batch, textCol, p)
          .filter(col("score_q") > modelThreshold)
          .drop("n_terms", "score_q")
    }
    val b1e = exactWithinBatch(b0, idCol,
      TextFunctions.fingerprint(col(textCol)))
    val b1 =
      if (!nearWithinBatch) b1e
      else keepComponentMin(b1e, idCol,
        Dedup.ngramJaccardPairs(b1e, idCol, textCol, n, threshold))
    val dupVsCorpus = Dedup.probeNgramIndexBucketed(spark,
        indexTablePrefix, b1, idCol, textCol)
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

  /** Run the ingest stream ([[runDedup]]) to completion over whatever
    * is in `srcDir`. The bucketed index tables are attached on entry
    * when this session doesn't know them yet
    * ([[Dedup.attachNgramIndexBucketed]]: bucket counts from the index
    * records); `n` and `threshold` are the index's own.
    */
  def run(spark: SparkSession, srcDir: String, indexTablePrefix: String,
      outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxFilesPerTrigger: Int = 1,
      compactCorpus: Option[DataFrame] = None,
      compactMaxRows: Long = Long.MaxValue,
      nearWithinBatch: Boolean = false,
      modelPath: Option[String] = None,
      modelThreshold: Long = 0L): Unit = {
    require(Dedup.attachNgramIndexBucketed(spark, indexTablePrefix),
      s"no bucketed n-gram index under table prefix $indexTablePrefix")
    runDedup(spark, srcDir, outDir, checkpointDir, maxFilesPerTrigger,
      compactMaxRows, compactCorpus.map(corpus => () =>
        compact(spark, corpus, indexTablePrefix, outDir,
          idCol, textCol))) { (batch, accepted) =>
      applyBatch(spark, batch, accepted, indexTablePrefix,
        idCol, textCol, nearWithinBatch, modelPath, modelThreshold)
    }
  }

  /** Drain the parquet files under `srcDir` (normalized by
    * [[graft.Tables.normalize]]) through `f`, one call per micro-batch
    * with its id, and return when the backlog is consumed (AvailableNow;
    * an always-on deployment swaps in a processing-time trigger). The
    * checkpoint tracks consumed files: a batch that crashed before its
    * checkpoint commit is redelivered under the SAME id, so `f` must
    * make redelivery idempotent.
    */
  private[streaming] def drain(spark: SparkSession, srcDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int)(
      f: (DataFrame, Long) => Unit): Unit = {
    val schema = graft.Tables.read(spark, srcDir).schema
    graft.Tables.normalize(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(srcDir))
      .writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** The micro-batch driver of the three dedup streams, on [[drain]].
    *
    * Sink/replay: `dedup(batch, accepted)` sees as `accepted` only the
    * STRICTLY-OLDER `batch=` dirs (a retry of batch N must not probe N's
    * own half-written output), and its survivors land in
    * `outDir/batch=<id>/`, written with overwrite, so a retry after a
    * crash rewrites the same directory — append-exactly-once without a
    * transaction log. Each `batch=` dir records its schema
    * ([[IndexVersions.writeParquet]]), so the accepted read lists the
    * older dirs on the driver and runs no metadata job
    * ([[IndexVersions.readParquet]]).
    *
    * Restart: resume with the original checkpoint, or point the
    * restart at an empty output dir. A FRESH checkpoint over an existing
    * `outDir` is refused: batch ids would restart at 0, so prior
    * accepted batches would be both bypassed for dedup (nothing is
    * "strictly older" than batch 0) and clobbered by the overwrite.
    *
    * Auto-compact (`compact` given — a stream's `compactCorpus`): when
    * the accepted set holds more than `compactMaxRows` rows after a
    * batch, `compact` folds it into the next index version BETWEEN
    * micro-batches. A crash there leaves the stream probing version N.
    * A crash in the compact→checkpoint-commit window replays batch N
    * against the index that already HOLDS its accepted rows, so the
    * replayed output is empty: every accepted row lives exactly once,
    * in the compaction archive, and nothing is admitted twice or lost.
    */
  private[streaming] def runDedup(spark: SparkSession, srcDir: String,
      outDir: String, checkpointDir: String, maxFilesPerTrigger: Int,
      compactMaxRows: Long, compact: Option[() => Long])(
      dedup: (DataFrame, Option[DataFrame]) => DataFrame): Unit = {
    val next = nextBatchId(spark, checkpointDir)
    val stale = batchDirs(spark, outDir).filter(_._1 >= next)
    require(stale.isEmpty,
      s"output dir $outDir already holds batches " +
        s"${stale.map(_._1).sorted.mkString(",")} at or past this " +
        s"checkpoint's next batch id $next — restarting would bypass " +
        "them for dedup and overwrite them; resume with the original " +
        "checkpoint dir or use a fresh output dir")
    mkdirs(spark, outDir)
    drain(spark, srcDir, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        IndexVersions.writeParquet(
          dedup(batch, acceptedBefore(spark, outDir, batchId)),
          s"$outDir/batch=$batchId")
        compact.foreach { c =>
          if (shouldCompact(spark, outDir, compactMaxRows)) c(): Unit
        }
    }
  }

  /** Compaction trigger policy: true when the stream's accepted set —
    * the rows every stage-3 probe pays for — holds more than
    * `maxAcceptedRows` rows (a parquet-footer count). No threshold =
    * never: compaction stays manual.
    */
  def shouldCompact(spark: SparkSession, outDir: String,
      maxAcceptedRows: Long = Long.MaxValue): Boolean =
    maxAcceptedRows != Long.MaxValue &&
      accepted(spark, outDir).exists(_.count() > maxAcceptedRows)

  /** Everything the stream has accepted so far. */
  def accepted(spark: SparkSession, outDir: String): Option[DataFrame] =
    acceptedBefore(spark, outDir, Long.MaxValue)

  private def acceptedBefore(spark: SparkSession, outDir: String,
      batchId: Long): Option[DataFrame] = {
    val dirs = batchDirs(spark, outDir).filter(_._1 < batchId).map(_._2)
    if (dirs.isEmpty) None
    else Some(IndexVersions.readParquet(spark, dirs))
  }

  /** [[fold]] the accepted set into the n-gram index version under
    * table prefix `<prefix>_ixv<N+1>` (the index tables hold shingle
    * structures, not raw text, so the fold needs the `corpus` rows).
    * `n` and `threshold` replay the committed generation's record. The
    * bucket count re-derives from the GROWN corpus size
    * ([[Dedup.writeNgramIndexBucketed]] auto mode) unless pinned;
    * `corpusCount` ≥ 0 spares that sizing its corpus re-scan.
    */
  def compact(spark: SparkSession, corpus: DataFrame,
      indexTablePrefix: String, outDir: String,
      idCol: String = "doc_id", textCol: String = "text", buckets: Int = 0,
      corpusCount: Long = -1L): Long =
    fold(spark, corpus, outDir, Seq(idCol, textCol),
      IndexVersions.tableRoot(spark, indexTablePrefix),
      IndexVersions.versionPrefix(indexTablePrefix, _), corpusCount) {
      (rows, target, known) =>
        val (n, threshold) = Dedup.ngramIndexMeta(spark,
          Dedup.ngramDfDir(spark, indexTablePrefix))
        Dedup.writeNgramIndexBucketed(rows, target, idCol, textCol, n,
          threshold, buckets, knownCount = known)
    }

  /** The compaction fold every dedup stream's `compact` runs. The
    * accepted-set probe (stage 3) grows with every accepted arrival;
    * after this fold the duplicates it was catching are caught one stage
    * earlier, by the rebuilt INDEX (stage 2), and stage 3 restarts
    * empty.
    *
    * `corpus` is the frozen generation-zero corpus; accepted rows
    * archived by EARLIER compactions (every `outDir/compacted/upto=*`
    * dir) fold in automatically. Steps, in crash-safe order:
    *
    *  1. archive the NOT-yet-archived accepted rows (`cols`, the
    *     (id, payload) projection) under
    *     `outDir/compacted/upto=<maxBatchId>` — they are the next
    *     generation's delta; deleting them unarchived would lose the
    *     stream's output. A compaction retry after ANY crash folds each
    *     accepted row exactly once ([[archiveAccepted]]);
    *  2. `write` version N+1 over corpus ∪ all archives (the ARCHIVED
    *     copies, so the rebuild never races a deletion) at
    *     `target(N+1)`, BESIDE version N, then FLIP THE POINTER under
    *     `root` ([[IndexVersions.commit]]). A crash before the flip
    *     leaves every probe on version N. `write` gets its input's row
    *     count when `corpusCount` ≥ 0 (plus a parquet-footer count of
    *     the archives), else -1;
    *  3. remove the `batch=` dirs, so [[accepted]] and the stage-3
    *     probe restart empty. A crash between 2 and 3 leaves both
    *     defenses active (index AND accepted set catch the same dups) —
    *     redundant, never wrong.
    *
    * A restarted stream keeps its checkpoint, so batch ids continue
    * past the compaction point and the [[runDedup]] guard stays
    * satisfied. Returns the max batch id folded, or -1 when there was
    * nothing to compact.
    */
  private[streaming] def fold(spark: SparkSession, corpus: DataFrame,
      outDir: String, cols: Seq[String], root: String,
      target: Int => String, corpusCount: Long = -1L)(
      write: (DataFrame, String, Long) => Unit): Long = {
    val dirs = batchDirs(spark, outDir)
    if (dirs.isEmpty) return -1L
    val archived = IndexVersions.readParquet(spark,
      archiveAccepted(spark, outDir, dirs, cols))
    val known =
      if (corpusCount >= 0) corpusCount + archived.count() else -1L
    val next = IndexVersions.nextVersion(spark, root)
    write(corpus.select(cols.map(col): _*).unionByName(archived),
      target(next), known)
    IndexVersions.commit(spark, root, next)
    IndexVersions.deleteNumbered(spark, outDir, "batch=",
      dirs.map(_._1).toSet)
    dirs.map(_._1).max
  }

  /** Archive the NOT-YET-ARCHIVED accepted rows and return every
    * archive dir the compaction rebuild should fold ([[fold]] step 1);
    * `cols` is the (id, payload) projection the archive keeps.
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
    *    monotonic (fresh-checkpoint restarts are refused by
    *    [[runDedup]]), so id ≤ N ⟺ already archived;
    *  - a compaction that crashed DURING its archive write leaves an
    *    `upto=N` dir with no schema record ([[IndexVersions
    *    .writeParquet]] records it after the data) and every batch it
    *    was archiving still present (deletion is the LAST compaction
    *    step). Folding it could lose rows silently; it is deleted and
    *    those batches re-archived.
    *
    * An unrecorded `upto=N` with no batch left in (newest recorded
    * archive below N, N] is not a partial write: it is a complete
    * archive without a record (written before archives recorded their
    * schema), whose batches are gone. It is refused, not deleted —
    * deleting it would drop its rows from every later generation.
    */
  private[graft] def archiveAccepted(spark: SparkSession,
      outDir: String, dirs: Seq[(Long, String)],
      cols: Seq[String]): Seq[String] = {
    val compacted = s"$outDir/compacted"
    val (committed, unrecorded) =
      IndexVersions.numbered(spark, compacted, "upto=").partition(n =>
        IndexVersions.recordIn(spark, s"$compacted/upto=$n").isDefined)
    unrecorded.foreach { n =>
      val below = committed.filter(_ < n).maxOption.getOrElse(-1L)
      if (!dirs.exists { case (id, _) => id > below && id <= n })
        throw new IllegalStateException(s"$compacted/upto=$n has no " +
          s"recorded schema (${IndexVersions.SchemaFile}) and none of its " +
          "batches is left to re-archive it from — an archive written " +
          "without a record; rebuild the index and the accepted archives")
    }
    IndexVersions.deleteNumbered(spark, compacted, "upto=", unrecorded.toSet)
    val prevUpto = committed.maxOption.getOrElse(-1L)
    val fresh = dirs.filter(_._1 > prevUpto)
    val upto =
      if (fresh.isEmpty) committed
      else {
        val maxId = dirs.map(_._1).max
        IndexVersions.writeParquet(
          IndexVersions.readParquet(spark, fresh.map(_._2))
            .select(cols.map(col): _*),
          s"$compacted/upto=$maxId")
        committed :+ maxId
      }
    upto.map(n => s"$compacted/upto=$n")
  }

  /** All accepted-set archives under `outDir` (`compacted/upto=*`). */
  private[graft] def archiveDirs(spark: SparkSession,
      outDir: String): Seq[String] =
    IndexVersions.numbered(spark, s"$outDir/compacted", "upto=")
      .map(n => s"$outDir/compacted/upto=$n")

  /** The `batch=<id>` output dirs under `outDir` as (id, path), through
    * the HADOOP filesystem API — `java.io.File` only sees the local
    * disk, so on HDFS/S3 (the 100 TB deployment) it would resolve the
    * accepted set to empty and silently skip cross-batch dedup.
    */
  private[graft] def batchDirs(spark: SparkSession,
      outDir: String): Seq[(Long, String)] =
    IndexVersions.numbered(spark, outDir, "batch=")
      .map(n => (n, s"$outDir/batch=$n"))

  private[streaming] def mkdirs(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p): Unit
  }

  /** The batch id the stream engine will assign next under this
    * checkpoint: max committed-offset id + 1, or 0 for a fresh/absent
    * checkpoint — the [[runDedup]] guard's reference point.
    */
  private[streaming] def nextBatchId(spark: SparkSession,
      checkpointDir: String): Long =
    IndexVersions.numbered(spark, s"$checkpointDir/offsets", "")
      .foldLeft(-1L)(math.max) + 1L
}
