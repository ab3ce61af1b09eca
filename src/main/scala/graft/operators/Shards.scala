package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Size-targeted training-shard serialization: the last step of a
  * training-data assembly writes the curated corpus as shards of ~equal
  * token (or byte) mass plus a manifest describing each shard — what a
  * training loader actually consumes (epoch planning needs per-shard
  * token counts, not file sizes). The reference engine has no
  * serialization story; this is extension capability for the 100 TB
  * north star.
  *
  * Assignment is deterministic and storage-free: rows are laid out on
  * the integer mass line in the [[Sampling.idScore]] shuffle order
  * ([[Sampling.prefixMass]] — exact global prefix sums with NO global
  * sort), and a document belongs to the shard where its FIRST token
  * falls: `shard = (cum_mass − doc_mass) div shardMass`. Every shard
  * except the last then holds at least `shardMass` − (its last doc's
  * mass) and at most `shardMass` + (its overhanging doc's mass) of
  * mass — the standard greedy boundary, exact BIGINT arithmetic, and a
  * re-run reproduces the same shards bit-for-bit (resumable writes,
  * diffable manifests).
  *
  * Scale shape: the corpus crosses ONE wide shuffle (the prefix-sum
  * bucket partition) plus the shard repartition of the write; the
  * manifest is a ≤-#shards aggregate. No single-task sort anywhere
  * (the trap a naive `row_number`/`sum OVER ()` layout hits at 100 TB).
  *
  * Durability: the MANIFEST is the commit record of the layout. It is
  * committed through the [[IndexVersions]] pointer protocol (version
  * dirs under `_graft_manifest/_ixvN`, monotonic marker + atomic
  * pointer flip LAST), so neither an append nor a compaction ever has
  * a window where a crash leaves the manifest partial: readers resolve
  * to the previous committed generation until the flip. Shard dirs on
  * disk that the committed manifest does not describe are by definition
  * uncommitted (a crashed append's orphans) or retracted (a compacted
  * shard whose post-flip delete didn't finish) — [[healLayout]] deletes
  * them, and every mutating entry point heals first, so the layout
  * self-repairs on the next write after any crash. [[readCorpus]] is
  * the always-consistent read (manifest-directed, partition-pruned);
  * a raw `spark.read.parquet(outDir)` matches it except inside a
  * not-yet-healed crash window.
  */
object Shards {

  /** Per-row shard assignment (no files written). Output: input columns
    * + `doc_mass` (the row's own mass, BIGINT) + `cum_mass` (inclusive
    * prefix sum in serialization order) + `shard` (0-based).
    * `buckets`/`knownCount`/`epoch` as in [[Sampling.prefixMass]].
    */
  def shardByMass(df: DataFrame, idCol: String, mass: Column,
      shardMass: Long, buckets: Int = 0, knownCount: Long = -1L,
      epoch: Int = 0): DataFrame = {
    require(shardMass >= 1, s"shardMass must be >= 1: $shardMass")
    Sampling.prefixMass(df.withColumn("doc_mass", mass.cast("long")),
        idCol, col("doc_mass"), buckets, knownCount, epoch)
      .withColumn("shard",
        expr(s"(cum_mass - doc_mass) div ${shardMass}L"))
  }

  /** Materialize the shards: `outDir/shard=N/` parquet (rows carry
    * `doc_mass` and `cum_mass`; within-file order is serialization
    * order) plus a committed manifest with one row per shard —
    * (shard, docs, mass) — tallied by the write tasks themselves (see
    * [[writeAssigned]]), so the manifest describes exactly the rows the
    * write materialized with no read-back scan of the layout. The
    * underscore prefix hides the manifest from
    * `spark.read.parquet(outDir)`, which therefore loads exactly the
    * corpus. Returns the committed manifest.
    *
    * An EMPTY input commits an empty manifest (and writes no shard
    * dirs) — the bootstrap of a stream that starts from nothing and
    * grows by [[appendShards]].
    *
    * The shard repartition hashes shard ids across tasks (each task
    * writes whole shards); with `shardMass` chosen for training-file
    * granularity the per-task row count is bounded by
    * shardMass/avg_doc_mass × shards-per-task, independent of corpus
    * size.
    */
  def writeShards(df: DataFrame, outDir: String, idCol: String,
      mass: Column, shardMass: Long, buckets: Int = 0,
      knownCount: Long = -1L, epoch: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val assigned = shardByMass(df, idCol, mass, shardMass, buckets,
      knownCount, epoch)
    commitManifest(spark, outDir,
      writeAssigned(assigned, outDir, dynamic = false))
  }

  /** Write an assigned (`shard`, `cum_mass`, `doc_mass`, …) frame as
    * `shard=N` dirs and return its (shard, docs, mass) manifest rows —
    * tallied DURING the write by a `Dataset.observe` aggregate
    * ([[graft.functions.ManifestAgg.shardStats]]) riding the write
    * tasks, so committing the manifest schedules NO read-back scan of
    * the layout just written. The base [[writeShards]] previously
    * re-read and re-aggregated the FULL corpus it had just written for
    * this bounded result (guide §1.2/§6); appends/compactions paid a
    * partition-pruned version of the same job. Identical arithmetic
    * (count + Σ doc_mass per shard) over exactly the rows the write
    * materialized: the observe node sits in the write's RESULT stage,
    * where Spark applies each task's accumulator updates exactly once
    * (retried/failed tasks are discarded), and a failed write throws
    * before any manifest commit — so the committed manifest still
    * describes precisely what is on disk.
    */
  private def writeAssigned(assigned: DataFrame, outDir: String,
      dynamic: Boolean): DataFrame = {
    val spark = assigned.sparkSession
    // an append joins the layout's one relation: refuse, before the
    // write, a frame whose schema is not the layout's record
    if (dynamic) IndexVersions.requireRecord(spark, outDir, assigned.schema,
      Seq("shard"))
    val obs = org.apache.spark.sql.Observation()
    IndexVersions.writeParquet(assigned
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("cum_mass"))
      .observe(obs, graft.functions.ManifestAgg
        .shardStats(col("shard"), col("doc_mass")).as("manifest")),
      outDir, Seq("shard"), dynamic)
    IndexVersions.afterStep("shards-written")
    manifestFrame(spark, obs.get("manifest")
      .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
      .map(r => org.apache.spark.sql.Row(
        r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  private val ManifestFile = "manifest.csv"

  /** The committed manifest of a [[writeShards]] layout: the
    * `shard,docs,mass` text file of the current [[IndexVersions]]
    * generation under `_graft_manifest`. The manifest is BOUNDED (one
    * row per shard), so it is read driver-side and surfaced as a local
    * relation — reading it schedules NO Spark job and collects from it
    * for free (every mutation consults it at least once, and an ingest
    * loop mutates per micro-batch). A layout with no committed manifest
    * is refused.
    */
  def readManifest(spark: SparkSession, outDir: String): DataFrame = {
    val rows = IndexVersions.committedLines(spark, manifestRoot(outDir),
        ManifestFile).getOrElse(throw new IllegalArgumentException(
          s"no committed shard manifest under $outDir"))
      .map { line =>
        val f = line.split(",")
        org.apache.spark.sql.Row(f(0).toLong, f(1).toLong, f(2).toLong)
      }
    manifestFrame(spark, rows)
  }

  /** Manifest-directed corpus read: exactly the shards the committed
    * manifest describes. Correct in EVERY crash window — orphan dirs
    * from a crashed append and retracted dirs from an interrupted
    * compaction are filtered out even before [[healLayout]] removes
    * them — but the filter is built from the DIFFERENCE between the
    * on-disk dirs and the manifest, not from the manifest itself: the
    * healthy-layout read (the common case, and the only one a reader
    * ever sees after any mutation's heal pass) carries NO filter at
    * all, and a crash-window read excludes only the few dead dirs. A
    * `shard IN (all committed)` literal list would put ~10⁵ literals
    * into the analyzer/codegen path on a 100 TB layout (~1 GB/shard)
    * for pure overhead; the exclusion list is sized by the crash, not
    * the corpus. Both shapes partition-prune at listing time.
    */
  def readCorpus(spark: SparkSession, outDir: String): DataFrame = {
    val committed = readManifest(spark, outDir)
      .select(col("shard").cast("long")).collect().map(_.getLong(0)).toSet
    if (committed.isEmpty)
      sys.error(s"empty shard layout at $outDir — nothing to read")
    val dead = IndexVersions.numbered(spark, outDir, "shard=")
      .filterNot(committed)
    val raw = read(spark, outDir)
    if (dead.isEmpty) raw
    else raw.filter(!col("shard").isin(dead: _*))
  }

  /** Delete `shard=N` dirs the committed manifest does not describe —
    * a crashed append's uncommitted orphans (above the manifest max)
    * or an interrupted compaction's retracted sources (the post-flip
    * delete didn't finish). Both are dead by the manifest-is-commit-
    * record contract; removing them makes the raw
    * `spark.read.parquet(outDir)` read agree with [[readCorpus]]
    * again. Every mutating entry point runs this first. Returns the
    * deleted shard ids.
    */
  def healLayout(spark: SparkSession, outDir: String): Seq[Long] =
    healWith(spark, outDir, committedIds(readManifest(spark, outDir)).toSet)

  /** The committed shard ids of a (pinned) manifest frame — ≤ #shards
    * rows, bounded driver-side collect. Mutating entry points collect
    * this ONCE and share it between the heal pass and their own
    * numbering math instead of re-reading the manifest per step (an
    * append paid three manifest reads + an agg job for what is one
    * bounded collect). */
  private def committedIds(manifest: DataFrame): Array[Long] =
    manifest.select(col("shard").cast("long")).collect().map(_.getLong(0))

  private def healWith(spark: SparkSession, outDir: String,
      committed: Set[Long]): Seq[Long] =
    IndexVersions.deleteNumbered(spark, outDir, "shard=", !committed(_))

  /** APPEND a new batch of documents to an existing [[writeShards]]
    * layout — the serialization leg of an incremental pipeline (an
    * ingest stream keeps accepting documents; re-sharding the whole
    * corpus per arrival would be a full rewrite). The batch starts a
    * FRESH mass line in shards numbered from `maxShard + 1`, so
    * existing shard files are never touched (append-only layout, safe
    * under concurrent readers; dynamic partition overwrite writes only
    * the new dirs). Append-only also means REPLAYING a batch appends
    * it again under fresh shard numbers — feeding an appender exactly
    * once is the upstream's contract (the ingest stream's three dedup
    * stages are exactly that machinery). The manifest is extended with
    * the new shards' rows (tallied by the write itself) and committed
    * as the next [[IndexVersions]] generation — the pointer flip is the LAST step, so a crash at any
    * earlier point leaves the previous manifest committed and only
    * uncommitted orphan dirs on disk, which the heal pass of the next
    * mutation (or a retry of this one) deletes before numbering.
    *
    * Assignment inside the batch is [[shardByMass]] verbatim, so batch
    * shards have the same size bounds and determinism as a fresh
    * layout's; only the shard NUMBERING is offset. An empty batch
    * commits an unchanged manifest. Returns the updated read-back
    * manifest.
    */
  def appendShards(df: DataFrame, outDir: String, idCol: String,
      mass: Column, shardMass: Long, buckets: Int = 0,
      knownCount: Long = -1L, epoch: Int = 0): DataFrame = {
    val spark = df.sparkSession
    // ONE manifest read serves the heal pass, the numbering base, and
    // the carried-forward rows below (a local relation — the commit
    // later in this method collects before retiring anything, so no
    // pin is needed)
    val manifest = readManifest(spark, outDir)
    val ids = committedIds(manifest)
    healWith(spark, outDir, ids.toSet): Unit
    // empty manifest (bootstrap layout) numbers from 0
    val base = (if (ids.isEmpty) -1L else ids.max) + 1L
    val assigned = shardByMass(df, idCol, mass, shardMass, buckets,
        knownCount, epoch)
      .withColumn("shard", col("shard") + lit(base))
    // dynamic partition overwrite: only the NEW shard dirs are written;
    // static overwrite mode would wipe the existing layout. The new
    // rows' manifest is tallied during the write (writeAssigned) — no
    // read-back job
    val newRows = writeAssigned(assigned, outDir, dynamic = true)
    commitManifest(spark, outDir,
      manifest.filter(col("shard") < base).unionByName(newRows))
  }

  /** COMPACT the small tail a stream of [[appendShards]] batches
    * accumulates: every append ends its fresh mass line with one
    * under-target shard, so a long-running ingest→serialize loop grows
    * an unbounded set of tiny shards (bad training-loader granularity,
    * bad file sizes). Shards with mass < `minMass` (default
    * `shardMass / 2` — the classic LSM half-full rule; pass `shardMass`
    * to also fold barely-under-target shards) are folded: their rows
    * are re-assigned by [[shardByMass]] on ONE fresh mass line (so the
    * fold yields target-mass shards again, at most one short tail),
    * written as new dirs numbered from maxShard+1, and the manifest —
    * the folded rows replacing the source shards' — is committed via
    * the pointer flip BEFORE the source dirs are deleted. Crash
    * windows: before the flip, the old manifest stays committed and
    * the new dirs are unreferenced orphans (healed); after the flip,
    * the manifest is already correct and the undeleted source dirs are
    * retracted-but-present (healed; [[readCorpus]] is exact
    * throughout). Fold cost is proportional to the SMALL shards' mass,
    * never the corpus — the partition-pruned `shard IN` read.
    *
    * Folding renumbers, so shard ids stop being contiguous — the
    * manifest, not the numbering, is the loader contract. Fewer than 2
    * small shards is a no-op (folding one shard only renames it).
    * Returns the committed manifest.
    */
  def compactShards(spark: SparkSession, outDir: String, idCol: String,
      shardMass: Long, minMass: Long = -1L, buckets: Int = 0,
      epoch: Int = 0): DataFrame = {
    require(shardMass >= 1, s"shardMass must be >= 1: $shardMass")
    val threshold = if (minMass >= 0) minMass else shardMass / 2
    // ONE manifest read + ONE bounded (shard, mass) collect serves the
    // heal pass, the small-set selection, and the numbering base —
    // previously three separate manifest scans plus an agg job
    val manifest = readManifest(spark, outDir)
    val rows = manifest
      .select(col("shard").cast("long"), col("mass").cast("long"))
      .collect()
    healWith(spark, outDir, rows.map(_.getLong(0)).toSet): Unit
    val small = rows.filter(_.getLong(1) < threshold).map(_.getLong(0))
    if (small.length < 2) return manifest
    val base = rows.map(_.getLong(0)).max + 1L
    // stored rows already carry doc_mass; shardByMass re-derives it
    // from itself (withColumn replaces in place) on the fresh line
    val folded = shardByMass(
        read(spark, outDir)
          .filter(col("shard").isin(small.toIndexedSeq: _*))
          .drop("shard", "cum_mass"),
        idCol, col("doc_mass"), shardMass, buckets, epoch = epoch)
      .withColumn("shard", col("shard") + lit(base))
    val newRows = writeAssigned(folded, outDir, dynamic = true)
    val committed = commitManifest(spark, outDir, manifest
      .filter(!col("shard").isin(small.toIndexedSeq: _*))
      .unionByName(newRows))
    // sources are retracted from the committed manifest — delete LAST
    IndexVersions.deleteNumbered(spark, outDir, "shard=", small.toSet): Unit
    IndexVersions.afterStep("sources-deleted")
    committed
  }

  /** One shard of a [[writeShards]] layout, in serialization order —
    * what a (resumable) training loader reads per step. The `shard=`
    * partition filter prunes at FILE LISTING time (spec-pinned: the
    * scan's partition count is 1), so reading shard k of a 100 TB
    * layout costs one directory, not a scan of the corpus.
    */
  def readShard(spark: SparkSession, outDir: String,
      shard: Long): DataFrame =
    read(spark, outDir)
      .filter(col("shard") === shard)
      .sort(col("cum_mass"))

  /** Every `shard=N` dir on disk, with the layout's recorded schema
    * (`shard` as the LONG the writer assigned) and no metadata job. */
  private def read(spark: SparkSession, outDir: String): DataFrame =
    IndexVersions.readParquet(spark, Seq(outDir))

  /** Write `rows` as the next manifest generation and flip the pointer
    * (the [[IndexVersions]] protocol: version dir beside the previous
    * one, monotonic marker + atomic rename LAST). Generations older
    * than N−1 are dropped after the flip — a manifest row set is tiny
    * but an append-per-micro-batch ingest loop commits one generation
    * PER BATCH, so unbounded retention accumulates unbounded small
    * dirs under `_graft_manifest`; current + one rollback target is
    * the bound. The rows are collected (bounded: one per shard) and
    * written driver-side as the text manifest [[readManifest]] serves —
    * the collect also snapshots them, so the returned frame survives a
    * later append/compaction retiring the files the rows derived from
    * (what the former localCheckpoint + parquet write + re-read cycle
    * bought with three extra jobs per mutation). */
  private def commitManifest(spark: SparkSession, outDir: String,
      rows: DataFrame): DataFrame = {
    val data = rows.select(col("shard").cast("long"),
        col("docs").cast("long"), col("mass").cast("long"))
      .collect().sortBy(_.getLong(0))
    IndexVersions.commitLines(spark, manifestRoot(outDir), ManifestFile,
      data.map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}"))
    IndexVersions.afterStep("manifest-flipped")
    manifestFrame(spark, data.toSeq)
  }

  private val manifestSchema = StructType(Seq(
    StructField("shard", LongType), StructField("docs", LongType),
    StructField("mass", LongType)))

  /** (shard, docs, mass) rows as a local relation: a java-list
    * createDataFrame plans as a LocalRelation, so collects, joins and
    * broadcasts over the manifest never schedule a job. */
  private def manifestFrame(spark: SparkSession,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      manifestSchema)

  private def manifestRoot(outDir: String): String =
    s"$outDir/_graft_manifest"
}
