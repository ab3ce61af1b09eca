package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Scd

/** Incremental materialized state: a streaming micro-batch sink that
  * folds each micro-batch of a change stream into a latest-per-key
  * parquet state table — the continuously-maintained "current snapshot"
  * every CDC / feature-store / crawl-frontier pipeline keeps.
  *
  * Batch fold semantics: compact the micro-batch to one row per key
  * (map-side-combinable `max_by`), then apply it with the
  * ORDER-INSENSITIVE merge ([[Scd.mergeUpsertLatest]] — greater
  * `(last_us, tie)` wins on key match). Order-insensitivity is what
  * makes the stream fold correct: micro-batch boundaries are arbitrary,
  * replays re-deliver data, and late events arrive behind newer ones —
  * under this merge every delivery order converges to the same state,
  * equal to the batch `latestSnapshot` over all events (asserted in
  * StreamingSpec).
  *
  * Exactly-once on a non-transactional file sink, the standard way:
  *   - each batch writes a COMPLETE new state version to
  *     `state/v=<batchId>/` (never in place — the previous version is
  *     concurrently being read as the merge's base);
  *   - a pointer file `_CURRENT` flips to the new version LAST, via
  *     write-temp + atomic rename;
  *   - a replayed batch that failed BEFORE the flip rewrites its own
  *     version dir (the base read is the previous version — distinct
  *     path) and re-flips the pointer — idempotent;
  *   - a replayed batch that failed AFTER the flip (crash in the
  *     flip→checkpoint-commit window) is detected by [[applyBatch]]'s
  *     pointer guard — `_CURRENT` already reads `v=<batchId>`, so the
  *     state already contains this batch and the apply is a no-op.
  *     Without the guard the merge would read and overwrite the SAME
  *     path, failing every restart.
  * On HDFS this maps 1:1 (rename is atomic); on S3-class stores the
  * pointer becomes a manifest commit — the versioned layout is the
  * portable part.
  *
  * Scale: per batch, ONE shuffle to compact the batch (rows/key per map
  * partition) and one key join against the state. At a real deployment
  * the state table is bucketed by key so the merge join co-locates and
  * only the (small) batch moves; compaction of old `v=` dirs is the
  * same retention job any snapshot store runs.
  */
object UpsertSink {

  /** State row: key, latest value, its event-time micros, tie-break,
    * tombstone flag. Tombstones STAY in the state as rows — dropping
    * them at delete time would let a LATE update with an older
    * event-time resurrect the key (the classic CDC bug); kept as rows,
    * the same ts-conditional merge rejects the stale update. Read the
    * live view through [[liveState]]; tombstone retention/GC is the
    * same retention job any CDC log store runs.
    */
  val stateSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType),
    StructField("last_us", LongType), StructField("tie", LongType),
    StructField("deleted", BooleanType)))

  private def pointerPath(stateDir: String) =
    java.nio.file.Paths.get(stateDir, "_CURRENT")

  /** The committed state, or an empty typed frame before any commit. */
  def currentState(spark: SparkSession, stateDir: String): DataFrame = {
    val p = pointerPath(stateDir)
    if (java.nio.file.Files.exists(p)) {
      val v = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
      spark.read.schema(stateSchema).parquet(s"$stateDir/$v")
    } else {
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[Row], stateSchema)
    }
  }

  /** Compact a raw change batch to one row per key: the latest
    * observation by (event time, tie) — ONE max_by of the whole row.
    * `deletedCol` marks tombstone rows (absent → all upserts); the
    * latest observation wins whether it is an upsert or a delete.
    * NULL event times are well-defined, not poisonous: max_by uses the
    * same total null-first struct ordering as the merge
    * ([[graft.operators.Scd.mergeUpsertLatest]] doc), so a NULL-ts
    * observation sorts OLDEST here and downstream alike.
    */
  def compactBatch(batch: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tieCol: String,
      deletedCol: Option[String] = None): DataFrame =
    batch.select(col(keyCol).cast("long").as("k"),
        col(valueCol).cast("double").as("v"),
        graft.functions.TimeFunctions.epochMicros(batch, tsCol).as("last_us"),
        col(tieCol).cast("long").as("tie"),
        deletedCol.map(d => coalesce(col(d).cast("boolean"), lit(false)))
          .getOrElse(lit(false)).as("deleted"))
      .groupBy(col("k"))
      .agg(max_by(struct(col("v"), col("last_us"), col("tie"),
          col("deleted")),
        struct(col("last_us"), col("tie"))).as("r"))
      .select(col("k"), col("r.v").as("v"), col("r.last_us").as("last_us"),
        col("r.tie").as("tie"), col("r.deleted").as("deleted"))

  /** The live view: committed state minus tombstones. NULL `deleted`
    * (a state version written before the tombstone column existed —
    * parquet fills absent columns with NULL) means live, not deleted:
    * a bare `!deleted` filter would three-valued-logic those rows out.
    */
  def liveState(spark: SparkSession, stateDir: String): DataFrame =
    currentState(spark, stateDir)
      .filter(!coalesce(col("deleted"), lit(false)))

  /** Fold one (already compacted) batch into the versioned state.
    * No-ops when `_CURRENT` already points at `v=<batchId>`: that is a
    * post-pointer-flip redelivery (checkpoint commit lost), and merging
    * would read `stateDir/v=<batchId>` as the base while overwriting
    * the same path — an unconditional failure on every restart.
    */
  def applyBatch(spark: SparkSession, stateDir: String,
      compacted: DataFrame, batchId: Long): Unit = {
    val p = pointerPath(stateDir)
    if (java.nio.file.Files.exists(p) &&
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
          == s"v=$batchId") {
      return
    }
    val merged = Scd.mergeUpsertLatest(
      currentState(spark, stateDir), compacted, "k", "last_us", "tie")
    merged.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
    val tmp = java.nio.file.Paths.get(stateDir, s"_CURRENT.tmp$batchId")
    java.nio.file.Files.write(tmp, s"v=$batchId".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, pointerPath(stateDir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Run the stream to completion over whatever is in `srcDir`
    * ([[IngestStream.drain]]), maintaining `stateDir`. Restart-safe via
    * the checkpoint + idempotent [[applyBatch]].
    */
  def run(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String, keyCol: String = "user_id",
      tsCol: String = "ts", valueCol: String = "value",
      tieCol: String = "event_id", maxFilesPerTrigger: Int = 1,
      deletedCol: Option[String] = None): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    IngestStream.drain(spark, srcDir, checkpointDir, maxFilesPerTrigger) {
      (batch, batchId) =>
        applyBatch(spark, stateDir,
          compactBatch(batch, keyCol, tsCol, valueCol, tieCol, deletedCol),
          batchId)
    }
  }
}
