package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Type-2 slowly-changing-dimension history builder — the classic
  * warehouse transform for tracking attribute changes over time: every
  * change to a key's attribute closes the previous version row
  * (valid_to) and opens a new one (valid_from), with exactly one open
  * (`is_current`) row per key.
  *
  * Built from windows over the change log, so the whole history is one
  * shuffle on the key: tie-break within equal timestamps, collapse
  * no-change rows, then lead() for the validity interval. No iteration
  * and no driver state — at 100 TB this is a single hash-partitioned
  * sort per key group.
  */
object Scd {

  /** Build SCD2 rows from a change log.
    *
    * @param log     change events: one row per observation
    * @param keyCol  dimension key
    * @param tsCol   observation time (timestamp column, micros)
    * @param attrCol tracked attribute; a version row is opened whenever
    *                its value differs from the key's previous version
    * @param tieCol  deterministic tie-break for equal (key, ts): the
    *                row with the HIGHEST tie value wins
    * @return (key, attr, valid_from_us, valid_to_us, is_current) —
    *         validity bounds as epoch micros, `valid_to_us` NULL on the
    *         current row. Engine-portable output types by design.
    */
  /** SCD1 / CDC compaction: the LATEST attribute value per key — one
    * map-side-combinable aggregate (no window, no sort), the shape that
    * compacts a 100 TB change log with a single shuffle of one row per
    * key per map partition.
    *
    * @return (key, attr, last_us): latest observation by (ts, tie).
    */
  def latestSnapshot(log: DataFrame, keyCol: String, tsCol: String,
      attrCol: String, tieCol: String): DataFrame =
    log.select(col(keyCol).as("k"),
        graft.functions.TimeFunctions.epochMicros(log, tsCol).as("vf"),
        col(attrCol).as("attr"), col(tieCol).as("tie"))
      .groupBy(col("k"))
      .agg(max_by(col("attr"), struct(col("vf"), col("tie"))).as("attr"),
        max(col("vf")).as("last_us"))

  /** MERGE INTO semantics as one relational pass: apply a deduplicated
    * change batch (upserts + optional tombstones) onto a base table.
    *
    *   - key in both        → the change row replaces the base row
    *                          WHOLE-ROW (a NULL in the change means set
    *                          NULL, not keep-old — MERGE semantics)
    *   - key only in batch  → insert
    *   - key only in base   → keep
    *   - tombstoned key     → drop
    *
    * One full-outer join on the key. At scale the base is the big side:
    * bucket/partition it by the key and the join co-locates; a small
    * change batch broadcasts and the base never shuffles at all. The
    * whole-row CASE (not per-column coalesce) keys off the batch key's
    * presence.
    *
    * `changes` must carry the base schema plus (optionally) a boolean
    * `deletedCol`, and at most one row per key — pre-compact a raw
    * change log with [[latestSnapshot]] semantics first.
    */
  def mergeUpsert(base: DataFrame, changes: DataFrame, keyCol: String,
      deletedCol: Option[String] = None): DataFrame = {
    val dataCols = base.columns.toSeq
    require(dataCols.forall(changes.columns.contains),
      s"changes must carry every base column; missing " +
        dataCols.filterNot(changes.columns.contains).mkString(","))
    val b = base.as("b")
    // presence marker, NOT c.key.isNotNull: a NULL-keyed change row
    // never equi-matches, and SQL MERGE then takes the NOT MATCHED
    // branch — it must INSERT as-is, not collapse into a phantom
    // all-NULL row on the unmatched side
    val c = changes.withColumn("__present", lit(true)).as("c")
    val joined = b.join(c, col(s"b.$keyCol") === col(s"c.$keyCol"),
      "full_outer")
    val inBatch = col("c.__present").isNotNull
    val kept = deletedCol match {
      case Some(d) => joined.filter(!(inBatch && coalesce(col(s"c.$d"),
        lit(false))))
      case None => joined
    }
    kept.select(dataCols.map { cn =>
      when(inBatch, col(s"c.$cn")).otherwise(col(s"b.$cn")).as(cn)
    }: _*)
  }

  /** CDC upsert that tolerates OUT-OF-ORDER batch arrival: on a key
    * match the row with the greater `(orderCol, tieCol)` wins — SQL
    * `MERGE ... WHEN MATCHED AND s.ts >= t.ts THEN UPDATE`. Plain
    * [[mergeUpsert]] is last-writer-wins by ARRIVAL, which silently
    * regresses state when a replayed/late batch lands after a newer
    * one; this variant makes the fold order-insensitive, so folding any
    * permutation of change batches converges to the same state — the
    * property an incremental micro-batch materialization needs
    * ([[graft.streaming.UpsertSink]]).
    *
    * Same single full-outer join and whole-row CASE as [[mergeUpsert]];
    * `changes` must carry the base schema (including `orderCol` /
    * `tieCol`) and at most one row per key.
    *
    * NULL `orderCol`/`tieCol` contract: Spark's struct comparison is a
    * TOTAL null-first ordering (a NULL field sorts SMALLEST; the
    * comparison itself never evaluates to NULL), so a NULL order value
    * behaves as the OLDEST possible timestamp, symmetrically on both
    * sides: a NULL-ts change row loses to any timestamped base row, a
    * NULL-ts base row loses to any timestamped change row, NULL-vs-NULL
    * falls through to the tie column, and an entirely-NULL tie goes to
    * the change row (the `>=` replay rule). Pinned in PackScdSpec.
    */
  def mergeUpsertLatest(base: DataFrame, changes: DataFrame,
      keyCol: String, orderCol: String, tieCol: String): DataFrame = {
    val dataCols = base.columns.toSeq
    require(dataCols.forall(changes.columns.contains),
      s"changes must carry every base column; missing " +
        dataCols.filterNot(changes.columns.contains).mkString(","))
    // presence markers on BOTH sides (not key.isNotNull): a NULL-keyed
    // state or change row never equi-matches but must still survive the
    // outer join as itself, same reasoning as mergeUpsert
    val b = base.withColumn("__bpresent", lit(true)).as("b")
    val c = changes.withColumn("__present", lit(true)).as("c")
    val joined = b.join(c, col(s"b.$keyCol") === col(s"c.$keyCol"),
      "full_outer")
    val inBatch = col("c.__present").isNotNull
    val inBase = col("b.__bpresent").isNotNull
    // ties (equal order AND tie) go to the change row: >= keeps a
    // replayed batch idempotent rather than flip-flopping. NULL fields
    // never poison this predicate: struct >= is Spark's null-first
    // TOTAL ordering, so NULL order/tie simply sorts oldest (see doc).
    val changeWins = inBatch && (!inBase ||
      struct(col(s"c.$orderCol"), col(s"c.$tieCol")) >=
        struct(col(s"b.$orderCol"), col(s"b.$tieCol")))
    joined.select(dataCols.map { cn =>
      when(changeWins, col(s"c.$cn")).otherwise(col(s"b.$cn")).as(cn)
    }: _*)
  }

  def scd2FromChangeLog(log: DataFrame, keyCol: String, tsCol: String,
      attrCol: String, tieCol: String): DataFrame = {
    val base = log.select(col(keyCol).as("k"),
      graft.functions.TimeFunctions.epochMicros(log, tsCol).as("vf"),
      col(attrCol).as("attr"), col(tieCol).as("tie"))
    // one candidate per (key, ts): latest writer wins. max_by instead
    // of a row_number window — it partial-aggregates map-side and, as
    // a hash aggregate, doesn't force a (k, vf)-sorted exchange the
    // k-partitioned windows below can't reuse.
    val candidates = base
      .groupBy(col("k"), col("vf"))
      .agg(max_by(col("attr"), col("tie")).as("attr"))
    // collapse no-change observations (same attr as previous version —
    // NULL-attr rows only survive as the key's first observation, by
    // 3-valued `<>`, identically in any ANSI engine)
    val byTime = Window.partitionBy(col("k")).orderBy(col("vf"))
    val versions = candidates
      .withColumn("prev", lag(col("attr"), 1).over(byTime))
      .filter(col("prev").isNull || col("prev") =!= col("attr"))
      .drop("prev")
    versions
      .withColumn("valid_to_us", lead(col("vf"), 1).over(byTime))
      .select(col("k"), col("attr"), col("vf").as("valid_from_us"),
        col("valid_to_us"), col("valid_to_us").isNull.as("is_current"))
  }
}
