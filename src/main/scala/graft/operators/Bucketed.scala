package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-storage co-located joins — the zero-shuffle join for the
  * repeated-join workload (SURVEY.md build prompt: "bucketing for
  * co-located joins").
  *
  * Writing both sides bucketed by the join key into the warehouse means
  * every subsequent equi-join on that key runs WITHOUT an Exchange on
  * either side (SortMergeJoin over pre-bucketed scans). At 100 TB this
  * converts the dominant repeated cost (shuffling the fact table for
  * every join) into a one-time write-side cost.
  */
object Bucketed {

  /** Persist a table bucketed (and sorted) by `key` into the session
    * warehouse/metastore. Idempotent across SESSIONS, not just runs:
    * with an in-memory catalog, a fresh session doesn't know the table
    * but its managed-table directory survives in the warehouse path,
    * and saveAsTable then fails with LOCATION_ALREADY_EXISTS — so the
    * stale location is removed explicitly before the write.
    *
    * The bucket count and key are recorded in a `_graft_buckets.json`
    * layout record inside the table directory: a bucketed layout whose
    * reader guesses the bucket count wrong produces silently-empty
    * bucket joins (rows hashed mod N_old read as if placed mod N_new),
    * so the layout carries its own configuration and
    * [[registerBucketed]] takes the count from it — the sign-index
    * record contract applied to bucketed tables.
    *
    * `filesPerBucket` trades probe-side open cost for build-side
    * parallelism. 1 (default) repartitions to exactly `buckets` tasks
    * so each bucket is ONE file — the probe-optimal layout, but the
    * whole upstream plan funnels into `buckets` tasks (measured: the
    * one-file-per-bucket write pushed a 450k-doc index build 30.6→185 s
    * at 16 buckets, BASELINE.md round-11). m > 1 repartitions to
    * m×buckets tasks: `buckets` divides the task count and both
    * repartition and the bucket id use the same Murmur3-mod hash, so
    * every task still holds rows of exactly ONE bucket and writes ONE
    * file — m files per bucket, m× the build parallelism, and reads
    * stay Exchange-free (Spark only loses the pre-SORTED property,
    * re-sorting per partition without a shuffle when a join needs it).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, filesPerBucket: Int = 1): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(filesPerBucket > 0,
      s"filesPerBucket must be positive, got $filesPerBucket")
    val spark = df.sparkSession
    // parse FIRST, then quote each part: backticking the whole name
    // would treat "db.t" as a single-part identifier, dropping a
    // different table than the one whose location is deleted below
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sql(s"DROP TABLE IF EXISTS ${ident.quotedString}")
    // resolve the managed location through the catalog, not by string
    // concatenation — honors the current database and db-qualified
    // names (<warehouse>/<db>.db/<t>), where a hardcoded
    // <warehouse>/<t> would miss (or worse, hit an unrelated dir)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // repartition by the bucket key FIRST: Spark's bucket id and
    // repartition(n, col) both use Murmur3 hash mod n, so after this
    // exchange every task holds rows of exactly one bucket and writes
    // ONE file. Without it each upstream task writes its own slice of
    // every bucket — shufflePartitions × buckets small files (measured
    // at 5M docs: ~4,900 files across the index tables, and a fresh-JVM
    // cold probe dominated by per-file open/footer cost, not bytes).
    df.repartition(buckets * filesPerBucket,
        org.apache.spark.sql.functions.col(key))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
    IndexVersions.writeLayout(spark, loc.toString, BucketMetaFile,
      "buckets" -> buckets, "key" -> key)
  }

  private val BucketMetaFile = "_graft_buckets.json"

  private def location(spark: SparkSession,
      table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog.defaultTablePath(
      spark.sessionState.sqlParser.parseTableIdentifier(table)))

  /** The (buckets, key) a [[writeBucketed]] table was written with, from
    * its record — refused with the table's path and "rebuild" when it
    * has none. */
  def bucketMeta(spark: SparkSession, table: String): (Int, String) = {
    val r = IndexVersions.layout(spark, location(spark, table).toString,
      BucketMetaFile)
    (r.int("buckets"), r("key"))
  }

  /** Re-attach a session to a bucketed table written by
    * [[writeBucketed]] in an EARLIER session. With a persistent
    * metastore this never runs (the entry survives); with the default
    * in-memory catalog the entry dies with the JVM while the bucketed
    * data survives in the warehouse — so a fresh session re-creates the
    * entry over the existing files (metadata-only: CREATE TABLE …
    * CLUSTERED BY … LOCATION, schema read from the parquet footers).
    * Spark's bucketed files carry their bucket id in the filename
    * (`…_00007.c000`), so the re-registered table scans bucket-aware —
    * joins on `key` stay Exchange-free, same as the writing session.
    * Returns true when the table is usable afterwards (already in the
    * catalog, or attached here); false when no data exists to attach.
    *
    * The bucket count comes from the table's record, the only place it
    * is known: declaring any other count makes Spark read rows hashed
    * mod N_old as if placed mod N_new, so bucket-aware joins silently
    * drop matches while staying Exchange-free. A table without a record
    * is refused, and so is a `key` the record does not name.
    */
  def registerBucketed(spark: SparkSession, table: String,
      key: String): Boolean = {
    if (spark.catalog.tableExists(table)) return true
    val loc = location(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) return false
    val (buckets, written) = bucketMeta(spark, table)
    require(written.equalsIgnoreCase(key),
      s"bucketed table $table was written bucketed by `$written`; " +
        s"register called with key `$key`")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val ddl = spark.read.parquet(loc.toString).schema.toDDL
    spark.sql(s"CREATE TABLE ${ident.quotedString} ($ddl) USING parquet " +
      s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS " +
      s"LOCATION '${loc.toString}'")
    true
  }

  /** Drop a bucketed table AND its warehouse data. DROP TABLE alone is
    * enough for a managed table, but a [[registerBucketed]]-attached
    * one is external (CREATE … LOCATION), where DROP leaves the data
    * behind — callers that mean "remove this index" want both gone.
    */
  def dropBucketed(spark: SparkSession, table: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    spark.sql(s"DROP TABLE IF EXISTS ${ident.quotedString}")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true): Unit
  }

  /** Join two bucketed tables on their bucket key. A `merge` hint pins
    * the sort-merge-over-bucketed-scans plan by default — broadcast
    * would also avoid the shuffle but wastes the layout and stops
    * working the day the "small" side grows past the threshold; the
    * bucketed SMJ is shuffle-free at ANY size. Asserted shuffle-free in
    * BucketedSpec and inside the `q_bucketed_join` gate query.
    */
  def colocatedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String, merge: Boolean = true): DataFrame = {
    val l = spark.table(leftTable)
    (if (merge) l.hint("merge") else l).join(spark.table(rightTable), key)
  }

  /** Count the shuffle Exchange operators in a frame's executed plan —
    * the "did this shuffle?" probe used by tests, plan audits, and the
    * q_bucketed_join gate. Looks THROUGH AdaptiveSparkPlanExec (a leaf
    * node wrapping its real subtree): under AQE a naive traversal sees
    * zero operators and every shuffle assert passes vacuously.
    */
  def countExchanges(df: DataFrame): Int = {
    def walk(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
      var n = 0
      plan.foreach {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          n += walk(a.executedPlan)
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => n += 1
        case _ => ()
      }
      n
    }
    walk(df.queryExecution.executedPlan)
  }
}
