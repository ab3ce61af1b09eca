package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical access to the driver-generated testdata tables
  * (TESTDATA.md). One parquet file per table under the sf dir.
  *
  * The generator's timestamp physical type has drifted across rounds
  * (TIMESTAMP(NANOS) → TIMESTAMP_NTZ micros), so this is also the
  * schema-normalization seam: whatever the parquet says, gate queries
  * see instant-semantics `TimestampType` in the UTC session, which is
  * what the DuckDB oracle's `epoch_us` over naive values replays.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalize(read(spark, s"$sfDir/$name.parquet"))

  /** events.ts was once parquet TIMESTAMP(NANOS), which Spark 4 cannot
    * read as a timestamp. Sessions must set
    * `spark.sql.legacy.parquet.nanosAsLong=true` AT BUILD TIME (all
    * entry points — Verify/Bench/ExplainAudit/cli.Main/SparkSpec — do);
    * the raw-nanos Long that read produces is truncated to micros by
    * normalize(). The conf is deliberately NOT set here: a reader
    * mutating session conf is a global side effect hiding in a helper,
    * and if a future generator re-emits NANOS into a session without
    * the conf, Spark's own "Illegal Parquet type" error is loud and
    * TestdataContractSpec fails the suite.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Refuse (rather than reconfigure) a session that reads parquet
    * nanosecond timestamps natively; `reader` names the caller. */
  def requireNanosAsLong(spark: SparkSession, reader: String): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    require(spark.conf.get(key, "false").toBoolean,
      s"$reader needs $key=true on the session")
  }

  /** Two generator drifts handled:
    *   - `ts` as raw Long nanos (legacy nanosAsLong read) → truncate to
    *     micros with integer `div`, not `/` — nanos-since-epoch exceeds
    *     double's 2^53 exact-integer range;
    *   - any TIMESTAMP_NTZ column → cast to TimestampType. Under the
    *     pinned UTC session the wall-clock reinterpretation is the
    *     identity on the stored micros, and `unix_micros`/`window`
    *     downstream require (or behave identically on) instant type.
    */
  def normalize(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val nanosFixed = df.schema.fields
      .find(f => f.name == "ts" && f.dataType == LongType) match {
        case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case None    => df
      }
    nanosFixed.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(nanosFixed)((d, f) =>
        d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }
}
