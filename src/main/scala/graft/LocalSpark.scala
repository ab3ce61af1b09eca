package graft

import org.apache.spark.sql.SparkSession

/** The one place a local [[SparkSession]] is built. Every entry point
  * (`Bench`, `Verify`, `ExplainAudit`, `ReplicaGen`, `cli.Main`) and the
  * test suites share these session conventions:
  *
  *  - `spark.sql.session.timeZone=UTC`: gate outputs and time buckets
  *    must not depend on the host's zone;
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the testdata's
  *    `events.ts` has drifted to TIMESTAMP(NANOS) before; set at build
  *    time so [[Tables]] never mutates the session conf;
  *  - no Spark UI, and one log level for the whole run;
  *  - `spark.sql.shuffle.partitions` equal to the core count.
  */
object LocalSpark {

  /** Cores of a local session: `SPARK_GRAFT_CPUS` when set, else the
    * host's available processors. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(appName: String, master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The session the gates run in (`Bench`, `Verify`, `ExplainAudit`).
    * Its broadcast threshold is 64 MB, not the default 10 MB: the
    * ~15 MB n-gram prefix self-join sits at the default's edge and
    * flaps between broadcast and sort-merge plans run to run (measured
    * 2.6 s vs 10 s); the driver has plenty of room for 64 MB. */
  def gateSession(appName: String): SparkSession = {
    val spark = session(appName)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
    spark
  }
}
