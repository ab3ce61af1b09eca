package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSpark.gateSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // dev aid (mirrors Bench): SPARK_GRAFT_ONLY=q1,q2 restricts the dump
    // for fast single-query oracle iteration; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // e.toString, not getMessage: NPEs and task-wrapped analysis
        // errors often carry a null/empty message — the class name is
        // the diagnostic signal then ("RUN_FAILED: null" tells nothing)
        val desc = e.toString.take(300)
        System.err.println(s"[verify] $name failed: $desc")
        failures += name -> desc
        // a query that fails to RUN must still fail the gate VISIBLY:
        // round 7 lost 5 queries to a schema drift and the correctness
        // report silently read all-green because absent output dirs
        // produce absent entries. Write a one-row marker frame in place
        // of the result — it can never match any oracle, so the compare
        // reports an explicit mismatch instead of dropping the query.
        import spark.implicits._
        try Seq(("RUN_FAILED: " + desc))
          .toDF("__run_failed").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e2: Throwable =>
          // don't swallow the secondary failure: if even the marker
          // write dies, run_errors.json is the only remaining trace —
          // say so loudly in the log
          System.err.println(
            s"[verify] $name: marker frame write ALSO failed: $e2")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable run-failure sidecar + nonzero exit: the dump is
    // incomplete, and a green-looking artifact tree must not pass silently
    Files.writeString(Paths.get(s"$outDir/run_errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
    // loud, but rc stays 0: the marker frames above make each failure an
    // explicit compare mismatch; a nonzero exit here could make the
    // driver drop the whole artifact tree and hide the 104 good results
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} quer(ies) FAILED TO RUN: " +
          failures.keys.mkString(", "))
    }
  }
}
