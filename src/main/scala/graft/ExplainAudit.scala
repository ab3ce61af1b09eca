package graft

/** Plan auditor: dumps the formatted physical plan of every registered
  * query and flags the scale-relevant properties — parquet filter/column
  * pushdown, broadcast vs shuffle joins, shuffle (Exchange) count, and
  * whole-stage-codegen coverage. It plans in Verify's gate session, so
  * the broadcast-vs-shuffle counts describe the plans the gates run.
  * Run:
  *   sbt "runMain graft.ExplainAudit /root/testdata/sf0.001 [outFile]"
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/tmp/plans.txt")
    val spark = LocalSpark.gateSession("graft-explain")

    val sb = new StringBuilder
    val summary = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb ++= s"\n===== $name =====\n$plan\n"
        val nExchange = "Exchange".r.findAllIn(plan).size
        val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).size
        val nSMJ = "SortMergeJoin".r.findAllIn(plan).size
        val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined
        // NOTE: AQE plans print isFinalPlan=false before execution and
        // hide codegen ids — 0 spans on an AQE query is a display
        // artifact, not missing codegen.
        val codegen = "codegen id : (\\d+)".r.findAllMatchIn(plan)
          .map(_.group(1).toInt).toSet.size
        summary ++= f"$name%-24s exchanges=$nExchange%-3d bcastJoin=$nBroadcast%-2d smj=$nSMJ%-2d pushedFilters=$pushed%-5s codegenSpans=$codegen%d%n"
      } catch {
        case e: Exception => summary ++= s"$name: EXPLAIN FAILED ${e.getMessage.take(80)}\n"
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(summary.toString)
    println(s"full plans -> $out")
    spark.stop()
  }
}
