package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line.
  *
  * Methodology: one untimed warmup pass (JVM JIT + codegen + parquet
  * footer caches), then one timed pass per query. `value` is the timed
  * pass total; `cold_total_sec` records the warmup pass for reference.
  *
  * Materialization is a `noop`-format write, NOT `count()`: count lets
  * Catalyst prune every column not needed for cardinality — a window or
  * per-row-score projection vanishes from the measured plan entirely
  * (q_asof_join "cost" 0.28s under count vs 0.9s with its payload
  * actually computed). The noop sink evaluates every output column.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.gateSession("graft-bench")

    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def once(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // drop blocks left by previous queries (localCheckpoint RDDs from
      // iterative operators are pinned until explicitly unpersisted —
      // by the timed pass they'd tax storage memory: dedup_components
      // measured 7.0s in the full sweep vs 3.6s isolated before this)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // pay previous queries' GC debt before the clock starts — without
      // this, allocation-heavy early queries tax whichever query GC
      // happens to land on (observed 2-3x per-query swings run-to-run)
      System.gc()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        // record, don't hide: a swallowed failure once showed up as a
        // misleading millisecond "timing"; NaN (not elapsed-to-throw)
        // keeps failure time out of every sum and per-query entry —
        // failures are reported via failed[]/n_failed, not as timings
        case _: Throwable => failed += name; Double.NaN
      }
    }

    // profiling aid: SPARK_GRAFT_ONLY=q1,q2 restricts the run (the
    // driver never sets it, so the contract output is unchanged)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val coldByQuery = ordered.map { case (name, fn) => name -> once(name, fn) }
    // two timed passes, min per query: host-level noise on this VM swings
    // single measurements ±30%; min-of-2 is the standard damping.
    // min(x, NaN) = NaN, so a failure in either pass marks the query.
    val results = ordered.map { case (name, fn) =>
      name -> math.min(once(name, fn), once(name, fn))
    }
    val timed = results.filter { case (n, v) => !v.isNaN && !failed(n) }
    // cold total over the SAME query set as the warm total: a query that
    // failed any pass is excluded from BOTH (computed after the warm
    // passes so late failures drop their cold time too) — asymmetric
    // sets would skew every cold-vs-warm and cross-round comparison
    val cold = coldByQuery
      .filter { case (n, v) => !v.isNaN && !failed(n) }.map(_._2).sum

    // ms precision: the full-Double rendering of 80+ queries pushed the
    // JSON line past the driver's output tail buffer (BENCH_r03 captured
    // the line with its head cut off -> parse failure). ~1.9KB now.
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"")
        .mkString(""","failed":[""", ",", "]")
    // "detail" vs "summary" disambiguates the two lines for any parser
    // that scans head-first; totals on both are identical and cover
    // successfully-timed queries ONLY.
    println(s"""{"metric":"total","line":"detail","value":${fmt(total)},"unit":"sec","queries":$qs,"cold_total_sec":${fmt(cold)}$failedJson,"sf":"$sfDir"}""")
    // per-query timings as a FILE artifact: the driver's stdout capture
    // keeps only the output tail, and at 109 queries the detail line
    // above overflows it head-first — round 8 lost 30 of 109 per-query
    // numbers that way. A file survives intact regardless of stdout
    // buffering; tools/bench_diff.py compares two of these across rounds.
    val coldMap = coldByQuery.toMap
    val perQuery = ordered.map { case (name, _) =>
      val warm = results.toMap.getOrElse(name, Double.NaN)
      val c = coldMap.getOrElse(name, Double.NaN)
      def jv(v: Double) = if (v.isNaN) "null" else fmt(v)
      s""""$name":{"warm":${jv(warm)},"cold":${jv(c)}}"""
    }.mkString("{", ",", "}")
    val artifact =
      s"""{"sf":"$sfDir","warm_total_sec":${fmt(total)},"cold_total_sec":${fmt(cold)},"n_queries":${ordered.size},"n_timed":${timed.size},"n_failed":${failed.size},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"queries":$perQuery}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_queries.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), artifact)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    // compact totals-only line LAST: the driver's capture keeps the
    // TAIL of the output, and the full per-query line above (~2.5KB at
    // 109 queries) has overflowed that buffer head-first two rounds
    // running (BENCH_r04/r05 "parsed": null — the leading {"metric"...
    // was cut, making the line unparseable). This line is ~120 bytes,
    // sits at the very end of the stream (build.sbt routes forked run
    // output straight to stdout so no "[info] " prefix breaks
    // line-anchored extraction), and parses standalone.
    println(s"""{"metric":"total","line":"summary","value":${fmt(total)},"unit":"sec","warm_total_sec":${fmt(total)},"cold_total_sec":${fmt(cold)},"n_queries":${ordered.size},"n_timed":${timed.size},"n_failed":${failed.size},"sf":"$sfDir"}""")
    spark.stop()
    // a bench with crashed queries is not a clean baseline: totals cover
    // only the surviving queries, so cross-round comparison on them is
    // skewed — exit nonzero so the round's rc records the failure
    if (failed.nonEmpty) sys.exit(1)
  }
}
