package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.functions._

import graft.operators.IvfIndex

/** Two one-off passes that run outside the timed benchmark.
  *
  * `--gate-counts SF_DIR --out FILE --work DIR`: every registered gate
  * (`SparkEntry.queries`) once, written the way `Verify` writes it, under
  * the job listener; records each gate's job count and shuffle records
  * written. These counts repeat exactly where timings do not, so they
  * serve as a "job counts do not rise" check. `run.py --gate-counts`
  * runs two passes in fresh processes and lists gates whose counts
  * differ as unstable.
  *
  * `--prof-ivf SF_DIR --out FILE --work DIR`: one traced cold pass of the
  * IVF lifecycle the `ProfIvf` profiler times (nlist = nprobe = 8, base
  * on 2/3 of the vectors, two appends, probe, compact, probe), ranking
  * the spans by wall time. Exits nonzero unless `operators.ivf.write` is
  * the largest span.
  */
object GateCounts {

  private def prepare(opt: Map[String, String]) = {
    val runDir = s"${opt("work")}/run"
    Files.rm(new File(runDir))
    new File(runDir).mkdirs()
    val spark = Main.session(runDir)
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    (spark, listener, runDir)
  }

  private def write(path: String, body: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f)
    try w.println(body) finally w.close()
  }

  def run(opt: Map[String, String]): Int = {
    val sf = opt("gate-counts")
    val (spark, listener, runDir) = prepare(opt)
    val sc = spark.sparkContext
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      org.apache.spark.PerfbenchBus.drain(sc)
      listener.clear()
      val err =
        try {
          fn(spark, sf).coalesce(1).write.mode("overwrite")
            .parquet(s"$runDir/gates/$name"); None
        } catch { case e: Throwable => Some(e.toString.take(200)) }
      org.apache.spark.PerfbenchBus.drain(sc)
      val jobs = listener.jobs
      val rec = jobs.map(_.c.shuffleRecords).sum
      System.err.println(s"[gates] $name jobs=${jobs.size} shuffle_records=$rec")
      s"    ${Json.str(name)}: {\"jobs\": ${jobs.size}, " +
        s"\"shuffle_records\": $rec" +
        err.map(e => s", \"error\": ${Json.str(e)}").getOrElse("") + "}"
    }
    spark.stop()
    write(opt("out"), s"{\n  \"nproc\": ${Main.Cores},\n  \"queries\": {\n" +
      rows.mkString(",\n") + "\n  }\n}")
    0
  }

  def profIvf(opt: Map[String, String]): Int = {
    val (spark, listener, runDir) = prepare(opt)
    import spark.implicits._
    val rec = new Recorder(spark.sparkContext)
    val e = graft.Tables(spark, opt("prof-ivf"), "embeddings")
    val queries = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")
    val path = s"$runDir/prof_ivf"
    rec.newTrace()
    val t0 = Clock.now()
    rec.span("operators.ivf.write") {
      IvfIndex.write(e.filter($"vec_id" % 3 =!= 0), path, dims = 64, nlist = 8)
    }
    rec.span("operators.ivf.append") {
      IvfIndex.appendVectors(spark, path, e.filter($"vec_id" % 6 === 0))
    }
    rec.span("operators.ivf.append") {
      IvfIndex.appendVectors(spark, path, e.filter($"vec_id" % 6 === 3))
    }
    val onSegs = rec.span("operators.ivf.probe") {
      IvfIndex.probe(spark, path, queries, k = 5, nprobe = 8)
        .select(lit("segs").as("phase"), $"qid", $"id", $"rank")
        .localCheckpoint(true)
    }
    rec.span("operators.ivf.compact")(IvfIndex.compact(spark, path, nlist = 8))
    rec.span("operators.ivf.probe") {
      onSegs.unionByName(IvfIndex.probe(spark, path, queries, k = 5, nprobe = 8)
        .select(lit("base").as("phase"), $"qid", $"id", $"rank"))
        .write.format("noop").mode("overwrite").save()
    }
    val total = (Clock.now() - t0) / 1e9
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val spans = rec.spans
    val jobs = listener.jobs
    spark.stop()
    val ranked = spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(s => (s.end - s.start) / 1e9).sum,
        SpanMetrics.sumFor(spans, jobs, n, _ => 1.0))
    }.sortBy(-_._2)
    val holds = ranked.head._1 == "operators.ivf.write"
    write(opt("out"), s"{\n  \"pass\": \"cold\",\n  \"total_s\": $total,\n" +
      s"  \"largest\": ${Json.str(ranked.head._1)},\n  \"holds\": $holds,\n" +
      "  \"spans\": [\n" + ranked.map { case (n, w, j) =>
        s"    {\"name\": ${Json.str(n)}, \"wall_s\": $w, \"jobs\": ${j.toInt}}"
      }.mkString(",\n") + "\n  ]\n}")
    ranked.foreach { case (n, w, j) =>
      System.err.println(f"[prof-ivf] $n%-24s $w%8.3f s  jobs=${j.toInt}") }
    if (holds) 0 else 1
  }
}
