package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (started by `perfbench/run.py`).
  *
  *   --workload W --seed N --seconds S --trace 0|1 --work DIR --bench-dir DIR
  *
  * Untraced (`--trace 0`): set up the local session (`setup_s`, timed
  * from process start, once: a second cold set-up needs a second JVM),
  * stage the seed's inputs, run the workload's warm-up if it has one,
  * then closed-loop repetitions until `--seconds` of measured time has
  * passed (at least one). Every repetition's output is checked. Prints
  * the end-to-end metrics as the last stdout line.
  *
  * Traced (`--trace 1`): the named workload warms up and runs one traced
  * repetition, then every other workload runs one traced repetition, so
  * every span is recorded. The tracing overhead is the named workload's
  * traced wall against the first timed repetition of an untraced run of
  * the same seed, when one ran in this checkout. Prints every per-layer
  * metric and writes the spans and jobs to `DIR/traces/`.
  */
object Main {
  val Cores: Int = Inputs.Cores

  def session(runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold",
        String.valueOf(64L * 1024 * 1024))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Process start → local session ready → first trivial job done, in
    * seconds: the cold set-up every run of an application pays, JVM
    * start and class loading included. */
  def setUp(runDir: String): (SparkSession, Double) = {
    val s = session(runDir)
    s.range(0, 1000, 1, Cores).selectExpr("sum(id)").collect()
    val started = ProcessHandle.current().info().startInstant().get()
    (s, java.time.Duration.between(started, java.time.Instant.now())
      .toNanos / 1e9)
  }

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def args(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val opt = args(argv)
    val code =
      if (opt.contains("gate-counts")) GateCounts.run(opt)
      else if (opt.contains("prof-ivf")) GateCounts.profIvf(opt)
      else bench(opt)
    System.exit(code)
  }

  def bench(opt: Map[String, String]): Int = {
    val workload = opt("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val runDir = s"$work/run"
    Files.rm(new File(runDir))
    new File(runDir).mkdirs()
    System.setProperty("derby.system.home", runDir)
    val (spark, setup) = setUp(runDir)
    val streamTimes = new StreamTimes
    spark.streams.addListener(streamTimes)
    val inputs = new Inputs(spark, s"$work/inputs", seed)
    val ctx = new Ctx(spark, inputs, runDir, opt("bench-dir"), streamTimes)
    def log(m: String): Unit = System.err.println(f"[perfbench] " +
      f"${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f $m")
    log(f"set-up $setup%.2f s")

    val (reps, metrics) =
      if (!traced) {
        val wl = Workload(workload, ctx)
        val (_, stage) = time(wl.prepare())
        log(f"$workload: inputs staged in $stage%.2f s")
        wl.warmUp()
        val timedReps = scala.collection.mutable.ArrayBuffer.empty[Rep]
        var measured = 0.0
        while (timedReps.isEmpty || measured < seconds) {
          val r = wl.rep(timedReps.size + 1, NoSpans, check = true)
          measured += r.wall
          timedReps += r
          log(f"$workload: repetition ${timedReps.size} ${r.wall}%.3f s")
        }
        log(s"$workload: ${timedReps.size} timed repetitions, " +
          f"$measured%.2f s measured")
        Traced.saveUntraced(work, workload, seed, timedReps.head.wall)
        val ms = wl.metrics(timedReps.toSeq) ++
          Seq(Metric("setup_s", "s", setup))
        (timedReps.toSeq, ms.map(m => m.name -> (m.value, m.unit)))
      } else Traced.run(ctx, work, workload, log)

    spark.stop()
    val failedReps = reps.filter(_.failures.nonEmpty)
    failedReps.foreach(r => log(s"check failed: ${r.failures.mkString("; ")}"))
    val attempted = reps.map(_.ops).sum
    val failed = failedReps.map(_.ops).sum
    println(Json.result(failed == 0, attempted, failed, metrics))
    if (failed == 0) 0 else 1
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      "\"metrics\": {" + metrics.map { case (n, (v, u)) =>
        s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
      }.mkString(", ") + "}}"
}

/** The traced run: every workload under the span recorder and the job
  * listener. */
object Traced {
  /** Where an untraced run leaves the wall of its first timed repetition,
    * for a later traced run of the same workload and seed to compare. */
  private def untracedFile(work: String, workload: String, seed: Long) =
    new File(s"$work/results/$workload-seed$seed.txt")

  def saveUntraced(work: String, workload: String, seed: Long,
      wall: Double): Unit = {
    val f = untracedFile(work, workload, seed)
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f)
    try w.println(wall) finally w.close()
  }

  def run(ctx: Ctx, work: String, first: String,
      log: String => Unit): (Seq[Rep], Seq[(String, (Double, String))]) = {
    val sc = ctx.spark.sparkContext
    val listener = new JobListener
    val rec = new Recorder(sc)
    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    val byWorkload = scala.collection.mutable.LinkedHashMap.empty[String, Rep]
    Main.heapPools.foreach(_.resetPeakUsage())
    def traced(w: Workload): Rep = {
      w.prepare()
      sc.addSparkListener(listener)
      rec.newTrace()
      val r = w.rep(1, rec, check = true)
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      reps += r
      byWorkload(w.name) = r
      r
    }
    // the named workload runs first, exactly where an untraced run times
    // its first repetition (after the same warm-up), so the two walls
    // compare: their ratio is the tracing overhead. Every other workload
    // then runs one traced repetition, so that every span is recorded.
    val wl = Workload(first, ctx)
    wl.prepare()
    wl.warmUp()
    val tr = traced(wl)
    Workload.Names.filterNot(_ == first).foreach(n => traced(Workload(n, ctx)))
    val f = untracedFile(work, first, ctx.inputs.seed)
    val plain =
      if (f.exists()) scala.io.Source.fromFile(f).mkString.trim.toDouble
      else Double.NaN
    if (plain.isNaN) log(s"$first: no untraced run of this seed to compare")
    else log(f"$first: untraced $plain%.3f s, traced ${tr.wall}%.3f s " +
      f"(overhead ${100 * (tr.wall / plain - 1)}%.1f%%)")
    val peakMb = Main.heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val spans = rec.spans
    val jobs = listener.jobs
    val per = SpanMetrics.byName(spans, jobs)
    def ex(w: String, k: String) = byWorkload(w).extras(k)
    def read(span: String) =
      SpanMetrics.sumFor(spans, jobs, span, _.c.recordsRead.toDouble)
    def batchMedian(k: String) = Stats.median(
      byWorkload("curate").samples.collect { case (`k`, v) => v })
    val extras = Seq(
      "sources.rows_read_per_row_written" ->
        (read("run.migrate") / ex("migrate", "rows_written"), "ratio"),
      "operators.dedup.pairs.pairs_out" ->
        (ex("curate", "pairs_out"), "count"),
      "operators.ivf.probe.rows_read_per_result" ->
        (read("operators.ivf.probe") / ex("curate", "probe_results"), "ratio"),
      "operators.ivf.probe.recall_at_10" -> (ex("curate", "recall_at_10"), "ratio"),
      "operators.ivf.bytes_per_vector_byte" ->
        (ex("curate", "index_bytes") / ex("curate", "vector_bytes"), "ratio"),
      "streaming.add_batch_s" -> (batchMedian("add_batch_s"), "s"),
      "streaming.engine_overhead_s" -> (batchMedian("engine_overhead_s"), "s"),
      "driver.peak_heap_mb" -> (peakMb, "MB"))
    val spanMetrics = Layers.Spans.flatMap { s =>
      SpanMetrics.Names.map(n => s"$s.$n" -> (per(s)(n), Layers.unit(n)))
    }
    writeTrace(ctx, first, spans, jobs, plain, tr.wall)
    (reps.toSeq, spanMetrics ++ extras)
  }

  private def writeTrace(ctx: Ctx, first: String, spans: Seq[Span],
      jobs: Seq[JobRec], untraced: Double, traced: Double): Unit = {
    val dir = new File(s"${new File(ctx.runDir).getParent}/traces")
    dir.mkdirs()
    val f = new File(dir, s"trace-$first-seed${ctx.inputs.seed}.json")
    val w = new PrintWriter(f)
    try {
      w.println(s"""{"workload": ${Json.str(first)}, "untraced_s": ${Json.num(untraced)}, """ +
        s""""traced_s": $traced,""")
      w.println("\"spans\": [" + spans.map(s =>
        s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
          s""""trace": ${s.traceId}, "start_ns": ${s.start}, "end_ns": ${s.end}}""")
        .mkString(",\n") + "],")
      w.println("\"jobs\": [" + jobs.map(j =>
        s"""{"id": ${j.id}, "span": ${j.span}, "start_ns": ${j.start}, """ +
          s""""end_ns": ${j.end}, "tasks": ${j.c.tasks}, "cpu_ns": ${j.c.cpuNs}, """ +
          s""""shuffle_bytes": ${j.c.shuffleBytes}, "records_read": ${j.c.recordsRead}}""")
        .mkString(",\n") + "]}")
    } finally w.close()
    System.err.println(s"[perfbench] trace written to $f")
  }
}

/** The thirteen spans the traced run records, named `<layer>.<call>`. */
object Layers {
  val Spans: Seq[String] = Seq(
    "run.migrate", "sources.build_scan", "sinks.write",
    "operators.decontaminate", "operators.dedup.pairs",
    "operators.dedup.representatives", "operators.sampling",
    "operators.ivf.write", "operators.ivf.append", "operators.ivf.probe",
    "operators.ivf.compact",
    "operators.dedup.index_build", "streaming.run")

  def unit(counter: String): String = counter match {
    case "jobs" | "tasks"                   => "count"
    case "shuffle_bytes" | "spill_bytes"    => "bytes"
    case _                                  => "s"
  }
}
