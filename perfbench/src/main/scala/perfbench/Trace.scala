package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Bench-side spans around the calls into graft's public functions. The
  * untraced mode uses [[NoSpans]]: the same workload code runs with no
  * bookkeeping at all. */
trait Spans {
  def span[A](name: String)(f: => A): A
}

object NoSpans extends Spans {
  def span[A](name: String)(f: => A): A = f
}

/** One recorded span. Times are on the [[Clock]] (nanoseconds). */
final case class Span(id: Int, name: String, parent: Int, traceId: Int,
    start: Long, end: Long)

/** A single clock for spans and Spark's event times: `System.nanoTime`,
  * with listener event times (epoch milliseconds) mapped onto it through
  * an offset taken once. */
object Clock {
  private val offset =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  def now(): Long = System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L + offset
}

/** Keeps spans in memory (written out by the caller when the run ends)
  * and tags every Spark job submitted inside a span with the span's id
  * through a local property. Local properties are inheritable, so jobs
  * from pool threads started inside a span (the n-gram index's
  * concurrent table writes, the streaming query's execution thread)
  * carry the tag too; `setJobGroup` writes other keys and leaves it
  * alone. */
final class Recorder(sc: SparkContext) extends Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  private var current = -1
  private var trace = 0

  /** Start a new trace: spans recorded from here share a new trace id. */
  def newTrace(): Int = { trace += 1; trace }

  def span[A](name: String)(f: => A): A = {
    val id = next; next += 1
    val parent = current
    val prev = sc.getLocalProperty(Recorder.SpanKey)
    sc.setLocalProperty(Recorder.SpanKey, id.toString)
    current = id
    val t0 = Clock.now()
    try f
    finally {
      done += Span(id, name, parent, trace, t0, Clock.now())
      current = parent
      sc.setLocalProperty(Recorder.SpanKey, prev)
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

object Recorder {
  val SpanKey = "perfbench.span"
}

/** Task totals of one Spark job. */
final class JobCounters {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var recordsRead = 0L
}

final case class JobRec(id: Int, span: Int, start: Long, end: Long,
    c: JobCounters)

/** Attributes Spark jobs, and the tasks of their stages, to the span
  * whose id the job's local properties carry. */
final class JobListener extends SparkListener {
  private val starts = mutable.LinkedHashMap.empty[Int, (Int, Long)]
  private val ends = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val counters = mutable.Map.empty[Int, JobCounters]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    starts(e.jobId) = (span, Clock.fromEpochMs(e.time))
    counters(e.jobId) = new JobCounters
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ends(e.jobId) = Clock.fromEpochMs(e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageJob.get(e.stageId); c <- counters.get(j) if m != null) {
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Every job seen so far; a job still running ends "now". Call after
    * [[org.apache.spark.PerfbenchBus.drain]]. */
  def jobs: Seq[JobRec] = synchronized {
    starts.toSeq.map { case (id, (span, t0)) =>
      JobRec(id, span, t0, ends.getOrElse(id, Clock.now()), counters(id))
    }
  }

  def clear(): Unit = synchronized {
    starts.clear(); ends.clear(); stageJob.clear(); counters.clear()
  }
}

/** Engine-reported durations of each micro-batch that read input. */
final class StreamTimes extends StreamingQueryListener {
  private val rows = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) synchronized {
      rows += ((p.batchId, p.durationMs.getOrDefault("triggerExecution", 0L),
        p.durationMs.getOrDefault("addBatch", 0L)))
    }
  }
  /** (batchId, triggerExecution ms, addBatch ms) per batch, then reset. */
  def take(): Seq[(Long, Long, Long)] = synchronized {
    val r = rows.toList; rows.clear(); r
  }
}

/** The nine per-span counters. */
object SpanMetrics {
  val Names: Seq[String] = Seq("wall_s", "self_s", "driver_only_s", "jobs",
    "tasks", "executor_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes")

  /** Per-span-name medians over every recorded instance of the name.
    * Times are seconds; counters are inclusive of child spans. */
  def byName(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Map[String, Double]] = {
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    val parent = (id: Int) => parentOf.getOrElse(id, -1)
    val children = spans.groupBy(_.parent)
    val jobIv = jobs.map(j => (j.start, j.end))
    def roll(v: JobRec => Double) = Stats.rollUp[JobRec](jobs, _.span, v, parent)
    val nJobs = roll(_ => 1.0)
    val tasks = roll(_.c.tasks.toDouble)
    val cpu = roll(_.c.cpuNs / 1e9)
    val gc = roll(_.c.gcMs / 1e3)
    val sh = roll(_.c.shuffleBytes.toDouble)
    val sp = roll(_.c.spillBytes.toDouble)
    spans.groupBy(_.name).map { case (name, inst) =>
      val per = inst.map { s =>
        val iv = (s.start, s.end)
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        Seq((s.end - s.start) / 1e9, Stats.selfTime(iv, kids) / 1e9,
          Stats.driverOnly(iv, jobIv) / 1e9, nJobs.getOrElse(s.id, 0.0),
          tasks.getOrElse(s.id, 0.0), cpu.getOrElse(s.id, 0.0),
          gc.getOrElse(s.id, 0.0), sh.getOrElse(s.id, 0.0),
          sp.getOrElse(s.id, 0.0))
      }
      name -> Names.zipWithIndex.map { case (n, i) =>
        n -> Stats.median(per.map(_(i)))
      }.toMap
    }
  }

  /** Sum of `v` over the jobs attributed to any span named `name` or to
    * its descendants. */
  def sumFor(spans: Seq[Span], jobs: Seq[JobRec], name: String,
      v: JobRec => Double): Double = {
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    val roll = Stats.rollUp[JobRec](jobs, _.span, v,
      id => parentOf.getOrElse(id, -1))
    spans.filter(_.name == name).map(s => roll.getOrElse(s.id, 0.0)).sum
  }
}
