package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** `Dedup.awaitAll`, the concurrent runner of an index build's writes:
  * one failing write cancels its siblings' Spark jobs. */
class ConcurrentWritesSpec extends SparkSpec {

  test("awaitAll: a failing write cancels the still-running sibling " +
      "write's job, and the failure reaches the caller") {
    val sc = spark.sparkContext
    val running = new CountDownLatch(1)
    val jobOf = new ConcurrentHashMap[String, Int]()
    val ends = new ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
          .foreach(d => jobOf.put(d, js.jobId))
      override def onTaskStart(ts: SparkListenerTaskStart): Unit =
        running.countDown()
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        ends.put(je.jobId,
          if (je.jobResult == JobSucceeded) "succeeded"
          else je.jobResult.toString): Unit
    }
    sc.addSparkListener(listener)
    val out = tmpDir("await-all")
    // each task of the slow write runs for 30 s unless its task is
    // killed (a cancelled job marks its running tasks interrupted); it
    // takes two of the four cores, so the failing write can run beside it
    val slowly = udf { (x: Long) =>
      val ctx = TaskContext.get()
      val t0 = System.nanoTime()
      while (!ctx.isInterrupted() && System.nanoTime() - t0 < 30e9)
        Thread.sleep(20)
      x
    }
    val failing = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("injected write failure")
      x
    }
    val t0 = System.nanoTime()
    try {
      val err = intercept[Exception] {
        Dedup.awaitAll(spark, Seq(
          () => {
            sc.setJobDescription("slow-write")
            spark.range(0, 2, 1, 2).select(slowly(col("id")).as("x"))
              .write.parquet(s"$out/slow")
          },
          () => {
            assert(running.await(60, TimeUnit.SECONDS))
            sc.setJobDescription("failing-write")
            spark.range(1).select(failing(col("id")).as("x"))
              .write.parquet(s"$out/failing")
          }))
      }
      val chain = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(String.valueOf(_)).mkString(" <- ")
      assert(chain.contains("injected write failure"), chain)
      val waited = (System.nanoTime() - t0) / 1e9
      assert(waited < 25.0,
        s"awaitAll returned after $waited s: the sibling was not cancelled")
      val deadline = System.nanoTime() + 10e9
      def slowEnd = Option(jobOf.get("slow-write")).flatMap(j =>
        Option(ends.get(j)))
      while (slowEnd.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(slowEnd.exists(_.contains("cancelled")),
        s"the sibling write's job must end cancelled: $slowEnd")
    } finally sc.removeSparkListener(listener)
  }
}
