package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexVersions, IvfIndex, IvfPqIndex, SegmentedIndex}
import graft.streaming.IngestStream

/** graft reads the parquet artifacts it wrote with the schema it
  * recorded and a driver-side listing: a probe, a compaction and an
  * ingest micro-batch run no schema-inference and no parallel-listing
  * job, and an artifact whose record is missing, or whose files or
  * appended frame disagree with it, is refused. Also: the cell kernels
  * refuse a vector they cannot rank.
  */
class ArtifactReaderSpec extends SparkSpec {
  import spark.implicits._

  /** `n` seeded random 16-d vectors with ids from `from`, as a local
    * relation (reading it runs no job). */
  private def vectors(n: Int, from: Long, seed: Long): DataFrame = {
    val rnd = new java.util.Random(seed)
    (0 until n).map(i => (from + i, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  private def queries = vectors(20, 0L, 1L)
    .select($"vec_id".as("qid"), $"embedding")

  /** Spark's parallel listing job, started for a dir of more than 32
    * entries. */
  private def isListing(j: Job) = j.description.startsWith("Listing leaf files")

  /** A job started by `DataFrameReader.parquet` to infer a schema. */
  private def isSchemaInference(j: Job) = j.callSite.startsWith("parquet at")

  case class Job(description: String, callSite: String, tasks: Int) {
    override def toString = s"$callSite ($tasks tasks) $description"
  }

  /** The jobs `body` starts, on any thread. */
  private def jobsIn(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val first = e.stageInfos.minBy(_.stageId)
        jobs.add(Job(
          props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""),
          first.name, e.stageInfos.map(_.numTasks).sum))
      }
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala.toSeq
  }

  /** An index with 40 cells (more than Spark's 32-path listing
    * threshold) and two live segments. */
  private def ivf(): String = {
    val dir = tmpDir("reader-ivf")
    IvfIndex.write(vectors(2000, 0L, 7L), dir, dims = 16, nlist = 40)
    IvfIndex.appendVectors(spark, dir, vectors(100, 100000L, 8L))
    IvfIndex.appendVectors(spark, dir, vectors(100, 200000L, 9L))
    assert(IvfIndex.liveSegs(spark, dir).size == 2)
    dir
  }

  private def ivfPq(): String = {
    val dir = tmpDir("reader-ivfpq")
    IvfPqIndex.write(vectors(2000, 0L, 7L), dir, dims = 16, nlist = 40,
      m = 4, ksub = 16)
    IvfPqIndex.append(spark, dir, vectors(100, 100000L, 8L))
    IvfPqIndex.append(spark, dir, vectors(100, 200000L, 9L))
    assert(IvfPqIndex.liveSegs(spark, dir).size == 2)
    dir
  }

  private def assertNoMetadataJob(jobs: Seq[Job], what: String): Unit = {
    assert(!jobs.exists(isListing),
      s"$what ran a listing job: ${jobs.filter(isListing)}")
    assert(!jobs.exists(isSchemaInference),
      s"$what ran a schema-inference job: ${jobs.filter(isSchemaInference)}")
  }

  /** A probe's jobs besides its query's own stages: the centroid
    * collect and the one-job probed-cell list (plus, for IVF-PQ, the
    * codebook row). */
  test("an IVF probe over 40 cells and two live segments runs no listing " +
      "and no schema job: 2 driver collects + 4 query jobs; compact runs " +
      "no listing job") {
    val dir = ivf()
    val cells = IvfIndex.meta(spark, dir).get._1
    assert(cells == 40)
    var got = 0L
    val probe = jobsIn {
      got = IvfIndex.probe(spark, dir, queries, k = 5, nprobe = 8).count()
    }
    assert(got == 20L * 5)
    assertNoMetadataJob(probe, "probe")
    assert(probe.size <= 6, s"probe ran ${probe.size} jobs: $probe")
    val compact = jobsIn(IvfIndex.compact(spark, dir, nlist = 40): Unit)
    assert(!compact.exists(isListing), s"compact listed: $compact")
    assert(!compact.exists(_.tasks >= 34), s"compact: $compact")
    assert(IvfIndex.probe(spark, dir, queries, k = 5, nprobe = 40)
      .count() == 20L * 5)
  }

  test("an IVF-PQ probe over 40 cells and two live segments runs no " +
      "listing and no schema job: 3 driver collects + 7 query jobs; " +
      "compact runs no listing job") {
    val dir = ivfPq()
    val corpus = vectors(2000, 0L, 7L)
      .unionByName(vectors(100, 100000L, 8L))
      .unionByName(vectors(100, 200000L, 9L))
    var got = 0L
    val probe = jobsIn {
      got = IvfPqIndex.probe(spark, dir, queries, rerankFrom = corpus, k = 5,
        nprobe = 8, rerank = 20).count()
    }
    assert(got == 20L * 5)
    assertNoMetadataJob(probe, "probe")
    assert(probe.size <= 10, s"probe ran ${probe.size} jobs: $probe")
    val compact = jobsIn(IvfPqIndex.compact(spark, dir): Unit)
    assert(!compact.exists(isListing), s"compact listed: $compact")
    assert(!compact.exists(_.tasks >= 34), s"compact: $compact")
  }

  /** A micro-batch reads the accepted set through the same read over
    * the strictly older `batch=` dirs; the stream engine stamps its own
    * call site on every job of a batch, so the read is timed here, over
    * the dirs the stream committed. */
  test("the accepted-set read of an ingest stream's committed batches " +
      "runs no job") {
    import graft.operators.{Bucketed, Dedup}
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different sentence about vector indexes"))
      .toDF("doc_id", "text")
    val idx = "reader_spec_ingest_idx"
    Dedup.writeNgramIndexBucketed(corpus, idx, "doc_id", "text", buckets = 4)
    try {
      val src = tmpDir("reader-ingest-src")
      (0 until 3).foreach { k =>
        val tmp = s"$src/tmp$k"
        Seq((100L + k, (0 until 20).map(i => s"zz${k}w$i").mkString(" ")))
          .toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$src/b$k.parquet")
        assert(part.renameTo(dst))
        assert(dst.setLastModified(System.currentTimeMillis() -
          (3 - k) * 60000L))
        new java.io.File(tmp).listFiles().foreach(_.delete())
        new java.io.File(tmp).delete()
      }
      val out = tmpDir("reader-ingest-out")
      IngestStream.run(spark, src, idx, outDir = out,
        checkpointDir = tmpDir("reader-ingest-ckpt"), maxFilesPerTrigger = 1)
      var accepted: Option[DataFrame] = None
      val read = jobsIn { accepted = IngestStream.accepted(spark, out) }
      assert(read.isEmpty, s"the accepted read ran ${read.size} job(s): $read")
      assert(accepted.get.count() == 3L)
    } finally Seq("df", "prefix", "shingles").foreach { s =>
      Bucketed.dropBucketed(spark, s"${idx}_$s")
    }
  }

  /** The messages of `t` and its causes. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  test("a leg without a recorded schema is refused with its path and " +
      "'rebuild', not inferred") {
    val dir = ivf()
    val leg = s"${IndexVersions.resolvePath(spark, dir)}/vectors"
    assert(new java.io.File(leg, IndexVersions.SchemaFile).delete())
    val e = intercept[IllegalArgumentException] {
      IvfIndex.probe(spark, dir, queries, k = 5, nprobe = 8).count()
    }
    assert(e.getMessage.contains(leg) && e.getMessage.contains("rebuild"),
      e.getMessage)
  }

  test("an append whose frame schema differs from the base's record is " +
      "refused before it writes") {
    val dir = ivf()
    val before = SegmentedIndex.dirsOnDisk(spark, dir)
    val intIds = vectors(10, 300000L, 10L)
      .select($"vec_id".cast("int").as("vec_id"), $"embedding")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.appendVectors(spark, dir, intIds)
    }
    assert(e.getMessage.contains("refusing"), e.getMessage)
    assert(SegmentedIndex.dirsOnDisk(spark, dir) == before,
      "the refused append must write no segment")
    assert(IvfIndex.liveSegs(spark, dir).size == 2)
  }

  test("a leg whose files lack a recorded column throws instead of " +
      "reading nulls") {
    val dir = ivf()
    val leg = s"${IndexVersions.resolvePath(spark, dir)}/vectors"
    val record = java.nio.file.Files.readString(
      java.nio.file.Paths.get(leg, IndexVersions.SchemaFile))
    // the same layout with the `vec` column missing from every file
    spark.range(200).select($"id", ($"id" % 40).cast("int").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(leg)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(leg, IndexVersions.SchemaFile), record)
    val e = intercept[IllegalStateException] {
      IvfIndex.probe(spark, dir, queries, k = 5, nprobe = 8).count()
    }
    assert(e.getMessage.contains("lacks the recorded column(s) vec"),
      e.getMessage)
  }

  test("the cell kernels refuse a NaN vector: an IVF append with one NaN " +
      "row and an IVF probe with a NaN query throw, naming the defect") {
    val dir = tmpDir("reader-nan")
    IvfIndex.write(vectors(400, 0L, 7L), dir, dims = 16, nlist = 8)
    val nan = Seq((500000L, Seq.fill(16)(Float.NaN.toFloat)))
      .toDF("vec_id", "embedding")
    val append = intercept[Exception] {
      IvfIndex.appendVectors(spark, dir,
        vectors(10, 400000L, 3L).unionByName(nan))
    }
    assert(messages(append).contains("no finite score"), messages(append))
    assert(IvfIndex.liveSegs(spark, dir).isEmpty,
      "the failed append must commit no segment")
    val probe = intercept[Exception] {
      IvfIndex.probe(spark, dir, nan.select($"vec_id".as("qid"), $"embedding"),
        k = 5, nprobe = 2).collect()
    }
    assert(messages(probe).contains("no finite score"), messages(probe))
    val short = intercept[Exception] {
      IvfIndex.probe(spark, dir,
        Seq((1L, Seq.fill(13)(0.1f))).toDF("qid", "embedding"),
        k = 5, nprobe = 2).collect()
    }
    assert(messages(short).contains("13 elements") &&
      messages(short).contains("dims=16"), messages(short))
  }
}
