package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
import org.apache.spark.sql.functions._

import graft.model.{DataMigrationError, MigrationSpec, SourceColumn}
import graft.sources.{Source, SourceReader}

/** Latest-partition resolution (S2-S4) from the scan's file index, checked
  * against the aggregate over the rows it replaced (`max(cast(k as
  * string))` per key over rows with every key non-null, after a
  * `limit(1)` emptiness probe), on every layout the two could disagree on.
  */
class LatestPartitionSpec extends SparkSpec {
  import spark.implicits._

  /** The aggregate `Source.latestPartitions` ran before it read the file
    * index (reference: maxcompute_client.py:219-301). */
  private def aggregateLatest(df: DataFrame, partCols: Seq[String]): Map[String, String] = {
    val filtered = partCols.foldLeft(df)((d, c) => d.filter(col(c).isNotNull))
    if (filtered.limit(1).isEmpty) return Map.empty
    val aggs = partCols.map(c => max(col(c).cast("string")).as(c))
    val row = filtered.agg(aggs.head, aggs.tail: _*).head()
    partCols.zipWithIndex.flatMap { case (c, i) =>
      Option(row.getString(i)).map(c -> _)
    }.toMap
  }

  /** Both resolutions over table `name` under `base`; asserts they agree. */
  private def resolve(base: String, name: String): Map[String, String] = {
    val src = new SourceReader(spark, base)
    val df = src.table(name)
    val cols = src.partitionColumns(name).toSeq.sorted
    val got = src.latestPartitions(df, cols)
    assert(got == aggregateLatest(df, cols))
    got
  }

  /** A directory `k=v` holding only a zero-row parquet file. */
  private def emptyPartition(dir: String): Unit = {
    Seq.empty[Long].toDF("v").write.parquet(dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("string partition values: the greatest string") {
    val base = tmpDir("lp-str")
    Seq((1L, "east"), (2L, "west"), (3L, "north"))
      .toDF("v", "pt").write.partitionBy("pt").parquet(s"$base/t")
    assert(resolve(base, "t") == Map("pt" -> "west"))
  }

  test("numeric partition values keep the string maximum: pt=9 beats pt=10") {
    val base = tmpDir("lp-num")
    Seq((1L, 9), (2L, 10), (3L, 8))
      .toDF("v", "pt").write.partitionBy("pt").parquet(s"$base/t")
    assert(spark.read.parquet(s"$base/t").schema("pt").dataType.typeName == "integer")
    assert(resolve(base, "t") == Map("pt" -> "9"))
  }

  test("date-typed partition values") {
    val base = tmpDir("lp-date")
    Seq((1L, "2024-01-31"), (2L, "2024-02-01"), (3L, "2023-12-31"))
      .toDF("v", "d").select($"v", to_date($"d").as("pt"))
      .write.partitionBy("pt").parquet(s"$base/t")
    assert(spark.read.parquet(s"$base/t").schema("pt").dataType.typeName == "date")
    assert(resolve(base, "t") == Map("pt" -> "2024-02-01"))
  }

  test("the null (__HIVE_DEFAULT_PARTITION__) partition is never latest") {
    val base = tmpDir("lp-null")
    Seq((1L, Some("a")), (2L, None), (3L, Some("b")))
      .toDF("v", "pt").write.partitionBy("pt").parquet(s"$base/t")
    assert(new java.io.File(s"$base/t/pt=__HIVE_DEFAULT_PARTITION__").isDirectory)
    assert(resolve(base, "t") == Map("pt" -> "b"))
  }

  test("a latest partition holding only a zero-row file falls back to the previous one") {
    val base = tmpDir("lp-zero")
    Seq((1L, "p1"), (2L, "p2")).toDF("v", "pt")
      .write.partitionBy("pt").parquet(s"$base/t")
    emptyPartition(s"$base/t/pt=p3")
    // the file index lists the empty partition; only the probe skips it
    assert(spark.read.parquet(s"$base/t").inputFiles.exists(_.contains("pt=p3")))
    assert(resolve(base, "t") == Map("pt" -> "p2"))
  }

  test("every partition empty: no latest value, the full-scan guard applies") {
    val base = tmpDir("lp-allempty")
    emptyPartition(s"$base/t/pt=p1")
    emptyPartition(s"$base/t/pt=p2")
    assert(resolve(base, "t") == Map.empty)
    val scan = new SourceReader(spark, base).buildScan(MigrationSpec(
      sourceTable = "t", destTable = "out", fullScanGuardLimit = Some(7L)))
    assert(scan.queryExecution.logical.collectFirst {
      case GlobalLimit(IntegerLiteral(n), _) => n
    }.contains(7))
  }

  test("two partition columns whose latest combination exists") {
    val base = tmpDir("lp-two")
    Seq((1L, 1, "a"), (2L, 1, "b"), (3L, 2, "a"), (4L, 2, "b"))
      .toDF("v", "pt", "region").write.partitionBy("pt", "region")
      .parquet(s"$base/t")
    assert(resolve(base, "t") == Map("pt" -> "2", "region" -> "b"))
  }

  test("per-column maxima naming no partition throw, naming the columns and values") {
    val base = tmpDir("lp-impossible")
    Seq((1L, 2, "a"), (2L, 1, "z"))
      .toDF("v", "pt", "region").write.partitionBy("pt", "region")
      .parquet(s"$base/t")
    val e = intercept[DataMigrationError] {
      new SourceReader(spark, base).buildScan(MigrationSpec(sourceTable = "t", destTable = "out"))
    }
    assert(e.getMessage.contains("pt=2") && e.getMessage.contains("region=z"), e.getMessage)
  }

  test("an empty partition does not make the maxima impossible") {
    // pt=2/region=a holds no row, so the maxima over rows are pt=1, region=z
    val base = tmpDir("lp-impossible-empty")
    Seq((1L, 1, "z")).toDF("v", "pt", "region")
      .write.partitionBy("pt", "region").parquet(s"$base/t")
    emptyPartition(s"$base/t/pt=2/region=a")
    assert(resolve(base, "t") == Map("pt" -> "1", "region" -> "z"))
  }

  test("declared partition columns over a scan with no file relation throw") {
    val src = new Source {
      def table(name: String): DataFrame = spark.range(3).toDF("pt")
      def schemaOf(name: String): Seq[SourceColumn] = Seq(SourceColumn("pt", "bigint"))
      def partitionColumns(name: String): Set[String] = Set("pt")
      def testConnection(): Boolean = true
    }
    intercept[DataMigrationError] {
      src.buildScan(MigrationSpec(sourceTable = "t", destTable = "out"))
    }
  }

  test("buildScan on a partitioned parquet table runs two jobs: schema inference and the probe") {
    val base = tmpDir("lp-jobs")
    spark.range(2000).select($"id", ($"id" % 5).as("pt"))
      .write.partitionBy("pt").parquet(s"$base/t")
    val src = new SourceReader(spark, base)
    assert(jobsIn {
      src.buildScan(MigrationSpec(sourceTable = "t", destTable = "out"))
    } == 2)
  }

  /** Spark jobs `body` starts on this thread, counted as they start. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"latest-partition-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
