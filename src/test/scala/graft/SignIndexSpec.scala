package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

/** The on-disk half of the LSH ANN shape: corpus written once
  * partitioned by sign bucket, probes prune directories at scan time.
  */
class SignIndexSpec extends SparkSpec {
  import spark.implicits._

  test("disk sign-index probe == in-memory lshTopK, and the scan " +
      "reads only probed partitions") {
    val e = Tables(spark, sf001, "embeddings")
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("signidx").toString

    Similarity.writeSignIndex(e, dir, dims = 64, numPlanes = 12)
    val disk = Similarity.probeSignIndex(spark, dir, queries, k = 5,
      probeHamming = 2)
    val mem = Similarity.lshTopK(e, queries, k = 5, dims = 64,
      numPlanes = 12, probeHamming = 2)

    val a = disk.select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq
    val b = mem.select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b,
      "disk probe must be result-identical to the in-memory bucket join")

    // pruning evidence: the probed scan READS strictly fewer files than
    // the index holds — directory-level pruning, not a post-scan filter.
    // inputFiles is a relation property (ignores filters), so read the
    // executed FileSourceScan's numFiles metric instead. Buckets are
    // re-derived with the operator's own pieces.
    val flips = Similarity.hammingFlips(12, 2)
    val sigs = queries
      .select(VectorFunctions.rademacherSig($"embedding", 12, 64, 42L).as("s"))
      .collect().map(_.getLong(0))
    val buckets = (for { s <- sigs; f <- flips } yield s ^ f).distinct
    val probed = spark.read.parquet(dir)
      .filter(col("bucket").isin(buckets: _*))
    probed.collect()
    val scan = probed.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata("PartitionFilters").contains("bucket"),
      "the bucket IN filter must be classified as a partition filter")
    val readFiles = scan.metrics("numFiles").value
    val allFiles = spark.read.parquet(dir).inputFiles.length
    assert(readFiles > 0 && readFiles < allFiles,
      s"probe must prune index partitions (read $readFiles of $allFiles)")
  }

  test("probe past the bucket-literal cap: no IN partition filter in " +
      "the plan, results identical to the pruned probe") {
    val e = Tables(spark, sf001, "embeddings")
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("signcap").toString
    Similarity.writeSignIndex(e, dir, dims = 64, numPlanes = 12)

    val pruned = Similarity.probeSignIndex(spark, dir, queries, k = 5,
      probeHamming = 2)
    // every corpus vector as a query probes far more than the 1,024
    // literal cap of distinct buckets (79 per query over 4,096), which
    // forces the skip path: the scan is unpruned (no bucket IN-list
    // reaches the partition filters) but the bucket JOIN still
    // restricts candidates — each query's rows are identical
    val uncapped = Similarity.probeSignIndex(spark, dir,
      e.select($"vec_id".as("qid"), $"embedding"), k = 5, probeHamming = 2)
    uncapped.collect()
    // walk THROUGH AdaptiveSparkPlanExec (a leaf wrapping the real
    // subtree) — the joined probe plan is AQE-wrapped, unlike the
    // plain scan above
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val buf = scala.collection.mutable.Buffer
        .empty[org.apache.spark.sql.execution.FileSourceScanExec]
      p.foreach {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          buf ++= scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          buf ++= scansOf(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          buf ++= scansOf(r.child)
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.metadata.get("Location").exists(_.contains(
              new java.io.File(dir).getName)) => buf += s
        case _ => ()
      }
      buf.toSeq
    }
    val scans = scansOf(uncapped.queryExecution.executedPlan)
    assert(scans.nonEmpty && scans.forall(s =>
        !s.metadata("PartitionFilters").contains("bucket IN")),
      "over-cap probe must not build a bucket IN-list partition filter")
    val a = pruned.select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq
    val b = uncapped.filter($"qid" < 10)
      .select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b,
      "skipping the prune must never change probe results")
  }

  test("embedding ingest probe: disk == in-memory, new ∪ dup partitions " +
      "the batch, exact containment") {
    val e = Tables(spark, sf001, "embeddings")
    val corpus = e.filter(pmod($"vec_id", lit(10)) =!= 0)
    val batch = e.filter(pmod($"vec_id", lit(10)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("embed_ingest").toString
    Similarity.writeSignIndex(corpus, dir, dims = 64, numPlanes = 6)

    val viaDisk = graft.operators.Dedup.incrementalNewNearDupEmbedDisk(
        spark, dir, batch, "vec_id", "embedding")
      .collect().map(_.getLong(0)).toSet
    val viaMem = graft.operators.Dedup.incrementalNewNearDupEmbed(
        corpus, batch, "vec_id", "embedding", dims = 64)
      .collect().map(_.getLong(0)).toSet
    assert(viaDisk == viaMem,
      "persisted-layout probe must be result-identical to the in-plan one")

    // the kept set is exactly batch minus the flagged dups — and every
    // EXACT duplicate planted across the split must be flagged (a
    // same-vector pair shares its bucket at any plane count, and
    // cosine(v, v) = 1 ≥ threshold, so exact dups cannot escape)
    val batchIds = batch.select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(viaMem.subsetOf(batchIds) && viaMem.nonEmpty)
    val planted = corpus.limit(3)
      .select(($"vec_id" * 1000L + 7L).as("vec_id"), $"embedding")
      .withColumn("vec_id", $"vec_id" - pmod($"vec_id", lit(10))) // % 10 == 0
    val got = graft.operators.Dedup.incrementalNewNearDupEmbed(
        corpus, planted, "vec_id", "embedding", dims = 64)
      .collect().map(_.getLong(0)).toSet
    assert(got.isEmpty, s"planted exact duplicates escaped: $got")
  }
}
