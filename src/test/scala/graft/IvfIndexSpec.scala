package graft

import org.apache.spark.sql.functions._

import graft.operators.{IndexVersions, IvfIndex, Similarity}

/** The persisted IVF ANN index: versioned build, sidecar self-config,
  * cell-pruned probes, frozen-centroid assignment, quantization drift.
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private def e = Tables(spark, sf001, "embeddings")
  private def queries =
    e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")

  test("full probe (nprobe == nlist) over the committed generation == " +
      "brute force, and the build commits through the version pointer") {
    val dir = tmpDir("ivfidx")
    val v = IvfIndex.write(e, dir, dims = 64, nlist = 8)
    assert(v == 1 && IndexVersions.currentVersion(spark, dir).contains(1))
    val disk = IvfIndex.probe(spark, dir, queries, k = 5, nprobe = 8)
      .select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq
    val brute = Similarity.bruteForceTopK(e, queries, k = 5)
      .select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq
    assert(disk.nonEmpty && disk == brute,
      "every-cell probe must equal the exact brute-force top-k")
  }

  test("partial probe prunes the vectors scan to the probed cells and " +
      "finds a planted twin at rank 1") {
    val dir = tmpDir("ivfprune")
    IvfIndex.write(e, dir, dims = 64, nlist = 8)
    // twins: corpus vectors re-arriving under fresh ids — metric
    // coherence (same normalize + same sqDist kernel on both sides)
    // guarantees the twin's cell is the query's TOP cell, so nprobe = 1
    // must already find it at cosine ~ 1
    val twins = e.filter($"vec_id" < 5)
      .select(($"vec_id" + 100000L).as("qid"), $"embedding")
    val got = IvfIndex.probe(spark, dir, twins, k = 1, nprobe = 1)
    val rows = got.collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("id") == r.getAs[Long]("qid") - 100000L,
        s"twin not found: $r")
      assert(r.getAs[Double]("cosine") > 0.999999)
    }
    // pruning evidence on the executed plan: the vectors scan carries a
    // cell IN partition filter and reads strictly fewer files than the
    // index holds
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
            if s.metadata.get("Location").exists(_.contains("vectors")) =>
          buf += s
        case _ => ()
      }
      buf.toSeq
    }
    val scans = scansOf(got.queryExecution.executedPlan)
    assert(scans.nonEmpty &&
        scans.forall(_.metadata("PartitionFilters").contains("cell")),
      "probed-cell IN list must be classified as a partition filter")
    val read = scans.map(_.metrics("numFiles").value).sum
    val all = spark.read.parquet(
      s"${IndexVersions.resolvePath(spark, dir)}/vectors")
      .inputFiles.length
    assert(read > 0 && read < all,
      s"probe must prune cell directories (read $read of $all)")
  }

  test("sidecar self-config: wrong dims and non-index paths are " +
      "refused; assignCells matches the committed build assignment") {
    val dir = tmpDir("ivfmeta")
    IvfIndex.write(e, dir, dims = 64, nlist = 8)
    val m = IvfIndex.meta(spark, dir)
    assert(m.exists { case (nlist, dims, mse) =>
      nlist == 8 && dims == 64 && mse > 0.0 })
    // a query of the wrong length is refused by the cell kernel: the
    // dims are the sidecar's, not the caller's
    val short = intercept[Exception] {
      IvfIndex.probe(spark, dir, queries.select($"qid",
        slice($"embedding", 1, 32).as("embedding")), k = 3, nprobe = 2)
        .collect()
    }
    assert(Iterator.iterate[Throwable](short)(_.getCause)
      .takeWhile(_ != null).exists(t => String.valueOf(t.getMessage)
        .contains("32 elements")), short)
    intercept[IllegalArgumentException] {
      IvfIndex.probe(spark, tmpDir("notanindex"), queries, k = 3)
    }
    // arrival assignment under the frozen centroids == the cells the
    // build wrote (same kernel, same tie-break — zero drift by
    // construction)
    val built = spark.read.parquet(
        s"${IndexVersions.resolvePath(spark, dir)}/vectors")
      .select($"id".as("vec_id"), $"cell".cast("int").as("built_cell"))
    val assigned = IvfIndex.assignCells(spark, dir, e)
    val mismatches = assigned.join(built, "vec_id")
      .filter($"cell" =!= $"built_cell").count()
    assert(mismatches == 0L,
      "assignCells must replay the build-side assignment exactly")
  }

  private def bruteAll =
    Similarity.bruteForceTopK(e, queries, k = 5)
      .select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq

  private def probeAll(dir: String) =
    IvfIndex.probe(spark, dir, queries, k = 5, nprobe = 8)
      .select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq

  test("segment appends are O(batch) and probe exactly over " +
      "base ∪ segments; empty append is a no-op; compaction folds " +
      "into the next base generation and the re-probe does not move") {
    val dir = tmpDir("ivfseg")
    IvfIndex.write(e.filter($"vec_id" % 3 =!= 0), dir, dims = 64,
      nlist = 8)
    assert(IvfIndex.appendVectors(spark, dir,
      e.filter($"vec_id" % 6 === 0)) == 1L)
    assert(IvfIndex.appendVectors(spark, dir,
      e.filter($"vec_id" % 6 === 3)) == 2L)
    assert(IvfIndex.appendVectors(spark, dir,
      e.filter($"vec_id" < 0)) == -1L, "empty batch must be a no-op")
    assert(IvfIndex.liveSegs(spark, dir) == Seq(1L, 2L))
    // base ∪ segments == the full corpus; nprobe = nlist probes are
    // brute-force-exact, so the union must reproduce brute force
    assert(probeAll(dir) == bruteAll,
      "probe over base ∪ segments must equal brute force")
    // each segment holds exactly its batch (the O(batch) evidence:
    // nothing of the base is rewritten by an append)
    val seg1 = spark.read.parquet(s"$dir/segments/seg1")
    assert(seg1.count() == e.filter($"vec_id" % 6 === 0).count())
    // compaction: next base generation, segments subsumed + pruned
    val v = IvfIndex.compact(spark, dir, nlist = 8)
    assert(v == 2 && IndexVersions.currentVersion(spark, dir).contains(2))
    assert(IvfIndex.liveSegs(spark, dir).isEmpty)
    assert(!new java.io.File(s"$dir/segments/seg1").exists(),
      "folded segment dirs must be reclaimed")
    assert(probeAll(dir) == bruteAll,
      "post-compaction probe must not move")
  }

  test("pinned-segment appends (atSeg) converge under retry and " +
      "refuse a number the base already subsumed") {
    val dir = tmpDir("ivfatseg")
    IvfIndex.write(e.filter($"vec_id" % 3 =!= 0), dir, dims = 64,
      nlist = 8)
    val b1 = e.filter($"vec_id" % 6 === 0)
    val b2 = e.filter($"vec_id" % 6 === 3)
    assert(IvfIndex.appendVectors(spark, dir, b1, atSeg = 1L) == 1L)
    assert(IvfIndex.appendVectors(spark, dir, b2, atSeg = 2L) == 2L)
    val want = probeAll(dir)
    assert(want == bruteAll)
    // retry of a committed batch: same number, same content, set-union
    // manifest — nothing moves
    assert(IvfIndex.appendVectors(spark, dir, b1, atSeg = 1L) == 1L)
    assert(IvfIndex.liveSegs(spark, dir) == Seq(1L, 2L))
    assert(probeAll(dir) == want, "a replayed append must change nothing")
    // fold, then retry a folded number: refused with -2, probe intact
    IvfIndex.compact(spark, dir, nlist = 8)
    assert(IvfIndex.appendVectors(spark, dir, b2, atSeg = 2L) == -2L)
    assert(IvfIndex.liveSegs(spark, dir).isEmpty,
      "a retry of a folded number must not resurrect its segment")
    assert(probeAll(dir) == want)
  }

  test("a plain rebuild over live segments keeps them live: retention " +
      "does not take the segment dirs for generation-zero data") {
    val dir = tmpDir("ivfrebuildseg")
    IvfIndex.write(e.filter($"vec_id" % 3 =!= 0), dir, dims = 64,
      nlist = 8)
    assert(IvfIndex.appendVectors(spark, dir,
      e.filter($"vec_id" % 3 === 0)) == 1L)
    assert(IvfIndex.write(e.filter($"vec_id" % 3 =!= 0), dir, dims = 64,
      nlist = 8, seed = 43L) == 2)
    assert(IvfIndex.liveSegs(spark, dir) == Seq(1L))
    assert(probeAll(dir) == bruteAll,
      "the rebuilt base ∪ the carried-forward segment must probe exactly")
  }

  test("rebuild publishes the next generation behind the pointer; " +
      "drift under frozen centroids flags a shifted batch") {
    val dir = tmpDir("ivfgen")
    IvfIndex.write(e, dir, dims = 64, nlist = 8)
    // a same-distribution batch drifts ~1×; a shifted batch (vectors
    // pushed toward a constant direction) quantizes strictly worse
    val same = IvfIndex.drift(spark, dir, e.filter($"vec_id" % 3 === 0))
      .collect().head
    assert(same.getAs[Long]("n") > 0)
    val r0 = same.getAs[Double]("ratio")
    assert(r0 > 0.5 && r0 < 1.5, s"same-distribution drift ratio: $r0")
    val shifted = e.select($"vec_id",
      transform($"embedding",
        (x, i) => when(i < 8, x * 5.0f + lit(3.0f)).otherwise(x * 0.1f)
          .cast("float")).as("embedding"))
    val d = IvfIndex.drift(spark, dir, shifted).collect().head
    assert(d.getAs[Double]("ratio") > r0,
      s"shifted batch must drift above the in-distribution ratio " +
        s"(${d.getAs[Double]("ratio")} vs $r0)")
    // fold: rebuild over corpus ∪ arrivals as generation 2 — probes
    // resolve the new generation with no caller involvement, retention
    // keeps current + one rollback target
    val arrivals = e.limit(20)
      .select(($"vec_id" + 500000L).as("vec_id"), $"embedding")
    IvfIndex.write(e.select($"vec_id", $"embedding").unionByName(arrivals),
      dir, dims = 64, nlist = 8)
    assert(IndexVersions.currentVersion(spark, dir).contains(2))
    val twinQ = arrivals.limit(3)
      .select(($"vec_id" + 1000000L).as("qid"), $"embedding")
    // each twin query has TWO exact matches now (the original corpus
    // vector and its folded arrival copy) — k = 2 must surface both
    val hits = IvfIndex.probe(spark, dir, twinQ, k = 2, nprobe = 8)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(hits.exists(_ >= 500000L) && hits.exists(_ < 500000L),
      s"post-fold probe must see the folded arrivals: $hits")
  }
}
