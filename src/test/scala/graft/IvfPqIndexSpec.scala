package graft

import org.apache.spark.sql.functions._

import graft.operators.{IndexVersions, IvfIndex, IvfPqIndex, Similarity}

/** The persisted IVF-PQ ANN index: compressed residual codes on disk
  * (no raw vectors), sidecar self-config, frozen-codebook segment
  * appends, pure-fold compaction, corpus-side exact rerank.
  */
class IvfPqIndexSpec extends SparkSpec {
  import spark.implicits._

  private def e = Tables(spark, sf001, "embeddings")
  private def queries =
    e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")
  private def bruteAll =
    Similarity.bruteForceTopK(e, queries, k = 5)
      .select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq

  private def probeAll(dir: String) =
    IvfPqIndex.probe(spark, dir, queries, rerankFrom = e, k = 5,
        nprobe = 8, rerank = 100000)
      .select("qid", "id", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq

  test("full probe (nprobe == nlist, rerank >= corpus) == brute force; " +
      "the build commits through the version pointer and the index " +
      "stores codes, not vectors") {
    val dir = tmpDir("ivfpq")
    val v = IvfPqIndex.write(e, dir, dims = 64, nlist = 8)
    assert(v == 1 && IndexVersions.currentVersion(spark, dir).contains(1))
    assert(probeAll(dir) == bruteAll,
      "every-cell probe + full rerank must equal exact brute force")
    // the compression claim, measured: the codes leg persists m bytes
    // of payload per vector — the index's codes column must be far
    // smaller than the corpus's raw float vectors (schema-level: the
    // index has NO vector column at all)
    val codes = spark.read.parquet(
      s"${IndexVersions.resolvePath(spark, dir)}/codes")
    assert(codes.columns.sorted.toSeq == Seq("cell", "codes", "id"),
      s"index must hold codes only, got ${codes.columns.mkString(",")}")
    val m = IvfPqIndex.meta(spark, dir)
    assert(m.exists { case (nlist, dims, pm, ksub, mse) =>
      nlist == 8 && dims == 64 && pm == 8 && ksub == 16 && mse > 0.0 })
  }

  test("partial probe prunes the codes scan to the probed cells and " +
      "finds a planted twin at rank 1 with nprobe = 1") {
    val dir = tmpDir("ivfpqprune")
    IvfPqIndex.write(e, dir, dims = 64, nlist = 8)
    // metric coherence: a twin arrival ranks its corpus twin's cell
    // first (shared assignment kernel), and the exact rerank pins the
    // twin at rank 1 even through the lossy ADC ordering
    val twins = e.filter($"vec_id" < 5)
      .select(($"vec_id" + 100000L).as("qid"), $"embedding")
    val got = IvfPqIndex.probe(spark, dir, twins, rerankFrom = e, k = 1,
      nprobe = 1, rerank = 10)
    val rows = got.collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("id") == r.getAs[Long]("qid") - 100000L,
        s"twin not found: $r")
      assert(r.getAs[Double]("cosine") > 0.999999)
    }
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
            if s.metadata.get("Location").exists(_.contains("codes")) =>
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
      s"${IndexVersions.resolvePath(spark, dir)}/codes")
      .inputFiles.length
    assert(read > 0 && read < all,
      s"probe must prune cell directories (read $read of $all)")
  }

  test("sidecar self-config: wrong dims, non-index paths, and a plain " +
      "IVF index are all refused; m/ksub come from the sidecar") {
    val dir = tmpDir("ivfpqmeta")
    IvfPqIndex.write(e, dir, dims = 64, nlist = 8, m = 16, ksub = 8)
    assert(IvfPqIndex.meta(spark, dir).exists {
      case (_, _, pm, ksub, _) => pm == 16 && ksub == 8 })
    // a query of the wrong length is refused by the cell kernel: the
    // dims are the sidecar's, not the caller's
    val short = intercept[Exception] {
      IvfPqIndex.probe(spark, dir, queries.select($"qid",
        slice($"embedding", 1, 32).as("embedding")), rerankFrom = e, k = 3)
        .collect()
    }
    assert(Iterator.iterate[Throwable](short)(_.getCause)
      .takeWhile(_ != null).exists(t => String.valueOf(t.getMessage)
        .contains("32 elements")), short)
    intercept[IllegalArgumentException] {
      IvfPqIndex.probe(spark, tmpDir("notpq"), queries, rerankFrom = e,
        k = 3)
    }
    // a PLAIN IVF index is not an IVF-PQ index: same layout family,
    // different payload semantics — must refuse, not mis-read
    val plain = tmpDir("plainivf")
    IvfIndex.write(e, plain, dims = 64, nlist = 8)
    intercept[IllegalArgumentException] {
      IvfPqIndex.probe(spark, plain, queries, rerankFrom = e, k = 3)
    }
    intercept[IllegalArgumentException] {
      IvfIndex.probe(spark, dir, queries, k = 3)
    }
  }

  test("segment appends encode under the FROZEN codebook (a twin " +
      "arrival's codes are byte-identical to its corpus twin's), probe " +
      "exactly over base ∪ segments, and compact is a pure fold") {
    val dir = tmpDir("ivfpqseg")
    IvfPqIndex.write(e.filter($"vec_id" % 3 =!= 0), dir, dims = 64,
      nlist = 8)
    assert(IvfPqIndex.append(spark, dir,
      e.filter($"vec_id" % 3 === 0)) == 1L)
    assert(IvfPqIndex.append(spark, dir,
      e.filter($"vec_id" < 0)) == -1L, "empty batch must be a no-op")
    assert(IvfPqIndex.liveSegs(spark, dir) == Seq(1L))
    assert(probeAll(dir) == bruteAll,
      "probe over base ∪ segment must equal brute force")
    // frozen-kernel determinism: append a TWIN of a base vector — the
    // segment row's (cell, codes) must equal the base row's exactly
    val twin = e.filter($"vec_id" === 1L)
      .select(($"vec_id" + 700000L).as("vec_id"), $"embedding")
    val segN = IvfPqIndex.append(spark, dir, twin)
    val segRow = spark.read.parquet(s"$dir/segments/seg$segN")
      .select($"cell".cast("int"), $"codes").collect().head
    val baseRow = IvfPqIndex.codesView(spark, dir)
      .filter($"id" === 1L)
      .select($"cell".cast("int"), $"codes").collect().head
    assert(segRow.getInt(0) == baseRow.getInt(0), "twin cell must match")
    assert(segRow.getSeq[Int](1) == baseRow.getSeq[Int](1),
      "frozen-codebook twin codes must be byte-identical")
    // pure fold: the multiset of (id, cell, codes) must be unchanged
    def allRows(d: String) = IvfPqIndex.codesView(spark, d)
      .select($"id", $"cell".cast("int"), $"codes")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val before = allRows(dir)
    val v = IvfPqIndex.compact(spark, dir)
    assert(v == 2 && IndexVersions.currentVersion(spark, dir).contains(2))
    assert(IvfPqIndex.liveSegs(spark, dir).isEmpty)
    assert(!new java.io.File(s"$dir/segments/seg1").exists(),
      "folded segment dirs must be reclaimed")
    assert(allRows(dir) == before,
      "compaction must not change a single code byte")
  }

  test("drift under frozen centroids flags a shifted batch; a rebuild " +
      "publishes the next generation behind the pointer") {
    val dir = tmpDir("ivfpqdrift")
    IvfPqIndex.write(e, dir, dims = 64, nlist = 8)
    val same = IvfPqIndex.drift(spark, dir, e.filter($"vec_id" % 3 === 0))
      .collect().head
    assert(same.getAs[Long]("n") > 0)
    val r0 = same.getAs[Double]("ratio")
    assert(r0 > 0.5 && r0 < 1.5, s"same-distribution drift ratio: $r0")
    val shifted = e.select($"vec_id",
      transform($"embedding",
        (x, i) => when(i < 8, x * 5.0f + lit(3.0f)).otherwise(x * 0.1f)
          .cast("float")).as("embedding"))
    val d = IvfPqIndex.drift(spark, dir, shifted).collect().head
    assert(d.getAs[Double]("ratio") > r0,
      s"shifted batch must drift above the in-distribution ratio " +
        s"(${d.getAs[Double]("ratio")} vs $r0)")
    // retrain = rebuild from the source corpus (the index holds no
    // vectors): generation 2 behind the pointer, probes keep working
    IvfPqIndex.write(e, dir, dims = 64, nlist = 8, seed = 43L)
    assert(IndexVersions.currentVersion(spark, dir).contains(2))
    assert(probeAll(dir) == bruteAll,
      "the rebuilt generation must still probe exactly")
  }
}
