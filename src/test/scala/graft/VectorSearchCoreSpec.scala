package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Embeddings, IvfIndex, IvfPqIndex, Quantizer, Similarity}

/** The one vector-search core: the one-shot IVF operators and the
  * persisted indexes share one quantizer (fit, assignment and cell rule),
  * the training sample has one input contract, and the pairwise kernels
  * refuse vectors of unequal length.
  */
class VectorSearchCoreSpec extends SparkSpec {
  import spark.implicits._

  private def e = Tables(spark, sf001, "embeddings")
  private def queries =
    e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")

  private def rows(df: DataFrame) =
    df.select("qid", "id", "cosine", "rank").orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq

  /** 200 seeded random 8-d vectors (ids 0..199), then the `extra`
    * rows from id 200 on (`None` is a null vector). */
  private def corpus8(extra: Option[Seq[Float]]*): DataFrame = {
    val rnd = new java.util.Random(11L)
    val good =
      (0 until 200).map(_ => Option(Seq.fill(8)(rnd.nextFloat() - 0.5f)))
    (good ++ extra).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
  }
  private def queries8(c: DataFrame) =
    c.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")

  test("the fit sample drops a null vector and refuses a NaN one with " +
      "the column and the value: IvfIndex.write and ivfTopK") {
    val clean = corpus8()
    val withNull = corpus8(None)
    def oneShot(c: DataFrame) =
      rows(Similarity.ivfTopK(c, queries8(clean), k = 5, nlist = 4,
        nprobe = 2))
    def persisted(c: DataFrame) = {
      val dir = tmpDir("ivf-null")
      IvfIndex.write(c, dir, dims = 8, nlist = 4)
      rows(IvfIndex.probe(spark, dir, queries8(clean), k = 5, nprobe = 2))
    }
    assert(oneShot(withNull) == oneShot(clean))
    assert(persisted(withNull) == persisted(clean))

    val withNaN = corpus8(Some(Float.NaN +: Seq.fill(7)(0.1f)))
    val refusals = Seq(
      intercept[IllegalArgumentException](
        IvfIndex.write(withNaN, tmpDir("ivf-nan"), dims = 8, nlist = 4)),
      intercept[IllegalArgumentException](
        Similarity.ivfTopK(withNaN, queries8(clean), k = 5, nlist = 4,
          nprobe = 2)))
    refusals.foreach { ex =>
      assert(ex.getMessage.contains("`embedding`") &&
        ex.getMessage.contains("NaN"), ex.getMessage)
    }
  }

  test("cosine refuses vectors of unequal length: bruteForceTopK over " +
      "8-d vectors plus one 5-d vector") {
    val c = corpus8(Some(Seq.fill(5)(0.2f)))
    val ex = intercept[Exception](
      Similarity.bruteForceTopK(c, queries8(c), k = 3).collect())
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("unequal length 8 and 5") ||
      m.contains("unequal length 5 and 8")), msgs.mkString("\n"))
  }

  test("one-shot ivfTopK equals IvfIndex.write(fitSamplePerCell = 0) + " +
      "probe at nprobe < nlist, row for row") {
    val oneShot = rows(Similarity.ivfTopK(e, queries, k = 5, nlist = 8,
      nprobe = 3, seed = 7L))
    val dir = tmpDir("ivf-oneshot")
    IvfIndex.write(e, dir, dims = 64, nlist = 8, seed = 7L,
      fitSamplePerCell = 0)
    assert(oneShot.size == 50)
    assert(oneShot == rows(IvfIndex.probe(spark, dir, queries, k = 5,
      nprobe = 3)))
  }

  test("one-shot Pq.ivfTopK equals IvfPqIndex.write(fitSamplePerCell = " +
      "0) + probe at nprobe < nlist, row for row") {
    val oneShot = rows(Similarity.Pq.ivfTopK(e, queries, k = 5, dims = 64,
      nlist = 8, nprobe = 3, m = 8, ksub = 16, rerank = 20, seed = 7L))
    val dir = tmpDir("ivfpq-oneshot")
    IvfPqIndex.write(e, dir, dims = 64, nlist = 8, m = 8, ksub = 16,
      seed = 7L, fitSamplePerCell = 0)
    assert(oneShot.size == 50)
    assert(oneShot == rows(IvfPqIndex.probe(spark, dir, queries,
      rerankFrom = e, k = 5, nprobe = 3, rerank = 20)))
  }

  test("every corpus vector's assigned cell is its own first probed cell") {
    val q = Quantizer.fit(e, "embedding", 8, 42L, normalize = true)
    val n = Embeddings.normalize($"embedding")
    val cells = e.select(q.assign(n).as("cell"), q.probe(n, 3).as("probed"))
      .collect()
    assert(cells.length > 100 && cells.forall(r =>
      r.getInt(0) == r.getSeq[Int](1).head))
    assert(cells.map(_.getInt(0)).distinct.length > 1)
  }
}
