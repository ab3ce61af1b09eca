package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Quantizer, Similarity}

/** The narrow cell-ranking kernels (NearestCell / NearestCells) replaced
  * crossJoin + bounded-heap-rank subtrees in the IVF family, and
  * knnJoinIvf still ranks through that exchange
  * (Quantizer.probeRanked). Kernel and exchange must produce the same
  * ORDER — same score arithmetic, same (score desc, cell asc)
  * tie-break — or assignments/probe sets silently drift from the specs
  * that pin recall. This spec replays both paths over real embeddings
  * and a crafted exact-tie matrix.
  */
class VectorKernelSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables(spark, sf001, "embeddings")
    .select($"vec_id", $"embedding")

  // a small centroid frame with an EXACT duplicate row (cells 2 and 5)
  // so the tie-break is actually exercised
  private val dims = 4
  private val cents: Seq[Seq[Float]] = Seq(
    Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0.5f, 0.5f, 0f, 0f),
    Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f), Seq(0.5f, 0.5f, 0f, 0f))
  private val flat = cents.flatten
  private def centDF = cents.zipWithIndex
    .map { case (c, i) => (i, c) }.toDF("cell", "centroid")

  private def vecs = Seq(
    (1L, Seq(0.9f, 0.1f, 0f, 0f)), (2L, Seq(0.5f, 0.5f, 0f, 0f)),
    (3L, Seq(0f, 0f, 0.7f, 0.7f)), (4L, Seq(0.51f, 0.49f, 0.1f, 0f)))
    .toDF("id", "nvec")

  test("nearestCells reproduces the topKRank (negDist desc, cell asc) " +
      "ranking, ties to the lowest cell") {
    val kernel = vecs.select($"id",
        posexplode(VectorFunctions.nearestCells($"nvec", flat, 6, dims, 6)))
      .select($"id", ($"pos" + 1).as("rank"), $"col".as("cell"))
      .orderBy($"id", $"rank").collect().map(_.toSeq).toSeq
    val negd = lit(2.0) * VectorFunctions.dotProduct($"nvec", $"centroid") -
      VectorFunctions.dotProduct($"centroid", $"centroid")
    val scored = vecs.crossJoin(broadcast(centDF))
      .select($"id".as("qid"), $"cell".cast("long").as("id"),
        negd.as("negd"))
    val viaAgg = Similarity.topKRank(scored, 6, "negd")
      .select($"qid".as("id"), $"rank", $"id".cast("int").as("cell"))
      .orderBy($"id", $"rank").collect().map(_.toSeq).toSeq
    assert(kernel == viaAgg)
    // the duplicate centroid pair must rank 2 before 5 for the vector
    // that lands on it exactly
    val v2 = kernel.filter(_.head == 2L).map(_(2))
    assert(v2.indexOf(2) < v2.indexOf(5),
      "exact tie must break to the lowest cell id")
  }

  test("knnJoinIvf's exchange score picks the same cells as " +
      "nearestCells, ties included") {
    // per query, the first n kernel cells as a set must equal the
    // exchange's nprobe = n pick for EVERY n — equal top-n sets for all
    // n is equal order, and the crafted tie (cells 2 and 5 for vector 2)
    // must go to cell 2 at n = 1 on both paths
    def agree(q: Quantizer, vs: DataFrame): Unit = {
      val kernel = vs.select($"id", q.probe($"nvec", q.nlist))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      for (n <- 1 to q.nlist) {
        val exchange = q.probeRanked(
            vs.select($"id".as("qid"), $"nvec".as("qn")), n)
          .collect().groupBy(_.getLong(0))
          .map { case (id, rs) => id -> rs.map(_.getInt(1)).toSet }
        assert(exchange == kernel.map { case (id, cs) =>
          id -> cs.take(n).toSet }, s"nprobe = $n")
      }
    }
    val tie = Quantizer(cents.map(_.toArray).toArray)
    agree(tie, vecs)
    assert(tie.probeRanked(vecs.filter($"id" === 2L)
        .select($"id".as("qid"), $"nvec".as("qn")), 1)
      .collect().map(_.getInt(1)).toSeq == Seq(2))
    // real embeddings: 20 normalized queries, 8 normalized corpus
    // vectors as centroids
    val norm = graft.operators.Embeddings.normalize($"embedding")
    agree(Quantizer(emb.filter($"vec_id" % 97 === 0).limit(8).select(norm)
        .collect().map(_.getSeq[Float](0).toArray)),
      emb.filter($"vec_id" < 20).select($"vec_id".as("id"), norm.as("nvec")))
  }

  test("nearestCell equals rank-1 of nearestCells") {
    val both = vecs.select(
        VectorFunctions.nearestCell($"nvec", flat, 6, dims).as("one"),
        VectorFunctions.nearestCells($"nvec", flat, 6, dims, 1)(0)
          .as("top"))
      .collect()
    assert(both.nonEmpty && both.forall(r => r.getInt(0) == r.getInt(1)))
  }
}
