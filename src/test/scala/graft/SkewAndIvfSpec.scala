package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Quantizer, Similarity, Skew}

class SkewAndIvfSpec extends SparkSpec {
  import spark.implicits._

  test("salted join == plain join (multiplicity preserved)") {
    val large = (1 to 10000).map(i => (if (i % 10 == 0) 1L else i.toLong, i))
      .toDF("k", "v") // heavy skew on k=1
    val small = Seq((1L, "one"), (2L, "two"), (5L, "five")).toDF("k", "name")
    val plain = large.join(small, "k")
    val salted = Skew.saltedJoin(large, small, "k", saltFactor = 8)
    assert(salted.count() == plain.count())
    val a = plain.orderBy("k", "v").collect().map(_.toSeq).toSeq
    val b = salted.orderBy("k", "v").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("two-phase salted agg == direct agg") {
    val df = (1 to 5000).map(i => (if (i % 5 == 0) "hot" else s"k$i", i.toLong))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("v"), count(lit(1)).as("n"))
    val twoPhase = Skew.twoPhaseAgg(df, "k", saltFactor = 8,
      partial = Map("v" -> (c => sum(c)), "n" -> (_ => count(lit(1)))),
      combine = Map("v" -> (c => sum(c)), "n" -> (c => sum(c))))
    assert(direct.orderBy("k").collect().map(_.toSeq).toSeq ==
      twoPhase.orderBy("k").collect().map(_.toSeq).toSeq)
  }

  /** Four tight clusters of 50 rows, on axes `axis` and `axis + 1`.
    * Clusters on axes 2/3 are about equally far from every centroid
    * fitted on axes 0/1. */
  private def blobs(axis: Int): DataFrame = {
    val rnd = new java.util.Random(5L)
    (for (c <- 0 until 4; i <- 0 until 50) yield {
      val v = Array.fill(4)((rnd.nextFloat() - 0.5f) * 0.02f)
      v(axis + c % 2) += (if (c < 2) 1f else -1f)
      ((c * 50 + i).toLong, v.toSeq)
    }).toDF("id", "vec")
  }

  /** Overwrite `path` with [[blobs]] and read it back. */
  private def writtenBlobs(path: String, axis: Int): DataFrame = {
    blobs(axis).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("fitQuantizer over a rewritten parquet path fits its new content") {
    def fit(df: DataFrame) =
      Quantizer.fit(df, "vec", 4, 42L, normalize = false).centroids
        .map(_.toSeq).toSeq
    val path = tmpDir("quantizer-rewrite") + "/vecs"
    val oldCents = fit(writtenBlobs(path, 0))
    val cents = fit(writtenBlobs(path, 2))
    assert(cents == fit(blobs(2)))
    assert(cents != oldCents)
  }

  test("semanticPairs over a rewritten parquet path assigns cells " +
      "from its new content") {
    def pairs(df: DataFrame) = Dedup.semanticPairs(df, "id", "vec",
      nlist = 4).collect().map(_.toSeq).toSet
    val path = tmpDir("semantic-rewrite") + "/vecs"
    pairs(writtenBlobs(path, 0))
    val expected = pairs(blobs(2))
    assert(expected.size == 4 * 1225) // each cluster in its own cell
    assert(pairs(writtenBlobs(path, 2)) == expected)
  }

  test("IVF full probe == brute force; partial probe keeps decent recall") {
    val e = Tables(spark, sf001, "embeddings")
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding")
    val brute = Similarity.bruteForceTopK(e, queries, k = 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.ivfTopK(e, queries, k = 5, nlist = 8, nprobe = 8)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute) // probing every cell ≡ exact
    val partial = Similarity.ivfTopK(e, queries, k = 5, nlist = 8, nprobe = 3)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = partial.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall $recall") // near-random vectors: lenient
  }

  test("IVF kNN JOIN: full probe == brute; partial probe recall; " +
      "rank parity with the window oracle") {
    val e = Tables(spark, sf001, "embeddings")
    // the join workload: the whole table probes for its top-3
    val probes = e.select($"vec_id".as("qid"), $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = rows(Similarity.bruteForceTopK(e, probes, k = 3))
    // nprobe = nlist probes every cell ⇒ the gate's provably-exact
    // configuration, including RANK (tie order id ASC both sides)
    val full = rows(Similarity.knnJoinIvf(e, probes, k = 3,
      nlist = 8, nprobe = 8))
    assert(full == brute)
    // production shape: √n cells (auto), nprobe 4 of 14 at sf0.01 —
    // the recall floor the banded-LSH default owes too
    val partial = Similarity.knnJoinIvf(e, probes, k = 3, nprobe = 4)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteIds = brute.map(t => (t._1, t._2))
    val recall = partial.intersect(bruteIds).size.toDouble / bruteIds.size
    assert(recall >= 0.5, s"IVF kNN join recall $recall")
    // deterministic: same corpus, same seed ⇒ same rows
    assert(partial == Similarity.knnJoinIvf(e, probes, k = 3, nprobe = 4)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("PQ: ADC approximates cosine; rerank recovers brute-force top-k") {
    val e = Tables(spark, sf001, "embeddings")
    val dims = e.select(size($"embedding")).head().getInt(0)
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding")

    // ADC error: approximate dot vs exact cosine over normalized vectors
    val cb = Similarity.Pq.train(e, dims, m = 8, ksub = 16).toSeq
    val enc = e.select($"vec_id".as("id"),
      graft.functions.VectorFunctions.pqEncode(
        graft.operators.Embeddings.normalize($"embedding"), cb, 8, 16, dims / 8)
        .as("codes"),
      $"embedding")
    val q1 = queries.limit(1).select($"qid",
      graft.functions.VectorFunctions.pqLut(
        graft.operators.Embeddings.normalize($"embedding"), cb, 8, 16, dims / 8)
        .as("lut"),
      $"embedding".as("qvec"))
    val err = enc.crossJoin(broadcast(q1))
      .select(abs(
        graft.functions.VectorFunctions.pqAdc($"codes", $"lut", 16) -
          graft.functions.VectorFunctions.cosineSim($"embedding", $"qvec"))
        .as("e"))
      .agg(avg($"e")).head().getDouble(0)
    assert(err < 0.25, s"mean ADC error $err") // compressed: coarse but bounded

    // with generous rerank the exact top-k must match brute force
    val brute = Similarity.bruteForceTopK(e, queries, k = 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.Pq.topK(e, queries, k = 5, dims = dims,
      m = 8, ksub = 16, rerank = 200)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"PQ recall $recall")
    // determinism: same seed, same answer
    val pq2 = Similarity.Pq.topK(e, queries, k = 5, dims = dims,
      m = 8, ksub = 16, rerank = 200)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq == pq2)
  }

  test("SQ8: byte codes approximate cosine tightly; rerank recovers top-k") {
    val e = Tables(spark, sf001, "embeddings")
    val dims = e.select(size($"embedding")).head().getInt(0)
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding")

    // per-dimension quantization is much tighter than PQ subspace codes
    val (mins, scales) = Similarity.Sq8.train(e, dims)
    val enc = e.select($"vec_id".as("id"),
      graft.functions.VectorFunctions.sq8Encode(
        graft.operators.Embeddings.normalize($"embedding"), mins, scales)
        .as("codes"),
      $"embedding")
    val q1 = queries.limit(1).select(
      graft.operators.Embeddings.normalize($"embedding").as("qn"),
      $"embedding".as("qvec"))
    val err = enc.crossJoin(broadcast(q1))
      .select(abs(
        graft.functions.VectorFunctions.sq8Dot($"codes", $"qn", mins, scales) -
          graft.functions.VectorFunctions.cosineSim($"embedding", $"qvec"))
        .as("e"))
      .agg(avg($"e")).head().getDouble(0)
    assert(err < 0.02, s"mean SQ8 error $err")

    val brute = Similarity.bruteForceTopK(e, queries, k = 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.Sq8.topK(e, queries, k = 5, dims = dims, rerank = 50)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = sq.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"SQ8 recall $recall")
  }

  test("IVF+PQ: full probe with generous rerank recovers brute-force top-k") {
    val e = Tables(spark, sf001, "embeddings")
    val dims = e.select(size($"embedding")).head().getInt(0)
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding")
    val brute = Similarity.bruteForceTopK(e, queries, k = 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every cell: only PQ approximation + rerank stand between
    // us and exact — recall should be high
    val full = Similarity.Pq.ivfTopK(e, queries, k = 5, dims = dims,
      nlist = 8, nprobe = 8, m = 8, ksub = 16, rerank = 200)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallFull = full.intersect(brute).size.toDouble / brute.size
    assert(recallFull >= 0.7, s"IVF+PQ full-probe recall $recallFull")
    // partial probe trades recall for touching nprobe/nlist of the data
    val part = Similarity.Pq.ivfTopK(e, queries, k = 5, dims = dims,
      nlist = 8, nprobe = 3, m = 8, ksub = 16, rerank = 200)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallPart = part.intersect(brute).size.toDouble / brute.size
    assert(recallPart >= 0.25, s"IVF+PQ partial-probe recall $recallPart")
  }

  test("index training is layout-independent: same codebooks on a repartitioned corpus") {
    val e = Tables(spark, sf001, "embeddings")
    val dims = e.select(size($"embedding")).head().getInt(0)
    val n = e.count().toInt
    // a deliberately DIFFERENT physical layout of the same corpus:
    // different partition count and scrambled within-partition order —
    // the shape a second cluster layout (or a rewritten table) presents
    val scrambled = e.repartition(7)
      .sortWithinPartitions(pmod($"vec_id" * 2654435761L, lit(977)))
    // sampleN < corpus forces SUBSET SELECTION to be deterministic too,
    // not just the ordering of a full-corpus sample
    val sampleN = math.max(32, n / 2)
    val (mins1, scales1) = Similarity.Sq8.train(e, dims, sampleN = sampleN)
    val (mins2, scales2) = Similarity.Sq8.train(scrambled, dims,
      sampleN = sampleN)
    assert(mins1 == mins2 && scales1 == scales2,
      "SQ8 train must not depend on corpus layout")
    val cb1 = Similarity.Pq.train(e, dims, m = 8, ksub = 16,
      sampleN = sampleN)
    val cb2 = Similarity.Pq.train(scrambled, dims, m = 8, ksub = 16,
      sampleN = sampleN)
    assert(cb1.sameElements(cb2), "PQ codebook must not depend on layout")
    val (rot1, ocb1) = Similarity.Pq.trainOpq(e, dims, m = 8, ksub = 16,
      sampleN = sampleN, opqIters = 2)
    val (rot2, ocb2) = Similarity.Pq.trainOpq(scrambled, dims, m = 8,
      ksub = 16, sampleN = sampleN, opqIters = 2)
    assert(rot1.sameElements(rot2) && ocb1.sameElements(ocb2),
      "OPQ rotation/codebook must not depend on layout")
  }

  test("OPQ: rotation cuts quantization error vs plain PQ on rotated anisotropic data") {
    // the canonical OPQ-vs-PQ geometry: an axis-aligned gaussian with
    // strongly decaying per-dimension variance, mixed by a fixed random
    // rotation — every PQ subspace then sees a blend of high- and
    // low-variance directions (bad centroid budget allocation); the
    // learned rotation can undo the mixing
    val dims = 16; val m = 8; val ksub = 16
    val rnd = new scala.util.Random(5)
    // random orthogonal mix via Gram-Schmidt on a seeded random matrix
    val mix = {
      val q = Array.fill(dims)(Array.fill(dims)(rnd.nextGaussian()))
      for (r <- 0 until dims) {
        for (p <- 0 until r) {
          val d = (0 until dims).map(c => q(r)(c) * q(p)(c)).sum
          for (c <- 0 until dims) q(r)(c) -= d * q(p)(c)
        }
        val n = math.sqrt((0 until dims).map(c => q(r)(c) * q(r)(c)).sum)
        for (c <- 0 until dims) q(r)(c) /= n
      }
      q
    }
    val vecs = (1 to 1500).map { i =>
      val z = Array.tabulate(dims)(j => rnd.nextGaussian() * math.pow(0.75, j))
      val v = Array.tabulate(dims)(r =>
        (0 until dims).map(c => mix(r)(c) * z(c)).sum.toFloat)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")

    val plainCb = Similarity.Pq.train(vecs, dims, m, ksub)
    val (rot, opqCb) = Similarity.Pq.trainOpq(vecs, dims, m, ksub,
      opqIters = 10)
    val sample = vecs
      .select(graft.operators.Embeddings.normalize($"embedding").as("v"))
      .limit(1000).collect().map(_.getSeq[Float](0).toArray)

    def sq(x: Array[Float], cb: Array[Float]): Double = {
      val q = Similarity.Pq.reconstruct(x, cb, dims, m, ksub)
      x.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
    }
    def rotate(x: Array[Float]): Array[Float] = {
      val y = new Array[Float](dims)
      var r = 0
      while (r < dims) {
        var acc = 0.0; var c = 0
        while (c < dims) { acc += rot(r * dims + c) * x(c); c += 1 }
        y(r) = acc.toFloat; r += 1
      }
      y
    }
    val plainErr = sample.map(sq(_, plainCb)).sum / sample.length
    val opqErr = sample.map(x => sq(rotate(x), opqCb)).sum / sample.length
    assert(opqErr < plainErr * 0.7,
      s"OPQ mse $opqErr not clearly below plain PQ mse $plainErr")

    // end-to-end: opqTopK output shape + sane recall vs brute
    val queries = vecs.filter($"vec_id" <= 5)
      .select($"vec_id".as("qid"), $"embedding")
    val brute = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val opq = Similarity.Pq.opqTopK(vecs, queries, k = 5, dims = dims,
        m = m, ksub = ksub, rerank = 60)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(opq.size == brute.size)
    val recall = opq.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"OPQ recall $recall")
  }
}
