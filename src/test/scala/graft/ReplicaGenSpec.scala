package graft

import org.apache.spark.sql.functions.{col, max, min}

import graft.operators.{Dedup, TextQuality}

/** [[ReplicaGen]]'s ×N replica must behave like N INDEPENDENT copies of
  * its base: every pair-structured result is exactly N× the base's, with
  * nothing shared across replicas. The benchmark's inputs are built
  * with it, so a replica that leaked structure across copies would skew
  * every scaled measurement. */
class ReplicaGenSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sf001, "documents")
  private lazy val docs2 =
    ReplicaGen.replicateAll(spark, "documents", docs, 2).cache()
  /** Base doc_id range; replica 1 is replica 0 shifted by `docOffset`. */
  private lazy val (baseMin, baseMax) = {
    val r = docs.agg(min($"doc_id"), max($"doc_id")).head()
    (r.getLong(0), r.getLong(1))
  }
  private lazy val docOffset =
    docs2.filter($"doc_id" > baseMax).agg(min($"doc_id")).head()
      .getLong(0) - baseMin

  test("documents x2: exactly twice the rows; replica 0 is the base " +
      "verbatim; replica 1's doc_id range is disjoint from it") {
    val n = docs.count()
    assert(docs2.count() === 2 * n)
    assert(docs2.select($"doc_id").distinct().count() === 2 * n)
    val r0 = docs2.filter($"doc_id" <= baseMax)
    assert(r0.exceptAll(docs).isEmpty && docs.exceptAll(r0).isEmpty)
    val r1 = docs2.filter($"doc_id" > baseMax)
    assert(r1.count() === n)
    assert(docOffset > baseMax - baseMin,
      s"replica ranges overlap: offset $docOffset, base span " +
        s"[$baseMin, $baseMax]")
    assert(r1.select(($"doc_id" - docOffset).as("doc_id"))
      .exceptAll(docs.select($"doc_id")).isEmpty)
  }

  test("text pairs x2: ngramJaccardPairs returns exactly twice the x1 " +
      "pairs, replica 1's are the base pairs shifted, none crosses") {
    val p1 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p2 = Dedup.ngramJaccardPairs(docs2, "doc_id", "text", 3, 0.5)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1.nonEmpty, "the base must have near-dup pairs to replicate")
    assert(p2.size === 2 * p1.size)
    val crossing = p2.filter { case (a, b) => (a <= baseMax) != (b <= baseMax) }
    assert(crossing.isEmpty, s"cross-replica pairs: ${crossing.take(5)}")
    assert(p2.filter(_._1 <= baseMax) === p1)
    assert(p2.filter(_._1 > baseMax)
      .map { case (a, b) => (a - docOffset, b - docOffset) } === p1)
  }

  test("text spans x2: duplicatedSpans finds exactly twice the x1 " +
      "spans, each in as many documents") {
    def spans(d: org.apache.spark.sql.DataFrame) =
      TextQuality.duplicatedSpans(d, "text", 8, 2)
        .groupBy($"n_docs").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s1 = spans(docs)
    assert(s1.nonEmpty, "the base must have duplicated spans")
    assert(spans(docs2) === s1.map { case (k, v) => k -> 2 * v })
  }

  test("embeddings x2: exactly twice the rows; intra-replica cosines " +
      "equal the base cosines within 1e-9; the transform is not identity") {
    val base = Tables(spark, sf001, "embeddings")
    val e2 = ReplicaGen.replicateAll(spark, "embeddings", base, 2)
    assert(e2.count() === 2 * base.count())
    val baseIdMax = base.agg(max($"vec_id")).head().getLong(0)
    def vectors(df: org.apache.spark.sql.DataFrame): Map[Long, Array[Double]] =
      df.select($"vec_id", col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
        .toMap
    val v0 = vectors(base.orderBy($"vec_id").limit(40))
    val r1 = e2.filter($"vec_id" > baseIdMax)
    val offset = r1.agg(min($"vec_id")).head().getLong(0) -
      base.agg(min($"vec_id")).head().getLong(0)
    val v1 = vectors(r1.filter(($"vec_id" - offset).isin(v0.keys.toSeq: _*)))
      .map { case (id, v) => (id - offset) -> v }
    assert(v1.keySet === v0.keySet)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val ids = v0.keys.toSeq.sorted
    for (i <- ids; j <- ids if i < j) {
      val c0 = cos(v0(i), v0(j)); val c1 = cos(v1(i), v1(j))
      assert(math.abs(c0 - c1) <= 1e-9, s"cos($i, $j): base $c0 vs replica $c1")
    }
    assert(ids.exists(i => cos(v0(i), v1(i)) < 0.99),
      "replica 1 must be a real orthogonal transform of the base")
  }
}
