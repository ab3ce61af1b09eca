package graft

import org.apache.spark.sql.functions._

import graft.operators.BloomPrune

class BloomPruneSpec extends SparkSpec {
  import spark.implicits._

  test("prune keeps every true match; join == plain join exactly") {
    val l = Tables(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val o = Tables(spark, sf001, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey")
    val pruned = BloomPrune.prune(l, o, "l_orderkey", "o_orderkey", 10000L)
    // no false negatives: every truly-matching row survives the prune
    val trueMatches = l.join(o, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_quantity").collect().map(_.toSeq).toSet
    val prunedSet = pruned.collect().map(_.toSeq).toSet
    assert(trueMatches.subsetOf(prunedSet.map(_.take(2))))
    // pruning actually prunes (selective build side)
    assert(pruned.count() < l.count())
    // the full bloom join is exactly the plain join
    val bloomJoined = BloomPrune.join(l, o, "l_orderkey", "o_orderkey", 10000L)
      .collect().map(_.toSeq).toSet
    val plain = l.join(o, $"l_orderkey" === $"o_orderkey")
      .collect().map(_.toSeq).toSet
    assert(bloomJoined == plain && plain.nonEmpty)
  }

  test("a rewritten build-side path is re-sketched: join == plain join") {
    val path = tmpDir("bloom-rewrite") + "/build"
    val probe = spark.range(0, 1000).toDF("pk")
    def build(lo: Long) = {
      spark.range(lo, lo + 100).toDF("bk")
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    assert(BloomPrune.join(probe, build(0L), "pk", "bk", 100L).count() == 100L)
    // same path, disjoint keys: the sketch must come from the new files
    val rewritten = build(500L)
    val bloomJoined = BloomPrune.join(probe, rewritten, "pk", "bk", 100L)
      .collect().map(_.toSeq).toSet
    val plain = probe.join(rewritten, $"pk" === $"bk")
      .collect().map(_.toSeq).toSet
    assert(plain.size == 100 && bloomJoined == plain,
      s"${bloomJoined.size} of ${plain.size} true matches")
  }

  test("SQL surface: graft_bloom_agg / graft_might_contain round-trip") {
    GraftFunctions.register(spark)
    spark.range(0, 1000).toDF("k").createOrReplaceTempView("bloom_build")
    val hits = spark.sql(
      """SELECT count(*) FROM range(0, 2000)
        |WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(k, 1000L, 65536L) FROM bloom_build),
        |  id)""".stripMargin).head().getLong(0)
    // all 1000 true members must hit; FPs over the other 1000 are
    // bounded well below 100% (65536 bits for 1000 items ⇒ ~tiny rate)
    assert(hits >= 1000L && hits < 1100L, s"hits=$hits")
  }
}
