package graft

import graft.operators.Bucketed

/** Bucketed co-located join: pre-bucketed tables join with ZERO shuffle
  * while the unbucketed equivalent exchanges both sides.
  */
class BucketedSpec extends SparkSpec {
  import spark.implicits._

  test("join of two bucketed tables has no Exchange; unbucketed does") {
    val li = Tables(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
    val ord = Tables(spark, sf001, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")

    Bucketed.writeBucketed(li, "li_bkt", "l_orderkey", buckets = 8)
    Bucketed.writeBucketed(ord, "ord_bkt", "l_orderkey", buckets = 8)

    // AQE can hide exchanges until execution — disable for plan asserts,
    // and disable broadcast so the join stays sort-merge on both paths
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val colocated = Bucketed.colocatedJoin(spark, "li_bkt", "ord_bkt", "l_orderkey")
      assert(Bucketed.countExchanges(colocated) == 0,
        "bucketed join must not shuffle")
      val shuffled = li.join(ord, "l_orderkey")
      assert(Bucketed.countExchanges(shuffled) == 2,
        "unbucketed sort-merge join shuffles both sides")
      // same results either way
      assert(colocated.count() == shuffled.count() && colocated.count() > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("registerBucketed re-attaches surviving data with bucketing intact") {
    val li = Tables(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val ord = Tables(spark, sf001, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    Bucketed.writeBucketed(li, "li_reg", "l_orderkey", buckets = 8)
    Bucketed.writeBucketed(ord, "ord_reg", "l_orderkey", buckets = 8)
    val expected = Bucketed.colocatedJoin(spark, "li_reg", "ord_reg",
      "l_orderkey").count()

    // simulate the fresh-JVM arrival: the in-memory catalog entry is
    // gone but the warehouse data survives. DROP on a managed table
    // deletes its dir, so stash the data aside across the drop.
    val cat = spark.sessionState.catalog
    val parse = spark.sessionState.sqlParser.parseTableIdentifier _
    val loc = new org.apache.hadoop.fs.Path(
      cat.defaultTablePath(parse("li_reg")))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stash = new org.apache.hadoop.fs.Path(loc.getParent, "li_reg_stash")
    assert(fs.rename(loc, stash))
    spark.sql("DROP TABLE li_reg")
    assert(fs.rename(stash, loc))
    assert(!spark.catalog.tableExists("li_reg"))

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // no data for this name -> false, and nothing registered
      assert(!Bucketed.registerBucketed(spark, "li_reg_missing",
        "l_orderkey"))
      assert(!spark.catalog.tableExists("li_reg_missing"))
      // attach over the surviving dir: metadata-only, and the join is
      // as Exchange-free as it was in the writing session
      assert(Bucketed.registerBucketed(spark, "li_reg", "l_orderkey"))
      // idempotent once attached
      assert(Bucketed.registerBucketed(spark, "li_reg", "l_orderkey"))
      val j = Bucketed.colocatedJoin(spark, "li_reg", "ord_reg", "l_orderkey")
      assert(Bucketed.countExchanges(j) == 0,
        "re-registered bucketed join must not shuffle")
      assert(j.count() == expected)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Bucketed.dropBucketed(spark, "li_reg")
      Bucketed.dropBucketed(spark, "ord_reg")
      assert(!fs.exists(loc), "dropBucketed removes external data too")
    }
  }
}
