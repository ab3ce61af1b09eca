package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextExprs => TE}
import graft.operators.{Bucketed, Dedup, IndexVersions, IvfIndex,
  IvfPqIndex, Multimodal, Similarity, TextModel}

/** One layout record per persisted index: every index kind, built with
  * non-default layout values, is probed with no layout argument and
  * returns the rows of the in-plan operator at those values; with its
  * record deleted the probe refuses, naming the path and "rebuild"; and
  * the record's bytes are the ones each kind has always written, parsed
  * by the one reader in [[IndexVersions]]. */
class LayoutRecordSpec extends SparkSpec {
  import spark.implicits._

  private def e = Tables(spark, sf001, "embeddings")
  private def queries =
    e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding")
  private def docs = Tables(spark, sf001, "documents")
  private def media = Multimodal.demoPerturbedMedia(docs)
  private def mediaCorpus = media.filter($"media_id" < 10000000L)
  private def mediaBatch = media.filter($"media_id" >= 10000000L)
  private def textCorpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
  private def textBatch = docs.filter(pmod($"doc_id", lit(10)) === 0)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def tableDir(table: String): String =
    IndexVersions.tableRoot(spark, table)

  /** Drop a catalog entry but keep its data: the state a fresh session
    * meets an index written by an earlier one in. */
  private def forget(table: String): Unit = {
    val loc = new org.apache.hadoop.fs.Path(tableDir(table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stash = new org.apache.hadoop.fs.Path(loc.getParent,
      s"${loc.getName}_stash")
    assert(fs.rename(loc, stash))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    assert(fs.rename(stash, loc))
  }

  /** One index kind: `build` writes it with non-default layout values,
    * `probe` reads it with none, `inPlan` is the in-plan operator at the
    * build's values; the record is `file` in `dir()`, its text is
    * `text` (the bytes every earlier version wrote; `%s` stands for the
    * build's measured `build_mse`) and it parses to `fields`. */
  private case class Kind(name: String, build: () => Unit,
      probe: () => DataFrame, inPlan: () => DataFrame, dir: () => String,
      file: String, fields: Map[String, String], text: String,
      cleanup: () => Unit = () => (), size: Int = -1)

  private lazy val ivfDir = tmpDir("layout-ivf")
  private lazy val pqDir = tmpDir("layout-ivfpq")
  private lazy val signDir = tmpDir("layout-sign")
  private lazy val ngramDir = tmpDir("layout-ngram")
  private lazy val modelDir = tmpDir("layout-model")

  private lazy val labeled = docs.select($"text",
    (pmod($"doc_id", lit(2)) === 0).as("lab"))
  private lazy val weights =
    TextModel.trainLogOdds(labeled, "text", $"lab", buckets = 256,
      bigrams = false).localCheckpoint(true)

  private lazy val kinds: Seq[Kind] = Seq(
    Kind("IVF",
      () => IvfIndex.write(e, ivfDir, dims = 64, nlist = 6, seed = 7L,
        fitSamplePerCell = 0): Unit,
      () => IvfIndex.probe(spark, ivfDir, queries, k = 5, nprobe = 2),
      () => Similarity.ivfTopK(e, queries, k = 5, nlist = 6, nprobe = 2,
        seed = 7L),
      () => IndexVersions.resolvePath(spark, ivfDir),
      "_graft_ivf_meta.json",
      Map("nlist" -> "6", "dims" -> "64", "seed" -> "7",
        "kernel" -> "kmeans-l2-normalized", "segs_upto" -> "0"),
      """{"nlist":6,"dims":64,"seed":7,"kernel":"kmeans-l2-normalized",""" +
        """"build_mse":%s,"segs_upto":0}"""),
    Kind("IVF-PQ",
      () => IvfPqIndex.write(e, pqDir, dims = 64, nlist = 6, m = 16,
        ksub = 8, seed = 7L): Unit,
      () => IvfPqIndex.probe(spark, pqDir, queries, rerankFrom = e, k = 5,
        nprobe = 6, rerank = 500),
      () => Similarity.Pq.ivfTopK(e, queries, k = 5, dims = 64, nlist = 6,
        nprobe = 6, m = 16, ksub = 8, rerank = 500, seed = 7L),
      () => IndexVersions.resolvePath(spark, pqDir),
      "_graft_ivfpq_meta.json",
      Map("nlist" -> "6", "dims" -> "64", "m" -> "16", "ksub" -> "8",
        "seed" -> "7", "kernel" -> "ivfpq-l2n-residual-adc",
        "segs_upto" -> "0"),
      """{"nlist":6,"dims":64,"m":16,"ksub":8,"seed":7,""" +
        """"kernel":"ivfpq-l2n-residual-adc","build_mse":%s,""" +
        """"segs_upto":0}"""),
    Kind("sign",
      () => Similarity.writeSignIndex(e, signDir, dims = 64, numPlanes = 10,
        seed = 7L),
      () => Similarity.probeSignIndex(spark, signDir, queries, k = 5),
      () => Similarity.lshTopK(e, queries, k = 5, dims = 64, numPlanes = 10,
        seed = 7L),
      () => signDir, "_graft_sign_meta.json",
      Map("planes" -> "10", "dims" -> "64", "seed" -> "7"),
      """{"planes":10,"dims":64,"seed":7}"""),
    Kind("phash",
      () => Multimodal.writePhashIndex(mediaCorpus, "layout_phash",
        buckets = 4, bands = 2),
      () => Multimodal.probePhashIndex(spark, "layout_phash", mediaBatch,
        maxDist = 8),
      () => Multimodal.perceptualNearDupPairs(Multimodal.perceptualSig(media),
          maxDist = 8, bands = 2)
        .filter($"id_a" < 10000000L && $"id_b" >= 10000000L)
        .select($"id_b".as("media_id"), $"id_a".as("dup_of"), $"dist"),
      () => tableDir("layout_phash"), "_graft_phash_meta.json",
      Map("bands" -> "2", "kernel" -> "blockhash64"),
      """{"bands":2,"kernel":"blockhash64"}""",
      () => Bucketed.dropBucketed(spark, "layout_phash")),
    Kind("video frames",
      () => Multimodal.writeVideoFrameIndex(mediaCorpus, "layout_frames",
        buckets = 4, frameBytes = 32, bands = 4),
      () => Multimodal.probeVideoFrameIndex(spark, "layout_frames",
        mediaBatch, maxDist = 6, minContainPct = 50),
      () => Multimodal.videoNearDupPairs(media, frameBytes = 32, maxDist = 6,
          bands = 4, minContainPct = 0)
        .filter($"id_a" < 10000000L && $"id_b" >= 10000000L)
        .filter($"matched_b" * 100 >= $"frames_b" * 50)
        .select($"id_b", $"id_a", $"matched_b", $"frames_b"),
      () => tableDir("layout_frames"), "_graft_phash_meta.json",
      Map("bands" -> "4", "kernel" -> "blockhash64-frame32"),
      """{"bands":4,"kernel":"blockhash64-frame32"}""",
      () => Bucketed.dropBucketed(spark, "layout_frames")),
    Kind("bucketed table",
      () => {
        Bucketed.writeBucketed(e.select($"vec_id", $"embedding"),
          "layout_bkt_l", "vec_id", buckets = 6, filesPerBucket = 2)
        Bucketed.writeBucketed(e.select($"vec_id", ($"vec_id" * 2).as("x")),
          "layout_bkt_r", "vec_id", buckets = 6)
      },
      () => {
        forget("layout_bkt_l")
        assert(Bucketed.registerBucketed(spark, "layout_bkt_l", "vec_id"))
        Bucketed.colocatedJoin(spark, "layout_bkt_l", "layout_bkt_r",
          "vec_id").select($"vec_id", $"x")
      },
      () => e.select($"vec_id", ($"vec_id" * 2).as("x")),
      () => tableDir("layout_bkt_l"), "_graft_buckets.json",
      Map("buckets" -> "6", "key" -> "vec_id"),
      """{"buckets":6,"key":"vec_id"}""",
      () => Seq("layout_bkt_l", "layout_bkt_r")
        .foreach(Bucketed.dropBucketed(spark, _))),
    Kind("n-gram parquet",
      () => Dedup.writeNgramIndex(textCorpus, ngramDir, "doc_id", "text",
        n = 5, threshold = 0.7),
      () => Dedup.probeNgramIndex(spark, ngramDir, textBatch, "doc_id",
        "text"),
      () => Dedup.ngramJaccardPairsAcross(textCorpus, textBatch, "doc_id",
        "text", n = 5, threshold = 0.7),
      () => s"$ngramDir/df", "_graft_ngram_meta.json",
      Map("n" -> "5", "threshold" -> "0.7"), """{"n":5,"threshold":0.7}""",
      size = 10),
    Kind("n-gram bucketed",
      () => Dedup.writeNgramIndexBucketed(textCorpus, "layout_ngram",
        "doc_id", "text", n = 5, threshold = 0.7, buckets = 3),
      () => Dedup.probeNgramIndexBucketed(spark, "layout_ngram", textBatch,
        "doc_id", "text"),
      () => Dedup.ngramJaccardPairsAcross(textCorpus, textBatch, "doc_id",
        "text", n = 5, threshold = 0.7),
      () => tableDir("layout_ngram_df"), "_graft_ngram_meta.json",
      Map("n" -> "5", "threshold" -> "0.7"), """{"n":5,"threshold":0.7}""",
      () => Seq("df", "prefix", "shingles")
        .foreach(s => Bucketed.dropBucketed(spark, s"layout_ngram_$s")),
      size = 10),
    Kind("text model",
      () => TextModel.writeModel(weights, modelDir, buckets = 256,
        bigrams = false),
      () => TextModel.score(spark, docs, "text", modelDir)
        .select($"doc_id", $"score_q"),
      () => {
        val w = new Array[Long](256)
        weights.select($"bucket", $"weight").collect()
          .foreach(r => w(r.getInt(0)) = r.getLong(1))
        docs.select($"doc_id",
          TE.linearTextScore($"text", w.toIndexedSeq, bigrams = false)
            .getField("score_q").as("score_q"))
      },
      () => IndexVersions.resolvePath(spark, modelDir),
      "_graft_model_meta.json",
      Map("buckets" -> "256", "bigrams" -> "false",
        "kernel" -> "md5prefix60", "scale" -> "10000000"),
      """{"buckets":256,"bigrams":false,"kernel":"md5prefix60",""" +
        """"scale":10000000}"""))

  kinds.foreach { k =>
    test(s"${k.name}: a probe with no layout argument replays the record; " +
        "the record keeps its on-disk bytes; without it the probe refuses") {
      try {
        k.build()
        val got = rows(k.probe())
        assert(got.nonEmpty, s"${k.name}: the probe found nothing")
        if (k.size >= 0) assert(got.size === k.size)
        assert(got === rows(k.inPlan()),
          s"${k.name}: the probe must return the in-plan operator's rows")

        val text = IndexVersions.readText(spark, k.dir(), k.file).get
        val rec = IndexVersions.layoutIn(spark, k.dir(), k.file).get
        val expected = if (k.text.contains("%s"))
          k.text.format(rec("build_mse")) else k.text
        assert(text === expected, s"${k.name}: the record's bytes changed")
        assert(rec.fields === k.fields ++ rec.fields.get("build_mse")
          .map("build_mse" -> _), s"${k.name}: parsed ${rec.fields}")

        val record = new org.apache.hadoop.fs.Path(k.dir(), k.file)
        assert(record.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(record, false))
        val refused = intercept[IllegalArgumentException](k.probe())
        assert(refused.getMessage.contains(k.dir()) &&
          refused.getMessage.contains("rebuild"), refused.getMessage)
      } finally k.cleanup()
    }
  }

  test("a sign index written with auto planes records the occupancy " +
      "rule's count, and the disk ingest probe replays it") {
    val corpus = e.filter(pmod($"vec_id", lit(10)) =!= 0)
    val batch = e.filter(pmod($"vec_id", lit(10)) === 0)
    val dir = tmpDir("layout-sign-auto")
    Similarity.writeSignIndex(corpus, dir, dims = 64, numPlanes = 0)
    val planes = Dedup.scaledPlanes(corpus.count())
    assert(Similarity.signIndexMeta(spark, dir) === ((planes, 64, 42L)))
    val disk = Dedup.incrementalNewNearDupEmbedDisk(spark, dir, batch,
      "vec_id", "embedding").collect().map(_.getLong(0)).toSet
    val inPlan = Dedup.incrementalNewNearDupEmbed(corpus, batch, "vec_id",
      "embedding", dims = 64, numPlanes = planes)
      .collect().map(_.getLong(0)).toSet
    assert(disk.nonEmpty && disk === inPlan)
  }

  test("bucketed table: a multi-file build attaches Exchange-free from " +
      "its record; a key the record does not name is refused") {
    val li = Tables(spark, sf001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val ord = Tables(spark, sf001, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    // multi-file build mode: 2 files per bucket = 2x the write tasks
    Bucketed.writeBucketed(li, "layout_li", "l_orderkey", buckets = 8,
      filesPerBucket = 2)
    Bucketed.writeBucketed(ord, "layout_ord", "l_orderkey", buckets = 8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(Bucketed.bucketMeta(spark, "layout_li") === ((8, "l_orderkey")))
      val loc = new org.apache.hadoop.fs.Path(tableDir("layout_li"))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dataFiles = fs.listStatus(loc).filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      assert(dataFiles.length == 16,
        s"8 buckets x 2 filesPerBucket should write 16 data files, " +
          s"got ${dataFiles.length}")
      val expected = li.join(ord, "l_orderkey").count()
      forget("layout_li")
      intercept[IllegalArgumentException] {
        Bucketed.registerBucketed(spark, "layout_li", "l_quantity")
      }
      assert(!spark.catalog.tableExists("layout_li"))
      assert(Bucketed.registerBucketed(spark, "layout_li", "l_orderkey"))
      val j = Bucketed.colocatedJoin(spark, "layout_li", "layout_ord",
        "l_orderkey")
      assert(Bucketed.countExchanges(j) == 0,
        "a multi-file bucketed join attached from its record must not " +
          "shuffle")
      assert(j.count() == expected)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq("layout_li", "layout_ord").foreach(Bucketed.dropBucketed(spark, _))
    }
  }

  test("the one reader parses every kind's sidecar text as earlier " +
      "versions wrote it") {
    val dir = tmpDir("layout-parse")
    val writtenTexts = Seq(
      """{"nlist":8,"dims":64,"seed":42,"kernel":"kmeans-l2-normalized",""" +
        """"build_mse":0.1234567890123,"segs_upto":3}""" ->
        Map("nlist" -> "8", "dims" -> "64", "seed" -> "42",
          "kernel" -> "kmeans-l2-normalized",
          "build_mse" -> "0.1234567890123", "segs_upto" -> "3"),
      """{"nlist":8,"dims":64,"m":8,"ksub":16,"seed":-3,""" +
        """"kernel":"ivfpq-l2n-residual-adc","build_mse":1.0E-5,""" +
        """"segs_upto":0}""" ->
        Map("nlist" -> "8", "dims" -> "64", "m" -> "8", "ksub" -> "16",
          "seed" -> "-3", "kernel" -> "ivfpq-l2n-residual-adc",
          "build_mse" -> "1.0E-5", "segs_upto" -> "0"),
      """{"nlist":8,"dims":64,"seed":42,"kernel":"kmeans-l2-normalized",""" +
        """"build_mse":0.5}""" ->
        Map("nlist" -> "8", "dims" -> "64", "seed" -> "42",
          "kernel" -> "kmeans-l2-normalized", "build_mse" -> "0.5"),
      """{"buckets":4096,"bigrams":true,"kernel":"md5prefix60",""" +
        """"scale":10000000}""" ->
        Map("buckets" -> "4096", "bigrams" -> "true",
          "kernel" -> "md5prefix60", "scale" -> "10000000"),
      """{"planes":13,"dims":64,"seed":-42}""" ->
        Map("planes" -> "13", "dims" -> "64", "seed" -> "-42"),
      """{"bands":2,"kernel":"blockhash64-frame64"}""" ->
        Map("bands" -> "2", "kernel" -> "blockhash64-frame64"),
      """{"buckets":16,"key":"h"}""" -> Map("buckets" -> "16", "key" -> "h"),
      """{"seg_base":17}""" -> Map("seg_base" -> "17"),
      """{"n":3,"threshold":0.5}""" -> Map("n" -> "3", "threshold" -> "0.5"))
    writtenTexts.zipWithIndex.foreach { case ((text, fields), i) =>
      IndexVersions.writeText(spark, dir, s"_record$i", text)
      assert(IndexVersions.layoutIn(spark, dir, s"_record$i").get.fields ===
        fields, text)
    }
    assert(IndexVersions.layoutIn(spark, dir, "_absent").isEmpty)
    val refused = intercept[IllegalArgumentException] {
      IndexVersions.layout(spark, dir, "_absent")
    }
    assert(refused.getMessage.contains(dir) &&
      refused.getMessage.contains("rebuild"), refused.getMessage)
  }
}
