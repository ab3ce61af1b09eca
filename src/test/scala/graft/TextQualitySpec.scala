package graft

import org.apache.spark.sql.functions._

import graft.operators.TextQuality

class TextQualitySpec extends SparkSpec {
  import spark.implicits._

  test("repetition: known-answer counts, kernel == explode formulation") {
    val docs = Seq(
      (1L, "a b a b a"),        // uni a×3; bi "a b"×2,"b a"×2; tri "a b a"×2
      (2L, "x y z"),            // no repeats
      (3L, "w w w w")           // uni w×4; bi "w w"×3; tri "w w w"×2
    ).toDF("doc_id", "text")
    val got = TextQuality.repetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got(1L) == ((5L, 2L, 3L, 2L, 2L)))
    assert(got(2L) == ((3L, 3L, 1L, 1L, 1L)))
    assert(got(3L) == ((4L, 1L, 4L, 3L, 2L)))

    // kernel == the declarative explode/groupBy formulation on real docs
    val real = Tables(spark, sf001, "documents").limit(100)
    val viaKernel = TextQuality.repetition(real, "doc_id", "text")
      .select("doc_id", "top_bigram_count")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = real.select($"doc_id",
      split(trim($"text"), "\\s+").as("toks"))
    val viaExplode = toks.select($"doc_id", posexplode($"toks").as(Seq("i", "w")))
      .join(toks.select($"doc_id", posexplode($"toks").as(Seq("j", "w2"))),
        Seq("doc_id"))
      .filter($"j" === $"i" + 1)
      .select($"doc_id", concat($"w", lit(" "), $"w2").as("bg"))
      .groupBy("doc_id", "bg").count()
      .groupBy("doc_id").agg(max("count").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaKernel == viaExplode)
  }

  test("scrub: redacts urls/emails/phones and counts pre-redaction hits") {
    val docs = Seq(
      (1L, "mail bob.smith+x@corp.example.com and alice@ex.org now"),
      (2L, "see https://a.example.com/path?q=1&x=2 or http://b.co/z"),
      (3L, "call +1 (555) 123-4567 today"),
      (4L, "clean text with no pii at all")
    ).toDF("doc_id", "text")
    val got = TextQuality.scrub(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == (("mail [EMAIL] and [EMAIL] now", 0L, 2L, 0L)))
    assert(got(2L) == (("see [URL] or [URL]", 2L, 0L, 0L)))
    assert(got(3L) == (("call [PHONE] today", 0L, 0L, 1L)))
    assert(got(4L) == (("clean text with no pii at all", 0L, 0L, 0L)))
  }

  test("corpus frequency scores: known-answer on a tiny corpus") {
    val docs = Seq(
      (1L, "a a b"),   // corpus: a×3, b×2, z×1
      (2L, "a b z")
    ).toDF("doc_id", "text")
    val got = TextQuality.corpusFrequencyScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    // doc 1: freqs (3,3,2) → sum 8, hapax 0, min 2, mean 8/3
    assert(got(1L) == ((3L, 8L, 0L, 2L, 8.0 / 3)))
    // doc 2: freqs (3,2,1) → sum 6, hapax 1, min 1, mean 2.0
    assert(got(2L) == ((3L, 6L, 1L, 1L, 2.0)))
  }

  test("topTermsTfDf: tf-desc order, df-asc then term-asc tie-breaks") {
    val docs = Seq(
      (1L, "x x y z"),   // tf: x=2, y=1, z=1; df: x=2, y=1, z=2
      (2L, "x z z q")    // tf: z=2, x=1, q=1; df: q=1
    ).toDF("doc_id", "text")
    val got = TextQuality.topTermsTfDf(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(4)) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    // doc 1: x first (tf 2); then y before z (tf tie 1, df 1 < 2)
    assert(got((1L, 1)) == (("x", 2L, 2L)))
    assert(got((1L, 2)) == (("y", 1L, 1L)))
    // doc 2: z first (tf 2); then q before x (tf tie 1, df 1 < 2)
    assert(got((2L, 1)) == (("z", 2L, 2L)))
    assert(got((2L, 2)) == (("q", 1L, 1L)))
  }

  test("connected components: transitive chains collapse to min-id clusters") {
    val pairs = Seq(
      (2L, 1L), (2L, 3L),                    // component {1,2,3} → 1
      (10L, 11L),                            // {10,11} → 10
      (20L, 21L), (21L, 22L), (20L, 22L),    // triangle {20,21,22} → 20
      // a 7-node chain: diameter 6 forces multiple propagation rounds
      (31L, 32L), (32L, 33L), (33L, 34L), (34L, 35L), (35L, 36L), (36L, 37L)
    ).toDF("id_a", "id_b")
    val got = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(got(_) == 20L))
    assert((31L to 37L).forall(got(_) == 31L))
    assert(got.size == 15)
  }

  test("components take the RELIABLE checkpoint path when a checkpoint dir is set") {
    // localCheckpoint blocks live on executors — at 1000-executor scale
    // an executor loss mid-iteration kills the job; with a configured
    // checkpoint dir the iterative operators must switch to reliable
    // checkpoints (Dedup.truncateLineage). This exercises that path
    // end-to-end and checks the checkpoint data actually hit the dir.
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite assumes no ambient ckpt dir")
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L),
      (31L, 32L), (32L, 33L), (33L, 34L)).toDF("id_a", "id_b")
    // the same operator on the default localCheckpoint path
    val viaLocal = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = new java.io.File(tmpDir("graft_ckpt"))
    sc.setCheckpointDir(dir.getAbsolutePath)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    try {
      val got = graft.operators.Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(3L) == 1L && got(11L) == 10L && got(34L) == 31L)
      assert(got == viaLocal)
      def rddDirs(f: java.io.File): Int =
        (if (f.isDirectory && f.getName.startsWith("rdd-")) 1 else 0) +
          Option(f.listFiles()).map(_.map(rddDirs).sum).getOrElse(0)
      assert(rddDirs(dir) > 0, "no reliable checkpoint data written")
    } finally {
      // checkpointDir is a private[spark] var with no public unset; the
      // generated setter is public in bytecode — restore the shared
      // context so other suites keep the fast localCheckpoint default
      sc.getClass.getMethods.find(_.getName == "checkpointDir_$eq")
        .get.invoke(sc, None)
      rm(dir)
    }
  }

  test("cluster representatives: best-score rep per component, singletons kept") {
    val docs = Seq(
      (1L, 50L), (2L, 80L), (3L, 80L),   // cluster {1,2,3}: 2 and 3 tie on
                                         // score → id-ASC keeps 2
      (10L, 5L), (11L, 9L),              // cluster {10,11}: 11 wins
      (42L, 7L), (43L, 1L)               // singletons (no pairs)
    ).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = graft.operators.Dedup.clusterRepresentatives(
        docs, pairs, "doc_id", col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (2L, 1L, 3L), (11L, 10L, 2L),      // reps with cluster sizes
      (42L, 42L, 1L), (43L, 43L, 1L)))   // singletons as own clusters
  }

  test("cluster representatives on real docs == window formulation") {
    val docs = Tables(spark, sf001, "documents")
    val pairs = graft.operators.Dedup.ngramJaccardPairs(docs,
      "doc_id", "text", n = 3, threshold = 0.5).select($"id_a", $"id_b")
    val res = graft.operators.Dedup.clusterRepresentatives(
      docs, pairs, "doc_id", $"n_chars")

    val comp = graft.operators.Dedup.connectedComponents(pairs)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"comp")
      .orderBy($"n_chars".cast("double").desc, $"id".asc)
    val viaWindow = comp.join(docs, $"id" === $"doc_id")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"id", $"comp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mineClusters = res.filter($"cluster_size" >= 2)
      .select($"keep_id", $"cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mineClusters == viaWindow && mineClusters.nonEmpty)

    // every doc accounted for exactly once: reps + dropped = all docs
    val nMembers = comp.count()
    val nClusters = comp.select("comp").distinct().count()
    assert(res.count() == docs.count() - nMembers + nClusters)
  }

  test("connected components == a driver-side union-find on a table of graphs") {
    // reference: union-find over the non-self pairs; comp = min member
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.filter(p => p._1 != p._2).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    val rnd = new scala.util.Random(23)
    def randomGraph(nodes: Int, edges: Int): Seq[(Long, Long)] =
      (1 to edges).map(_ =>
        (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
    val cases = Seq(
      "100-node path" -> (0L until 99L).map(i => (i, i + 1)),
      "64-node chain" -> (0L until 63L).map(i => (i, i + 1)),
      "random, 150 pairs over 120 nodes" -> randomGraph(120, 150),
      "random, 400 pairs over 300 nodes" -> randomGraph(300, 400),
      "star centred at its min" -> (1L to 20L).map(i => (0L, i)),
      "star centred at its max" -> (1L to 20L).map(i => (i, 50L)),
      "2-node component" -> Seq((7L, 3L)),
      "no pairs" -> Seq.empty[(Long, Long)],
      // a self-pair adds no node: 9 pairs only with itself, so it is
      // absent from the reference and must be absent from the output
      "reversed, repeated and self pairs" -> Seq((2L, 1L), (1L, 2L),
        (2L, 1L), (3L, 2L), (3L, 3L), (9L, 9L), (5L, 4L), (4L, 5L)))
    for ((name, pairs) <- cases) {
      val rows = graft.operators.Dedup.connectedComponents(
          pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(rows.length == rows.map(_._1).distinct.length,
        s"$name: an id appears twice")
      assert(rows.toMap == unionFind(pairs), name)
    }
  }

  test("incremental ingest: anti-join keeps only genuinely-new fingerprints") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "  Alpha   beta GAMMA "), // normalizes to a corpus duplicate
      (11L, "zeta eta theta"),        // genuinely new
      (12L, "delta epsilon"))         // exact duplicate
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.incrementalNew(batch, corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(11L))
  }

  test("wordChunks kernel: non-overlapping order-preserving blocks, short tail") {
    val got = Seq(
      (1L, "a b c d e"),   // c=2 → ["a b","c d","e"]
      (2L, "  x  "),       // 1 token → ["x"]
      (3L, " \t "),        // blank → []
      (4L, "z z z z")      // repeated block kept positionally: ["z z","z z"]
    ).toDF("doc_id", "text")
      .select($"doc_id",
        graft.functions.TextExprs.wordChunks($"text", 2).as("ch"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(got(1L) == List("a b", "c d", "e"))
    assert(got(2L) == List("x"))
    assert(got(3L) == Nil)
    assert(got(4L) == List("z z", "z z"))
  }

  test("removeFrequentBlocks: corpus-frequent blocks drop, order survives") {
    val docs = Seq(
      (1L, "a b c d"),     // blocks: "a b","c d"
      (2L, "a b x"),       // blocks: "a b","x"
      (3L, "p q"),         // block:  "p q"
      (4L, "a b"),         // block:  "a b"  → fully boilerplate
      (5L, "z z z z")      // "z z"×2 WITHIN one doc counts twice
    ).toDF("doc_id", "text")
    // corpus counts: "a b"×3, "z z"×2, rest ×1 → minFreq=2 drops both
    val got = TextQuality.removeFrequentBlocks(
        docs, "doc_id", "text", chunkTokens = 2, minFreq = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (("c d", 2L, 1L)))
    assert(got(2L) == (("x", 2L, 1L)))
    assert(got(3L) == (("p q", 1L, 0L)))
    assert(got(4L) == (("", 1L, 1L)))        // all blocks boilerplate → ""
    assert(got(5L) == (("", 2L, 2L)))        // within-doc repetition counts
    assert(got.size == 5)

    // blank docs have no blocks and no output row
    val blank = Seq((9L, "  ")).toDF("doc_id", "text")
    assert(TextQuality.removeFrequentBlocks(
      blank, "doc_id", "text", 2, 2).count() == 0)
  }

  test("removeFrequentBlocksHashed == string-keyed operator (known answers + real docs)") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x"), (3L, "p q"), (4L, "a b"),
      (5L, "z z z z")
    ).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val viaHash = asMap(TextQuality.removeFrequentBlocksHashed(
      docs, "doc_id", "text", chunkTokens = 2, minFreq = 2))
    val viaString = asMap(TextQuality.removeFrequentBlocks(
      docs, "doc_id", "text", chunkTokens = 2, minFreq = 2))
    assert(viaHash == viaString && viaHash.size == 5)

    // and on the real corpus at the gate configuration (collision-free
    // there, so the two layouts must agree row for row)
    val real = Tables(spark, sf001, "documents")
    val h = asMap(TextQuality.removeFrequentBlocksHashed(
      real, "doc_id", "text", 10, 3))
    val s = asMap(TextQuality.removeFrequentBlocks(
      real, "doc_id", "text", 10, 3))
    assert(h == s && h.nonEmpty)

    // blank docs drop in both layouts
    val blank = Seq((9L, " ")).toDF("doc_id", "text")
    assert(TextQuality.removeFrequentBlocksHashed(
      blank, "doc_id", "text", 2, 2).count() == 0)
  }

  test("removeFrequentBlocksCDC: shifted copies align and drop; " +
      "fixed grid misses them; maxLen bounds cut-free runs") {
    import graft.functions.{TextOps, VecOps}
    import org.apache.spark.unsafe.types.UTF8String
    def isCut(w: String): Boolean =
      VecOps.md5Base60(UTF8String.fromString(w)) % 10 == 0L
    val cut = Iterator.from(0).map(i => s"cut$i").find(isCut).get
    val fill = Iterator.from(0).map(i => s"w$i").filterNot(isCut)
      .take(9).toVector
    // block = head cut + interior + tail cut: every chunk after the
    // first in-block cut is fully interior and offset-independent
    val block = s"$cut ${fill(0)} ${fill(1)} ${fill(2)} $cut"
    // the same block after DIFFERENT-length prefixes — off-phase for
    // any fixed grid
    val p1 = fill(3)
    val p2 = s"${fill(4)} ${fill(5)}"
    val p3 = s"${fill(6)} ${fill(7)} ${fill(8)}"
    val docs = Seq(
      (1L, s"$p1 $block"), (2L, s"$p2 $block"), (3L, s"$p3 $block")
    ).toDF("doc_id", "text")
    val cdc = TextQuality.removeFrequentBlocksCDC(
        docs, "doc_id", "text", p = 10, maxTokens = 20, minFreq = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // interior chunk "<fill0 fill1 fill2 cut>" recurs in all 3 docs →
    // removed everywhere; the junction chunk "<prefix> cut" is unique
    // per doc → kept (the documented CDC trade)
    assert(cdc(1L) == ((s"$p1 $cut", 2L, 1L)))
    assert(cdc(2L) == ((s"$p2 $cut", 2L, 1L)))
    assert(cdc(3L) == ((s"$p3 $cut", 2L, 1L)))
    // the fixed 10-token grid sees three distinct whole-doc chunks —
    // nothing crosses the threshold, the shifted copies escape
    val grid = TextQuality.removeFrequentBlocks(
      docs, "doc_id", "text", chunkTokens = 10, minFreq = 3)
    assert(grid.collect().forall(_.getLong(3) == 0L),
      "fixed grid should miss off-grid copies (that is the point)")

    // kernel: a cut-free run splits on the maxLen sub-grid anchored at
    // the run start, and chunks concatenate back to the document
    val many = Iterator.from(100).map(i => s"m$i").filterNot(isCut)
      .take(45).toVector
    val chunks = {
      val a = TextOps.wordChunksCDC(
        UTF8String.fromString(many.mkString(" ")), 10, 20)
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    assert(chunks.map(_.split(" ").length) == Seq(20, 20, 5))
    assert(chunks.mkString(" ") == many.mkString(" "))
    // blank docs have no blocks and no output row, same as the grid op
    assert(TextQuality.removeFrequentBlocksCDC(
      Seq((9L, " ")).toDF("doc_id", "text"), "doc_id", "text").count() == 0)
  }

  test("duplicatedSpans: row frequency, short docs span whole text") {
    val docs = Seq(
      (1L, "a b c d"),     // spans k=2: "a b","b c","c d"
      (2L, "b c e"),       // spans: "b c","c e"
      (3L, "a b a b"),     // distinct-within-doc: "a b","b a" (once each)
      (4L, "q")            // <k tokens → whole-doc span "q"
    ).toDF("doc_id", "text")
    val got = TextQuality.duplicatedSpans(docs, "text", k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "a b" in docs 1 and 3 (doc 3 counts ONCE despite two occurrences);
    // "b c" in docs 1 and 2; nothing else crosses minDocs=2
    assert(got == Map("a b" -> 2L, "b c" -> 2L))
  }

  test("removeDuplicatedSpans: covered tokens drop, overlaps merge, " +
      "short docs pass through") {
    val docs = Seq(
      (1L, "a b c d"),     // "a b" dup (docs 1,2,6) covers 0,1; "b c"
                           // dup (docs 1,6,7) covers 1,2 → "d"
      (2L, "x a b y"),     // start 1 → covers 1,2 → "x y"
      (3L, "q"),           // <k tokens: no window, unchanged
      (4L, "m n m n m"),   // "m n" dup with doc 5 at starts 0,2 → covers
                           // 0..3 → "m"
      (5L, "m n"),         // 2 tokens = k → one window → covered → ""
      (6L, "a b c"),       // "a b"(0) + "b c"(1) both dup → overlap merge
      (7L, "b c z")        // "b c"(0) → "z"
    ).toDF("doc_id", "text")
    val got = TextQuality.removeDuplicatedSpans(docs, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (("d", 4L, 3L)))
    assert(got(2L) == (("x y", 4L, 2L)))
    assert(got(3L) == (("q", 1L, 0L)))       // short doc untouched
    assert(got(4L) == (("m", 5L, 4L)))       // every occurrence scrubbed
    assert(got(5L) == (("", 2L, 2L)))
    assert(got(6L) == (("", 3L, 3L)))        // overlapping spans merge
    assert(got(7L) == (("z", 3L, 2L)))
    assert(got.size == 7)
  }

  test("removeDuplicatedSpans on real docs: removal == spanDupStats flags") {
    // a doc loses tokens iff spanDupStats says it carries a duplicated
    // span; the two operators share one discovery definition for
    // k-window docs (whole-doc spans of <k-token docs are stats-only)
    val docs = Tables(spark, sf001, "documents")
    val removed = TextQuality.removeDuplicatedSpans(docs, "doc_id", "text")
      .filter($"n_removed" > 0).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    val flagged = TextQuality.spanDupStats(docs, "doc_id", "text")
      .filter($"n_dup_spans" > 0).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(removed == flagged && removed.nonEmpty)
  }

  test("spanDupStats: per-doc contamination fractions, edge docs kept") {
    val docs = Seq(
      (1L, "a b c d"),     // 3 spans, dup: "a b","b c" → 2/3
      (2L, "b c e"),       // 2 spans, dup: "b c" → 1/2
      (3L, "a b a b"),     // 2 distinct spans, dup: "a b" → 1/2
      (4L, "q"),           // 1 whole-doc span, not duplicated → 0.0
      (5L, " ")            // blank: 0 spans, NULL frac
    ).toDF("doc_id", "text")
    val rows = TextQuality.spanDupStats(docs, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(rows(1L) == ((3L, 2L, Some(2.0 / 3))))
    assert(rows(2L) == ((2L, 1L, Some(0.5))))
    assert(rows(3L) == ((2L, 1L, Some(0.5))))
    assert(rows(4L) == ((1L, 0L, Some(0.0))))
    assert(rows(5L) == ((0L, 0L, None)))
    assert(rows.size == 5)
  }

  test("repetition plan: one scan, no explode, no shuffle before output") {
    val plan = TextQuality.repetition(
      Tables(spark, sf001, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan)  // no explode
    assert(!plan.contains("Exchange"), plan)  // narrow per-doc kernel
  }

  test("linearScore: kernel matches an independent reference (md5-hex " +
      "hash, uni+bigram terms, exact BIGINT dot); empty -> (0, 0); " +
      "weights are genuinely pluggable; plan stays narrow") {
    import graft.functions.{TextExprs => TE, TextOps}
    val B = 64
    val w = Array.tabulate(B)(b => (b.toLong * 7919L % 997L) - 498L)
    // independent reference: hash = first 15 hex chars of md5 parsed
    // base-16 (the DuckDB formulation), terms = whitespace unigrams +
    // adjacent bigrams
    def refBucket(term: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(term.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % B).toInt
    }
    def refScore(text: String): (Int, Long) = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      val terms = toks.toSeq ++ toks.toSeq.sliding(2).filter(_.length == 2)
        .map(_.mkString(" "))
      (terms.length, terms.map(t => w(refBucket(t))).sum)
    }
    val samples = Seq("the quick brown fox", "a", "", "   ",
      "repeated repeated repeated", "x y z w v u t s")
    samples.foreach { s =>
      val got = Seq(s).toDF("t")
        .select(TE.linearTextScore($"t", w.toIndexedSeq).as("m"))
        .select($"m.n_terms", $"m.score_q").head()
      assert((got.getInt(0), got.getLong(1)) === refScore(s),
        s"payload: '$s'")
    }
    // a different weight vector changes the score (the model is the
    // array, not the kernel)
    val w2 = w.map(_ + 1L)
    val s1 = Seq("the quick brown fox").toDF("t")
      .select(TE.linearTextScore($"t", w.toIndexedSeq).as("m"))
      .select($"m.score_q").head().getLong(0)
    val s2 = Seq("the quick brown fox").toDF("t")
      .select(TE.linearTextScore($"t", w2.toIndexedSeq).as("m"))
      .select($"m.score_q").head().getLong(0)
    // 4 unigrams + 3 bigrams = 7 terms, each +1
    assert(s2 === s1 + 7L)
    // hashBucket is non-negative for adversarial terms
    Seq("", "é世", "a" * 1000).foreach { t =>
      assert(TextOps.hashBucket(t, B) >= 0)
    }
    // scoring is a narrow projection: no shuffle, no generate
    val plan = Tables(spark, sf001, "documents")
      .select($"doc_id", TE.linearTextScore($"text", w.toIndexedSeq).as("m"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("TextModel: log-odds trainer learns the planted signal; " +
      "versioned artifact round-trips; retrain publishes generation 2; " +
      "sidecar-less path refused") {
    import graft.operators.{IndexVersions, TextModel}
    import graft.functions.{TextExprs => TE}
    // planted signal: positives speak goodtok, negatives badtok, both
    // share neutraltok — the learned weights must separate them
    val labeled = (1L to 40L).map { i =>
      val pos = i % 2 == 0
      val body = if (pos) "goodtok" else "badtok"
      (i, s"$body neutraltok $body neutraltok $body", pos)
    }.toDF("doc_id", "text", "lab")
    val w = TextModel.trainLogOdds(labeled, "text", $"lab", buckets = 512)
    val path = tmpDir("textmodel-artifact")
    TextModel.writeModel(w, path, buckets = 512, bigrams = true)
    assert(IndexVersions.currentVersion(spark, path) === Some(1))
    assert(TextModel.modelMeta(spark, path) === Some((512, true)))
    val scored = TextModel.score(spark,
        Seq((100L, "goodtok goodtok"), (101L, "badtok badtok"),
          (102L, "")).toDF("doc_id", "text"),
        "text", path)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(scored(100L) > 0L, s"positive doc must score > 0: $scored")
    assert(scored(101L) < 0L, s"negative doc must score < 0: $scored")
    assert(scored(102L) === 0L, "empty doc scores 0")
    // trainer == declarative replay: per-bucket counts from an explode
    // over the SAME term kernel
    val replay = labeled
      .select($"lab", explode(TE.scoreTerms($"text")).as("term"))
      .select(TE.hashBucket($"term", 512).as("bucket"), $"lab")
      .groupBy($"bucket")
      .agg(sum(when($"lab", 1L).otherwise(0L)).as("pos"),
        sum(when(!$"lab", 1L).otherwise(0L)).as("neg"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val trained = w.collect()
      .map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(trained === replay)
    // RETRAIN publishes generation 2 beside 1 and the pointer flips:
    // readers pick up the new weights with no caller involvement
    val w2 = TextModel.trainLogOdds(labeled, "text", !$"lab", buckets = 512)
    TextModel.writeModel(w2, path, buckets = 512, bigrams = true)
    assert(IndexVersions.currentVersion(spark, path) === Some(2))
    val flipped = TextModel.score(spark,
        Seq((100L, "goodtok goodtok")).toDF("doc_id", "text"),
        "text", path)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(flipped(100L) < 0L,
      "inverted retrain must flip the sign through the pointer")
    // a third publish drops generation 1 (current + one rollback kept)
    TextModel.writeModel(w, path, buckets = 512, bigrams = true)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "_ixv1")),
      "retention must drop generations older than N-1")
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_ixv2")))
    // a sidecar-less directory is not a model artifact
    val bare = tmpDir("textmodel-bare")
    Seq((0, 1L)).toDF("bucket", "weight").write.parquet(s"$bare/_ixv1")
    IndexVersions.commit(spark, bare, 1)
    val ex = intercept[IllegalArgumentException] {
      TextModel.readWeights(spark, bare)
    }
    assert(ex.getMessage.contains("not a model artifact"))
  }

  test("promoteIfBetter: cold root promotes, a poisoned retrain is " +
      "refused and the committed model is untouched, minGain demands " +
      "a strict improvement") {
    import graft.operators.{IndexVersions, TextModel}
    val labeled = (1L to 40L).map { i =>
      val pos = i % 2 == 0
      val body = if (pos) "goodtok" else "badtok"
      (i, s"$body neutraltok $body neutraltok $body", pos)
    }.toDF("doc_id", "text", "lab")
    val train = labeled.filter($"doc_id" % 4 =!= 0)
    val held = labeled.filter($"doc_id" % 4 === 0)
    val path = tmpDir("textmodel-promote")

    // round 1: nothing committed — always promotes
    val r1 = TextModel.promoteIfBetter(spark, train, held, "text",
      $"lab", $"lab", path, buckets = 512).collect().head
    assert(r1.getAs[Boolean]("promoted") &&
      r1.getAs[Long]("generation") === 1L &&
      r1.getAs[Double]("inc_accuracy") === -1.0)
    assert(r1.getAs[Double]("cand_accuracy") === 1.0,
      "the planted signal is perfectly separable on the held-out split")
    val committedScore = TextModel.score(spark,
        Seq((100L, "goodtok goodtok")).toDF("doc_id", "text"), "text", path)
      .collect().head.getLong(3)
    assert(committedScore > 0L)

    // round 2: poisoned labels evaluate at 0 accuracy vs the truth —
    // refused, pointer stays on generation 1, committed scores intact
    val r2 = TextModel.promoteIfBetter(spark, train, held, "text",
      !$"lab", $"lab", path, buckets = 512).collect().head
    assert(!r2.getAs[Boolean]("promoted") &&
      r2.getAs[Long]("generation") === 1L)
    assert(r2.getAs[Double]("cand_accuracy") <
      r2.getAs[Double]("inc_accuracy"))
    assert(IndexVersions.currentVersion(spark, path) === Some(1))
    val after = TextModel.score(spark,
        Seq((100L, "goodtok goodtok")).toDF("doc_id", "text"), "text", path)
      .collect().head.getLong(3)
    assert(after === committedScore,
      "a refused candidate must never reach the committed artifact")

    // an equal candidate passes at minGain = 0 (ties promote — fresher
    // model, same quality) but is refused when a strict gain is
    // demanded
    val r3 = TextModel.promoteIfBetter(spark, train, held, "text",
      $"lab", $"lab", path, buckets = 512, minGain = 0.01).collect().head
    assert(!r3.getAs[Boolean]("promoted") &&
      r3.getAs[Long]("generation") === 1L)
    val r4 = TextModel.promoteIfBetter(spark, train, held, "text",
      $"lab", $"lab", path, buckets = 512).collect().head
    assert(r4.getAs[Boolean]("promoted") &&
      r4.getAs[Long]("generation") === 2L)
  }
}
