package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Dedup, Multimodal, Similarity}

/** Training-data pipeline operators: planted-duplicate detection, LSH
  * recall against exact baselines, language ID on real sentences, and
  * multimodal plumbing.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sf001, "documents")
  private lazy val embeddings = Tables(spark, sf001, "embeddings")

  test("exact dedup finds planted exact duplicates") {
    val planted = docs.limit(5).withColumn("doc_id", $"doc_id" + 100000)
    val withDups = docs.unionByName(planted)
    val res = Dedup.exact(withDups, "doc_id", "text")
    assert(res.filter($"dup_count" === 2).count() == 5)
    // keep_id is always the lower id (the original)
    assert(res.filter($"dup_count" === 2).filter($"keep_id" >= 100000).count() == 0)
    val drops = Dedup.exactDropList(withDups, "doc_id", "text")
    assert(drops.count() == 5 && drops.filter($"drop_id" < 100000).count() == 0)
  }

  test("asymmetric PPJoin: cross pairs == global pairs restricted to " +
      "the split; incremental near-dup filter = batch minus dup ids") {
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val across = Dedup.ngramJaccardPairsAcross(corpus, batch,
        "doc_id", "text", n = 3, threshold = 0.5)
      .select($"id_batch", $"id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: the symmetric operator over everything, restricted to
    // mixed-parity pairs (the frozen corpus-df order must not lose any
    // candidate — unseen batch shingles rank rarest, enlarging prefixes)
    val global = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = global.collect {
      case (a, b) if a % 10 == 0 && b % 10 != 0 => (a, b)
      case (a, b) if b % 10 == 0 && a % 10 != 0 => (b, a)
    }
    assert(across === expected)
    assert(across.nonEmpty) // fixture must exercise the filter
    val newIds = Dedup.incrementalNewNearDup(corpus, batch,
        "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    val batchIds = batch.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(newIds === batchIds -- across.map(_._1))
    // the persisted index path returns the identical pair set: the
    // frozen (corpus-df, h) order travels IN the index
    val idx = java.nio.file.Files
      .createTempDirectory("ngram_idx_spec").toString
    try {
      Dedup.writeNgramIndex(corpus, idx, "doc_id", "text",
        n = 3, threshold = 0.5)
      val plainProbe = Dedup.probeNgramIndex(spark, idx, batch,
        "doc_id", "text", n = 3, threshold = 0.5)
      val viaDisk = plainProbe
        .select($"id_batch", $"id_corpus").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaDisk === across)
      // the bucketed-catalog layout: identical rows, and the index side
      // of the joins keeps its bucketing across the write/read boundary
      // — strictly fewer shuffles than the plain-parquet probe, whose
      // index frames re-shuffle on every call
      Dedup.writeNgramIndexBucketed(corpus, "spec_ngram_idx",
        "doc_id", "text", n = 3, threshold = 0.5, buckets = 4)
      try {
        val bktProbe = Dedup.probeNgramIndexBucketed(spark,
          "spec_ngram_idx", batch, "doc_id", "text", n = 3,
          threshold = 0.5)
        val viaBkt = bktProbe.select($"id_batch", $"id_corpus").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(viaBkt === across)
        // at spec scale the tiny index frames BROADCAST, hiding the
        // layout difference — force shuffle joins so the count compares
        // the shapes a big index would actually produce
        val wasAqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val exBkt = graft.operators.Bucketed.countExchanges(
            Dedup.probeNgramIndexBucketed(spark, "spec_ngram_idx", batch,
              "doc_id", "text", n = 3, threshold = 0.5))
          val exPlain = graft.operators.Bucketed.countExchanges(
            Dedup.probeNgramIndex(spark, idx, batch,
              "doc_id", "text", n = 3, threshold = 0.5))
          assert(exBkt < exPlain,
            s"bucketed probe should shuffle less: $exBkt vs $exPlain")
        } finally {
          spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
      } finally {
        Seq("_df", "_prefix", "_shingles").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS spec_ngram_idx$s"))
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(idx))
    }
  }

  test("fingerprint normalizes case + whitespace") {
    val d = Seq("Hello  World", "hello world", "HELLO\tWORLD ").toDF("text")
    assert(d.select(TF.fingerprint($"text")).distinct().count() == 1)
  }

  test("minhash LSH recovers planted near-dups with high recall") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty) // generator plants near-dup pairs at every sf
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", shingleN = 3,
      numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // minhash candidates are verified with TRUE jaccard → no false
    // positives; banding with 16 bands of 4 at s>=0.5 has >97% recall
    assert(mh.subsetOf(exact))
    assert(mh.size >= exact.size * 9 / 10,
      s"minhash recall too low: ${mh.size}/${exact.size}")
  }

  test("simhash: near-identical docs within small hamming distance") {
    val base = docs.limit(20).select($"doc_id", $"text")
    // perturb: replace one word occurrence → tiny token-set change
    val perturbed = base
      .select(($"doc_id" + 100000).as("doc_id"),
        regexp_replace($"text", "\\bthe\\b", "thee").as("text"))
    val all = base.unionByName(perturbed)
    val pairs = Dedup.simhashPairs(all, "doc_id", "text", maxHamming = 12)
      .filter($"id_b" === $"id_a" + 100000)
    // every planted pair should surface (identical token multisets ±1 word)
    assert(pairs.count() >= 18, s"simhash found only ${pairs.count()} of 20")
  }

  test("LSH band joins stay hash/merge equi-joins (array keys never " +
      "degrade to a nested-loop plan)") {
    // minhash bands key on (band, array<long> slice); simhash on
    // (chunk, long). Array equality IS a valid hash-join key in Spark —
    // this pins that the planner agrees, because a silent fallback to
    // BroadcastNestedLoopJoin would be quadratic at scale.
    for (df <- Seq(
        Dedup.minhashPairs(docs, "doc_id", "text"),
        Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 12))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop"), s"nested loop in:\n$plan")
      assert(plan.contains("Join"), "expected at least one join")
    }
  }

  test("simhash signature is deterministic") {
    val a = Dedup.simhash(docs, "doc_id", "text").orderBy("id").limit(5)
      .collect().map(_.getLong(1)).toSeq
    val b = Dedup.simhash(docs, "doc_id", "text").orderBy("id").limit(5)
      .collect().map(_.getLong(1)).toSeq
    assert(a == b && a.distinct.size > 1)
  }

  // the brute-force all-pairs definition every approximate operator is
  // judged against (the gate itself runs the banded LSH operator since
  // round 9 — the spec keeps the exact baseline alive here)
  private lazy val exactPairs: Set[(Long, Long)] =
    Dedup.exactCosinePairs(embeddings, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("embedding near-dup pairs: LSH subset of exact, cosine verified") {
    val lsh = Dedup.embeddingNearDupPairs(embeddings, "vec_id", "embedding",
      dims = 64, threshold = 0.4, bands = 4, planesPerBand = 6)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exactPairs)) // verification kills false positives
  }

  test("embedding near-dup GATE config (16 bands × 6 planes): subset of " +
      "exact, deterministic, useful recall at the gate threshold") {
    def run() = PipelineQueries.all("dedup_embed_pairs")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gate = run()
    assert(gate.subsetOf(exactPairs)) // cosine verify kills false positives
    assert(run() === gate)            // md5-derived banding ⇒ bit-stable
    // this corpus's pairs sit at cosine 0.40-0.51 (no high-sim dups), the
    // hardest regime for sign-LSH; 16 bands still recover the majority.
    // A recall collapse here means the banding construction drifted.
    assert(gate.size.toDouble / exactPairs.size >= 0.5,
      s"banded recall ${gate.size.toDouble / exactPairs.size} < 0.5 " +
        s"(${gate.size}/${exactPairs.size})")
  }

  test("occupancy-scaled banding: plane policy matches the measured " +
      "decades; auto operator == fixed operator at the chosen planes") {
    // the occupancy-held configuration of BASELINE.md's round-9 ANN
    // decades (2k/20k/200k vectors → 7/10/13 planes) is this policy
    assert(Dedup.scaledPlanes(2000) === 7)
    assert(Dedup.scaledPlanes(20000) === 10)
    assert(Dedup.scaledPlanes(200000) === 13)
    // clamps: tiny corpora floor at minPlanes, huge ones cap at maxPlanes
    assert(Dedup.scaledPlanes(10) === 4)
    assert(Dedup.scaledPlanes(Long.MaxValue) === 48)
    // overflow regime: occ × 2^p exceeds Long — the division form must
    // stay exact: ceil(Long.MaxValue / Int.MaxValue) = 2^32+3, so the
    // rule wants the smallest p with 2^p ≥ that, i.e. 33; the old
    // product form went negative here and clamped to maxPlanes
    assert(Dedup.scaledPlanes(Long.MaxValue, targetOccupancy = Int.MaxValue)
      === 33)
    val n = embeddings.count()
    val planes = Dedup.scaledPlanes(n)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = pairs(Dedup.embeddingNearDupPairsAuto(
      embeddings, "vec_id", "embedding", dims = 64, threshold = 0.4,
      bands = 4))
    val fixed = pairs(Dedup.embeddingNearDupPairs(
      embeddings, "vec_id", "embedding", dims = 64, threshold = 0.4,
      bands = 4, planesPerBand = planes))
    assert(auto === fixed)
    assert(auto.subsetOf(exactPairs)) // cosine verify still exact
    // the DEFAULT of the fixed-knob operator is the occupancy rule too
    // (round-10: a hand-tuned constant default was the measured-
    // quadratic footgun — planesPerBand ≤ 0 now means "derive")
    val default = pairs(Dedup.embeddingNearDupPairs(
      embeddings, "vec_id", "embedding", dims = 64, threshold = 0.4,
      bands = 4))
    assert(default === auto)
  }

  test("semantic (SemDeDup) pairs: subset of exact, nlist=1 degenerates " +
      "to brute force, deterministic, useful recall") {
    val exact = exactPairs
    def run(nlist: Int) = Dedup.semanticPairs(
        embeddings, "vec_id", "embedding", threshold = 0.4, nlist = nlist)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = run(8)
    assert(sem.subsetOf(exact)) // within-cell pairs are exact-cosine-verified
    assert(run(8) === sem)      // fixed seed ⇒ fixed clustering ⇒ fixed pairs
    assert(run(1) === exact)    // one cell = the full brute-force pair set
    // cluster-split pairs are the only misses; on this corpus recall
    // stays useful (the operator's documented tradeoff vs LSH banding).
    // Floor re-pinned 0.5 → 0.35 with the round-17 driver-side Lloyd
    // quantizer (lowest-SSE of 3 restarts): its better-BALANCED cells
    // bound the within-cell quadratic verify tighter than the former
    // MLlib fit's lopsided cells, at the cost of splitting more
    // boundary pairs — measured 0.39 vs 0.53 on these 500 near-random
    // vectors at nlist=8. Recall at fixed nlist is the operator's
    // documented tradeoff knob, not a correctness property (the
    // oracle-gated variant is semanticPairsSig).
    assert(sem.size.toDouble / exact.size >= 0.35,
      s"semantic recall ${sem.size.toDouble / exact.size} < 0.35")
  }

  test("semantic pairs, deterministic sign quantizer: subset of exact, " +
      "deterministic, numPlanes=0 degenerates to brute force") {
    val exact = exactPairs
    def run(planes: Int) = Dedup.semanticPairsSig(
        embeddings, "vec_id", "embedding", dims = 64, threshold = 0.4,
        numPlanes = planes)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = run(3)
    assert(sem.subsetOf(exact)) // within-cell pairs are exact-cosine-verified
    assert(run(3) === sem)      // md5-derived signs ⇒ bit-stable assignment
    assert(run(0) === exact)    // 0 planes = one cell = full brute-force set
  }

  test("brute-force top-k: exact, deterministic, k rows per query") {
    val queries = embeddings.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding")
    val res = Similarity.bruteForceTopK(embeddings, queries, k = 5)
    val counts = res.groupBy("qid").count().collect()
    assert(counts.length == 5 && counts.forall(_.getLong(1) == 5))
    // rank 1 really is the max-cosine neighbor (spot check qid=0)
    val top = res.filter($"qid" === 0 && $"rank" === 1)
      .select("cosine").as[Double].head()
    val maxCos = embeddings.filter($"vec_id" =!= 0)
      .crossJoin(embeddings.filter($"vec_id" === 0).select($"embedding".as("qv")))
      .select(VF.cosineSim($"embedding", $"qv").as("c"))
      .agg(max($"c")).as[Double].head()
    assert(math.abs(top - maxCos) < 1e-12)
  }

  test("kNN join: identical construction to lshTopK on the same probe " +
      "set; auto planes default == explicit scaledPlanes; deterministic") {
    import graft.operators.Similarity
    val queries = embeddings.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // same buckets, same multi-probe, same ranking — the only change is
    // broadcast vs shuffle candidate generation, which must not alter
    // a single row
    val viaKnn = rows(Similarity.knnJoin(embeddings, queries, k = 5,
      dims = 64, numPlanes = 8, probeHamming = 1))
    val viaLsh = rows(Similarity.lshTopK(embeddings, queries, k = 5,
      dims = 64, numPlanes = 8, probeHamming = 1))
    assert(viaKnn === viaLsh)
    assert(viaKnn.nonEmpty)
    // the auto default derives the occupancy-rule plane count AND the
    // 16-band OR-construction (explicit planes alone = single band, so
    // the equivalent explicit call pins both knobs)
    val n = embeddings.count()
    val auto = rows(Similarity.knnJoin(embeddings, queries, k = 5,
      dims = 64))
    val explicit = rows(Similarity.knnJoin(embeddings, queries, k = 5,
      dims = 64, numPlanes = Dedup.scaledPlanes(n), numBands = 16))
    assert(auto === explicit)
    // explicit planes WITHOUT bands stays the single-band construction
    // (the sim_knn_join gate's replayable-oracle contract): a strict
    // candidate subset of the banded default, same band-0 signature
    val single = rows(Similarity.knnJoin(embeddings, queries, k = 5,
      dims = 64, numPlanes = Dedup.scaledPlanes(n)))
    assert(single === rows(Similarity.knnJoin(embeddings, queries, k = 5,
      dims = 64, numPlanes = Dedup.scaledPlanes(n), numBands = 1)))
    assert(auto === rows(Similarity.knnJoin(embeddings, queries, k = 5,
      dims = 64))) // bit-stable
    // knownCount skips the count job without changing the derivation
    assert(auto === rows(Similarity.knnJoin(embeddings, queries, k = 5,
      dims = 64, knownCount = n)))
  }

  test("kNN join banded: min-band dedup == global-distinct construction; " +
      "no pair-level aggregate left in the plan") {
    import graft.operators.Similarity
    val probes = embeddings.filter($"vec_id" < 40)
      .select($"vec_id".as("qid"), $"embedding")
    val n = embeddings.count()
    val planes = Dedup.scaledPlanes(n)
    val bands = 8
    // reference construction = the pre-round-12 shape: band explode on
    // both sides, candidate set deduped with a corpus-wide DISTINCT,
    // then the same slim-candidate score + rank path. The operator's
    // min-band filter must reproduce it row-for-row — same pairs, same
    // ranks — while never shuffling the candidate set for dedup.
    val bandSig = (v: org.apache.spark.sql.Column, bnd: Int) =>
      VF.rademacherSig(v, planes, 64, 42L + bnd * 7919L)
    val cb = embeddings.select($"vec_id".as("id"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            bandSig($"embedding", b).as("bucket"))): _*)).as("bb"))
      .select($"id", $"bb.band".as("band"), $"bb.bucket".as("bucket"))
    def distinctConstruction(h: Int): Set[(Long, Long, Int)] = {
      val flips = Similarity.hammingFlips(planes, h)
      val qb = probes.select($"qid",
          explode(array((0 until bands).map(b =>
            struct(lit(b).as("band"),
              bandSig($"embedding", b).as("qsig"))): _*)).as("bb"))
        .select($"qid", $"bb.band".as("band"), $"bb.qsig".as("qsig"))
        .withColumn("flip", explode(lit(flips.toArray)))
        .select($"qid", $"band", $"qsig".bitwiseXOR($"flip").as("bucket"))
      val cand = cb.join(qb, Seq("band", "bucket"))
        .filter($"qid" =!= $"id").select($"qid", $"id").distinct()
      val cv = embeddings.select($"vec_id".as("id"), $"embedding".as("cvec"))
      val qv = probes.select($"qid", $"embedding".as("qvec"))
      val scored = cand.join(cv, "id").join(qv, "qid")
        .select($"qid", $"id", VF.cosineSim($"cvec", $"qvec").as("cosine"))
      Similarity.topKRank(scored, 3, "cosine")
        .select($"qid", $"id", $"rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    def banded(h: Int): Set[(Long, Long, Int)] =
      Similarity.knnJoin(embeddings, probes, k = 3, dims = 64,
          numPlanes = planes, probeHamming = h, numBands = bands)
        .select($"qid", $"id", $"rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // equality at BOTH supported radii: the min-band filter and the
    // flip enumeration must agree on the probe radius (a radius-2 run
    // regressed undetected when only h=1 was pinned)
    val got = banded(1)
    assert(got === distinctConstruction(1))
    assert(got.nonEmpty)
    assert(banded(2) === distinctConstruction(2))
    // probeHamming ≥ 3 clamps to the flip enumeration's ceiling (2) —
    // NOT a filter radius the join never produced
    assert(banded(3) === banded(2))
    val actual = Similarity.knnJoin(embeddings, probes, k = 3, dims = 64,
      numPlanes = planes, probeHamming = 1, numBands = bands)
    actual.collect()
    // plan pin: candidate dedup is the shuffle-free min-band filter —
    // the optimized plan may contain NO two-key aggregate (the old
    // global distinct on (qid, id)); the only aggregate left is the
    // per-qid bounded-heap top-k
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val aggKeys = actual.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a.groupingExpressions.length
    }
    assert(aggKeys.nonEmpty && aggKeys.forall(_ <= 1),
      s"pair-level aggregate crept back into the banded plan: $aggKeys")
  }

  test("LSH top-k recall against brute force (random vectors, lenient)") {
    val queries = embeddings.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding")
    val brute = Similarity.bruteForceTopK(embeddings, queries, k = 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(embeddings, queries, k = 5, dims = 64,
      numPlanes = 8, probeHamming = 2)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-random vectors are LSH's worst case; still expect usable recall
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"LSH recall $recall")
    assert(lsh.nonEmpty)
  }

  test("kNN join recall floor vs brute force (scaled-planes default)") {
    import graft.operators.Similarity
    // the default derives planes from corpus occupancy — this pins that
    // the anti-quadratic config still FINDS things (a plane count
    // runaway would keep the wall flat while recall silently collapsed;
    // the measured 20k/200k recall rows live in BASELINE.md)
    val probes = embeddings.filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"embedding")
    val brute = Similarity.bruteForceTopK(embeddings, probes, k = 3)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val knn = Similarity.knnJoin(embeddings, probes, k = 3, dims = 64)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = knn.intersect(brute).size.toDouble / brute.size
    // the banded default (16 bands OR'd over occupancy-scaled planes)
    // owes the dedup_embed_pairs floor even on near-random vectors —
    // the measured 2k/20k/200k decade rows live in BASELINE.md
    assert(recall >= 0.5, s"kNN join recall $recall")
    assert(knn.nonEmpty)
  }

  test("language ID: correct on real sentences, CJK via script") {
    val samples = Seq(
      ("the cat sat on the mat and it is that simple", "en"),
      ("der hund ist nicht mit der katze und das ist gut", "de"),
      ("le chat est dans la maison et les oiseaux pour une fois", "fr"),
      ("el perro es grande y los gatos en la casa por para una", "es"),
      ("这是一个中文句子用来测试语言识别", "zh"),
      ("xyzzy plugh quux", "und")).toDF("text", "expected")
    val got = samples.select($"expected", TF.langId($"text").as("got"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("native langId/stopwordHits == regex formulation on real documents") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf001, "documents").select($"doc_id", $"text")
    val words = graft.functions.TextFunctions.StopwordsByLang
    def regexHits(c: org.apache.spark.sql.Column, ws: Seq[String]) =
      size(regexp_extract_all(lower(c),
        lit(ws.mkString("\\b(", "|", ")\\b")), lit(0)))
    // per-language counts match the regex semantics exactly
    words.foreach { case (lang, ws) =>
      val diff = docs.select(
        graft.functions.TextFunctions.stopwordHits($"text", ws).as("k"),
        regexHits($"text", ws).as("r"))
        .filter($"k" =!= $"r").count()
      assert(diff == 0, s"stopwordHits mismatch for $lang")
    }
    // end-to-end labels match the old fold-of-whens formulation
    val scores = words.map { case (l, ws) => l -> regexHits($"text", ws) }
    val oldBest = scores.foldLeft[org.apache.spark.sql.Column](lit("und")) {
      case (acc, (lang, sc)) =>
        val others = scores.filter(_._1 != lang).map(_._2)
        val isMax = others.foldLeft(sc > 0) { (c, o) => c && sc >= o }
        val first = scores.takeWhile(_._1 != lang).map(_._2)
          .foldLeft(isMax) { (c, e) => c && sc > e }
        when(first, lit(lang)).otherwise(acc)
    }
    val oldLang = when(
      size(regexp_extract_all($"text", lit("[\\x{4E00}-\\x{9FFF}]"), lit(0)))
        * 4 > length($"text"), lit("zh")).otherwise(oldBest)
    val mismatches = docs.select(
      graft.functions.TextFunctions.langId($"text").as("k"),
      oldLang.as("r")).filter($"k" =!= $"r").count()
    assert(mismatches == 0)
  }

  test("word shingles: correct n-gram construction") {
    val d = Seq("a b c d").toDF("t")
    val sh = d.select(TF.wordShingles($"t", 3).as("s")).as[Seq[String]].head()
    assert(sh.toSet == Set("a b c", "b c d"))
    // short doc → single whole-doc shingle; empty → empty
    val short = Seq("a b").toDF("t")
      .select(TF.wordShingles($"t", 3)).as[Seq[String]].head()
    assert(short == Seq("a b"))
    val empty = Seq("").toDF("t")
      .select(TF.wordShingles($"t", 3)).as[Seq[String]].head()
    assert(empty.isEmpty)
  }

  test("multimodal: stub decode plumbing — schema, determinism, batching") {
    val media = Multimodal.demoMediaFromDocuments(docs)
    assert(media.schema("content").dataType.typeName == "binary")
    val meta = Multimodal.decodeMeta(media)
    val rows = meta.collect()
    assert(rows.length == docs.count())
    // deterministic across runs
    val again = Multimodal.decodeMeta(media).collect()
    assert(rows.map(_.sha256).toSeq == again.map(_.sha256).toSeq)
    // kinds map to sensible stub metadata
    assert(rows.filter(_.kind == "image").forall(m => m.width > 0 && m.height > 0))
    assert(rows.filter(_.kind == "audio").forall(m => m.sample_rate == 16000))
    assert(rows.filter(_.kind == "video").forall(m => m.duration_ms > 0))
  }

  test("multimodal: frame sampling + resize plans") {
    val meta = Multimodal.decodeMeta(Multimodal.demoMediaFromDocuments(docs))
    val frames = Multimodal.sampleFrames(meta, fps = 0.2) // 1 frame / 5s
    val perVideo = frames.groupBy("media_id").count()
    val joined = perVideo.join(meta.toDF().filter($"kind" === "video"), "media_id")
      .select($"count", $"duration_ms")
      .collect()
    joined.foreach { r =>
      assert(r.getLong(0) == (r.getLong(1) - 1) / 5000 + 1)
    }
    val resized = Multimodal.resizePlan(meta, 640, 360)
    resized.collect().foreach { r =>
      assert(r.getInt(3) <= 640 && r.getInt(4) <= 360)
    }
  }

  test("multimodal perceptual near-dup: blockhash kernel matches a " +
      "reference implementation; planted transcode replicas all " +
      "surface within the distance budget; banding honors the " +
      "pigeonhole guarantee") {
    import graft.functions.{MediaExprs, MediaOps}
    // kernel vs an independent reference formulation
    def refHash(bytes: Array[Byte]): Long = {
      val L = bytes.length
      if (L == 0) 0L
      else {
        val vals = bytes.map(_ & 0xff)
        val byBlock = vals.zipWithIndex
          .groupBy { case (_, p) => (p.toLong * 64 / L).toInt }
        val total = vals.map(_.toLong).sum
        (0 until 64).map { i =>
          val blk = byBlock.getOrElse(i, Array.empty)
          val s = blk.map(_._1.toLong).sum
          if (s * L > total * blk.length) 1L << i else 0L
        }.reduce(_ | _)
      }
    }
    val samples = Seq("", "a", "hello world", "x" * 200,
      (0 until 300).map(i => ('a' + i % 26).toChar).mkString)
    samples.foreach { s =>
      assert(MediaOps.blockHash64(s.getBytes("UTF-8")) ===
        refHash(s.getBytes("UTF-8")), s"payload: ${s.take(20)}")
    }
    // expression path (codegen) agrees with the static kernel
    val viaExpr = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("media_id", "t")
      .select($"media_id", MediaExprs.blockHash64($"t".cast("binary")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(viaExpr(i.toLong) === refHash(s.getBytes("UTF-8")))
    }

    // RECALL vs planted transcode-style perturbations: every replica
    // (one byte rewritten) must pair with its original within dist 8
    val media = Multimodal.demoPerturbedMedia(docs)
    val planted = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id").as[Long].collect().toSet
    val pairs = Multimodal.perceptualNearDupPairs(
        Multimodal.perceptualSig(media), maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val found = pairs.collect {
      case (a, b, _) if b == a + 10000000L => a
    }.toSet
    assert(found === planted,
      s"all ${planted.size} planted replicas must surface, " +
        s"found ${found.size}")
    pairs.filter { case (a, b, _) => b == a + 10000000L }
      .foreach { case (a, _, d) =>
        assert(d <= 8, s"planted pair for $a at dist $d")
      }
    // structurally unrelated payloads stay far: none of these
    // pseudo-random strings pair with each other or with the corpus
    val noise = (0 until 20).map { i =>
      (900000L + i, (0 until 120)
        .map(j => ((i * 31 + j * 17) % 26 + 'a').toChar).mkString)
    }.toDF("media_id", "t")
      .select($"media_id", $"t".cast("binary").as("content"))
    val noisy = Multimodal.perceptualNearDupPairs(
        Multimodal.perceptualSig(media.unionByName(noise)), maxDist = 8)
      .filter($"id_a" >= 900000L)
      .count()
    assert(noisy === 0L, "unrelated payloads must not pair")

    // pigeonhole on synthetic signatures: dist < bands is ALWAYS
    // found (some band is untouched); a pair spread across every band
    // is legitimately missed by banding even inside the budget
    val base = 0x0123456789abcdefL
    val threeBits = base ^ (1L << 1) ^ (1L << 20) ^ (1L << 40)
    val everyBand = base ^ (1L << 1) ^ (1L << 17) ^ (1L << 33) ^ (1L << 49)
    val sigs = Seq((1L, base), (2L, threeBits), (3L, everyBand))
      .toDF("media_id", "phash")
    val got = Multimodal.perceptualNearDupPairs(sigs, maxDist = 8)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), "dist 3 < 4 bands must be found")
    assert(!got.contains((1L, 3L)),
      "a pair perturbed in all 4 bands has no clean band — banding " +
        "is the documented approximation")
  }

  test("persisted phash index: probe finds every planted transcode " +
      "arrival against the frozen corpus; probe == the pair operator " +
      "restricted to corpus x batch; corpus side is Exchange-free") {
    import graft.operators.Bucketed
    val all = Multimodal.demoPerturbedMedia(docs)
    val corpus = all.filter($"media_id" < 10000000L)
    val batch = all.filter($"media_id" >= 10000000L)
    val table = "phash_idx_spec"
    try {
      Multimodal.writePhashIndex(corpus, table, buckets = 4)
      val got = Multimodal.probePhashIndex(spark, table, batch,
          maxDist = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      // every arrival is a perturbed replica of media_id - 10000000:
      // the probe must surface that original within the budget
      val planted = batch.select($"media_id").as[Long].collect().toSet
      val foundSelf = got.collect {
        case (m, d, _) if d == m - 10000000L => m
      }.toSet
      assert(foundSelf === planted,
        s"${planted.size} planted, found ${foundSelf.size}")
      // probe ≡ the in-memory pair operator restricted to corpus×batch
      val direct = Multimodal.perceptualNearDupPairs(
          Multimodal.perceptualSig(all), maxDist = 8)
        .filter($"id_a" < 10000000L && $"id_b" >= 10000000L)
        .select($"id_b".as("media_id"), $"id_a".as("dup_of"), $"dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(got.toSet === direct.toSet)
      // plan shape: the index side reads the bucketed layout (its scan
      // reports Bucketed: true — the Exchange-free join contract the
      // BucketedSpec family pins in depth)
      val plan = Multimodal.probePhashIndex(spark, table, batch,
        maxDist = 8).queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"index scan must be bucketed:\n$plan")
    } finally Bucketed.dropBucketed(spark, table)
  }

  test("video frame index: probe == the batch containment operator " +
      "restricted to batch x catalog; an ASSET-level probe against a " +
      "FRAME index is refused by the kernel id") {
    import graft.operators.Bucketed
    val all = Multimodal.demoPerturbedMedia(docs)
    val corpus = all.filter($"media_id" < 10000000L)
    val batch = all.filter($"media_id" >= 10000000L)
    val table = "video_frame_idx_spec"
    try {
      Multimodal.writeVideoFrameIndex(corpus, table, buckets = 4,
        frameBytes = 64, bands = 2)
      val got = Multimodal.probeVideoFrameIndex(spark, table, batch,
          frameBytes = 64, maxDist = 6, minContainPct = 50)
        .collect().map(_.toSeq).toSet
      // == the symmetric batch operator restricted to corpus x batch,
      // re-oriented to the arrival side (id_b = arrival there)
      val direct = Multimodal.videoNearDupPairs(all, frameBytes = 64,
          maxDist = 6, bands = 2, minContainPct = 0)
        .filter($"id_a" < 10000000L && $"id_b" >= 10000000L)
        .filter($"matched_b" * 100 >= $"frames_b" * 50)
        .select($"id_b", $"id_a", $"matched_b", $"frames_b")
        .collect().map(_.toSeq).toSet
      assert(got === direct && got.nonEmpty)
      // the asset-level probe computes whole-payload signatures — same
      // key shape, none of the semantics; the kernel id refuses it
      val ex = intercept[IllegalArgumentException] {
        Multimodal.probePhashIndex(spark, table, batch, maxDist = 8)
      }
      assert(ex.getMessage.contains("kernel"), ex.getMessage)
    } finally Bucketed.dropBucketed(spark, table)
  }

  test("model confusion frame: known-answer counts and rates; " +
      "media leakage split: no perceptual pair straddles a split") {
    import graft.operators.{Sampling, TextModel}
    val scored = Seq(
      (1L, true, 5L), (2L, true, -1L),  // tp, fn
      (3L, false, 3L), (4L, false, 0L), // fp, tn (threshold is strict >)
      (5L, true, 1L)                    // tp
    ).toDF("id", "lab", "score_q")
    val c = TextModel.confusion(scored, $"lab", $"score_q").head()
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3),
      c.getLong(4)) === ((5L, 2L, 1L, 1L, 1L)))
    assert(c.getDouble(5) === 2.0 / 3.0)  // precision
    assert(c.getDouble(6) === 2.0 / 3.0)  // recall
    assert(c.getDouble(7) === 3.0 / 5.0)  // accuracy

    val media = Multimodal.demoPerturbedMedia(docs)
    val pairs = Multimodal.perceptualNearDupPairs(
        Multimodal.perceptualSig(media), maxDist = 8)
      .select($"id_a", $"id_b")
    val split = Sampling.leakageSafeSplit(media.select($"media_id"),
      "media_id", pairs)
    val straddle = pairs
      .join(split.select($"media_id".as("id_a"), $"split".as("sa")), "id_a")
      .join(split.select($"media_id".as("id_b"), $"split".as("sb")), "id_b")
      .filter($"sa" =!= $"sb").count()
    assert(straddle === 0L,
      "a perceptual near-dup pair must never straddle a split boundary")
    assert(split.select($"split").distinct().count() >= 2,
      "the split must actually partition")
  }

  test("curationAudit: known-answer per-stage accounting; dropped rows " +
      "never re-enter a later stage") {
    import graft.operators.Audit
    val df = Seq(
      // (id, grp, mass, s1 keeps, s2 keeps)
      (1L, "a", 10L, true, true),
      (2L, "a", 20L, false, true), // s2 flag true but already dropped
      (3L, "a", 30L, true, false),
      (4L, "b", 40L, true, true)
    ).toDF("id", "grp", "mass", "k1", "k2")
    val got = Audit.curationAudit(df, "grp", $"mass",
        Seq("s1" -> $"k1", "s2" -> $"k2"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).toMap
    // stage s1: group a in=3 kept=2 (ids 1,3; mass 40) dropped=1 (20)
    assert(got((0L, "s1", "a")) === ((3L, 2L, 1L, 40L, 20L)))
    assert(got((0L, "s1", "b")) === ((1L, 1L, 0L, 40L, 0L)))
    // stage s2 sees only s1 survivors: a in=2 kept=1 (id 1) dropped=1
    // (id 3, mass 30) — id 2's k2=true must NOT resurrect it
    assert(got((1L, "s2", "a")) === ((2L, 1L, 1L, 10L, 30L)))
    assert(got((1L, "s2", "b")) === ((1L, 1L, 0L, 40L, 0L)))
    assert(got.size === 4)
  }

  test("video near-dup: a one-byte transcode matches its original at " +
      "high frame containment; unrelated videos produce no pair; " +
      "operator == brute-force frame replay") {
    // three synthetic "videos" of 4 frames (256 bytes, deterministic
    // random): B = A with ONE byte flipped (a re-encode artifact — at
    // most frame 0 drifts), C unrelated
    def payload(stem: String): Array[Byte] = {
      val b = new Array[Byte](256)
      new scala.util.Random(stem.hashCode.toLong).nextBytes(b)
      b
    }
    val a = payload("vidA")
    val b = a.clone(); b(3) = (b(3) + 1).toByte
    val media = Seq((1L, a), (2L, b), (3L, payload("vidC")))
      .toDF("media_id", "content")
    val got = Multimodal.videoNearDupPairs(media, frameBytes = 64,
        maxDist = 6, bands = 2, minContainPct = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet === Set((1L, 2L)),
      s"only the transcode pair must surface: ${got.keySet}")
    val (ma, fa, mb, fb) = got((1L, 2L))
    assert(fa === 4L && fb === 4L)
    assert(ma >= 3L && mb >= 3L,
      s"all but the perturbed frame must match: $ma/$fa, $mb/$fb")
    // == brute-force: per-frame blockhash pairs without banding
    import graft.functions.MediaOps
    def sigs(p: Array[Byte]): Set[Long] =
      p.grouped(64).map(MediaOps.blockHash64).toSet
    val bruteMatchedA = sigs(a).count(sa =>
      sigs(b).exists(sb => java.lang.Long.bitCount(sa ^ sb) <= 6))
    assert(ma === bruteMatchedA.toLong)
  }

  test("phash probe bucket-prunes for small batches: the capped key " +
      "literals reach the bucketed scan (SelectedBucketsCount) and the " +
      "pruned probe == the unpruned probe") {
    import graft.operators.Bucketed
    val all = Multimodal.demoPerturbedMedia(docs)
    val corpus = all.filter($"media_id" < 10000000L)
    val batch = all.filter($"media_id" >= 10000000L).limit(2)
    val table = "phash_idx_prune_spec"
    def selected(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
      val re = """SelectedBucketsCount: (\d+) out of (\d+)""".r
      val m = re.findFirstMatchIn(plan).getOrElse(
        fail(s"no bucketed scan in plan:\n$plan"))
      (m.group(1).toInt, m.group(2).toInt)
    }
    try {
      // 2 arrivals x 4 bands = <= 8 distinct keys over 64 buckets: the
      // IN filter must prune most bucket files from the scan
      Multimodal.writePhashIndex(corpus, table, buckets = 64, bands = 4)
      val pruned = Multimodal.probePhashIndex(spark, table, batch,
        maxDist = 8)
      val (sel, tot) = selected(pruned)
      assert(tot === 64 && sel <= 8 && sel > 0,
        s"small-batch probe must bucket-prune: read $sel of $tot")
      val unpruned = Multimodal.probePhashIndex(spark, table, batch,
        maxDist = 8, maxKeyLiterals = 0)
      val (selU, totU) = selected(unpruned)
      assert(selU === totU, "literal-capped-out probe reads every bucket")
      assert(pruned.collect().map(_.toSeq).toSet ===
        unpruned.collect().map(_.toSeq).toSet)
    } finally Bucketed.dropBucketed(spark, table)
  }

  test("phash index pins its band count: a bands-mismatched probe is " +
      "REFUSED instead of silently finding nothing") {
    import graft.operators.Bucketed
    val all = Multimodal.demoPerturbedMedia(docs)
    val corpus = all.filter($"media_id" < 10000000L)
    val batch = all.filter($"media_id" >= 10000000L)
    val table = "phash_idx_bands_spec"
    try {
      Multimodal.writePhashIndex(corpus, table, buckets = 4, bands = 4)
      assert(Multimodal.phashIndexMeta(spark, table)
        === Some((4, "blockhash64")))
      val ex = intercept[IllegalArgumentException] {
        Multimodal.probePhashIndex(spark, table, batch,
          maxDist = 8, bands = 2)
      }
      assert(ex.getMessage.contains("4 bands"), ex.getMessage)
      // matching explicit bands and sidecar self-config agree
      val explicit = Multimodal.probePhashIndex(spark, table, batch,
        maxDist = 8, bands = 4).count()
      val fromSidecar = Multimodal.probePhashIndex(spark, table, batch,
        maxDist = 8).count()
      assert(explicit === fromSidecar && explicit > 0)
    } finally Bucketed.dropBucketed(spark, table)
  }

  test("ensemble dedup bridges signals: a text-pair and an embed-pair " +
      "sharing a doc collapse to ONE cluster; either signal alone keeps " +
      "two") {
    // A ~text~ B (identical text, orthogonal embeddings);
    // B ~embed~ C (identical embedding, unrelated text). Ensemble must
    // merge {A,B,C}; the single-signal keep-lists each hold two
    // clusters over the trio.
    val txtAB = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val txtC = "one two three four five six seven eight nine ten"
    val docs3 = Seq(
      (1L, txtAB, 10L), (2L, txtAB, 11L), (3L, txtC, 12L)
    ).toDF("doc_id", "text", "n_chars")
    def unit(axis: Int): Seq[Float] =
      Seq.tabulate(8)(i => if (i == axis) 1.0f else 0.0f)
    val emb3 = Seq(
      (1L, unit(0)), (2L, unit(1)), (3L, unit(1))
    ).toDF("vec_id", "embedding")
    val tp = Dedup.ngramJaccardPairs(docs3, "doc_id", "text",
      n = 3, threshold = 0.5).select($"id_a", $"id_b")
    val ep = Dedup.embeddingNearDupPairs(emb3, "vec_id", "embedding",
        dims = 8, threshold = 0.9, bands = 4, planesPerBand = 4)
      .select($"id_a", $"id_b")
    assert(tp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 2L)))
    assert(ep.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((2L, 3L)))
    def keeps(pairs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.clusterRepresentatives(docs3, pairs, "doc_id", $"n_chars")
        .select($"keep_id", $"cluster_size")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ensemble: one bridged cluster of all three, keeper = longest
    // n_chars (doc 3), no singletons left
    assert(keeps(tp.unionByName(ep).distinct()) === Set((3L, 3L)))
    // single signals: a 2-cluster + the third doc as a singleton
    assert(keeps(tp) === Set((2L, 2L), (3L, 1L)))
    assert(keeps(ep) === Set((3L, 2L), (1L, 1L)))
  }

  test("cosine expression matches a reference implementation") {
    val rows = embeddings.limit(3).select($"embedding").as[Seq[Float]].collect()
    val sparkCos = embeddings.limit(3)
      .crossJoin(embeddings.limit(3).select($"embedding".as("e2"), $"vec_id".as("v2")))
      .filter($"vec_id" === 0 && $"v2" === 1)
      .select(VF.cosineSim($"embedding", $"e2")).as[Double].head()
    def ref(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    assert(math.abs(sparkCos - ref(rows(0), rows(1))) < 1e-9)
  }
}
