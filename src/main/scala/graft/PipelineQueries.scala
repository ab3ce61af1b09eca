package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Multimodal, Sampling, Similarity, TextQuality}

/** North-star training-data pipeline operators as driver-checkable
  * queries: text analysis, dedup family, similarity search, multimodal
  * plumbing. Exact operators carry DuckDB oracles; LSH/approximate ones
  * are rows-only here and recall-tested in ScalaTest (PipelineSpec).
  */
object PipelineQueries {

  /** Deterministic PII planted into the `text_pii` gate query (the
    * synthetic corpus itself contains none) — MUST stay in sync with the
    * literal inside the `text_pii` oracle SQL.
    */
  val PiiSuffix: String =
    " contact a.user+tag@example.org or https://ex.example.com/p?q=1 call +1 (555) 123-4567"

  /** Punct class shared with the oracle SQL (no quote chars — keeps the
    * JSON/SQL escaping trivial and identical across engines).
    */
  private val PunctClass = "[.,;:!?()-]"

  /** Scratch path for the sim_topk_disk index: keyed by an md5 digest of
    * the ABSOLUTE corpus dir (String.hashCode collides across dirs) plus
    * this JVM's pid, so two concurrent drivers on the same SF can never
    * overwrite each other's index mid-probe, and a pre-created
    * world-writable /tmp entry of the same name can't be claimed in
    * advance. Per-pid dirs would otherwise accumulate across runs — a
    * shutdown hook (registered once per path) removes them.
    */
  private val tmpIndexRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
  private def tmpIndexPath(dir: String,
      prefix: String = "graft_sign_index"): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val stem = s"${prefix}_$digest"
    val path = s"$tmp/${stem}_pid${ProcessHandle.current().pid()}"
    if (tmpIndexRegistered.add(path)) {
      // a SIGKILL'd/OOM-killed run never fires its shutdown hook —
      // reclaim same-corpus siblings whose owning pid is gone, so
      // orphans are bounded at one generation instead of accumulating
      Option(tmp.listFiles()).foreach(_.foreach { f =>
        val nm = f.getName
        if (nm.startsWith(stem + "_pid") && f.getPath != path) {
          val alive = nm.stripPrefix(stem + "_pid").toLongOption
            .exists(p => ProcessHandle.of(p).isPresent)
          if (!alive) rmTree(f)
        }
      })
      sys.addShutdownHook(rmTree(new java.io.File(path)))
    }
    path
  }

  /** Catalog-table prefix for the `dedup_incremental_bucketed` gate's
    * scratch index — digest-keyed by the corpus dir so the name is a
    * valid SQL identifier unique per SF. No pid suffix: the gate DROPs
    * the three tables eagerly after materializing its probe result,
    * and `writeBucketed` self-heals a stale managed location left
    * behind by a killed run, so names can be reused safely.
    */
  private def bucketedIndexName(dir: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"graft_ngram_bkt_$digest"
  }

  /** Same lifecycle contract as [[bucketedIndexName]], for the
    * `mm_near_dedup_incremental` gate's perceptual index. */
  private def phashIndexName(dir: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"graft_phash_idx_$digest"
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------- text analysis ----------------
    "text_stats" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      d.select($"doc_id",
        TF.tokenCount($"text").as("n_tokens"),
        length($"text").as("n_chars_actual"),
        (length($"text") - length(regexp_replace($"text", PunctClass, "")))
          .as("n_punct"),
        (length(regexp_replace($"text", "[^A-Za-z]", "")).cast("double") /
          length($"text").cast("double")).as("alpha_ratio"),
        (length(regexp_replace($"text", "\\s", "")).cast("double") /
          TF.tokenCount($"text").cast("double")).as("mean_word_len"))
    },

    "text_langid" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .select($"doc_id", $"lang", TF.langId($"text").as("lang_pred"))
    },

    "text_fingerprint" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .select($"doc_id", TF.fingerprint($"text").as("fp"))
    },

    "text_quality" -> { (s, dir) =>
      import s.implicits._
      // composite quality score: length norm + stopword ratio + alpha
      // ratio, integer-weighted to stay engine-exact
      val d = Tables(s, dir, "documents")
      // compute each regex ONCE, derive the ratio from the result columns
      d.select($"doc_id",
          TF.tokenCount($"text").as("n_tokens"),
          TF.stopwordHits($"text", TF.StopwordsByLang.head._2).as("stop_hits"))
        .withColumn("stop_ratio",
          $"stop_hits".cast("double") / $"n_tokens".cast("double"))
    },

    // LEARNED quality scorer seam: a broadcast-weights linear model
    // over hashed word uni+bigrams (fastText supervised shape) as ONE
    // codegen'd kernel pass — exact fixed-point BIGINT accumulation,
    // so the dot product is bit-reproducible and fully oracled. The
    // gate pins the kernel with a reproducible synthetic weight
    // vector (a trained model swaps the array, nothing else); `keep`
    // is the budget predicate pipeline_quality_* would consume.
    "text_quality_model" -> { (s, dir) =>
      import s.implicits._
      val weights = Seq.tabulate(4096)(b =>
        ((b.toLong * 2654435761L) % 2000001L) - 1000000L)
      // the weights travel through the VERSIONED MODEL ARTIFACT, not
      // an inline array: published as generation N+1 (pointer-flip
      // commit), loaded back dense via the sidecar-pinned bucket
      // count — the gate now covers the publish→load→score loop, with
      // the same oracle (same weights, same dot product)
      val path = tmpIndexPath(dir, "graft_textmodel_demo")
      graft.operators.TextModel.writeModel(
        weights.zipWithIndex.map { case (w, b) => (b, w) }
          .toDF("bucket", "weight"),
        path, buckets = 4096, bigrams = true)
      graft.operators.TextModel.score(s,
          Tables(s, dir, "documents").select($"doc_id", $"text"),
          "text", path)
        .select($"doc_id", $"n_terms", $"score_q")
        .withColumn("model_score",
          when($"n_terms" === 0, lit(0.0))
            .otherwise($"score_q".cast("double") /
              ($"n_terms".cast("double") * lit(1.0e7))))
        .withColumn("keep", $"score_q" > 0L)
    },

    // IN-ENGINE TRAINER end-to-end: hashed-bucket log-odds weights
    // learned from labeled docs (label = lang == 'en'; train split
    // doc_id % 5 != 0), published as a versioned model artifact,
    // loaded back dense, and scored over the HELD-OUT split — one
    // count aggregate keyed by the 4-byte bucket id, weights
    // round(1e7·ln((pos+1)/(neg+1))), scoring the zero-shuffle codegen
    // kernel. The oracle replays counts, log-odds, and the full dot
    // product independently.
    "text_quality_train" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val path = tmpIndexPath(dir, "graft_textmodel_train")
      val w = graft.operators.TextModel.trainLogOdds(
        d.filter(pmod($"doc_id", lit(5)) =!= 0), "text",
        $"lang" === "en", buckets = 4096)
      graft.operators.TextModel.writeModel(w, path,
        buckets = 4096, bigrams = true)
      graft.operators.TextModel.score(s,
          d.filter(pmod($"doc_id", lit(5)) === 0)
            .select($"doc_id", $"text"),
          "text", path)
        .select($"doc_id", $"n_terms", $"score_q")
        .withColumn("keep", $"score_q" > 0L)
    },

    // MODEL EVAL: the held-out confusion frame a pipeline checks
    // before promoting a scorer generation — trained weights (same
    // construction as text_quality_train), held-out scoring, one
    // aggregate row of counts + exact-IEEE rates at score_q > 0.
    "text_quality_eval" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val path = tmpIndexPath(dir, "graft_textmodel_eval")
      val w = graft.operators.TextModel.trainLogOdds(
        d.filter(pmod($"doc_id", lit(5)) =!= 0), "text",
        $"lang" === "en", buckets = 4096)
      graft.operators.TextModel.writeModel(w, path,
        buckets = 4096, bigrams = true)
      graft.operators.TextModel.confusion(
        graft.operators.TextModel.score(s,
          d.filter(pmod($"doc_id", lit(5)) === 0)
            .select($"doc_id", $"lang", $"text"),
          "text", path),
        $"lang" === "en", $"score_q")
    },

    // MODEL PROMOTION GUARD end-to-end: round 1 trains on true labels
    // and promotes into an empty root (nothing to regress); round 2
    // retrains on POISONED labels (inverted), evaluates WORSE on the
    // held-out truth, and is REFUSED — the committed generation stays
    // 1 and every scorer reading through the pointer never sees the
    // bad model. Fresh root per invocation (the two-round story starts
    // cold; output is path-independent); the oracle replays BOTH
    // trainings, both held-out confusions, and the decision rule.
    "text_quality_promote" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val train = d.filter(pmod($"doc_id", lit(5)) =!= 0)
      val held = d.filter(pmod($"doc_id", lit(5)) === 0)
      val path = java.nio.file.Files
        .createTempDirectory("graft_promote").toString
      try {
        val r1 = graft.operators.TextModel.promoteIfBetter(s, train, held,
            "text", $"lang" === "en", $"lang" === "en", path)
          .withColumn("round", lit(1L))
        val r2 = graft.operators.TextModel.promoteIfBetter(s, train, held,
            "text", $"lang" =!= "en", $"lang" === "en", path)
          .withColumn("round", lit(2L))
        // promoteIfBetter rows are driver-local (the decision already
        // ran) — safe to drop the scratch root before returning
        r1.unionByName(r2).select($"round", $"cand_accuracy",
          $"inc_accuracy", $"promoted", $"generation")
      } finally rmTree(new java.io.File(path))
    },

    // MODEL-SCORED curation budget — the composition the learned
    // scorer exists for: model scores ORDER each language's documents,
    // token counts (n_chars) BUDGET them — keep the best-scoring half
    // of every language's token mass (Sampling.qualityMassBy, exact
    // BIGINT prefix rule; scores may be negative, only the mass axis
    // must be non-negative). Oracle replays the full dot product AND
    // the budget window.
    "pipeline_quality_model_budget" -> { (s, dir) =>
      import s.implicits._
      val weights = Seq.tabulate(4096)(b =>
        ((b.toLong * 2654435761L) % 2000001L) - 1000000L)
      val scored = Tables(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars",
          graft.functions.TextExprs.linearTextScore($"text", weights)
            .as("m"))
        .select($"doc_id", $"lang", $"n_chars", $"m.score_q".as("score_q"))
      Sampling.qualityMassBy(scored, "lang", "doc_id", $"score_q",
          $"n_chars", Map.empty, defaultPct = 50)
        .select($"doc_id", $"lang", $"score_q", $"cum_mass", $"grp_mass")
    },

    // The 100 TB shape of the model budget: kept mass aggregated per
    // (lang, score value) — bounded by distinct scores, never the
    // corpus — running mass picks each language's score cutoff, the
    // corpus-side selection is a narrow score ≥ cutoff filter. No
    // per-group document sort anywhere
    // (Sampling.qualityMassByThresholded).
    "pipeline_quality_model_budget_approx" -> { (s, dir) =>
      import s.implicits._
      val weights = Seq.tabulate(4096)(b =>
        ((b.toLong * 2654435761L) % 2000001L) - 1000000L)
      val scored = Tables(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars",
          graft.functions.TextExprs.linearTextScore($"text", weights)
            .as("m"))
        .select($"doc_id", $"lang", $"n_chars", $"m.score_q".as("score_q"))
      Sampling.qualityMassByThresholded(scored, "lang", "doc_id",
          $"score_q", $"n_chars", Map.empty, defaultPct = 50)
        .select($"doc_id", $"lang", $"score_q")
    },

    // Gopher-style repetition rules: top n-gram multiplicity per doc
    // from one native-kernel scan (operators/TextQuality.repetition).
    "text_repetition" -> { (s, dir) =>
      TextQuality.repetition(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // PII/URL scrubbing — the corpus has no PII, so a deterministic
    // suffix is planted on doc_id % 7 == 0 in BOTH engines; the gate
    // then checks redaction + counts end-to-end.
    "text_pii" -> { (s, dir) =>
      import s.implicits._
      val planted = Tables(s, dir, "documents").select($"doc_id",
        concat($"text", when(pmod($"doc_id", lit(7)) === 0, lit(PiiSuffix))
          .otherwise(lit(""))).as("text"))
      TextQuality.scrub(planted, "doc_id", "text")
    },

    // Corpus-frequency fluency signals: two-pass (vocab agg + broadcast
    // join back), integer outputs + one exact division.
    "text_corpus_freq" -> { (s, dir) =>
      TextQuality.corpusFrequencyScores(
        Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ---------------- dedup family ----------------
    "dedup_exact" -> { (s, dir) =>
      Dedup.exact(Tables(s, dir, "documents"), "doc_id", "text")
    },

    "dedup_ngram_pairs" -> { (s, dir) =>
      // exact inverted-index trigram jaccard — 25 planted pairs at sf0.01
      Dedup.ngramJaccardPairs(Tables(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5)
    },

    // Duplicate CLUSTERS from the exact pair set: connected components
    // (large-star/small-star rounds to a star forest, comp = min id);
    // the oracle replays it as a DuckDB recursive CTE over the
    // identical pair SQL.
    "dedup_components" -> { (s, dir) =>
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(Tables(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5).select($"id_a", $"id_b")
      val comp = Dedup.connectedComponents(pairs)
      val sizes = comp.groupBy($"comp".as("c"))
        .agg(count(lit(1)).as("comp_size"))
      comp.join(sizes, $"comp" === $"c")
        .select($"id", $"comp", $"comp_size")
    },

    // The same pairs handed over with their columns SWAPPED (every
    // edge reversed), gated against the identical recursive-CTE oracle
    // as `dedup_components`: pins that the clusters do not depend on
    // edge direction.
    "dedup_components_star" -> { (s, dir) =>
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(Tables(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5).select($"id_a", $"id_b")
      val comp = Dedup.connectedComponents(pairs, aCol = "id_b", bCol = "id_a")
      val sizes = comp.groupBy($"comp".as("c"))
        .agg(count(lit(1)).as("comp_size"))
      comp.join(sizes, $"comp" === $"c")
        .select($"id", $"comp", $"comp_size")
    },

    // Cluster representative selection: the dedup keep-list — best doc
    // (longest, id-ASC tiebreak) per near-dup component, singletons kept
    // as their own clusters. max_by aggregate, no per-cluster window
    // task (operators/Dedup.clusterRepresentatives).
    "dedup_representatives" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs,
        "doc_id", "text", n = 3, threshold = 0.5).select($"id_a", $"id_b")
      Dedup.clusterRepresentatives(docs, pairs, "doc_id", $"n_chars")
    },

    // ENSEMBLE (multi-signal) dedup: a document is a duplicate if its
    // TEXT is a near-dup (exact trigram jaccard ≥ 0.5) OR its EMBEDDING
    // is (banded sign-LSH, cosine ≥ 0.4) — the union pair set collapsed
    // to one keep-list. Production curation runs exactly this: lexical
    // dedup misses paraphrases, semantic dedup misses short-text
    // near-copies with noisy embeddings; the union catches both, and
    // clusters BRIDGE across signals (a text-pair and an embed-pair
    // sharing a doc merge into one cluster — one representative
    // survives, not two). Pure composition of the gated pair operators
    // + the gated components operator; the oracle replays both
    // pair constructions AND the bridged reachability end-to-end.
    // Scale shape: the two pair sets are each anti-quadratic (PPJoin
    // prefix filter / banded LSH); the union is a slim id-pair frame.
    "dedup_ensemble" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val textPairs = Dedup.ngramJaccardPairs(docs,
        "doc_id", "text", n = 3, threshold = 0.5).select($"id_a", $"id_b")
      val embPairs = Dedup.embeddingNearDupPairs(
          Tables(s, dir, "embeddings"), "vec_id", "embedding", dims = 64,
          threshold = 0.4, bands = 16, planesPerBand = 6, seed = 42L)
        .select($"id_a", $"id_b")
      val pairs = textPairs.unionByName(embPairs).distinct()
      Dedup.clusterRepresentatives(docs, pairs, "doc_id", $"n_chars")
    },

    // Near-dup graph degree: how many partners each duplicate doc has —
    // the triage stat that separates pairwise dupes from boilerplate
    // hubs (a hub's degree explodes quadratically; its CLUSTER is what
    // dedup_representatives collapses). Mirror-union + one count agg.
    "dedup_degree" -> { (s, dir) =>
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(Tables(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5)
        .select($"id_a", $"id_b").localCheckpoint(true)
      pairs.select($"id_a".as("doc_id"))
        .unionAll(pairs.select($"id_b".as("doc_id")))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("degree"))
    },

    "dedup_minhash_pairs" -> { (s, dir) =>
      // LSH candidates verified with true jaccard. FULLY oracled: the
      // signature scheme (md5-prefix base + Carter-Wegman mod-prime
      // coefficients, VectorExprs.minhashSig) is replicable in the gate
      // engine's SQL, so banding/prefilter/verify are all hash-checked;
      // recall vs the exact pair set is additionally asserted in
      // PipelineSpec.
      Dedup.minhashPairs(Tables(s, dir, "documents"),
        "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
        threshold = 0.5)
    },

    "dedup_simhash" -> { (s, dir) =>
      // fully oracled since the signature moved to the md5-prefix token
      // hash (VectorExprs.simhash): 60-bit majority vote is replicable
      // in the gate engine's SQL
      Dedup.simhash(Tables(s, dir, "documents"), "doc_id", "text")
    },

    "dedup_embed_pairs" -> { (s, dir) =>
      // PRODUCTION banded Rademacher sign-LSH near-dup pairs (ids only —
      // scores are engine-float-sensitive; membership at 0.4 is not).
      // The banding is exact-integer arithmetic (VectorExprs.rademacherSig:
      // round(x*1e7) quantization, md5-bit ±1 signs, band seed =
      // 42 + band*7919), so the DuckDB oracle re-derives the IDENTICAL
      // candidate set — the approximate index output is fully
      // hash-checked, not just recall-bounded. The brute-force
      // definition (Dedup.exactCosinePairs) stays spec-side as the
      // recall baseline (PipelineSpec).
      import s.implicits._
      Dedup.embeddingNearDupPairs(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", dims = 64, threshold = 0.4,
          bands = 16, planesPerBand = 6, seed = 42L)
        .select($"id_a", $"id_b")
    },

    // The default plane count end-to-end: planes-per-band derived from the
    // corpus count (scaledPlanes — integer-exact: smallest p with
    // 2^p·occupancy ≥ n), so THE SAME registered query holds its
    // anti-quadratic shape at every SF the driver runs. The oracle
    // re-derives the plane count with the identical integer rule and
    // replays the banding bit-for-bit (gate SFs: 500 vecs → 5 planes,
    // 2000 → 7).
    "dedup_embed_auto" -> { (s, dir) =>
      import s.implicits._
      Dedup.embeddingNearDupPairs(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", dims = 64, threshold = 0.4,
          bands = 16, seed = 42L)
        .select($"id_a", $"id_b")
    },

    // SemDeDup-style clustered semantic dedup: coarse cells bound the
    // quadratic term, exact cosine within cells. The gate uses the
    // DETERMINISTIC quantizer (semanticPairsSig — Rademacher sign
    // buckets, exact-integer arithmetic) so the gate engine re-derives
    // the identical 8-cell assignment and the full pair output is
    // oracle-checked; the trained-k-means path (semanticPairs) has the
    // same plan shape and stays covered by PipelineSpec (containment,
    // nlist=1 ≡ brute force, determinism, recall).
    "dedup_semantic" -> { (s, dir) =>
      import s.implicits._
      Dedup.semanticPairsSig(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", dims = 64, threshold = 0.4, numPlanes = 3)
        .select($"id_a", $"id_b")
    },

    // ---------------- similarity search ----------------
    "sim_topk_brute" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      Similarity.bruteForceTopK(e, queries, k = 5)
        .select($"qid", $"id", $"rank")
    },

    // LSH ANN with a FULL oracle: the Rademacher sign-projection
    // buckets are exact integer arithmetic (md5-derived ±1 signs ×
    // round(x*1e7) components), so DuckDB re-derives the identical
    // candidate set and ranking — approximate-index output checked
    // row-for-row, not just recall-tested.
    "sim_topk_lsh" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      Similarity.lshTopK(e, queries, k = 5, dims = 64,
          numPlanes = 8, probeHamming = 2)
        .select($"qid", $"id", $"rank")
    },

    // kNN JOIN: every vector probes for its own top-3 neighbors — the
    // kNN-graph workload where the probe set IS the corpus and nothing
    // broadcasts. Shuffle bucket equi-join, slim candidates, oracle
    // replays the 8-plane buckets + hamming-1 multi-probe bit-for-bit
    // over the FULL 2000-probe set (explicit planes for the replicable
    // signature; the operator's default derives planes from the corpus
    // count — the anti-quadratic occupancy rule).
    "sim_knn_join" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val probes = e.select($"vec_id".as("qid"), $"embedding")
      Similarity.knnJoin(e, probes, k = 3, dims = 64,
          numPlanes = 8, probeHamming = 1)
        .select($"qid", $"id", $"rank")
    },

    // IVF kNN join with nprobe = nlist (every cell probed): provably
    // equal to the brute-force self-join top-k (the sim_topk_ivf oracle
    // argument), so the exact SQL is a true oracle while the measured
    // plan keeps the index shape — quantizer fit, cell equi-join,
    // bounded-heap rank. Production nprobe < nlist recall is pinned in
    // SkewAndIvfSpec and measured across decades in BASELINE.md.
    "sim_knn_join_ivf" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val probes = e.select($"vec_id".as("qid"), $"embedding")
      Similarity.knnJoinIvf(e, probes, k = 3, nlist = 8, nprobe = 8)
        .select($"qid", $"id", $"rank")
    },

    // The STORAGE half of the LSH shape: the corpus is written to disk
    // partitioned by its exact-integer sign bucket, and the probe prunes
    // index directories at scan time (PartitionFilters — pinned by
    // SignIndexSpec). The gate measures the full cycle (build + probe)
    // and its oracle replays the 6-plane index bit-for-bit — 64
    // partition directories keep the dynamic-partition commit protocol
    // (a per-directory filesystem cost, not a data cost) proportionate
    // to the gate SF while proving the same pruned-scan plan shape.
    // Index path is per-SF AND per-process under java.io.tmpdir
    // (tmpIndexPath — md5 of the dir + pid, shutdown-hook cleaned);
    // overwrite mode makes the write idempotent across runs in one JVM.
    "sim_topk_disk" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      val path = tmpIndexPath(dir)
      Similarity.writeSignIndex(e, path, dims = 64, numPlanes = 6,
        seed = 42L)
      Similarity.probeSignIndex(s, path, queries, k = 5, probeHamming = 2)
        .select($"qid", $"id", $"rank")
    },

    // IVF with FULL probe (nprobe == nlist): every cell is scanned, so
    // the k-means assignment cannot affect the result and the exact
    // brute-force SQL is a true oracle for the IVF plan shape.
    "sim_topk_ivf" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      Similarity.ivfTopK(e, queries, k = 5, nlist = 8, nprobe = 8)
        .select($"qid", $"id", $"rank")
    },

    // The PERSISTED IVF index (build-once/probe-many — the deployment
    // shape every per-run quantizer fit above amortizes into): versioned
    // build committed through the IndexVersions pointer, sidecar
    // self-config, cell-pruned vectors scan, bounded-heap rank. Probed
    // with nprobe = nlist so every cell is scanned — the k-means
    // assignment provably cannot affect the result and the brute-force
    // SQL is a true oracle (the sim_topk_ivf argument) while the
    // measured plan keeps the full persisted cycle. Production
    // nprobe < nlist (pruning, twin recall, refusals, drift) is pinned
    // in IvfIndexSpec. Index path per-SF/per-process under tmpdir
    // (tmpIndexPath contract).
    "sim_topk_ivf_disk" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      val path = tmpIndexPath(dir, "graft_ivf_index")
      graft.operators.IvfIndex.write(e, path, dims = 64, nlist = 8)
      graft.operators.IvfIndex.probe(s, path, queries, k = 5, nprobe = 8)
        .select($"qid", $"id", $"rank")
    },

    // The IVF index's INGEST lifecycle (segment-LSM): base built on
    // 2/3 of the corpus, the remaining third arrives as two O(batch)
    // segment appends (frozen-centroid assignment, manifest pointer
    // commit), probed exactly over base ∪ segments; then a compaction
    // folds the segments into base generation 2 (quantizer retrained,
    // `segs_upto` subsumption) and the re-probe must not move. Both
    // probes run nprobe = nlist, so each equals brute force over the
    // FULL corpus regardless of centroids or layout (the
    // sim_topk_ivf_disk argument) — the two-phase union is the
    // dedup_compaction shape for ANN.
    "sim_topk_ivf_seg" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      val path = tmpIndexPath(dir, "graft_ivf_seg")
      val I = graft.operators.IvfIndex
      I.write(e.filter($"vec_id" % 3 =!= 0), path, dims = 64, nlist = 8)
      I.appendVectors(s, path, e.filter($"vec_id" % 6 === 0))
      I.appendVectors(s, path, e.filter($"vec_id" % 6 === 3))
      // snapshot BEFORE the fold deletes the probed segment files —
      // the commitManifest/readCorpus discipline: a plan over
      // about-to-be-compacted sources must materialize first
      val onSegs = I.probe(s, path, queries, k = 5, nprobe = 8)
        .select(lit("segs").as("phase"), $"qid", $"id", $"rank")
        .localCheckpoint(true)
      I.compact(s, path, nlist = 8)
      val onBase = I.probe(s, path, queries, k = 5, nprobe = 8)
        .select(lit("base").as("phase"), $"qid", $"id", $"rank")
      onSegs.unionByName(onBase)
    },

    // The PERSISTED IVF-PQ index (the compressed-codes billion-vector
    // layout — m bytes/vector of residual PQ codes on disk, NO raw
    // vectors in the index; exact rerank joins candidates back to the
    // source corpus): base built on 2/3 of the corpus, the last third
    // arrives as a frozen-codebook O(batch) segment append, probed
    // over base ∪ segment; then a pure-fold compaction (every code
    // byte unchanged) and the re-probe must not move. Both probes run
    // nprobe = nlist AND rerank >= the verify corpus, so each equals
    // brute force over the FULL corpus regardless of quantizer,
    // codebook, or layout (the sim_topk_ivfpq argument). Production
    // nprobe < nlist / small rerank is pinned in IvfPqIndexSpec.
    "sim_topk_ivfpq_disk" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      val path = tmpIndexPath(dir, "graft_ivfpq_index")
      val I = graft.operators.IvfPqIndex
      I.write(e.filter($"vec_id" % 3 =!= 0), path, dims = 64, nlist = 8)
      I.append(s, path, e.filter($"vec_id" % 3 === 0))
      val onSegs = I.probe(s, path, queries, rerankFrom = e, k = 5,
          nprobe = 8, rerank = 2000)
        .select(lit("segs").as("phase"), $"qid", $"id", $"rank")
        .localCheckpoint(true)
      I.compact(s, path)
      val onBase = I.probe(s, path, queries, rerankFrom = e, k = 5,
          nprobe = 8, rerank = 2000)
        .select(lit("base").as("phase"), $"qid", $"id", $"rank")
      onSegs.unionByName(onBase)
    },

    // PQ with rerank >= the verify-SF corpus (sim_topk_sq8 pattern):
    // the exact rerank re-scores every candidate, so the trained
    // codebook only orders the ADC scan and cannot affect the result —
    // the brute SQL is a true oracle while the compressed-domain
    // ADC scan + rerank plan shape stays the one measured.
    // SkewAndIvfSpec still proves recall at production rerank sizes.
    "sim_topk_pq" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      Similarity.Pq.topK(e, queries, k = 5, dims = 64,
          m = 8, ksub = 16, rerank = 2000)
        .select($"qid", $"id", $"rank")
    },

    // SQ8 with rerank >= the verify-SF corpus: the exact rerank then
    // re-scores every candidate, so the result provably equals brute
    // force and the brute SQL is a true oracle (sim_topk_ivf pattern);
    // the compressed-scan + rerank plan shape is still the one measured.
    "sim_topk_sq8" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      Similarity.Sq8.topK(e, queries, k = 5, dims = 64, rerank = 2000)
        .select($"qid", $"id", $"rank")
    },

    // IVF+PQ (the billion-vector layout) with FULL probe (nprobe ==
    // nlist) and rerank >= the verify-SF corpus: every cell is probed
    // and the exact rerank re-scores every candidate, so neither the
    // coarse quantizer nor the residual codebook can affect the output
    // — the brute SQL is a true oracle while the measured plan keeps
    // the production shape (cell-partitioned residual-ADC scan,
    // qdotc + ADC scoring, bounded-heap rerank). Production
    // nprobe<nlist recall is covered by SkewAndIvfSpec.
    "sim_topk_ivfpq" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      Similarity.Pq.ivfTopK(e, queries, k = 5, dims = 64,
          nlist = 8, nprobe = 8, m = 8, ksub = 16, rerank = 2000)
        .select($"qid", $"id", $"rank")
    },

    // OPQ (learned-rotation PQ) with rerank >= the verify-SF corpus:
    // the trained rotation + codebook only order the ADC scan; the
    // exact rerank re-scores every candidate on ORIGINAL vectors, so
    // the brute SQL is a true oracle while the rotate → encode → ADC →
    // rerank plan stays the one measured (sim_topk_pq pattern).
    "sim_topk_opq" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding")
      Similarity.Pq.opqTopK(e, queries, k = 5, dims = 64,
          m = 8, ksub = 16, rerank = 2000)
        .select($"qid", $"id", $"rank")
    },

    // Range (interval) join via binning: for each order, how many other
    // orders the same customer placed within the following 7 days. The
    // naive BETWEEN join is a per-key cross product; see
    // operators/RangeJoin for the linear binned plan.
    "q_range_join" -> { (s, dir) =>
      import s.implicits._
      val orders = Tables(s, dir, "orders")
      val pts = orders.select($"o_orderkey".as("p_orderkey"),
        $"o_custkey".as("user_id"),
        $"o_orderdate".cast("timestamp").as("t"))
      val iv = orders.select($"o_orderkey", $"o_custkey".as("user_id"),
        $"o_orderdate".cast("timestamp").as("win_start"),
        ($"o_orderdate".cast("timestamp") + expr("INTERVAL 7 DAYS")).as("win_end"))
      graft.operators.RangeJoin.join(pts, iv, key = "user_id",
          tCol = "t", startCol = "win_start", endCol = "win_end",
          binWidth = 7L * 24 * 3600)
        .filter($"p_orderkey" =!= $"o_orderkey")
        .groupBy($"o_orderkey")
        .agg(count(lit(1)).as("n_follow"))
    },

    // As-of join: latest order at-or-before each event's timestamp for
    // the same id (union+window, single shuffle — see operators/AsOf).
    "q_asof_join" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables(s, dir, "events").select($"event_id", $"user_id", $"ts")
      // dedupe right side to one row per (key, time) for determinism
      val ord = Tables(s, dir, "orders")
        .groupBy($"o_custkey".as("user_id"), $"o_orderdate")
        .agg(max($"o_orderkey").as("o_orderkey"))
      graft.operators.AsOf.join(ev, ord, key = "user_id",
          leftTime = "ts", rightTime = "o_orderdate",
          rightPayload = Seq("o_orderdate"))
        .select($"event_id", $"user_id", $"asof_o_orderdate".as("last_order_date"))
    },

    // Same as-of semantics through the SQL TVF surface — proves the
    // spark.sql route reaches the native merge operator (same oracle).
    "q_asof_tvf" -> { (s, dir) =>
      import s.implicits._
      GraftFunctions.register(s)
      Tables(s, dir, "events").select($"event_id", $"user_id", $"ts")
        .createOrReplaceTempView("asof_events_v")
      Tables(s, dir, "orders")
        .groupBy($"o_custkey".as("user_id"), $"o_orderdate")
        .agg(max($"o_orderkey").as("o_orderkey"))
        .createOrReplaceTempView("asof_orders_v")
      s.sql(
        """SELECT event_id, user_id, asof_o_orderdate AS last_order_date
          |FROM graft_asof_join('asof_events_v', 'asof_orders_v',
          |  'user_id', 'ts', 'o_orderdate', 'o_orderdate')""".stripMargin)
    },

    // Same range join through the SQL TVF (symmetry with q_asof_tvf):
    // the SQL route must reach the identical binned operator plan.
    "q_range_tvf" -> { (s, dir) =>
      import s.implicits._
      GraftFunctions.register(s)
      val orders = Tables(s, dir, "orders")
      orders.select($"o_orderkey".as("p_orderkey"),
        $"o_custkey".as("user_id"),
        unix_micros($"o_orderdate".cast("timestamp")).as("t"))
        .createOrReplaceTempView("range_pts_v")
      orders.select($"o_orderkey", $"o_custkey".as("user_id"),
        unix_micros($"o_orderdate".cast("timestamp")).as("win_start"),
        (unix_micros($"o_orderdate".cast("timestamp"))
          + lit(7L * 24 * 3600 * 1000000L)).as("win_end"))
        .createOrReplaceTempView("range_iv_v")
      s.sql(
        s"""SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_follow
           |FROM graft_range_join('range_pts_v', 'range_iv_v',
           |  'user_id', 't', 'win_start', 'win_end', ${7L * 24 * 3600 * 1000000L})
           |WHERE p_orderkey <> o_orderkey
           |GROUP BY o_orderkey""".stripMargin)
    },

    // ---------------- composed curation pipeline ----------------
    // quality filter + exact-dedup keep-list in one flow — the "curate a
    // training corpus" end-to-end shape.
    "pipeline_curate" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val stats = docs.select($"doc_id", $"lang", $"text",
        TF.tokenCount($"text").as("n_tokens"),
        (length(regexp_replace($"text", "[^A-Za-z]", "")).cast("double") /
          length($"text").cast("double")).as("alpha"))
      val keep = Dedup.exact(docs, "doc_id", "text")
        .select($"keep_id".as("doc_id"))
      stats.join(keep, "doc_id")
        .filter($"n_tokens" >= 20 && $"alpha" > 0.5)
        .select($"doc_id", $"lang", $"n_tokens")
    },

    // Per-source cap (crawl curation's per-domain limit): keep the 10
    // longest docs per source, n_chars DESC / doc_id ASC — bounded-heap
    // TopKByScore map-side prune, kept ids broadcast back for full rows
    // (operators/Sampling.capPerGroup).
    "pipeline_source_cap" -> { (s, dir) =>
      import s.implicits._
      Sampling.capPerGroup(Tables(s, dir, "documents"),
          "source", "doc_id", col("n_chars"), n = 10)
        .select($"source", $"doc_id", $"rank", $"n_chars")
    },

    // custom TypedImperativeAggregate: per-label embedding centroids
    // (fixed-size buffers, no element explosion; exactness proven in
    // EmbeddingsSpec against the posexplode formulation). The gate runs
    // the FIXED-POINT variant — scaled-long sums are associative, so
    // every centroid component is bit-deterministic and the oracle
    // checks the full 640-value centroid matrix, not just a rounded
    // norm; the float-buffer centroids() stays the throughput path.
    "embed_label_centroids" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Embeddings.centroidsFixed(
        Tables(s, dir, "embeddings"), "label", "embedding")
        .select($"label", $"n",
          posexplode($"centroid").as(Seq("dim", "centroid_val")))
    },

    // ---------------- streaming (batch-equivalent plans) ----------------
    "stream_hourly_agg" -> { (s, dir) =>
      graft.streaming.EventStreams.hourlyAgg(Tables(s, dir, "events"))
    },

    "stream_sessions" -> { (s, dir) =>
      graft.streaming.EventStreams.sessionizeBatch(
        Tables(s, dir, "events"), gapSeconds = 1800L)
    },

    // Sliding windows (1 h every 15 min): each event in 4 overlapping
    // windows; the oracle replays Spark's epoch-aligned window starts
    // with a list comprehension.
    "stream_sliding" -> { (s, dir) =>
      graft.streaming.EventStreams.slidingAgg(Tables(s, dir, "events"))
    },

    // Deterministic projection of the streaming-dedup state: one row per
    // payload fingerprint with the first event id and duplicate count
    // (dropDuplicates itself keeps an arbitrary row under parallelism, so
    // the gate checks this canonical form; dedupStream shares the same
    // fingerprint expression).
    "stream_dedup" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "events")
        .withColumn("fp", graft.functions.TextFunctions.fingerprint(
          concat_ws("|", $"user_id", $"event_type", $"props")))
        .groupBy($"fp")
        .agg(min($"event_id").as("first_event_id"),
          count(lit(1)).as("n_copies"))
    },

    // Incremental ingest: which "new batch" documents are genuinely new
    // vs already in the corpus — the fingerprint ANTI-join every
    // continuously-crawled training pipeline runs on arrival. Split the
    // table deterministically (scale-invariant): doc_id % 5 == 0 is the
    // arriving batch, the rest is the standing corpus.
    "pipeline_incremental" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      Dedup.incrementalNew(
        d.filter(pmod($"doc_id", lit(5)) === 0),
        d.filter(pmod($"doc_id", lit(5)) =!= 0),
        "doc_id", "text")
    },

    // Incremental NEAR-dup ingest: which arriving documents have no
    // near-duplicate already in the corpus — the asymmetric
    // (probe-vs-index) PPJoin. The exact-fingerprint variant above
    // misses a re-crawl with one changed token; this one runs the
    // prefix-filter join between the batch and the corpus ONLY (never
    // corpus×corpus — the continuous-ingest cost shape), both sides
    // ranked under the frozen (corpus-df, hash) total order so the
    // corpus side is computable once per corpus version. Split:
    // doc_id % 10 == 0 arrives, the rest is the standing corpus.
    "dedup_incremental_near" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      Dedup.incrementalNewNearDup(
        d.filter(pmod($"doc_id", lit(10)) =!= 0),
        d.filter(pmod($"doc_id", lit(10)) === 0),
        "doc_id", "text", n = 3, threshold = 0.5)
    },

    // The STORAGE half of the ingest story: the corpus's PPJoin
    // structures (df order / prefix / shingle arrays) are written as an
    // on-disk index once per corpus version, and each arriving batch
    // probes the index — same output contract (and byte-identical
    // oracle text — one shared materialization in the gate engine) as
    // dedup_incremental_near, through the persisted path instead of
    // the recompute path.
    "dedup_incremental_disk" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val corpus = d.filter(pmod($"doc_id", lit(10)) =!= 0)
      val batch = d.filter(pmod($"doc_id", lit(10)) === 0)
      val path = tmpIndexPath(dir, "graft_ngram_index")
      Dedup.writeNgramIndex(corpus, path, "doc_id", "text",
        n = 3, threshold = 0.5)
      val dup = Dedup.probeNgramIndex(s, path, batch, "doc_id", "text")
        .select($"id_batch".as("doc_id")).distinct()
      batch.select($"doc_id").join(dup, Seq("doc_id"), "left_anti")
    },

    // The BUCKETED-catalog layout of the same persisted index — the
    // layout a real ingest deployment lands on (measured 5.6× cheaper
    // cold probe than plain parquet at 500k docs, BASELINE.md):
    // bucketing survives the write/read boundary, so every probe join
    // scans the index with NO Exchange on the index side — only the
    // arriving batch moves. Same split and byte-identical oracle text
    // as the near/disk siblings (one shared materialization in the
    // gate engine). The probe result is materialized eagerly so the
    // scratch catalog tables can be dropped before returning.
    "dedup_incremental_bucketed" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val corpus = d.filter(pmod($"doc_id", lit(10)) =!= 0)
      val batch = d.filter(pmod($"doc_id", lit(10)) === 0)
      val prefix = bucketedIndexName(dir)
      // bucket count: the corpus-derived production default
      // (Tune.scaledBuckets, recorded in the layout sidecar — the gate
      // exercises the same self-describing path a deployment runs)
      Dedup.writeNgramIndexBucketed(corpus, prefix, "doc_id", "text",
        n = 3, threshold = 0.5)
      val dup = Dedup.probeNgramIndexBucketed(s, prefix, batch,
          "doc_id", "text")
        .select($"id_batch".as("doc_id")).distinct()
      val res = batch.select($"doc_id")
        .join(dup, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      Seq("df", "prefix", "shingles").foreach { sfx =>
        s.sql(s"DROP TABLE IF EXISTS ${prefix}_$sfx"): Unit
      }
      res
    },

    // Incremental near-dup ingest for EMBEDDINGS through the PERSISTED
    // sign index (the vector mirror of dedup_incremental_disk): the
    // corpus is written partitioned by its exact-integer 6-plane
    // Rademacher bucket (writeSignIndex) once, and the arriving batch
    // (vec_id % 10 == 0) probes it with hamming≤1 multi-probe — batch ×
    // corpus-bucket equi-join only, never corpus×corpus. The oracle
    // replays the signature bit-for-bit (round(x*1e7) quantization,
    // md5-bit signs, seed 42) and the cosine verify at 0.4, so the
    // genuinely-new id set is fully hash-checked.
    "dedup_incremental_embed" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val corpus = e.filter(pmod($"vec_id", lit(10)) =!= 0)
      val batch = e.filter(pmod($"vec_id", lit(10)) === 0)
      val path = tmpIndexPath(dir, "graft_embed_ingest")
      Similarity.writeSignIndex(corpus, path, dims = 64, numPlanes = 6,
        seed = 42L)
      Dedup.incrementalNewNearDupEmbedDisk(s, path, batch,
        "vec_id", "embedding", threshold = 0.4, probeHamming = 1)
    },

    // EMBEDDING-side ingest compaction end-to-end (the vector mirror of
    // dedup_compaction): sign-index(C0, 6 planes) → batch B1 (vec_id
    // %10=5) probes it, survivors accepted as batch=0 →
    // EmbedIngestStream.compact folds C0 ∪ accepted into the next index
    // version (planes re-derived from the GROWN corpus by the
    // scaledPlanes integer rule — the oracle replays that rule) and
    // clears the batch dirs → batch B2 (%10=0) probes the compacted
    // index with an EMPTY accepted set. Both generations replayed
    // bit-exact in SQL: md5 Rademacher signs, round(x*1e7) integer
    // quantization, hamming≤1 flips, cosine ≥ 0.4 verify.
    "dedup_compaction_embed" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val m10 = pmod($"vec_id", lit(10))
      val c0 = e.filter(m10 =!= 0 && m10 =!= 5)
        .select($"vec_id", $"embedding")
      val b1 = e.filter(m10 === 5)
      val b2 = e.filter(m10 === 0)
      val path = tmpIndexPath(dir, "graft_embed_cmp")
      val outDir = tmpIndexPath(dir, "graft_embed_cmp_out")
      Similarity.writeSignIndex(c0, path, dims = 64, numPlanes = 6,
        seed = 42L)
      val a1 = graft.streaming.EmbedIngestStream.applyBatch(s, b1, None,
        path, "vec_id", "embedding", threshold = 0.4, probeHamming = 1)
      graft.operators.IndexVersions.writeParquet(
        a1.select($"vec_id", $"embedding"), s"$outDir/batch=0")
      graft.streaming.EmbedIngestStream.compact(s, c0, path, outDir)
      val leftover = graft.streaming.IngestStream.batchDirs(s, outDir).size
      require(leftover == 0,
        s"embed compact left $leftover accepted batch dirs behind")
      graft.streaming.EmbedIngestStream.applyBatch(s, b2, None, path,
          "vec_id", "embedding", threshold = 0.4, probeHamming = 1)
        .select($"vec_id").localCheckpoint(true)
    },

    // Ingest COMPACTION end-to-end — the re-index operator the ingest
    // streams rely on, gated: index(C0) → batch B1 probes it and its
    // survivors are accepted as batch=0 → IngestStream.compact folds
    // them into index version 2 (C0 ∪ accepted) and clears the batch
    // dirs (require()d inside the gate) → batch B2 probes the COMPACTED
    // index with an EMPTY accepted set. A near-dup of an accepted B1
    // doc arriving in B2 is caught by the INDEX alone — the compaction
    // claim — and the oracle replays both generations with exact
    // pairwise shingle Jaccard + the normalized exact-fingerprint
    // within-batch pass. Split: C0 = doc_id%10 ∉ {0,5}, B1 = %10=5,
    // B2 = %10=0.
    "dedup_compaction" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val m10 = pmod($"doc_id", lit(10))
      val c0 = d.filter(m10 =!= 0 && m10 =!= 5).select($"doc_id", $"text")
      val b1 = d.filter(m10 === 5)
      val b2 = d.filter(m10 === 0)
      val prefix = bucketedIndexName(dir) + "_cmp"
      val outDir = tmpIndexPath(dir, "graft_compact_out")
      Dedup.writeNgramIndexBucketed(c0, prefix, "doc_id", "text",
        n = 3, threshold = 0.5)
      val a1 = graft.streaming.IngestStream.applyBatch(s, b1, None,
        prefix, "doc_id", "text")
      graft.operators.IndexVersions.writeParquet(
        a1.select($"doc_id", $"text"), s"$outDir/batch=0")
      graft.streaming.IngestStream.compact(s, c0, prefix, outDir)
      val leftover = graft.streaming.IngestStream.batchDirs(s, outDir).size
      require(leftover == 0,
        s"compact left $leftover accepted batch dirs behind")
      val res = graft.streaming.IngestStream.applyBatch(s, b2, None,
        prefix, "doc_id", "text")
        .select($"doc_id").localCheckpoint(true)
      Seq("df", "prefix", "shingles").foreach { sfx =>
        s.sql(s"DROP TABLE IF EXISTS ${prefix}_$sfx"): Unit
      }
      res
    },

    // Z-order (Morton) values over two key columns — the clustering key
    // behind multi-column file pruning; pure bitwise Column arithmetic,
    // oracle-replicated with the same magic-number spreads in DuckDB.
    "layout_zorder" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "orders").select($"o_orderkey",
        graft.operators.Layout.zValue2(
          pmod($"o_custkey", lit(65536)), pmod($"o_orderkey", lit(65536)))
          .as("zval"))
    },

    // Deterministic stratified sample: 20 docs per language, picked by
    // a multiplicative-hash order — reuses the bounded-heap TopKByScore
    // aggregate (its oracle-checked gate row; sim_topk_* also use it).
    "pipeline_stratified" -> { (s, dir) =>
      Sampling.stratified(Tables(s, dir, "documents"), "lang", "doc_id", 20)
    },

    // End-to-end assembly composition: exact-dedup survivors →
    // per-language median-length quality filter → train/val/test hash
    // split → per-(split, lang) counts. Proves the corpus-assembly
    // operators compose into one plan (dedup agg, broadcast threshold,
    // narrow split — a single job, no intermediate materialization).
    "pipeline_assembly" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val keep = Dedup.exact(d, "doc_id", "text")
        .select($"keep_id".as("doc_id"))
      val survivors = d.join(keep, "doc_id")
      val med = survivors.groupBy($"lang")
        .agg(expr("percentile(n_chars, 0.5D)").as("med"))
      val filtered = survivors.join(broadcast(med), "lang")
        .filter($"n_chars" > $"med")
      Sampling.hashSplit(filtered, "doc_id")
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
    },

    // Round-4 hygiene capstone: decontaminate (vs the %23 held-out
    // benchmark) → collapse near-dup clusters to their best
    // representative → cap each source at its 10 longest survivors →
    // deterministic hash split. Every stage is an operator gated on its
    // own above; the oracle replays the full composition in one SQL.
    "pipeline_hygiene" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val corpus = d.filter($"doc_id" % 23 =!= 0)
      val bench = d.filter($"doc_id" % 23 === 0)
      // the contaminated-id list is materialized ONCE (bounded by the
      // collision count): `clean` feeds four lazy consumers (pair gen,
      // representative scoring, the singleton anti-join, the cap) and
      // Spark re-executes a shared subtree per reference — with the
      // decontamination overlap join inlined, this one gate's plan held
      // 36 parquet scans / 72 Exchanges and re-ran the overlap shuffle
      // 4x. Each `clean` reference is now a scan + broadcast anti-join
      // against the pinned id list; rows are unchanged (same ids, same
      // anti-join as Decontaminate.clean).
      val contaminatedIds = graft.operators.Decontaminate.overlapPairs(
          corpus, bench, "doc_id", "text", n = 3, minShared = 3)
        .select($"doc_id").distinct().localCheckpoint(true)
      val clean = corpus.join(contaminatedIds, Seq("doc_id"), "left_anti")
      val pairs = Dedup.ngramJaccardPairs(clean, "doc_id", "text",
        n = 3, threshold = 0.5).select($"id_a", $"id_b")
      val keep = Dedup.clusterRepresentatives(clean, pairs, "doc_id",
        $"n_chars").select($"keep_id".as("doc_id"))
      val capped = Sampling.capPerGroup(clean.join(keep, "doc_id"),
        "source", "doc_id", $"n_chars", n = 10)
      Sampling.hashSplit(capped, "doc_id")
        .groupBy($"split", $"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
    },

    // CURATION AUDIT over pipeline_hygiene's stages: which stage
    // dropped how many docs / how much mass of which source —
    // production curation's first debugging question, answered by ONE
    // bounded aggregate over the stage keep-lists the hygiene job
    // already computes (operators/Audit.curationAudit). Stage flags:
    // decontaminate (vs the %23 bench), cluster representatives
    // (PPJoin pairs → components → best keeper + singletons), per-
    // source top-10 cap. Oracle replays every stage membership and the
    // per-(stage, source) split independently.
    "pipeline_audit" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val corpus = d.filter($"doc_id" % 23 =!= 0)
      val bench = d.filter($"doc_id" % 23 === 0)
      // same shared-subtree discipline as pipeline_hygiene, and the
      // audit needs it MORE: the stage flags reference `contaminated`,
      // `keep`, `capped` a second time in the final one-pass aggregate,
      // which un-materialized re-ran the overlap join and the keep-list
      // derivation per reference (measured plan: 54 parquet scans, 104
      // Exchanges; isolated warm 5.5 s). The flag lists are bounded
      // (ids only) — pin each once, every later reference is a
      // broadcast-join probe.
      val contaminated = graft.operators.Decontaminate.overlapPairs(
          corpus, bench, "doc_id", "text", n = 3, minShared = 3)
        .select($"doc_id").distinct().withColumn("__c", lit(true))
        .localCheckpoint(true)
      val clean = corpus.join(contaminated.select($"doc_id"),
        Seq("doc_id"), "left_anti")
      val pairs = Dedup.ngramJaccardPairs(clean, "doc_id", "text",
        n = 3, threshold = 0.5).select($"id_a", $"id_b")
      val keep = Dedup.clusterRepresentatives(clean, pairs, "doc_id",
          $"n_chars")
        .select($"keep_id".as("doc_id")).withColumn("__r", lit(true))
        .localCheckpoint(true)
      val capped = Sampling.capPerGroup(
          clean.join(keep.select($"doc_id"), "doc_id"),
          "source", "doc_id", $"n_chars", n = 10)
        .select($"doc_id").withColumn("__k", lit(true))
      graft.operators.Audit.curationAudit(
        corpus
          .join(contaminated, Seq("doc_id"), "left")
          .join(keep, Seq("doc_id"), "left")
          .join(capped, Seq("doc_id"), "left"),
        "source", $"n_chars", Seq(
          "decontaminate" -> $"__c".isNull,
          "representatives" -> $"__r".isNotNull,
          "cap_per_source" -> $"__k".isNotNull))
    },

    // The audit frame over the CURATE capstone's stages (exact-dedup
    // keeper → token floor → alpha floor), grouped by lang and massed
    // by n_chars — the second capstone instrumented by the same
    // one-aggregate operator, proving curationAudit generalizes past
    // the hygiene stages it was gated on. `in_docs` telescopes: stage
    // N+1's entrants are exactly stage N's kept set.
    "pipeline_audit_curate" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val keep = Dedup.exact(docs, "doc_id", "text")
        .select($"keep_id".as("doc_id")).withColumn("__e", lit(true))
      val stats = docs.select($"doc_id", $"lang", $"n_chars",
        TF.tokenCount($"text").as("n_tokens"),
        (length(regexp_replace($"text", "[^A-Za-z]", "")).cast("double") /
          length($"text").cast("double")).as("alpha"))
      graft.operators.Audit.curationAudit(
        stats.join(keep, Seq("doc_id"), "left"),
        "lang", $"n_chars", Seq(
          "exact_dedup" -> $"__e".isNotNull,
          "min_tokens" -> ($"n_tokens" >= 20),
          "alpha" -> ($"alpha" > 0.5)))
    },

    // Context-window chunking: 50-token windows, stride 40 (overlap
    // 10) — narrow generator expansion, chunk text reassembled with
    // builtin slice/concat_ws.
    "text_chunks" -> { (s, dir) =>
      TF.chunkByTokens(Tables(s, dir, "documents"), "doc_id", "text",
        w = 50, s = 40)
    },

    // Corpus n-gram statistics: document frequency of word trigrams,
    // top 20 — the language-model / boilerplate-mining count table.
    // One kernel pass per doc (distinct shingles), count partial-aggs.
    "text_ngram_counts" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .select(explode(TF.wordShingles($"text", 3)).as("ngram"))
        .groupBy($"ngram").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"ngram".asc).limit(20)
    },

    // Characteristic terms per doc: top-3 by (tf DESC, df ASC, term ASC)
    // — integer-exact tf-idf ordering (operators/TextQuality.topTermsTfDf).
    "text_top_terms" -> { (s, dir) =>
      TextQuality.topTermsTfDf(Tables(s, dir, "documents"),
        "doc_id", "text", k = 3)
    },

    // Corpus-level boilerplate removal: non-overlapping 10-token blocks
    // occurring >= 3 times corpus-wide are dropped from every document
    // (operators/TextQuality.removeFrequentBlocks — the block analogue
    // of CCNet/RefinedWeb line dedup).
    "text_boilerplate" -> { (s, dir) =>
      TextQuality.removeFrequentBlocks(Tables(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 10, minFreq = 3)
    },

    // The same operator in the 100 TB shuffle layout: the frequency
    // pass shuffles xxhash64(block) instead of the block string, docs
    // rebuild locally from removed chunk indexes. Output is identical
    // absent hash collisions, so it shares text_boilerplate's oracle
    // byte for byte (the incremental-near/disk gate-pair precedent).
    "text_boilerplate_hashed" -> { (s, dir) =>
      TextQuality.removeFrequentBlocksHashed(Tables(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 10, minFreq = 3)
    },

    // The SHIFT-ROBUST boilerplate layout: chunk boundaries are
    // content-defined (cut after tokens whose md5-prefix hash is = 0
    // mod 10, max 20 tokens/chunk), so a block repeated at different
    // offsets still aligns — the fixed-grid operators above only match
    // copies on the same grid phase. Fully oracled: the cut rule is
    // the SQL-replicable md5-prefix hash, and the grid decomposes into
    // two window functions (cumulative cut count -> sub-split)
    // (operators/TextQuality.removeFrequentBlocksCDC).
    "text_boilerplate_cdc" -> { (s, dir) =>
      TextQuality.removeFrequentBlocksCDC(Tables(s, dir, "documents"),
        "doc_id", "text", p = 10, maxTokens = 20, minFreq = 3)
    },

    // Cross-document duplicated 8-token spans with document frequency —
    // the exact-substring-dedup discovery table (Lee et al. 2021) at
    // word-window granularity (operators/TextQuality.duplicatedSpans).
    "text_dup_spans" -> { (s, dir) =>
      TextQuality.duplicatedSpans(Tables(s, dir, "documents"),
        "text", k = 8, minDocs = 2)
    },

    // Per-document duplicated-span contamination fractions — the
    // doc-level filter signal over the duplicated-span table
    // (operators/TextQuality.spanDupStats; dup table broadcasts back).
    "text_span_stats" -> { (s, dir) =>
      TextQuality.spanDupStats(Tables(s, dir, "documents"),
        "doc_id", "text", k = 8, minDocs = 2)
    },

    // Exact-substring REMOVAL (Lee et al. 2021) at 8-token window
    // granularity: tokens covered by any cross-document duplicated
    // window are dropped, survivors re-join in order
    // (operators/TextQuality.removeDuplicatedSpans — codegen'd
    // cover/rebuild kernel, dup table broadcasts onto the positional
    // window explode).
    "text_span_scrub" -> { (s, dir) =>
      TextQuality.removeDuplicatedSpans(Tables(s, dir, "documents"),
        "doc_id", "text", k = 8, minDocs = 2)
    },

    // Benchmark decontamination: training docs sharing >= 3 distinct
    // word trigrams with the held-out "benchmark" split (doc_id % 23).
    // Benchmark shingles broadcast; the corpus never shuffles — only
    // collision hits reach the per-pair count (operators/Decontaminate).
    "text_decontam" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      graft.operators.Decontaminate.overlapPairs(
        d.filter($"doc_id" % 23 =!= 0), d.filter($"doc_id" % 23 === 0),
        "doc_id", "text", n = 3, minShared = 3)
    },

    // Ordered funnel: signup → first click strictly after → first
    // purchase strictly after that, per user; one row of stage counts.
    // ONE scan + ONE user-partitioned sort: the three stage times are
    // stacked min-over-window expressions (t2's predicate reads t1, so
    // they chain over the same window spec — no join-back per stage,
    // no re-scan of the fact table per stage).
    "q_funnel" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      Tables(s, dir, "events")
        .select($"user_id", $"ts", $"event_type")
        .withColumn("t1",
          min(when($"event_type" === "signup", $"ts")).over(w))
        .withColumn("t2",
          min(when($"event_type" === "click" && $"ts" > $"t1", $"ts")).over(w))
        .withColumn("t3",
          min(when($"event_type" === "purchase" && $"ts" > $"t2", $"ts")).over(w))
        .groupBy($"user_id")
        .agg(max($"t1").as("t1"), max($"t2").as("t2"), max($"t3").as("t3"))
        .agg(count($"t1").as("n_signup"),
          count($"t2").as("n_click_after"),
          count($"t3").as("n_purchase_after"))
    },

    // Exact edit-distance fuzzy pairs (levenshtein ≤ 1) over customer
    // names — FastSS deletion-neighborhood candidates + levenshtein
    // verify; oracle is the brute-force quadratic, so the gate proves
    // the pruned candidate generator misses nothing.
    "dedup_fuzzy_pairs" -> { (s, dir) =>
      Dedup.editDistancePairs(Tables(s, dir, "customer"),
        "c_custkey", "c_name", maxDist = 1)
    },

    // Deterministic train/val/test split by id hash (80/10/10) —
    // membership is a pure function of the id, so it is stable across
    // runs, cluster sizes, and corpus growth. Gate row aggregates
    // per-split counts + char totals.
    "pipeline_split" -> { (s, dir) =>
      import s.implicits._
      Sampling.hashSplit(Tables(s, dir, "documents"), "doc_id")
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
    },

    // LEAKAGE-SAFE split: near-dup clusters (exact PPJoin pairs →
    // connected components) move into train/val/test WHOLE — no
    // near-dup pair ever straddles an evaluation boundary
    // (operators/Sampling.leakageSafeSplit; straddle-freedom also
    // asserted in LayoutSamplingSpec).
    "pipeline_leakage_split" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      Sampling.leakageSafeSplit(docs, "doc_id", pairs)
        .select($"doc_id", $"grp", $"split")
    },

    // Token-budget corpus assembly (exact path): per language, take
    // documents in deterministic idScore order until the cumulative
    // whitespace-token count reaches the budget — the "assemble N
    // tokens per source" operator. Prefix rule: a doc is kept iff the
    // running sum INCLUDING it fits, so budgets are hard caps and the
    // selection nests across budget changes. The thresholded 100 TB
    // variant (no per-group sort) is spec-pinned as a subset of this
    // output (operators/Sampling.tokenBudgetThresholded).
    "pipeline_token_budget" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      Sampling.tokenBudget(
          d.select($"doc_id", $"lang",
            graft.functions.TextFunctions.tokenCount($"text").as("n_tokens")),
          "lang", "doc_id", $"n_tokens", Map.empty, defaultBudget = 4000L)
        .select($"doc_id", $"lang", $"cum_tokens")
    },

    // Token-budget assembly under the SUBWORD tokenizer seam
    // (functions/Tokenizers): the same prefix-rule operator, but the
    // token count is the greedy longest-match subword segmentation over
    // the default merges-derived vocabulary — whitespace counting
    // under-states real BPE token mass 20-40% on code/CJK, so a real
    // deployment budgets in subwords. The oracle replays the TOKENIZER
    // itself (not just the budget): leftmost-first alternation over the
    // longest-first piece regex is exactly the kernel's greedy match.
    "pipeline_token_budget_bpe" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      Sampling.tokenBudget(
          d.select($"doc_id", $"lang",
            graft.functions.Tokenizers.bpe.count($"text").as("n_tokens")),
          "lang", "doc_id", $"n_tokens", Map.empty, defaultBudget = 16000L)
        .select($"doc_id", $"lang", $"cum_tokens")
    },

    // CURRICULUM capstone — this round's operators composed into ONE
    // job: quality-mass curation (top 80% of n_chars mass per language)
    // → subword token budget (8000 BPE tokens per language, prefix
    // rule) → epoch-1 training-order shuffle (explicit buckets keep the
    // composition a single plan, no mid-build count job). The oracle
    // replays all three stages.
    "pipeline_curriculum" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars", $"text")
      val curated = Sampling.qualityMass(d, "lang", "doc_id",
        $"n_chars", Map.empty, defaultPct = 80)
      val budgeted = Sampling.tokenBudget(
        curated.select($"doc_id", $"lang",
          graft.functions.Tokenizers.bpe.count($"text").as("n_tokens")),
        "lang", "doc_id", $"n_tokens", Map.empty, defaultBudget = 8000L)
      Sampling.shuffleRank(budgeted.select($"doc_id", $"lang"),
          "doc_id", buckets = 1024, epoch = 1)
        .select($"doc_id", $"lang", $"shuffle_rank")
    },

    // Mix to target TOKEN shares: src0 capped at 100‰ and src1 at 50‰
    // of the corpus's total n_chars mass — per-group keep rates derived
    // with exact BIGINT floor arithmetic (rate = min(1000,
    // total·share‰ div group_mass)), applied via the idScore hash rule
    // (operators/Sampling.mixToTokenShares). Gate emits per-source kept
    // counts/mass + the applied rate.
    "pipeline_mix_tokens" -> { (s, dir) =>
      import s.implicits._
      Sampling.mixToTokenShares(
          Tables(s, dir, "documents").select($"doc_id", $"source", $"n_chars"),
          "source", "doc_id", $"n_chars",
          Map("src0" -> 100, "src1" -> 50))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"),
          sum($"n_chars").as("kept_mass"),
          min($"rate_pm").as("rate_pm"))
    },

    // Vocabulary MINING for the tokenizer seam: the 10 most frequent
    // character n-grams per length 2..4 over the corpus's lowercased
    // letter runs — the merges-learning step that makes the subword
    // tokenizer corpus-adaptive (functions/Tokenizers.vocabCandidates).
    // Every position counts (what BPE merges maximize); ties break
    // lexicographically, so the oracle replays it exactly.
    "text_learned_vocab" -> { (s, dir) =>
      graft.functions.Tokenizers.vocabCandidates(
        Tables(s, dir, "documents"), "text", perLen = 10)
    },

    // Weighted source interleave: exact-integer stride keys (lcm 6;
    // en weight 3 → stride 2, zh weight 2 → stride 3, others 1 →
    // stride 6) over deterministic per-language ranks — sorting by
    // (interleave_key, lang, doc_id) serializes "3 parts en, 2 parts
    // zh, 1 part everything else" (operators/Sampling).
    "pipeline_interleave" -> { (s, dir) =>
      import s.implicits._
      Sampling.interleaveByWeight(
          Tables(s, dir, "documents").select($"doc_id", $"lang"),
          "lang", "doc_id", Map("en" -> 3, "zh" -> 2), defaultWeight = 1)
        .select($"doc_id", $"lang", $"src_rank", $"interleave_key")
    },

    // Deterministic global training-order shuffle: rank 1..n in
    // idScore order, composed from bucketed score ranges so no single
    // task ever sorts the corpus (operators/Sampling.shuffleRank).
    // The oracle is the naive single-window formulation — the
    // composition must equal it exactly.
    "pipeline_shuffle_order" -> { (s, dir) =>
      import s.implicits._
      Sampling.shuffleRank(
          Tables(s, dir, "documents").select($"doc_id"), "doc_id")
        .select($"doc_id", $"shuffle_rank")
    },

    // Multi-EPOCH reshuffle: epoch 3's serialization order — a fresh
    // affine permutation per epoch (Sampling.epochScore), regenerated
    // from (id, epoch) with no stored permutation. The oracle replays
    // epoch 3's multiplier in the naive global window.
    "pipeline_shuffle_epoch" -> { (s, dir) =>
      import s.implicits._
      Sampling.shuffleRank(
          Tables(s, dir, "documents").select($"doc_id"), "doc_id",
          epoch = 3)
        .select($"doc_id", $"shuffle_rank")
    },

    // Size-targeted training shards + manifest: exact BIGINT prefix
    // sums of n_chars in idScore order (bucketed composition, NO
    // global sort — operators/Shards on Sampling.prefixMass), each
    // doc in the shard where its first unit of mass falls. The gate
    // WRITES the shard=N/ layout + _graft_manifest, then returns the
    // READ-BACK rows joined with the READ-BACK manifest — persisted
    // assignment AND manifest both checked against the naive-window
    // oracle.
    "pipeline_shards" -> { (s, dir) =>
      import s.implicits._
      val out = tmpIndexPath(dir, "graft_shards_out")
      graft.operators.Shards.writeShards(
        Tables(s, dir, "documents").select($"doc_id", $"n_chars"),
        out, "doc_id", $"n_chars", shardMass = 20000L): Unit
      val rows = s.read.parquet(out)
        .select($"doc_id", $"doc_mass", $"cum_mass",
          $"shard".cast("long").as("shard"))
      rows.join(
          broadcast(graft.operators.Shards.readManifest(s, out)
            .select($"shard".cast("long").as("shard"), $"docs", $"mass")),
          Seq("shard"))
        .select($"doc_id", $"doc_mass", $"cum_mass", $"shard",
          $"docs", $"mass")
    },

    // Multi-epoch source UPSAMPLING ("3 epochs of en, 2 of zh, 1 of
    // the rest"): each doc replicated per its language's epoch count,
    // every copy with a distinct deterministic serialization key
    // (epochScore(id, epoch)) so repetitions spread across the run
    // (operators/Sampling.upsampleEpochs). The oracle replays the
    // epoch-multiplier residue arithmetic over a generate_series
    // unnest.
    "pipeline_epoch_mix" -> { (s, dir) =>
      import s.implicits._
      Sampling.upsampleEpochs(
          Tables(s, dir, "documents").select($"doc_id", $"lang"),
          "lang", "doc_id", Map("en" -> 3, "zh" -> 2), defaultEpochs = 1)
        .select($"doc_id", $"lang", $"epoch", $"sample_key")
    },

    // RECIPE capstone — the full serialization recipe as ONE plan:
    // token-share DOWN-sampling of over-represented sources
    // (mixToTokenShares) → multi-epoch UP-sampling of scarce languages
    // (upsampleEpochs) → size-targeted shard assignment over the
    // epoch copies (Shards.shardByMass on uid = doc_id·4 + epoch, a
    // unique serialization key). Explicit bucket count keeps it a
    // single job (no mid-plan sizing count); the oracle replays all
    // three stages' integer arithmetic.
    "pipeline_recipe" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select($"doc_id", $"lang", $"source", $"n_chars")
      val mixed = Sampling.mixToTokenShares(d, "source", "doc_id",
        $"n_chars", Map("src0" -> 100, "src1" -> 50)).drop("rate_pm")
      val up = Sampling.upsampleEpochs(mixed, "lang", "doc_id",
        Map("en" -> 2), defaultEpochs = 1)
      val keyed = up.withColumn("uid", $"doc_id" * lit(4L) + $"epoch")
      graft.operators.Shards.shardByMass(keyed, "uid", $"n_chars",
          shardMass = 20000L, buckets = 32)
        .select($"doc_id", $"lang", $"source", $"epoch", $"uid",
          $"cum_mass", $"shard")
    },

    // Weight-proportional SYSTEMATIC sample: keep every doc whose
    // interval on the integer n_chars mass line contains a multiple
    // of 2000 — exact stride-sampling arithmetic over the same
    // prefix sums, each doc kept with probability min(1, w/step) and
    // the sampled mass within one document of total/step
    // (operators/Sampling.systematicSample).
    "pipeline_weighted_sample" -> { (s, dir) =>
      import s.implicits._
      Sampling.systematicSample(
          Tables(s, dir, "documents").select($"doc_id", $"n_chars"),
          "doc_id", $"n_chars", step = 2000L)
        .select($"doc_id", $"cum_mass", $"picks")
    },

    // INCREMENTAL shard append: 90% of the corpus written as the base
    // layout, the last 10% appended as an arriving batch — new shards
    // number from maxShard+1 on a fresh mass line, existing shard
    // files untouched (dynamic partition overwrite), manifest extended
    // by reading back ONLY the new dirs (operators/Shards.appendShards).
    // Gate returns read-back rows ∪ read-back manifest, both replayed.
    "pipeline_shards_append" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val m10 = pmod($"doc_id", lit(10))
      val out = tmpIndexPath(dir, "graft_shards_app")
      graft.operators.Shards.writeShards(
        d.filter(m10 =!= 0).select($"doc_id", $"n_chars"),
        out, "doc_id", $"n_chars", shardMass = 20000L): Unit
      val manifest = graft.operators.Shards.appendShards(
        d.filter(m10 === 0).select($"doc_id", $"n_chars"),
        out, "doc_id", $"n_chars", shardMass = 20000L)
      s.read.parquet(out)
        .select($"doc_id", $"doc_mass", $"cum_mass",
          $"shard".cast("long").as("shard"))
        .join(broadcast(manifest.select(
            $"shard".cast("long").as("shard"), $"docs", $"mass")),
          Seq("shard"))
        .select($"doc_id", $"doc_mass", $"cum_mass", $"shard",
          $"docs", $"mass")
    },

    // COMPACTION of the small tail a stream of appends accumulates:
    // base layout + three small appended batches leave tiny tail
    // shards; compactShards folds every shard under half the target
    // mass into fresh target-mass shards on ONE new mass line numbered
    // above the committed max — manifest committed via the pointer
    // flip BEFORE the source dirs are deleted (zero wrong-answer
    // window), fold cost proportional to the SMALL shards only
    // (partition-pruned read). Gate returns the manifest-directed
    // corpus ∪ manifest; the oracle independently replays all five
    // stages (base window, three offset append windows, the fold
    // window over the under-half-target shards).
    "pipeline_shards_compact" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val m10 = pmod($"doc_id", lit(10))
      val out = tmpIndexPath(dir, "graft_shards_cpt")
      graft.operators.Shards.writeShards(
        d.filter(m10 =!= 0).select($"doc_id", $"n_chars"),
        out, "doc_id", $"n_chars", shardMass = 20000L): Unit
      (0 until 3).foreach { k =>
        graft.operators.Shards.appendShards(
          d.filter(m10 === 0 &&
              pmod(expr("doc_id div 10"), lit(3)) === k)
            .select($"doc_id", $"n_chars"),
          out, "doc_id", $"n_chars", shardMass = 20000L): Unit
      }
      val manifest = graft.operators.Shards.compactShards(
        s, out, "doc_id", shardMass = 20000L)
      graft.operators.Shards.readCorpus(s, out)
        .select($"doc_id", $"doc_mass", $"cum_mass",
          $"shard".cast("long").as("shard"))
        .join(broadcast(manifest.select(
            $"shard".cast("long").as("shard"), $"docs", $"mass")),
          Seq("shard"))
        .select($"doc_id", $"doc_mass", $"cum_mass", $"shard",
          $"docs", $"mass")
    },

    // PER-GROUP systematic sample: every language sampled independently
    // on its own mass line (a global line would let a huge source crowd
    // small ones out between multiples) — the (group, bucket) prefix-sum
    // composition, same exact stride arithmetic.
    "pipeline_weighted_sample_grouped" -> { (s, dir) =>
      import s.implicits._
      Sampling.systematicSample(
          Tables(s, dir, "documents").select($"doc_id", $"lang", $"n_chars"),
          "doc_id", $"n_chars", step = 1000L, groupCols = Seq("lang"))
        .select($"doc_id", $"lang", $"cum_mass", $"picks")
    },

    // Quality-MASS curation ("top-p per source"): keep each language's
    // best documents until 80% of its total n_chars mass is covered —
    // prefix rule on (score DESC, idScore, id), exact BIGINT fraction
    // arithmetic (cum*100 <= total*pct), nested across pct changes
    // (operators/Sampling.qualityMass).
    "pipeline_quality_mass" -> { (s, dir) =>
      import s.implicits._
      Sampling.qualityMass(
          Tables(s, dir, "documents").select($"doc_id", $"lang", $"n_chars"),
          "lang", "doc_id", $"n_chars", Map.empty, defaultPct = 80)
        .select($"doc_id", $"lang", $"cum_mass", $"grp_mass")
    },

    // Thresholded quality mass — the scale path: per-(group, score)
    // bucket aggregate → running mass over the BUCKETS → score cutoff;
    // the corpus-side selection is a narrow cutoff filter, no per-group
    // document sort (operators/Sampling.qualityMassThresholded).
    // Deterministic at bucket granularity, so it gets a full oracle.
    "pipeline_quality_mass_approx" -> { (s, dir) =>
      import s.implicits._
      Sampling.qualityMassThresholded(
          Tables(s, dir, "documents").select($"doc_id", $"lang", $"n_chars"),
          "lang", "doc_id", $"n_chars", Map.empty, defaultPct = 80)
        .select($"doc_id", $"lang")
    },

    // Token-budget corpus assembly, THRESHOLDED scale path: no
    // per-group sort — token mass per (group, idScore value) is a
    // bounded aggregate (≤ 1,000,003 score values per group at any
    // corpus size), the budget picks a score cutoff per group, and the
    // corpus-side selection is a narrow cutoff filter. Deterministic,
    // so it gets its own full oracle (the window cumsum runs over the
    // AGGREGATED buckets in both engines).
    "pipeline_token_budget_approx" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      Sampling.tokenBudgetThresholded(
          d.select($"doc_id", $"lang",
            graft.functions.TextFunctions.tokenCount($"text").as("n_tokens")),
          "lang", "doc_id", $"n_tokens", Map.empty, defaultBudget = 4000L)
        .select($"doc_id", $"lang")
    },

    // Per-group winsorization + equi-depth deciles: clamp the raw
    // length signal at exact percentile-disc p10/p90 (integer-rank
    // bounds, no interpolation floats) and bucket by ntile — the
    // outlier treatment applied before thresholding any raw quality
    // signal (operators/Winsorize).
    "pipeline_winsorize" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Winsorize.winsorize(
          Tables(s, dir, "documents").select($"doc_id", $"lang", $"n_chars"),
          "lang", "n_chars", "doc_id")
        .select($"doc_id", $"lang", $"n_chars", $"lo", $"hi", $"clamped",
          $"decile".cast("long").as("decile"))
    },

    // Per-group dynamic-threshold filter: keep documents above their
    // language's MEDIAN length — the "top half by quality, per stratum"
    // curation shape (threshold computed per group, broadcast back).
    // Integer-valued medians make the interpolation engine-exact; at
    // 100 TB swap percentile for approx_percentile.
    "pipeline_quality_filter" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val med = d.groupBy($"lang")
        .agg(expr("percentile(n_chars, 0.5D)").as("med"))
      d.join(broadcast(med), "lang")
        .filter($"n_chars" > $"med")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), min($"n_chars").as("min_chars"))
    },

    // Deterministic corpus mixing: per-source keep rates (domain
    // reweighting) — src0 kept at 10%, src1 at 50%, src2 dropped,
    // everything else whole. Gate row checks surviving counts.
    "pipeline_mix" -> { (s, dir) =>
      import s.implicits._
      Sampling.weightedKeep(Tables(s, dir, "documents"), "doc_id",
          "source", Map("src0" -> 100, "src1" -> 500, "src2" -> 0))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
    },

    // Sequence packing: next-fit-by-start into 2048-token bins within
    // each source shard (windows stay partitioned — no global sort).
    // Token count is the deterministic chars/4 estimate so the oracle
    // can replay it exactly.
    "pipeline_pack" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .withColumn("tokens", ceil($"n_chars" / lit(4.0)).cast("long"))
      val packed = graft.operators.Packing.nextFitByStart(
        docs, "source", "doc_id", "tokens", budget = 2048L)
      graft.operators.Packing.packSummary(packed, budget = 2048L)
    },

    // Sequence packing under the SUBWORD tokenizer seam: same next-fit
    // bins, token counts from the greedy longest-match kernel — the
    // seam composes across the assembly family (budget + packing), and
    // the oracle again replays the tokenizer itself.
    "pipeline_pack_bpe" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .withColumn("tokens",
          graft.functions.Tokenizers.bpe.count($"text").cast("long"))
      val packed = graft.operators.Packing.nextFitByStart(
        docs, "source", "doc_id", "tokens", budget = 2048L)
      graft.operators.Packing.packSummary(packed, budget = 2048L)
    },

    // Stream-stream join (batch-equivalent plan): purchases attributed
    // to same-user clicks in the preceding 30 minutes.
    "stream_join" -> { (s, dir) =>
      graft.streaming.EventStreams.attributePurchases(Tables(s, dir, "events"))
    },

    // Stream-stream LEFT OUTER join: every purchase, matched click or
    // NULL ("organic") — the streaming path needs watermark+range so
    // null rows flush on watermark passage (StreamingSpec).
    "stream_join_left" -> { (s, dir) =>
      graft.streaming.EventStreams.attributePurchasesLeft(
        Tables(s, dir, "events"))
    },

    // Incremental upsert materialization (batch-equivalent fold): three
    // arrival batches (split by event_id mod 3 — deliberately NOT
    // time-ordered) folded through the order-insensitive ts-conditional
    // MERGE converge to the batch latest-per-key snapshot. The true
    // streaming micro-batch run of the same fold (streaming/UpsertSink,
    // versioned parquet state + pointer commit) is proven equal batch-by
    // -batch in StreamingSpec.
    "stream_upsert" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val batches = (0 to 2).map(i =>
        graft.streaming.UpsertSink.compactBatch(
          ev.filter(pmod($"event_id", lit(3)) === i),
          "user_id", "ts", "value", "event_id"))
      val empty = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.streaming.UpsertSink.stateSchema)
      batches.foldLeft(empty)((st, b) =>
        graft.operators.Scd.mergeUpsertLatest(st, b, "k", "last_us", "tie"))
        .select($"k".as("user_id"), $"v".as("last_value"), $"last_us")
    },

    // Time-series resample + forward fill: a 6-hour grid per user where
    // each grid instant carries the latest event value at-or-before it
    // (pandas resample().last().ffill()). Slot compaction is one max_by
    // aggregate; the fill is the NATIVE as-of merge join — no per-key
    // window over raw points (operators/GapFill).
    "q_gapfill" -> { (s, dir) =>
      graft.operators.GapFill.resampleFfill(Tables(s, dir, "events"),
        "user_id", "ts", "value", "event_id", stepSeconds = 21600L)
    },

    // ---------------- multimodal plumbing ----------------
    "mm_decode_meta" -> { (s, dir) =>
      Multimodal.decodeMeta(
        Multimodal.demoMediaFromDocuments(Tables(s, dir, "documents"))).toDF()
    },

    "mm_frames" -> { (s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(
          Multimodal.demoMediaFromDocuments(Tables(s, dir, "documents"))),
        fps = 0.2)
    },

    // Cross-modal EXACT media dedup: byte-identical payloads collapse
    // to their min media_id regardless of declared kind — the first
    // dedup pass of any image/audio/video pipeline, keyed on the
    // decoded sha256 (one hash-agg + a broadcast-eligible join back).
    "mm_dedup" -> { (s, dir) =>
      import s.implicits._
      val meta = Multimodal.decodeMeta(
        Multimodal.demoMediaFromDocuments(Tables(s, dir, "documents")))
        .toDF()
      meta.join(
          meta.groupBy($"sha256").agg(min($"media_id").as("keep_id")),
          "sha256")
        .select($"media_id", $"kind", $"keep_id",
          ($"media_id" =!= $"keep_id").as("is_dup"))
    },

    // PERCEPTUAL near-dup over the decode seam: 64-bit blockhash of
    // each asset's sample stream (exact-integer block-mean bits,
    // codegen'd — functions/MediaExprs), banded-Hamming candidate
    // generation (4 x 16-bit keys, the embeddingNearDupPairs shape),
    // full-distance verify via bit_count(xor). Catches the
    // transcode-style replicas (one byte rewritten) that defeat
    // mm_dedup's sha256. Oracle replays the per-byte block sums, the
    // two-half signature assembly, the banding, and the popcount.
    "mm_near_dedup" -> { (s, dir) =>
      Multimodal.perceptualNearDupPairs(
        Multimodal.perceptualSig(
          Multimodal.demoPerturbedMedia(Tables(s, dir, "documents"))),
        maxDist = 8)
    },

    // Perceptual CLUSTERS → keepers: the transcode pair set collapsed
    // to one representative per connected component (min media_id —
    // the same components operator the text components gate pins),
    // i.e. the drop-list a media dedup stage actually applies.
    "mm_near_dedup_groups" -> { (s, dir) =>
      import s.implicits._
      val pairs = Multimodal.perceptualNearDupPairs(
        Multimodal.perceptualSig(
          Multimodal.demoPerturbedMedia(Tables(s, dir, "documents"))),
        maxDist = 8).select($"id_a", $"id_b")
      val comp = Dedup.connectedComponents(pairs)
      val sizes = comp.groupBy($"comp".as("c"))
        .agg(count(lit(1)).as("grp_size"))
      comp.join(sizes, $"comp" === $"c")
        .select($"id".as("media_id"), $"comp".as("keep_id"), $"grp_size")
    },

    // INCREMENTAL perceptual dedup through the PERSISTED phash index
    // (the media mirror of the text n-gram / embedding sign indexes):
    // the original corpus's banded signature rows are written bucketed
    // by band key once; the transcode-style arrivals probe with a
    // batch-side-only shuffle (corpus side Exchange-free by bucketing)
    // + popcount verify. Oracle replays the full corpus×batch banding.
    "mm_near_dedup_incremental" -> { (s, dir) =>
      import s.implicits._
      val all = Multimodal.demoPerturbedMedia(Tables(s, dir, "documents"))
      val corpus = all.filter($"media_id" < 10000000L)
      val batch = all.filter($"media_id" >= 10000000L)
      val table = phashIndexName(dir)
      Multimodal.writePhashIndex(corpus, table, buckets = 8)
      val res = Multimodal.probePhashIndex(s, table, batch, maxDist = 8)
        .localCheckpoint(true)
      graft.operators.Bucketed.dropBucketed(s, table)
      res
    },

    // MEDIA ingest COMPACTION end-to-end — the perceptual mirror of
    // dedup_compaction: phash-index(C0) → arrival wave B1 (originals
    // %10=5 + 'Z'-transcodes of %10=1) runs the stream's batch stages
    // (sha256 exact → index probe) and its survivors are accepted as
    // batch=0 → MediaIngestStream.compact folds C0 ∪ accepted into
    // index GENERATION 2 through the version pointer and clears the
    // batch dirs (require()d inside the gate) → wave B2 (originals
    // %10=0 + 'Y'-transcodes of B1's originals) probes the COMPACTED
    // index with an EMPTY accepted set. A transcode of an accepted B1
    // asset is caught by the rebuilt INDEX alone — the compaction
    // claim — and the oracle replays both generations from raw bytes
    // (blockhash → banding → popcount, the mmPhashCte machinery over
    // this gate's three-wave media universe).
    "mm_compaction" -> { (s, dir) =>
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val m10 = pmod($"doc_id", lit(10))
      val c0 = d.filter(m10 =!= 0 && m10 =!= 5)
        .select($"doc_id".as("media_id"),
          $"text".cast("binary").as("content"))
      val b1 = d.filter(m10 === 5)
        .select($"doc_id".as("media_id"),
          $"text".cast("binary").as("content"))
        .unionByName(d.filter(m10 === 1)
          .select(($"doc_id" + lit(10000000L)).as("media_id"),
            concat(lit("Z"), expr("substring(text, 2)"))
              .cast("binary").as("content")))
      val b2 = d.filter(m10 === 0)
        .select($"doc_id".as("media_id"),
          $"text".cast("binary").as("content"))
        .unionByName(d.filter(m10 === 5)
          .select(($"doc_id" + lit(20000000L)).as("media_id"),
            concat(lit("Y"), expr("substring(text, 2)"))
              .cast("binary").as("content")))
      val table = phashIndexName(dir) + "_cmp"
      val outDir = tmpIndexPath(dir, "graft_mm_cmp_out")
      val stream = graft.streaming.MediaIngestStream
      stream.dropPhashIndex(s, table) // re-run starts from nothing
      Multimodal.writePhashIndex(c0, table, buckets = 8, bands = 4)
      val a1 = stream.applyBatch(s, b1, None, table, maxDist = 8)
      graft.operators.IndexVersions.writeParquet(a1, s"$outDir/batch=0")
      stream.compact(s, c0, table, outDir)
      val leftover = graft.streaming.IngestStream.batchDirs(s, outDir).size
      require(leftover == 0,
        s"media compact left $leftover accepted batch dirs behind")
      val res = stream.applyBatch(s, b2, None, table, maxDist = 8)
        .select($"media_id").localCheckpoint(true)
      stream.dropPhashIndex(s, table)
      res
    },

    // VIDEO-level perceptual dedup: per-frame blockhash (frames = the
    // decode seam's 64-byte sample segments) → banded frame pairs
    // (2×32-bit keys) → per-(video, video) near-identical-frame
    // containment, kept at ≥50% of either side's distinct signatures
    // (exact integer cross-multiplication). The transcode replicas
    // perturb one byte — frame 0 may drift, every other frame matches
    // at dist 0 — the query that catches them as WHOLE videos. Oracle
    // replays frame segmentation, per-frame blockhash, banding, and
    // the containment aggregate from raw bytes.
    "mm_video_near_dedup" -> { (s, dir) =>
      Multimodal.videoNearDupPairs(
        Multimodal.demoPerturbedMedia(Tables(s, dir, "documents")),
        frameBytes = 64, maxDist = 6, bands = 2, minContainPct = 50)
    },

    // LEAKAGE-SAFE MEDIA SPLIT: perceptual near-dup clusters move into
    // train/val/test WHOLE — a transcode pair straddling an evaluation
    // boundary is leakage exactly like a text near-dup pair
    // (pipeline_leakage_split's contract on the perceptual pair set).
    // Composes the gated banded pairs + components + grp-keyed hash
    // split; oracle replays phash pairs, recursive components, and the
    // split rule.
    "mm_leakage_split" -> { (s, dir) =>
      import s.implicits._
      val media = Multimodal.demoPerturbedMedia(Tables(s, dir, "documents"))
      val pairs = Multimodal.perceptualNearDupPairs(
          Multimodal.perceptualSig(media), maxDist = 8)
        .select($"id_a", $"id_b")
      Sampling.leakageSafeSplit(media.select($"media_id"), "media_id",
          pairs)
        .select($"media_id", $"grp", $"split")
    },

    // INCREMENTAL video dedup through the PERSISTED frame index: the
    // catalog's distinct frame signatures written bucketed once (frame-
    // granularity kernel id in the sidecar — an asset-level probe is
    // refused), arriving videos probe with batch-side frames only and
    // report per-(arrival, catalog video) containment. The upload-time
    // "is this a re-encode of anything?" query. Oracle replays frame
    // segmentation, banding, popcount, and the arrival-side containment
    // restricted to batch × catalog.
    "mm_video_incremental" -> { (s, dir) =>
      import s.implicits._
      val all = Multimodal.demoPerturbedMedia(Tables(s, dir, "documents"))
      val corpus = all.filter($"media_id" < 10000000L)
      val batch = all.filter($"media_id" >= 10000000L)
      val table = phashIndexName(dir) + "_vf"
      Multimodal.writeVideoFrameIndex(corpus, table, buckets = 8,
        frameBytes = 64, bands = 2)
      val res = Multimodal.probeVideoFrameIndex(s, table, batch,
          maxDist = 6, minContainPct = 50)
        .localCheckpoint(true)
      graft.operators.Bucketed.dropBucketed(s, table)
      res
    },

    // Aspect-preserving resize PLAN over the decoded image metadata
    // (fit within 960x540, never upscale) — the metadata leg of the
    // stubbed pixel-resample seam; identical IEEE double ops replay in
    // the oracle, integer outputs.
    "mm_resize" -> { (s, dir) =>
      Multimodal.resizePlan(
        Multimodal.decodeMeta(
          Multimodal.demoMediaFromDocuments(Tables(s, dir, "documents"))),
        maxW = 960, maxH = 540)
    }
  )

  private val Shingles =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([lst[i]||' '||lst[i+1]||' '||lst[i+2]
      |                   FOR i IN range(1, len(lst)-1)]) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS lst
      |        FROM documents))""".stripMargin

  /** Boilerplate-removal oracle — shared byte-identical by the
    * string-keyed (`text_boilerplate`) and hash-keyed
    * (`text_boilerplate_hashed`) layouts: both promise the same output.
    */
  private val BoilerplateOracle =
    """WITH t AS (SELECT doc_id,
      |    regexp_split_to_array(trim(text),'\s+') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |c AS (SELECT doc_id, toks,
      |    unnest(range(0, (len(toks) + 9) // 10)) AS idx FROM t),
      |ch AS (SELECT doc_id, idx,
      |    array_to_string(toks[idx*10+1 : idx*10+10], ' ') AS blk FROM c),
      |f AS (SELECT blk, count(*) AS cnt FROM ch GROUP BY blk)
      |SELECT ch.doc_id,
      |  coalesce(string_agg(ch.blk, ' ' ORDER BY ch.idx)
      |    FILTER (WHERE f.cnt < 3), '') AS clean_text,
      |  CAST(count(*) AS BIGINT) AS n_blocks,
      |  CAST(count(*) FILTER (WHERE f.cnt >= 3) AS BIGINT) AS n_removed
      |FROM ch JOIN f ON ch.blk = f.blk
      |GROUP BY ch.doc_id""".stripMargin

  /** Content-defined-chunking boilerplate oracle: replays the
    * wordChunksCDC grid exactly — cut AFTER any token whose 60-bit
    * md5-prefix is ≡ 0 mod 10, forced sub-split every 20 tokens since
    * the last cut. The sequential kernel decomposes into two window
    * passes: natural group = cumulative count of cut tokens STRICTLY
    * before i (a cut token is the last token of its own group), and
    * the forced splits within a group land every 20 tokens from the
    * group's first token — (i - min(i) over group) // 20.
    */
  private val CdcBoilerplateOracle =
    """WITH t AS (SELECT doc_id,
      |    regexp_split_to_array(trim(text),'\s+') AS toks
      |  FROM documents WHERE trim(text) <> ''),
      |tk AS (SELECT doc_id, toks,
      |    unnest(range(1, len(toks) + 1)) AS i FROM t),
      |w AS (SELECT doc_id, i, toks[i] AS w,
      |    CASE WHEN ('0x'||substr(md5(toks[i]),1,15))::BIGINT % 10 = 0
      |         THEN 1 ELSE 0 END AS cut FROM tk),
      |g AS (SELECT doc_id, i, w,
      |    coalesce(SUM(cut) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
      |  FROM w),
      |gs AS (SELECT doc_id, i, w, grp,
      |    (i - MIN(i) OVER (PARTITION BY doc_id, grp)) // 20 AS sub
      |  FROM g),
      |ch AS (SELECT doc_id, grp, sub, min(i) AS ord,
      |    string_agg(w, ' ' ORDER BY i) AS blk
      |  FROM gs GROUP BY doc_id, grp, sub),
      |f AS (SELECT blk, count(*) AS cnt FROM ch GROUP BY blk)
      |SELECT ch.doc_id,
      |  coalesce(string_agg(ch.blk, ' ' ORDER BY ch.ord)
      |    FILTER (WHERE f.cnt < 3), '') AS clean_text,
      |  CAST(count(*) AS BIGINT) AS n_blocks,
      |  CAST(count(*) FILTER (WHERE f.cnt >= 3) AS BIGINT) AS n_removed
      |FROM ch JOIN f ON ch.blk = f.blk
      |GROUP BY ch.doc_id""".stripMargin

  /** Distinct overlapping 8-token spans per doc — the k=8 analogue of
    * [[Shingles]] (mirrors the wordShingles kernel; the <8-token
    * whole-doc branch is unreachable on the testdata, min 10 tokens).
    */
  private val Spans8 =
    """WITH sp8 AS (
      |  SELECT doc_id,
      |    list_distinct([lst[i]||' '||lst[i+1]||' '||lst[i+2]||' '||
      |                   lst[i+3]||' '||lst[i+4]||' '||lst[i+5]||' '||
      |                   lst[i+6]||' '||lst[i+7]
      |                   FOR i IN range(1, len(lst)-6)]) AS sp
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS lst
      |        FROM documents))""".stripMargin

  /** Duplicate-cluster oracle (recursive min-label reachability over the
    * exact jaccard pair set, undirected) — shared verbatim by
    * `dedup_components` and `dedup_components_star`, which hands the
    * operator the same pairs reversed: the output must not depend on
    * edge direction.
    */
  private val ComponentsOracle: String =
    Shingles.replaceFirst("WITH sh", "WITH RECURSIVE sh") +
      """,
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)) AS DOUBLE) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
        |sizes AS (SELECT comp AS c, CAST(count(*) AS BIGINT) AS comp_size
        |          FROM comp GROUP BY comp)
        |SELECT comp.id, comp.comp, sizes.comp_size
        |FROM comp JOIN sizes ON comp.comp = sizes.c""".stripMargin

  /** Shared CTE for the multimodal oracles: the StubDecoder's metadata
    * derivation replayed in DuckDB. `u` is the first 8 sha256 bytes as
    * unsigned; Java's signed big-endian long `h` relates as
    * h = u - 2^64·[u ≥ 2^63], and since 2^64 ≡ 0 (mod 8) the mod-8
    * terms use `u` directly; the 600000/3600000 mods apply the signed
    * correction (`hs`).
    */
  private val mmMetaCte: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
      |    (['png','wav','mp4'])[(doc_id % 3) + 1] AS format,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |    sha256(text) AS sh
      |  FROM documents),
      |hx AS (
      |  SELECT *, ('0x' || substr(sh, 1, 16))::UBIGINT::HUGEINT AS u FROM m),
      |h AS (
      |  SELECT *, CASE WHEN u >= 9223372036854775808
      |    THEN u - 18446744073709551616 ELSE u END AS hs FROM hx),
      |meta AS (
      |  SELECT media_id, kind, format, byte_len, sh AS sha256,
      |    CAST(CASE kind WHEN 'image' THEN 640 + (u % 8) * 160
      |      WHEN 'video' THEN 1280 ELSE 0 END AS INT) AS width,
      |    CAST(CASE kind WHEN 'image' THEN 360 + ((u // 256) % 8) * 90
      |      WHEN 'video' THEN 720 ELSE 0 END AS INT) AS height,
      |    CAST(CASE kind
      |      WHEN 'audio' THEN 1000 + ((hs % 600000) + 600000) % 600000
      |      WHEN 'video' THEN 1000 + ((hs % 3600000) + 3600000) % 3600000
      |      ELSE 0 END AS BIGINT) AS duration_ms,
      |    CAST(CASE kind WHEN 'audio' THEN 16000 ELSE 0 END AS INT) AS sample_rate
      |  FROM h)""".stripMargin

  /** Shared CTE for the perceptual-hash oracles: the blockhash kernel
    * replayed per BYTE (the payload is hex-encoded and each byte
    * re-parsed from its hex pair, so non-ASCII payloads hash their
    * UTF-8 bytes exactly like the Spark kernel — ord()/length() would
    * count codepoints), the 64-bit signature assembled from two 32-bit
    * halves through HUGEINT with the signed correction (an EMPTY
    * payload produces no byte rows and left-joins to phash 0, matching
    * `blockHash64`'s empty→0 contract), and the 4×16-bit band keys by
    * HUGEINT division. Ends at `bands(media_id, phash, key, band)`.
    */
  private val mmPhashTail: String =
    """
      |  SELECT media_id, L, p,
      |    ('0x' || substr(hx, CAST(p AS INT) * 2 + 1, 2))::INT AS v
      |  FROM (SELECT media_id, hex(encode(payload)) AS hx,
      |          CAST(octet_length(encode(payload)) AS BIGINT) AS L,
      |          CAST(unnest(range(octet_length(encode(payload)))) AS BIGINT) AS p
      |        FROM media)),
      |bs AS (
      |  SELECT media_id, L, (p * 64) // L AS b, SUM(v) AS s,
      |    COUNT(*) AS n
      |  FROM chars GROUP BY media_id, L, (p * 64) // L),
      |tot AS (SELECT media_id, SUM(s) AS t FROM bs GROUP BY media_id),
      |bits AS (
      |  SELECT bs.media_id, bs.b,
      |    CASE WHEN bs.s * bs.L > tot.t * bs.n THEN 1 ELSE 0 END AS bit
      |  FROM bs JOIN tot USING (media_id)),
      |halves AS (
      |  SELECT media_id,
      |    SUM(CASE WHEN b < 32 THEN bit * (1::BIGINT << CAST(b AS INT))
      |        ELSE 0 END) AS lo,
      |    SUM(CASE WHEN b >= 32 THEN bit * (1::BIGINT << CAST(b - 32 AS INT))
      |        ELSE 0 END) AS hi
      |  FROM bits GROUP BY media_id),
      |uh AS (
      |  SELECT m.media_id,
      |    COALESCE(h.hi, 0)::HUGEINT * 4294967296 + COALESCE(h.lo, 0) AS u
      |  FROM media m LEFT JOIN halves h USING (media_id)),
      |sigs AS (
      |  SELECT media_id, u,
      |    CAST(CASE WHEN u >= 9223372036854775808
      |      THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS phash
      |  FROM uh),
      |bands AS (
      |  SELECT s.media_id, s.phash,
      |    CAST((s.u // (CASE k.k WHEN 0 THEN 1 WHEN 1 THEN 65536
      |      WHEN 2 THEN 4294967296
      |      ELSE 281474976710656 END)::HUGEINT) % 65536 AS BIGINT) AS key,
      |    k.k AS band
      |  FROM sigs s, (SELECT unnest([0, 1, 2, 3]) AS k) k)""".stripMargin

  private def mmPhashCteFor(mediaBody: String): String =
    s"""WITH media AS (
      |$mediaBody),
      |chars AS (""".stripMargin + mmPhashTail

  private val mmPhashCte: String = mmPhashCteFor(
    """  SELECT doc_id AS media_id, text AS payload FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS media_id,
      |    'Z' || substr(text, 2) AS payload
      |  FROM documents WHERE doc_id % 7 = 0""".stripMargin)


  /** Full re-derivation of the Rademacher-LSH index, parameterized on
    * plane count and shared by the in-memory (`sim_topk_lsh`, 8 planes)
    * and on-disk (`sim_topk_disk`, 6 planes — 64 partition directories:
    * the pruned-probe plan shape at a commit-protocol cost that fits the
    * gate SF) gates; each replays its own bucket/probe/rank bit-for-bit.
    */
  private def lshTopKOracle(planes: Int): String =
      s"""WITH signs AS (
        |  SELECT p.i AS p, d.i AS dim,
        |    CASE WHEN (('0x'||substr(md5('42:'||p.i||':'||d.i),1,15))::BIGINT
        |               & 1) = 1 THEN 1 ELSE -1 END AS s
        |  FROM range($planes) p(i), range(64) d(i)),
        |quant AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000.0)
        |      AS BIGINT) AS t
        |  FROM embeddings),
        |dots AS (
        |  SELECT q.vec_id, s.p, SUM(q.t * s.s) AS d
        |  FROM quant q JOIN signs s ON q.dim = s.dim
        |  GROUP BY q.vec_id, s.p),
        |sigs AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END)
        |      AS BIGINT) AS sig
        |  FROM dots GROUP BY vec_id),
        |flips AS (
        |  SELECT 0::BIGINT AS f
        |  UNION ALL SELECT (1::BIGINT << i) FROM range($planes) t(i)
        |  UNION ALL SELECT (1::BIGINT << a.i) | (1::BIGINT << b.i)
        |    FROM range($planes) a(i), range($planes) b(i) WHERE b.i > a.i),
        |cands AS (
        |  SELECT DISTINCT qs.vec_id AS qid, cs.vec_id AS id
        |  FROM sigs qs, flips f, sigs cs
        |  WHERE qs.vec_id < 10 AND cs.sig = xor(qs.sig, f.f)
        |    AND cs.vec_id <> qs.vec_id),
        |scored AS (
        |  SELECT c.qid, c.id,
        |    list_cosine_similarity(ce.embedding, qe.embedding) AS cos
        |  FROM cands c
        |  JOIN embeddings ce ON ce.vec_id = c.id
        |  JOIN embeddings qe ON qe.vec_id = c.qid)
        |SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC)
        |      AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin

  /** Shared by `dedup_incremental_near` (recompute path) and
    * `dedup_incremental_disk` (persisted-index path): both promise the
    * batch docs with no cross-split near-dup. Defined ABOVE the oracle
    * map that references it (a val referenced before definition inside
    * the same object captures null — the ComponentsOracle lesson).
    */
  private val IncrementalNearOracle: String = Shingles +
    """,
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
      |    AND CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
      |        CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)) AS DOUBLE) >= 0.5)
      |SELECT doc_id FROM documents
      |WHERE doc_id % 10 = 0 AND doc_id NOT IN (
      |  SELECT id_a FROM pairs WHERE id_a % 10 = 0 AND id_b % 10 <> 0
      |  UNION SELECT id_b FROM pairs WHERE id_b % 10 = 0 AND id_a % 10 <> 0)""".stripMargin

  /** Full-probe-set kNN-join oracle: same integer-exact bucket
    * re-derivation as [[lshTopKOracle]], but every vector is a probe
    * (no qid filter), multi-probe is hamming ≤ 1, and rank ≤ k.
    */
  private def knnJoinOracle(planes: Int, k: Int): String =
      s"""WITH signs AS (
        |  SELECT p.i AS p, d.i AS dim,
        |    CASE WHEN (('0x'||substr(md5('42:'||p.i||':'||d.i),1,15))::BIGINT
        |               & 1) = 1 THEN 1 ELSE -1 END AS s
        |  FROM range($planes) p(i), range(64) d(i)),
        |quant AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000.0)
        |      AS BIGINT) AS t
        |  FROM embeddings),
        |dots AS (
        |  SELECT q.vec_id, s.p, SUM(q.t * s.s) AS d
        |  FROM quant q JOIN signs s ON q.dim = s.dim
        |  GROUP BY q.vec_id, s.p),
        |sigs AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END)
        |      AS BIGINT) AS sig
        |  FROM dots GROUP BY vec_id),
        |flips AS (
        |  SELECT 0::BIGINT AS f
        |  UNION ALL SELECT (1::BIGINT << i) FROM range($planes) t(i)),
        |cands AS (
        |  SELECT DISTINCT qs.vec_id AS qid, cs.vec_id AS id
        |  FROM sigs qs, flips f, sigs cs
        |  WHERE cs.sig = xor(qs.sig, f.f)
        |    AND cs.vec_id <> qs.vec_id),
        |scored AS (
        |  SELECT c.qid, c.id,
        |    list_cosine_similarity(ce.embedding, qe.embedding) AS cos
        |  FROM cands c
        |  JOIN embeddings ce ON ce.vec_id = c.id
        |  JOIN embeddings qe ON qe.vec_id = c.qid)
        |SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC)
        |      AS rank
        |  FROM scored) WHERE rank <= $k""".stripMargin

  val oracles: Map[String, String] = Map(
    // Fixed-point centroids: both engines quantize each float component
    // to round(x*1e7) longs (ties-away on the binary double value) and
    // sum in exact integer arithmetic; the emitted mean is two IEEE
    // divisions of exact integers, so every double is bit-identical.
    // (The SQL's per-(label,dim) COUNT(*) equals the aggregate's
    // per-label vector count only for fixed-dim vectors — true of the
    // embeddings table; ragged inputs would divide differently.)
    "embed_label_centroids" ->
      """WITH u AS (
        |  SELECT label, unnest(range(len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000.0)
        |      AS BIGINT) AS t
        |  FROM embeddings),
        |g AS (SELECT label, CAST(dim AS INT) AS dim,
        |    CAST(SUM(t) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM u GROUP BY label, dim)
        |SELECT label, n, dim,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000000.0 AS centroid_val
        |FROM g""".stripMargin,

    "mm_decode_meta" ->
      (mmMetaCte + "\nSELECT * FROM meta"),

    "mm_frames" ->
      (mmMetaCte + """
        |, frames AS (
        |  SELECT media_id, duration_ms,
        |    CAST(unnest(generate_series(0, (duration_ms - 1) // 5000)) AS BIGINT)
        |      AS frame_idx
        |  FROM meta WHERE kind = 'video' AND duration_ms > 0)
        |SELECT media_id, frame_idx,
        |  CAST(frame_idx * 5000 AS BIGINT) AS frame_ts_ms
        |FROM frames""".stripMargin),

    // Min-id keeper per identical payload hash, kinds preserved.
    "mm_dedup" ->
      (mmMetaCte + """
        |SELECT media_id, kind,
        |  MIN(media_id) OVER (PARTITION BY sha256) AS keep_id,
        |  media_id <> MIN(media_id) OVER (PARTITION BY sha256) AS is_dup
        |FROM meta""".stripMargin),

    // Blockhash replay: per-byte values (hex-pair extraction over the
    // UTF-8 encoding — byte-exact on any payload), balanced 64-block
    // partition by (p*64)//L, exact-integer mean bits, signature
    // assembled from two 32-bit halves through HUGEINT (the mmMetaCte
    // signed-correction trick), 16-bit band keys by HUGEINT division,
    // popcount filter at 8.
    "mm_near_dedup" ->
      (mmPhashCte + """,
        |cands AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |    a.phash AS pa, b.phash AS pb
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key
        |      AND a.media_id < b.media_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INT) AS dist
        |FROM cands WHERE bit_count(xor(pa, pb)) <= 8""".stripMargin),

    // Min-label components over the banded pair set (recursive reach,
    // the ComponentsOracle construction on media pairs).
    "mm_near_dedup_groups" ->
      (mmPhashCte.replaceFirst("WITH media", "WITH RECURSIVE media") + """,
        |pairs AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key
        |      AND a.media_id < b.media_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(lab) AS keep_id FROM reach GROUP BY id),
        |sizes AS (SELECT keep_id AS c, CAST(count(*) AS BIGINT) AS grp_size
        |          FROM comp GROUP BY keep_id)
        |SELECT comp.id AS media_id, comp.keep_id, sizes.grp_size
        |FROM comp JOIN sizes ON comp.keep_id = sizes.c""".stripMargin),

    // The same banding, restricted to corpus (originals) × batch
    // (transcode arrivals) — exactly what the persisted-index probe
    // computes.
    "mm_near_dedup_incremental" ->
      (mmPhashCte + """,
        |cands AS (
        |  SELECT DISTINCT b.media_id AS media_id, a.media_id AS dup_of,
        |    b.phash AS pb, a.phash AS pa
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key
        |  WHERE a.media_id < 10000000 AND b.media_id >= 10000000)
        |SELECT media_id, dup_of,
        |  CAST(bit_count(xor(pa, pb)) AS INT) AS dist
        |FROM cands WHERE bit_count(xor(pa, pb)) <= 8""".stripMargin),

    // Two-generation media-compaction replay over this gate's
    // three-wave universe: B1 = exact keepers (min id per payload) of
    // originals %10=5 + 'Z'-transcodes of %10=1, dropped when any band
    // collides with C0 at Hamming <= 8; generation 2 = C0 union B1
    // survivors; B2 = exact keepers of originals %10=0 +
    // 'Y'-transcodes of %10=5, surviving the same banding against
    // generation 2. The phash machinery is the shared byte-exact CTE.
    "mm_compaction" ->
      (mmPhashCteFor(
        """  SELECT doc_id AS media_id, text AS payload FROM documents
          |  UNION ALL
          |  SELECT doc_id + 10000000 AS media_id,
          |    'Z' || substr(text, 2) AS payload
          |  FROM documents WHERE doc_id % 10 = 1
          |  UNION ALL
          |  SELECT doc_id + 20000000 AS media_id,
          |    'Y' || substr(text, 2) AS payload
          |  FROM documents WHERE doc_id % 10 = 5""".stripMargin) + """,
        |c0b AS (
        |  SELECT * FROM bands
        |  WHERE media_id < 10000000 AND media_id % 10 NOT IN (0, 5)),
        |b1m AS (
        |  SELECT media_id, payload FROM media
        |  WHERE (media_id < 10000000 AND media_id % 10 = 5)
        |     OR (media_id >= 10000000 AND media_id < 20000000)),
        |b1x AS (
        |  SELECT media_id FROM (
        |    SELECT media_id,
        |      MIN(media_id) OVER (PARTITION BY payload) AS kp
        |    FROM b1m) WHERE media_id = kp),
        |b1drop AS (
        |  SELECT DISTINCT q.media_id
        |  FROM bands q JOIN b1x USING (media_id)
        |  JOIN c0b c ON q.band = c.band AND q.key = c.key
        |  WHERE bit_count(xor(q.phash, c.phash)) <= 8),
        |acc1 AS (
        |  SELECT media_id FROM b1x
        |  WHERE media_id NOT IN (SELECT media_id FROM b1drop)),
        |g2b AS (
        |  SELECT * FROM c0b
        |  UNION ALL
        |  SELECT b.* FROM bands b JOIN acc1 USING (media_id)),
        |b2m AS (
        |  SELECT media_id, payload FROM media
        |  WHERE (media_id < 10000000 AND media_id % 10 = 0)
        |     OR media_id >= 20000000),
        |b2x AS (
        |  SELECT media_id FROM (
        |    SELECT media_id,
        |      MIN(media_id) OVER (PARTITION BY payload) AS kp
        |    FROM b2m) WHERE media_id = kp),
        |b2drop AS (
        |  SELECT DISTINCT q.media_id
        |  FROM bands q JOIN b2x USING (media_id)
        |  JOIN g2b c ON q.band = c.band AND q.key = c.key
        |  WHERE bit_count(xor(q.phash, c.phash)) <= 8)
        |SELECT media_id FROM b2x
        |WHERE media_id NOT IN (SELECT media_id FROM b2drop)""".stripMargin),

    // Frame-level blockhash replay: bytes partitioned into 64-byte
    // frames (byte position p → frame p//64, in-frame offset p%64),
    // each frame hashed by the same exact-integer block-mean rule over
    // ITS length, distinct signatures per video, 2×32-bit banding,
    // popcount ≤ 6, containment ≥ 50% by integer cross-multiplication.
    "mm_video_near_dedup" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, text AS payload FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS media_id,
        |    'Z' || substr(text, 2) AS payload
        |  FROM documents WHERE doc_id % 7 = 0),
        |bytes AS (
        |  SELECT media_id, p // 64 AS f, p,
        |    ('0x' || substr(hx, CAST(p AS INT) * 2 + 1, 2))::INT AS v
        |  FROM (SELECT media_id, hex(encode(payload)) AS hx,
        |          CAST(unnest(range(octet_length(encode(payload)))) AS BIGINT) AS p
        |        FROM media WHERE octet_length(encode(payload)) > 0)),
        |fl AS (
        |  SELECT media_id, f, COUNT(*) AS lf FROM bytes
        |  GROUP BY media_id, f),
        |bs AS (
        |  SELECT b.media_id, b.f, fl.lf,
        |    ((b.p - b.f * 64) * 64) // fl.lf AS blk,
        |    SUM(b.v) AS s, COUNT(*) AS n
        |  FROM bytes b JOIN fl ON fl.media_id = b.media_id AND fl.f = b.f
        |  GROUP BY b.media_id, b.f, fl.lf, ((b.p - b.f * 64) * 64) // fl.lf),
        |tot AS (
        |  SELECT media_id, f, SUM(s) AS t FROM bs GROUP BY media_id, f),
        |bits AS (
        |  SELECT bs.media_id, bs.f, bs.blk,
        |    CASE WHEN bs.s * bs.lf > tot.t * bs.n THEN 1 ELSE 0 END AS bit
        |  FROM bs JOIN tot ON tot.media_id = bs.media_id AND tot.f = bs.f),
        |halves AS (
        |  SELECT media_id, f,
        |    SUM(CASE WHEN blk < 32 THEN bit * (1::BIGINT << CAST(blk AS INT))
        |        ELSE 0 END) AS lo,
        |    SUM(CASE WHEN blk >= 32 THEN bit * (1::BIGINT << CAST(blk - 32 AS INT))
        |        ELSE 0 END) AS hi
        |  FROM bits GROUP BY media_id, f),
        |sigs AS (
        |  SELECT DISTINCT media_id,
        |    hi::HUGEINT * 4294967296 + lo AS u,
        |    CAST(CASE WHEN hi::HUGEINT * 4294967296 + lo >= 9223372036854775808
        |      THEN hi::HUGEINT * 4294967296 + lo - 18446744073709551616
        |      ELSE hi::HUGEINT * 4294967296 + lo END AS BIGINT) AS phash
        |  FROM halves),
        |nf AS (
        |  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS frames
        |  FROM sigs GROUP BY media_id),
        |bands AS (
        |  SELECT media_id, phash,
        |    CAST((u // (CASE k.k WHEN 0 THEN 1
        |      ELSE 4294967296 END)::HUGEINT) % 4294967296 AS BIGINT) AS key,
        |    k.k AS band
        |  FROM sigs, (SELECT unnest([0, 1]) AS k) k),
        |mp AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |    a.phash AS pa, b.phash AS pb
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key AND a.media_id < b.media_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 6),
        |agg AS (
        |  SELECT id_a, id_b,
        |    CAST(COUNT(DISTINCT pa) AS BIGINT) AS matched_a,
        |    CAST(COUNT(DISTINCT pb) AS BIGINT) AS matched_b
        |  FROM mp GROUP BY id_a, id_b)
        |SELECT agg.id_a, agg.id_b, agg.matched_a, na.frames AS frames_a,
        |  agg.matched_b, nb.frames AS frames_b
        |FROM agg JOIN nf na ON na.media_id = agg.id_a
        |  JOIN nf nb ON nb.media_id = agg.id_b
        |WHERE agg.matched_a * 100 >= na.frames * 50
        |   OR agg.matched_b * 100 >= nb.frames * 50""".stripMargin,

    // Phash pairs → recursive components → cluster-keyed hash split —
    // the pipeline_leakage_split rule on the perceptual pair set.
    "mm_leakage_split" ->
      (mmPhashCteFor(
        """  SELECT doc_id AS media_id, text AS payload FROM documents
          |  UNION ALL
          |  SELECT doc_id + 10000000 AS media_id,
          |    'Z' || substr(text, 2) AS payload
          |  FROM documents WHERE doc_id % 7 = 0""".stripMargin)
        .replaceFirst("WITH media", "WITH RECURSIVE media") + """,
        |pairs AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key
        |      AND a.media_id < b.media_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
        |g AS (SELECT m.media_id, coalesce(c.comp, m.media_id) AS grp
        |      FROM media m LEFT JOIN comp c ON c.id = m.media_id)
        |SELECT media_id, grp, CASE
        |    WHEN ((grp % 1000003) * 2654435761) % 1000003 % 100 < 80 THEN 'train'
        |    WHEN ((grp % 1000003) * 2654435761) % 1000003 % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM g""".stripMargin),

    // Frame replay restricted to batch × catalog with ARRIVAL-side
    // containment: distinct matched arrival signatures per
    // (arrival, catalog video), kept at >= 50% of the arrival's
    // distinct signature count.
    "mm_video_incremental" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, text AS payload FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS media_id,
        |    'Z' || substr(text, 2) AS payload
        |  FROM documents WHERE doc_id % 7 = 0),
        |bytes AS (
        |  SELECT media_id, p // 64 AS f, p,
        |    ('0x' || substr(hx, CAST(p AS INT) * 2 + 1, 2))::INT AS v
        |  FROM (SELECT media_id, hex(encode(payload)) AS hx,
        |          CAST(unnest(range(octet_length(encode(payload)))) AS BIGINT) AS p
        |        FROM media WHERE octet_length(encode(payload)) > 0)),
        |fl AS (
        |  SELECT media_id, f, COUNT(*) AS lf FROM bytes
        |  GROUP BY media_id, f),
        |bs AS (
        |  SELECT b.media_id, b.f, fl.lf,
        |    ((b.p - b.f * 64) * 64) // fl.lf AS blk,
        |    SUM(b.v) AS s, COUNT(*) AS n
        |  FROM bytes b JOIN fl ON fl.media_id = b.media_id AND fl.f = b.f
        |  GROUP BY b.media_id, b.f, fl.lf, ((b.p - b.f * 64) * 64) // fl.lf),
        |tot AS (
        |  SELECT media_id, f, SUM(s) AS t FROM bs GROUP BY media_id, f),
        |bits AS (
        |  SELECT bs.media_id, bs.f, bs.blk,
        |    CASE WHEN bs.s * bs.lf > tot.t * bs.n THEN 1 ELSE 0 END AS bit
        |  FROM bs JOIN tot ON tot.media_id = bs.media_id AND tot.f = bs.f),
        |halves AS (
        |  SELECT media_id, f,
        |    SUM(CASE WHEN blk < 32 THEN bit * (1::BIGINT << CAST(blk AS INT))
        |        ELSE 0 END) AS lo,
        |    SUM(CASE WHEN blk >= 32 THEN bit * (1::BIGINT << CAST(blk - 32 AS INT))
        |        ELSE 0 END) AS hi
        |  FROM bits GROUP BY media_id, f),
        |sigs AS (
        |  SELECT DISTINCT media_id,
        |    hi::HUGEINT * 4294967296 + lo AS u,
        |    CAST(CASE WHEN hi::HUGEINT * 4294967296 + lo >= 9223372036854775808
        |      THEN hi::HUGEINT * 4294967296 + lo - 18446744073709551616
        |      ELSE hi::HUGEINT * 4294967296 + lo END AS BIGINT) AS phash
        |  FROM halves),
        |nf AS (
        |  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS frames
        |  FROM sigs WHERE media_id >= 10000000 GROUP BY media_id),
        |bands AS (
        |  SELECT media_id, phash,
        |    CAST((u // (CASE k.k WHEN 0 THEN 1
        |      ELSE 4294967296 END)::HUGEINT) % 4294967296 AS BIGINT) AS key,
        |    k.k AS band
        |  FROM sigs, (SELECT unnest([0, 1]) AS k) k),
        |mp AS (
        |  SELECT DISTINCT q.media_id, q.phash AS qp, c.media_id AS dup_of
        |  FROM bands q JOIN bands c
        |    ON q.band = c.band AND q.key = c.key
        |  WHERE q.media_id >= 10000000 AND c.media_id < 10000000
        |    AND bit_count(xor(q.phash, c.phash)) <= 6),
        |agg AS (
        |  SELECT media_id, dup_of,
        |    CAST(COUNT(DISTINCT qp) AS BIGINT) AS matched
        |  FROM mp GROUP BY media_id, dup_of)
        |SELECT agg.media_id, agg.dup_of, agg.matched, nf.frames
        |FROM agg JOIN nf USING (media_id)
        |WHERE agg.matched * 100 >= nf.frames * 50""".stripMargin,

    // The same LEAST/double-scale/floor arithmetic, integer outputs.
    "mm_resize" ->
      (mmMetaCte + """
        |, r AS (
        |  SELECT media_id, width, height,
        |    LEAST(960.0 / width, 540.0 / height, 1.0) AS scale
        |  FROM meta WHERE kind = 'image' AND width > 0 AND height > 0)
        |SELECT media_id, width, height,
        |  CAST(FLOOR(width * scale) AS INT) AS out_width,
        |  CAST(FLOOR(height * scale) AS INT) AS out_height
        |FROM r""".stripMargin),

    "text_stats" ->
      """SELECT doc_id,
        |  CASE WHEN trim(text)='' THEN 0
        |       ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tokens,
        |  length(text) AS n_chars_actual,
        |  length(text) - length(regexp_replace(text,'[.,;:!?()-]','','g')) AS n_punct,
        |  CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS alpha_ratio,
        |  CAST(length(regexp_replace(text,'\s','','g')) AS DOUBLE)
        |    / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE) AS mean_word_len
        |FROM documents""".stripMargin,

    "text_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |          FROM documents),
        |grams AS (
        |  SELECT doc_id, 1 AS k, unnest(toks) AS w FROM t
        |  UNION ALL
        |  SELECT doc_id, 2 AS k,
        |    unnest([toks[i]||' '||toks[i+1] FOR i IN range(1, len(toks))]) AS w
        |  FROM t
        |  UNION ALL
        |  SELECT doc_id, 3 AS k,
        |    unnest([toks[i]||' '||toks[i+1]||' '||toks[i+2]
        |            FOR i IN range(1, len(toks)-1)]) AS w
        |  FROM t),
        |counts AS (SELECT doc_id, k, w, count(*) AS c
        |           FROM grams GROUP BY doc_id, k, w),
        |agg AS (SELECT doc_id,
        |    CAST(count(CASE WHEN k=1 THEN 1 END) AS BIGINT) AS distinct_tokens,
        |    CAST(coalesce(max(CASE WHEN k=1 THEN c END),0) AS BIGINT) AS top_token_count,
        |    CAST(coalesce(max(CASE WHEN k=2 THEN c END),0) AS BIGINT) AS top_bigram_count,
        |    CAST(coalesce(max(CASE WHEN k=3 THEN c END),0) AS BIGINT) AS top_trigram_count
        |  FROM counts GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  a.distinct_tokens, a.top_token_count, a.top_bigram_count,
        |  a.top_trigram_count,
        |  CAST(a.top_trigram_count * 3 AS DOUBLE) / len(t.toks) AS top_trigram_frac
        |FROM t JOIN agg a USING (doc_id)""".stripMargin,

    "text_pii" ->
      ("""WITH p AS (SELECT doc_id,
        |  text || CASE WHEN doc_id % 7 = 0 THEN '""" + PiiSuffix +
        """' ELSE '' END AS t FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    'https?://[A-Za-z0-9./?=&_%+#:~-]+', '[URL]', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+?[0-9][0-9() -]{6,}[0-9]', '[PHONE]', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t, 'https?://[A-Za-z0-9./?=&_%+#:~-]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+?[0-9][0-9() -]{6,}[0-9]')) AS BIGINT) AS n_phones
        |FROM p""").stripMargin,

    "text_corpus_freq" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text),'\s+')) AS w
        |  FROM documents),
        |freq AS (SELECT w, count(*) AS f FROM toks GROUP BY w)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(f) AS BIGINT) AS sum_freq,
        |  CAST(count(CASE WHEN f = 1 THEN 1 END) AS BIGINT) AS hapax_tokens,
        |  CAST(min(f) AS BIGINT) AS min_freq,
        |  CAST(sum(f) AS DOUBLE) / count(*) AS mean_token_freq
        |FROM toks JOIN freq USING (w)
        |GROUP BY doc_id""".stripMargin,

    "text_langid" ->
      """WITH s AS (SELECT doc_id, lang,
        |  len(regexp_extract_all(lower(text),'\b(the|and|of|to|in|is|that|with)\b')) AS s_en,
        |  len(regexp_extract_all(lower(text),'\b(der|die|das|und|ist|nicht|mit|ein)\b')) AS s_de,
        |  len(regexp_extract_all(lower(text),'\b(le|la|les|et|est|dans|pour|une)\b')) AS s_fr,
        |  len(regexp_extract_all(lower(text),'\b(el|los|las|es|en|por|para|una)\b')) AS s_es,
        |  len(regexp_extract_all(text,'[\x{4E00}-\x{9FFF}]')) AS cjk,
        |  length(text) AS n
        |FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN cjk*4 > n THEN 'zh'
        |       WHEN s_en>0 AND s_en>=s_de AND s_en>=s_fr AND s_en>=s_es THEN 'en'
        |       WHEN s_de>0 AND s_de>=s_en AND s_de>=s_fr AND s_de>=s_es THEN 'de'
        |       WHEN s_fr>0 AND s_fr>=s_en AND s_fr>=s_de AND s_fr>=s_es THEN 'fr'
        |       WHEN s_es>0 AND s_es>=s_en AND s_es>=s_de AND s_es>=s_fr THEN 'es'
        |       ELSE 'und' END AS lang_pred
        |FROM s""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text),'\s+',' ','g'))) AS fp
        |FROM documents""".stripMargin,

    "stream_dedup" ->
      """SELECT md5(lower(regexp_replace(trim(
        |    concat_ws('|', user_id, event_type, props)),'\s+',' ','g'))) AS fp,
        |  min(event_id) AS first_event_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM events GROUP BY 1""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        |  CASE WHEN trim(text)='' THEN 0
        |       ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tokens,
        |  len(regexp_extract_all(lower(text),'\b(the|and|of|to|in|is|that|with)\b')) AS stop_hits,
        |  CAST(len(regexp_extract_all(lower(text),'\b(the|and|of|to|in|is|that|with)\b')) AS DOUBLE)
        |    / CAST(len(regexp_split_to_array(trim(text),'\s+')) AS DOUBLE) AS stop_ratio
        |FROM documents""".stripMargin,

    // Full dot-product replay: every uni+bigram term hashes by the
    // 60-bit md5-prefix rule, the weight of its bucket comes from the
    // same residue formula the Spark gate tabulates, and the BIGINT
    // sum + one final division reproduce score_q / model_score
    // bit-for-bit.
    "text_quality_model" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |terms AS (
        |  SELECT doc_id, unnest(toks) AS w FROM t
        |  UNION ALL
        |  SELECT doc_id,
        |    unnest([toks[i]||' '||toks[i+1] FOR i IN range(1, len(toks))])
        |  FROM t),
        |scored AS (
        |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms,
        |    CAST(SUM(
        |      ((('0x'||substr(md5(w),1,15))::BIGINT % 4096)
        |        * 2654435761) % 2000001 - 1000000) AS BIGINT) AS score_q
        |  FROM terms GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(s.n_terms, 0) AS n_terms,
        |  COALESCE(s.score_q, 0) AS score_q,
        |  CASE WHEN COALESCE(s.n_terms, 0) = 0 THEN 0.0
        |       ELSE CAST(s.score_q AS DOUBLE)
        |         / (CAST(s.n_terms AS DOUBLE) * 10000000.0) END AS model_score,
        |  COALESCE(s.score_q, 0) > 0 AS keep
        |FROM documents d LEFT JOIN scored s USING (doc_id)""".stripMargin,

    // Full trainer replay: term stream (uni+bigram occurrences) of the
    // TRAIN split hashed by the 60-bit md5-prefix rule, (bucket, label)
    // counts, weights round(1e7·ln((pos+1)/(neg+1))) — ln over the
    // exactly-rounded IEEE quotient, same as the engine — then the
    // held-out split's dot product re-assembled bucket by bucket.
    "text_quality_train" ->
      """WITH tr AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text),'\s+') AS toks
        |  FROM documents WHERE trim(text) <> '' AND doc_id % 5 <> 0),
        |trt AS (
        |  SELECT doc_id, lang, unnest(toks) AS w FROM tr
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest([toks[i]||' '||toks[i+1] FOR i IN range(1, len(toks))])
        |  FROM tr),
        |cnt AS (
        |  SELECT ('0x'||substr(md5(w),1,15))::BIGINT % 4096 AS bucket,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
        |    SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS neg
        |  FROM trt GROUP BY 1),
        |wts AS (
        |  SELECT bucket,
        |    CAST(round(10000000.0 * ln((pos + 1.0) / (neg + 1.0)))
        |      AS BIGINT) AS wt
        |  FROM cnt),
        |te AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |  FROM documents WHERE trim(text) <> '' AND doc_id % 5 = 0),
        |tet AS (
        |  SELECT doc_id, unnest(toks) AS w FROM te
        |  UNION ALL
        |  SELECT doc_id,
        |    unnest([toks[i]||' '||toks[i+1] FOR i IN range(1, len(toks))])
        |  FROM te),
        |sc AS (
        |  SELECT t.doc_id, CAST(COUNT(*) AS INT) AS n_terms,
        |    CAST(SUM(COALESCE(wts.wt, 0)) AS BIGINT) AS score_q
        |  FROM (SELECT doc_id,
        |          ('0x'||substr(md5(w),1,15))::BIGINT % 4096 AS bucket
        |        FROM tet) t
        |  LEFT JOIN wts USING (bucket) GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(sc.n_terms, 0) AS n_terms,
        |  COALESCE(sc.score_q, 0) AS score_q,
        |  COALESCE(sc.score_q, 0) > 0 AS keep
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |WHERE d.doc_id % 5 = 0""".stripMargin,

    // Trainer replay + held-out confusion at score_q > 0 — counts via
    // the same term/hash/log-odds construction, rates by exact IEEE
    // division with the zero-denominator guard.
    "text_quality_eval" ->
      """WITH tr AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text),'\s+') AS toks
        |  FROM documents WHERE trim(text) <> '' AND doc_id % 5 <> 0),
        |trt AS (
        |  SELECT doc_id, lang, unnest(toks) AS w FROM tr
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest([toks[i]||' '||toks[i+1] FOR i IN range(1, len(toks))])
        |  FROM tr),
        |cnt AS (
        |  SELECT ('0x'||substr(md5(w),1,15))::BIGINT % 4096 AS bucket,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
        |    SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS neg
        |  FROM trt GROUP BY 1),
        |wts AS (
        |  SELECT bucket,
        |    CAST(round(10000000.0 * ln((pos + 1.0) / (neg + 1.0)))
        |      AS BIGINT) AS wt
        |  FROM cnt),
        |te AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |  FROM documents WHERE trim(text) <> '' AND doc_id % 5 = 0),
        |tet AS (
        |  SELECT doc_id, unnest(toks) AS w FROM te
        |  UNION ALL
        |  SELECT doc_id,
        |    unnest([toks[i]||' '||toks[i+1] FOR i IN range(1, len(toks))])
        |  FROM te),
        |sc AS (
        |  SELECT t.doc_id,
        |    CAST(SUM(COALESCE(wts.wt, 0)) AS BIGINT) AS score_q
        |  FROM (SELECT doc_id,
        |          ('0x'||substr(md5(w),1,15))::BIGINT % 4096 AS bucket
        |        FROM tet) t
        |  LEFT JOIN wts USING (bucket) GROUP BY t.doc_id),
        |ev AS (
        |  SELECT d.lang = 'en' AS lab, COALESCE(sc.score_q, 0) > 0 AS pred
        |  FROM documents d LEFT JOIN sc USING (doc_id)
        |  WHERE d.doc_id % 5 = 0),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN lab AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN NOT lab AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN lab AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT lab AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM ev)
        |SELECT n, tp, fp, fn, tn,
        |  CASE WHEN tp + fp = 0 THEN 0.0
        |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
        |  CASE WHEN tp + fn = 0 THEN 0.0
        |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE) END AS accuracy
        |FROM c""".stripMargin,

    // Promotion-guard replay: both trainings (true + inverted labels)
    // over the shared term stream, both held-out accuracies against
    // the TRUE label, then the decision rule itself — round 1 promotes
    // into the empty root, round 2 is the acc2 >= acc1 comparison
    // (exact IEEE on identical inputs in both engines).
    "text_quality_promote" ->
      """WITH tr AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text),'\s+') AS toks
        |  FROM documents WHERE trim(text) <> '' AND doc_id % 5 <> 0),
        |trt AS (
        |  SELECT doc_id, lang, unnest(toks) AS w FROM tr
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest([toks[i]||' '||toks[i+1] FOR i IN range(1, len(toks))])
        |  FROM tr),
        |cnt AS (
        |  SELECT ('0x'||substr(md5(w),1,15))::BIGINT % 4096 AS bucket,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
        |    SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS neg
        |  FROM trt GROUP BY 1),
        |wts1 AS (
        |  SELECT bucket,
        |    CAST(round(10000000.0 * ln((pos + 1.0) / (neg + 1.0)))
        |      AS BIGINT) AS wt
        |  FROM cnt),
        |wts2 AS (
        |  SELECT bucket,
        |    CAST(round(10000000.0 * ln((neg + 1.0) / (pos + 1.0)))
        |      AS BIGINT) AS wt
        |  FROM cnt),
        |te AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |  FROM documents WHERE trim(text) <> '' AND doc_id % 5 = 0),
        |tet AS (
        |  SELECT doc_id,
        |    ('0x'||substr(md5(w),1,15))::BIGINT % 4096 AS bucket
        |  FROM (
        |    SELECT doc_id, unnest(toks) AS w FROM te
        |    UNION ALL
        |    SELECT doc_id,
        |      unnest([toks[i]||' '||toks[i+1] FOR i IN range(1, len(toks))])
        |    FROM te)),
        |sc1 AS (
        |  SELECT t.doc_id, CAST(SUM(COALESCE(wts1.wt, 0)) AS BIGINT) AS score_q
        |  FROM tet t LEFT JOIN wts1 USING (bucket) GROUP BY t.doc_id),
        |sc2 AS (
        |  SELECT t.doc_id, CAST(SUM(COALESCE(wts2.wt, 0)) AS BIGINT) AS score_q
        |  FROM tet t LEFT JOIN wts2 USING (bucket) GROUP BY t.doc_id),
        |acc1 AS (
        |  SELECT CASE WHEN COUNT(*) = 0 THEN 0.0
        |    ELSE CAST(SUM(CASE WHEN (d.lang = 'en') =
        |        (COALESCE(sc1.score_q, 0) > 0) THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) END AS a
        |  FROM documents d LEFT JOIN sc1 USING (doc_id)
        |  WHERE d.doc_id % 5 = 0),
        |acc2 AS (
        |  SELECT CASE WHEN COUNT(*) = 0 THEN 0.0
        |    ELSE CAST(SUM(CASE WHEN (d.lang = 'en') =
        |        (COALESCE(sc2.score_q, 0) > 0) THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) END AS a
        |  FROM documents d LEFT JOIN sc2 USING (doc_id)
        |  WHERE d.doc_id % 5 = 0)
        |SELECT CAST(1 AS BIGINT) AS round, acc1.a AS cand_accuracy,
        |  -1.0 AS inc_accuracy, TRUE AS promoted,
        |  CAST(1 AS BIGINT) AS generation
        |FROM acc1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), acc2.a, acc1.a, acc2.a >= acc1.a,
        |  CASE WHEN acc2.a >= acc1.a THEN CAST(2 AS BIGINT)
        |       ELSE CAST(1 AS BIGINT) END
        |FROM acc1, acc2""".stripMargin,

    // The scorer replay feeding the per-language budget window: order
    // by (score_q DESC, idScore, doc_id), accumulate n_chars, keep
    // while cum·100 ≤ total·50 — identical BIGINT arithmetic.
    "pipeline_quality_model_budget" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |terms AS (
        |  SELECT doc_id, unnest(toks) AS w FROM t
        |  UNION ALL
        |  SELECT doc_id,
        |    unnest([toks[i]||' '||toks[i+1] FOR i IN range(1, len(toks))])
        |  FROM t),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(SUM(
        |      ((('0x'||substr(md5(w),1,15))::BIGINT % 4096)
        |        * 2654435761) % 2000001 - 1000000) AS BIGINT) AS score_q
        |  FROM terms GROUP BY doc_id),
        |sc AS (
        |  SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS m,
        |    COALESCE(s.score_q, 0) AS score_q
        |  FROM documents d LEFT JOIN scored s USING (doc_id)),
        |wnd AS (
        |  SELECT doc_id, lang, score_q,
        |    CAST(SUM(m) OVER (PARTITION BY lang
        |      ORDER BY score_q DESC,
        |        ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass,
        |    CAST(SUM(m) OVER (PARTITION BY lang) AS BIGINT) AS grp_mass
        |  FROM sc)
        |SELECT doc_id, lang, score_q, cum_mass, grp_mass
        |FROM wnd WHERE cum_mass * 100 <= grp_mass * 50""".stripMargin,

    // Same scorer replay; the cutoff construction instead of the
    // per-doc window — mass per (lang, score) bucket, running over
    // score DESC, min fully-kept score, narrow >= filter.
    "pipeline_quality_model_budget_approx" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |terms AS (
        |  SELECT doc_id, unnest(toks) AS w FROM t
        |  UNION ALL
        |  SELECT doc_id,
        |    unnest([toks[i]||' '||toks[i+1] FOR i IN range(1, len(toks))])
        |  FROM t),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(SUM(
        |      ((('0x'||substr(md5(w),1,15))::BIGINT % 4096)
        |        * 2654435761) % 2000001 - 1000000) AS BIGINT) AS score_q
        |  FROM terms GROUP BY doc_id),
        |sc AS (
        |  SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS m,
        |    COALESCE(s.score_q, 0) AS score_q
        |  FROM documents d LEFT JOIN scored s USING (doc_id)),
        |mb AS (
        |  SELECT lang, score_q AS s, CAST(SUM(m) AS BIGINT) AS bm
        |  FROM sc GROUP BY lang, score_q),
        |cut AS (
        |  SELECT lang, MIN(s) AS cut_score FROM (
        |    SELECT lang, s,
        |      CAST(SUM(bm) OVER (PARTITION BY lang ORDER BY s DESC
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |      CAST(SUM(bm) OVER (PARTITION BY lang) AS BIGINT) AS total
        |    FROM mb)
        |  WHERE cum * 100 <= total * 50 GROUP BY lang)
        |SELECT sc.doc_id, sc.lang, sc.score_q
        |FROM sc JOIN cut USING (lang)
        |WHERE sc.score_q >= cut.cut_score""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(lower(regexp_replace(trim(text),'\s+',' ','g'))) AS text_hash,
        |  min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,

    "dedup_ngram_pairs" -> (Shingles +
      """
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
        |  CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)) AS DOUBLE) AS jaccard
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
        |      CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)) AS DOUBLE) >= 0.5""".stripMargin),

    // Exact replica of the MinHash+LSH pipeline: same signatures
    // (60-bit md5-prefix base, h_i = (x*a_i + b_i) mod 1000003 with
    // a_i = ((i+1)*2654435761 + seed) % P, b_i = (i*40503 + seed) % P,
    // seed = 0x7f4a7c15 = 2135587861 — VectorExprs.minhashCoefs), same
    // 16 bands × 4 rows, same ±3σ estimate prefilter
    // (0.5 - 3*sqrt(.25/64) = 0.3125), same exact-jaccard verify.
    "dedup_minhash_pairs" -> (Shingles +
      """,
        |based AS (
        |  SELECT doc_id, ('0x' || substr(md5(g),1,15))::BIGINT % 1000003 AS x
        |  FROM (SELECT doc_id, unnest(sh) AS g FROM sh)),
        |sig AS (
        |  SELECT doc_id, i,
        |    MIN((x * (((i+1)*2654435761 + 2135587861) % 1000003)
        |         + ((i*40503 + 2135587861) % 1000003)) % 1000003) AS m
        |  FROM based, range(64) t(i)
        |  GROUP BY doc_id, i),
        |bands AS (
        |  SELECT doc_id, i // 4 AS band, list(m ORDER BY i ASC) AS band_key
        |  FROM sig GROUP BY doc_id, i // 4),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |      AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cands c
        |  JOIN sig sa ON sa.doc_id = c.id_a
        |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
        |  GROUP BY c.id_a, c.id_b
        |  HAVING SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0
        |    >= 0.3125)
        |SELECT e.id_a, e.id_b,
        |  CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
        |  CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)) AS DOUBLE) AS jaccard
        |FROM est e
        |JOIN sh a ON a.doc_id = e.id_a
        |JOIN sh b ON b.doc_id = e.id_b
        |WHERE CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
        |  CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)) AS DOUBLE)
        |  >= 0.5""".stripMargin),

    // Exact replica of the 60-bit simhash: per-token 60-bit md5-prefix
    // base (VectorExprs.md5Base60), ±1 vote per bit per token
    // OCCURRENCE (not distinct), bit set when the vote sum is strictly
    // positive; blank/NULL text → empty token array → 0.
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> ''),
        |based AS (
        |  SELECT doc_id, ('0x' || substr(md5(w),1,15))::BIGINT AS x
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, j,
        |    SUM(CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM based, range(60) t(j)
        |  GROUP BY doc_id, j),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)
        |      AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id)
        |SELECT d.doc_id AS id,
        |  CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
        |FROM documents d LEFT JOIN sig s ON s.doc_id = d.doc_id""".stripMargin,

    // Re-derives the banded Rademacher LSH exactly as the Spark side
    // does (Dedup.embeddingNearDupPairs): 16 bands × 6 planes, band
    // seed 42+band*7919, ±1 signs from bit 0 of
    // md5(seed||':'||plane||':'||dim), components quantized to
    // round(x*1e7) BIGINTs, 6 exact-integer plane dots → a 6-bit band
    // signature; candidates = any-band signature equality; then exact
    // cosine ≥ 0.4 over candidates ONLY (pairs every band splits are
    // absent — the point of gating the index, not the brute force).
    "dedup_embed_pairs" ->
      """WITH signs AS (
        |  SELECT b.i AS band, p.i AS p, d.i AS dim,
        |    CASE WHEN (('0x'||substr(md5((42 + b.i*7919)||':'||p.i||':'||d.i),1,15))::BIGINT
        |               & 1) = 1 THEN 1 ELSE -1 END AS s
        |  FROM range(16) b(i), range(6) p(i), range(64) d(i)),
        |quant AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000.0)
        |      AS BIGINT) AS t
        |  FROM embeddings),
        |dots AS (
        |  SELECT q.vec_id, s.band, s.p, SUM(q.t * s.s) AS d
        |  FROM quant q JOIN signs s ON q.dim = s.dim
        |  GROUP BY q.vec_id, s.band, s.p),
        |sigs AS (
        |  SELECT vec_id, band,
        |    CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END)
        |      AS BIGINT) AS sig
        |  FROM dots GROUP BY vec_id, band),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM sigs a JOIN sigs b
        |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
        |SELECT c.id_a, c.id_b
        |FROM cand c
        |JOIN embeddings ea ON ea.vec_id = c.id_a
        |JOIN embeddings eb ON eb.vec_id = c.id_b
        |WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.4""".stripMargin,

    // The auto-banded gate: identical construction to dedup_embed_pairs
    // but the plane count comes from the corpus size via the same
    // integer rule the operator uses (smallest p in [4,48] with
    // 2^p * 30 >= n) — the oracle stays bit-exact at EVERY SF because
    // both engines derive planes from the data with integer arithmetic.
    "dedup_embed_auto" ->
      """WITH pl AS (
        |  SELECT COALESCE(MIN(p.i), 48) AS planes FROM range(4, 49) p(i)
        |  WHERE (1::BIGINT << p.i) * 30 >= (SELECT count(*) FROM embeddings)),
        |signs AS (
        |  SELECT b.i AS band, p.i AS p, d.i AS dim,
        |    CASE WHEN (('0x'||substr(md5((42 + b.i*7919)||':'||p.i||':'||d.i),1,15))::BIGINT
        |               & 1) = 1 THEN 1 ELSE -1 END AS s
        |  FROM range(16) b(i), range(48) p(i), range(64) d(i)
        |  WHERE p.i < (SELECT planes FROM pl)),
        |quant AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000.0)
        |      AS BIGINT) AS t
        |  FROM embeddings),
        |dots AS (
        |  SELECT q.vec_id, s.band, s.p, SUM(q.t * s.s) AS d
        |  FROM quant q JOIN signs s ON q.dim = s.dim
        |  GROUP BY q.vec_id, s.band, s.p),
        |sigs AS (
        |  SELECT vec_id, band,
        |    CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END)
        |      AS BIGINT) AS sig
        |  FROM dots GROUP BY vec_id, band),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM sigs a JOIN sigs b
        |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
        |SELECT c.id_a, c.id_b
        |FROM cand c
        |JOIN embeddings ea ON ea.vec_id = c.id_a
        |JOIN embeddings eb ON eb.vec_id = c.id_b
        |WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.4""".stripMargin,

    // Re-derives the deterministic SemDeDup cells exactly as the Spark
    // side does (semanticPairsSig): ±1 signs from bit 0 of
    // md5('42:'||plane||':'||dim), components quantized to
    // round(x*1e7) BIGINTs, 3 exact-integer plane dots → a 3-bit cell;
    // then exact cosine pairs WITHIN equal cells only (the whole point
    // of the operator: pairs the quantizer splits are absent).
    "dedup_semantic" ->
      """WITH signs AS (
        |  SELECT p.i AS p, d.i AS dim,
        |    CASE WHEN (('0x'||substr(md5('42:'||p.i||':'||d.i),1,15))::BIGINT
        |               & 1) = 1 THEN 1 ELSE -1 END AS s
        |  FROM range(3) p(i), range(64) d(i)),
        |quant AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000.0)
        |      AS BIGINT) AS t
        |  FROM embeddings),
        |dots AS (
        |  SELECT q.vec_id, s.p, SUM(q.t * s.s) AS d
        |  FROM quant q JOIN signs s ON q.dim = s.dim
        |  GROUP BY q.vec_id, s.p),
        |cells AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END)
        |      AS BIGINT) AS cell
        |  FROM dots GROUP BY vec_id)
        |SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
        |FROM cells ca JOIN cells cb
        |  ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
        |JOIN embeddings ea ON ea.vec_id = ca.vec_id
        |JOIN embeddings eb ON eb.vec_id = cb.vec_id
        |WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.4""".stripMargin,

    "dedup_components" -> ComponentsOracle,

    // the same pairs reversed: the identical undirected output
    "dedup_components_star" -> ComponentsOracle,

    // reuses the byte-identical sh + pairs fragments (the cross-split
    // near-dup set is the global pair set restricted to mixed-parity
    // pairs), so --memo-pairs covers this oracle at sf0.1 too. The
    // disk-index gate shares the IDENTICAL text (one materialization):
    // the persisted path promises the same rows as the recompute path.
    "dedup_incremental_near" -> IncrementalNearOracle,
    "dedup_incremental_disk" -> IncrementalNearOracle,

    // Embedding compaction replay, two sign-index generations: gen-1 at
    // the written 6 planes; gen-2 at the plane count the compact
    // re-derives from |C0 ∪ A1| (the scaledPlanes integer rule — same
    // COALESCE(MIN(...)) replay as dedup_embed_auto). Within-batch
    // exact pass groups on the embedding list (identical arrays →
    // min id), matching the stream's exactWithinBatch.
    "dedup_compaction_embed" ->
      """WITH b1x AS (
        |  SELECT min(vec_id) AS vec_id FROM embeddings
        |  WHERE vec_id % 10 = 5 GROUP BY embedding),
        |b2x AS (
        |  SELECT min(vec_id) AS vec_id FROM embeddings
        |  WHERE vec_id % 10 = 0 GROUP BY embedding),
        |quant AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000.0)
        |      AS BIGINT) AS t
        |  FROM embeddings),
        |signs1 AS (
        |  SELECT p.i AS p, d.i AS dim,
        |    CASE WHEN (('0x'||substr(md5('42:'||p.i||':'||d.i),1,15))::BIGINT
        |               & 1) = 1 THEN 1 ELSE -1 END AS s
        |  FROM range(6) p(i), range(64) d(i)),
        |sigs1 AS (
        |  SELECT dd.vec_id,
        |    CAST(SUM(CASE WHEN dd.d > 0 THEN (1::BIGINT << dd.p) ELSE 0 END)
        |      AS BIGINT) AS sig
        |  FROM (SELECT q.vec_id, s.p, SUM(q.t * s.s) AS d
        |        FROM quant q JOIN signs1 s ON q.dim = s.dim
        |        GROUP BY q.vec_id, s.p) dd
        |  GROUP BY dd.vec_id),
        |flips1 AS (
        |  SELECT 0::BIGINT AS f
        |  UNION ALL SELECT (1::BIGINT << i) FROM range(6) t(i)),
        |a1 AS (
        |  SELECT b.vec_id FROM b1x b
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM sigs1 bs, flips1 f, sigs1 cs,
        |      embeddings be, embeddings ce
        |    WHERE bs.vec_id = b.vec_id
        |      AND cs.sig = xor(bs.sig, f.f)
        |      AND cs.vec_id % 10 NOT IN (0, 5)
        |      AND be.vec_id = bs.vec_id AND ce.vec_id = cs.vec_id
        |      AND list_cosine_similarity(be.embedding, ce.embedding) >= 0.4)),
        |cset AS (
        |  SELECT vec_id FROM embeddings WHERE vec_id % 10 NOT IN (0, 5)
        |  UNION ALL SELECT vec_id FROM a1),
        |pl AS (
        |  SELECT COALESCE(MIN(p.i), 48) AS planes FROM range(4, 49) p(i)
        |  WHERE (1::BIGINT << p.i) * 30 >= (SELECT count(*) FROM cset)),
        |signs2 AS (
        |  SELECT p.i AS p, d.i AS dim,
        |    CASE WHEN (('0x'||substr(md5('42:'||p.i||':'||d.i),1,15))::BIGINT
        |               & 1) = 1 THEN 1 ELSE -1 END AS s
        |  FROM range(48) p(i), range(64) d(i)
        |  WHERE p.i < (SELECT planes FROM pl)),
        |sigs2 AS (
        |  SELECT dd.vec_id,
        |    CAST(SUM(CASE WHEN dd.d > 0 THEN (1::BIGINT << dd.p) ELSE 0 END)
        |      AS BIGINT) AS sig
        |  FROM (SELECT q.vec_id, s.p, SUM(q.t * s.s) AS d
        |        FROM quant q JOIN signs2 s ON q.dim = s.dim
        |        GROUP BY q.vec_id, s.p) dd
        |  GROUP BY dd.vec_id),
        |flips2 AS (
        |  SELECT 0::BIGINT AS f
        |  UNION ALL SELECT (1::BIGINT << t.i) FROM range(48) t(i)
        |  WHERE t.i < (SELECT planes FROM pl))
        |SELECT b.vec_id FROM b2x b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM sigs2 bs, flips2 f, sigs2 cs, cset c,
        |    embeddings be, embeddings ce
        |  WHERE bs.vec_id = b.vec_id
        |    AND cs.sig = xor(bs.sig, f.f)
        |    AND cs.vec_id = c.vec_id
        |    AND be.vec_id = bs.vec_id AND ce.vec_id = cs.vec_id
        |    AND list_cosine_similarity(be.embedding, ce.embedding) >= 0.4)""".stripMargin,

    // Two-generation compaction replay: A1 = B1 survivors vs C0 (exact
    // fingerprint within the batch, then pairwise Jaccard vs the
    // corpus); the compacted corpus is C0 ∪ A1; the result is B2's
    // survivors against it under the same two stages.
    "dedup_compaction" -> (Shingles +
      """,
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)) AS DOUBLE) >= 0.5),
        |b1x AS (
        |  SELECT min(doc_id) AS doc_id FROM documents WHERE doc_id % 10 = 5
        |  GROUP BY md5(lower(regexp_replace(trim(text),'\s+',' ','g')))),
        |a1 AS (
        |  SELECT doc_id FROM b1x WHERE doc_id NOT IN (
        |    SELECT id_a FROM pairs
        |    WHERE id_a % 10 = 5 AND id_b % 10 NOT IN (0, 5)
        |    UNION
        |    SELECT id_b FROM pairs
        |    WHERE id_b % 10 = 5 AND id_a % 10 NOT IN (0, 5))),
        |cset AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 10 NOT IN (0, 5)
        |  UNION ALL SELECT doc_id FROM a1),
        |b2x AS (
        |  SELECT min(doc_id) AS doc_id FROM documents WHERE doc_id % 10 = 0
        |  GROUP BY md5(lower(regexp_replace(trim(text),'\s+',' ','g'))))
        |SELECT doc_id FROM b2x WHERE doc_id NOT IN (
        |  SELECT p.id_a FROM pairs p JOIN cset c ON p.id_b = c.doc_id
        |  WHERE p.id_a % 10 = 0
        |  UNION
        |  SELECT p.id_b FROM pairs p JOIN cset c ON p.id_a = c.doc_id
        |  WHERE p.id_b % 10 = 0)""".stripMargin),
    "dedup_incremental_bucketed" -> IncrementalNearOracle,

    "dedup_degree" -> (Shingles +
      """,
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)) AS DOUBLE) >= 0.5)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |  SELECT id_a AS doc_id FROM pairs
        |  UNION ALL SELECT id_b FROM pairs)
        |GROUP BY doc_id""".stripMargin),

    "dedup_representatives" -> (Shingles.replaceFirst("WITH sh", "WITH RECURSIVE sh") +
      """,
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)) AS DOUBLE) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
        |scored AS (
        |  SELECT comp.id, comp.comp, documents.n_chars
        |  FROM comp JOIN documents ON comp.id = documents.doc_id),
        |ranked AS (
        |  SELECT id AS keep_id, comp AS cluster_id,
        |    row_number() OVER (PARTITION BY comp
        |      ORDER BY CAST(n_chars AS DOUBLE) DESC, id ASC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
        |  FROM scored)
        |SELECT keep_id, cluster_id, cluster_size FROM ranked WHERE rn = 1
        |UNION ALL
        |SELECT doc_id, doc_id, CAST(1 AS BIGINT) FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM comp)""".stripMargin),

    // ENSEMBLE dedup oracle: both pair constructions replayed (the
    // dedup_representatives jaccard CTE verbatim + the dedup_embed_pairs
    // banding CTE verbatim), unioned, bridged through ONE recursive
    // reachability, then the representative rule + singleton tail.
    "dedup_ensemble" -> (Shingles.replaceFirst("WITH sh", "WITH RECURSIVE sh") +
      """,
        |tpairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)) AS DOUBLE) >= 0.5),
        |signs AS (
        |  SELECT b.i AS band, p.i AS p, d.i AS dim,
        |    CASE WHEN (('0x'||substr(md5((42 + b.i*7919)||':'||p.i||':'||d.i),1,15))::BIGINT
        |               & 1) = 1 THEN 1 ELSE -1 END AS s
        |  FROM range(16) b(i), range(6) p(i), range(64) d(i)),
        |quant AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000.0)
        |      AS BIGINT) AS t
        |  FROM embeddings),
        |dots AS (
        |  SELECT q.vec_id, s.band, s.p, SUM(q.t * s.s) AS d
        |  FROM quant q JOIN signs s ON q.dim = s.dim
        |  GROUP BY q.vec_id, s.band, s.p),
        |sigs AS (
        |  SELECT vec_id, band,
        |    CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END)
        |      AS BIGINT) AS sig
        |  FROM dots GROUP BY vec_id, band),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM sigs a JOIN sigs b
        |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
        |epairs AS (
        |  SELECT c.id_a, c.id_b FROM cand c
        |  JOIN embeddings ea ON ea.vec_id = c.id_a
        |  JOIN embeddings eb ON eb.vec_id = c.id_b
        |  WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.4),
        |pairs AS (SELECT id_a, id_b FROM tpairs UNION
        |          SELECT id_a, id_b FROM epairs),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
        |scored AS (
        |  SELECT comp.id, comp.comp, documents.n_chars
        |  FROM comp JOIN documents ON comp.id = documents.doc_id),
        |ranked AS (
        |  SELECT id AS keep_id, comp AS cluster_id,
        |    row_number() OVER (PARTITION BY comp
        |      ORDER BY CAST(n_chars AS DOUBLE) DESC, id ASC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
        |  FROM scored)
        |SELECT keep_id, cluster_id, cluster_size FROM ranked WHERE rn = 1
        |UNION ALL
        |SELECT doc_id, doc_id, CAST(1 AS BIGINT) FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM comp)""".stripMargin),

    // the TVF route must produce the identical result
    "q_range_tvf" ->
      """SELECT a.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_follow
        |FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey
        | AND b.o_orderdate >= a.o_orderdate
        | AND b.o_orderdate <= a.o_orderdate + INTERVAL 7 DAY
        | AND b.o_orderkey <> a.o_orderkey
        |GROUP BY 1""".stripMargin,

    "q_range_join" ->
      """SELECT a.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_follow
        |FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey
        | AND b.o_orderdate >= a.o_orderdate
        | AND b.o_orderdate <= a.o_orderdate + INTERVAL 7 DAY
        | AND b.o_orderkey <> a.o_orderkey
        |GROUP BY 1""".stripMargin,

    "q_asof_join" ->
      """SELECT event_id, user_id,
        |  (SELECT max(o_orderdate) FROM orders
        |   WHERE o_custkey = user_id AND o_orderdate <= CAST(ts AS TIMESTAMP))
        |    AS last_order_date
        |FROM events""".stripMargin,

    "q_asof_tvf" ->
      """SELECT event_id, user_id,
        |  (SELECT max(o_orderdate) FROM orders
        |   WHERE o_custkey = user_id AND o_orderdate <= CAST(ts AS TIMESTAMP))
        |    AS last_order_date
        |FROM events""".stripMargin,

    "pipeline_curate" ->
      """WITH stats AS (
        |  SELECT doc_id, lang, text,
        |    len(regexp_split_to_array(trim(text),'\s+')) AS n_tokens,
        |    CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE) AS alpha
        |  FROM documents),
        |keep AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM documents
        |  GROUP BY md5(lower(regexp_replace(trim(text),'\s+',' ','g'))))
        |SELECT s.doc_id, s.lang, s.n_tokens
        |FROM stats s JOIN keep k ON s.doc_id = k.doc_id
        |WHERE s.n_tokens >= 20 AND s.alpha > 0.5""".stripMargin,

    "pipeline_source_cap" ->
      """SELECT source, doc_id, rank, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id ASC) AS INT)
        |      AS rank
        |  FROM documents)
        |WHERE rank <= 10""".stripMargin,

    "stream_hourly_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "stream_sliding" ->
      """WITH w AS (SELECT event_type, value,
        |    make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000)
        |      * 900000000 - i * 900000000) AS win_start
        |  FROM events, (SELECT unnest(range(4)) AS i))
        |SELECT win_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,

    "stream_sessions" ->
      """WITH x AS (
        |  SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM x GROUP BY user_id""".stripMargin,

    "sim_topk_ivf" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid, c.vec_id AS id,
        |        list_cosine_similarity(c.embedding, q.qv) AS cos
        |      FROM embeddings c, q WHERE c.vec_id <> q.qid)
        |SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin,

    // full probe (nprobe == nlist) scans every cell of the persisted
    // index, so neither the quantizer nor the committed layout can
    // affect the output — brute oracle (the sim_topk_ivf argument).
    "sim_topk_ivf_disk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid, c.vec_id AS id,
        |        list_cosine_similarity(c.embedding, q.qv) AS cos
        |      FROM embeddings c, q WHERE c.vec_id <> q.qid)
        |SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin,

    // base(2/3) ∪ two appended segments ≡ the full corpus, and both
    // probes run every cell — brute force over ALL embeddings is a
    // true oracle for BOTH phases (pre- and post-compaction).
    "sim_topk_ivf_seg" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid, c.vec_id AS id,
        |        list_cosine_similarity(c.embedding, q.qv) AS cos
        |      FROM embeddings c, q WHERE c.vec_id <> q.qid),
        |r AS (SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM s) WHERE rank <= 5)
        |SELECT p.phase, r.qid, r.id, r.rank
        |FROM r CROSS JOIN (VALUES ('segs'), ('base')) AS p(phase)""".stripMargin,

    // base(2/3) ∪ appended segment ≡ the full corpus; both probes run
    // every cell and rerank >= corpus re-scores every candidate on
    // original vectors — brute force over ALL embeddings is a true
    // oracle for BOTH phases (pre- and post-fold).
    "sim_topk_ivfpq_disk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid, c.vec_id AS id,
        |        list_cosine_similarity(c.embedding, q.qv) AS cos
        |      FROM embeddings c, q WHERE c.vec_id <> q.qid),
        |r AS (SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM s) WHERE rank <= 5)
        |SELECT p.phase, r.qid, r.id, r.rank
        |FROM r CROSS JOIN (VALUES ('segs'), ('base')) AS p(phase)""".stripMargin,

    // rerank >= corpus makes the exact rerank provably equal to brute
    // force (see the queries() comment) — same oracle as sq8/ivf.
    "sim_topk_pq" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid, c.vec_id AS id,
        |        list_cosine_similarity(c.embedding, q.qv) AS cos
        |      FROM embeddings c, q WHERE c.vec_id <> q.qid)
        |SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin,

    "sim_topk_sq8" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid, c.vec_id AS id,
        |        list_cosine_similarity(c.embedding, q.qv) AS cos
        |      FROM embeddings c, q WHERE c.vec_id <> q.qid)
        |SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin,

    // full probe + rerank >= corpus makes both trained stages
    // output-invariant (see the queries() comments) — brute oracle.
    "sim_topk_ivfpq" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid, c.vec_id AS id,
        |        list_cosine_similarity(c.embedding, q.qv) AS cos
        |      FROM embeddings c, q WHERE c.vec_id <> q.qid)
        |SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin,

    "sim_topk_opq" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid, c.vec_id AS id,
        |        list_cosine_similarity(c.embedding, q.qv) AS cos
        |      FROM embeddings c, q WHERE c.vec_id <> q.qid)
        |SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin,

    "pipeline_incremental" ->
      """WITH f AS (SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text),'\s+',' ','g'))) AS fp
        |  FROM documents)
        |SELECT b.doc_id, b.fp
        |FROM f b WHERE b.doc_id % 5 = 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM f c WHERE c.doc_id % 5 <> 0 AND c.fp = b.fp)""".stripMargin,

    "layout_zorder" ->
      """WITH base AS (SELECT o_orderkey,
        |    o_custkey % 65536 AS x, o_orderkey % 65536 AS y FROM orders),
        |s1 AS (SELECT o_orderkey, (x | (x<<8)) & 16711935 AS x,
        |              (y | (y<<8)) & 16711935 AS y FROM base),
        |s2 AS (SELECT o_orderkey, (x | (x<<4)) & 252645135 AS x,
        |              (y | (y<<4)) & 252645135 AS y FROM s1),
        |s3 AS (SELECT o_orderkey, (x | (x<<2)) & 858993459 AS x,
        |              (y | (y<<2)) & 858993459 AS y FROM s2),
        |s4 AS (SELECT o_orderkey, (x | (x<<1)) & 1431655765 AS x,
        |              (y | (y<<1)) & 1431655765 AS y FROM s3)
        |SELECT o_orderkey, x | (y << 1) AS zval FROM s4""".stripMargin,

    "pipeline_stratified" ->
      """SELECT stratum, id, rank FROM (
        |  SELECT lang AS stratum, doc_id AS id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003 ASC, doc_id ASC) AS rank
        |  FROM documents) WHERE rank <= 20""".stripMargin,

    "pipeline_assembly" ->
      """WITH f AS (SELECT doc_id, lang, n_chars,
        |    md5(lower(regexp_replace(trim(text),'\s+',' ','g'))) AS fp
        |  FROM documents),
        |reps AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY fp),
        |surv AS (SELECT f.* FROM f JOIN reps USING (doc_id)),
        |m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
        |  FROM surv GROUP BY lang),
        |q AS (SELECT surv.doc_id, surv.lang, surv.n_chars
        |  FROM surv JOIN m ON surv.lang = m.lang WHERE n_chars > med),
        |s AS (SELECT lang, n_chars, CASE
        |    WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 100 < 80 THEN 'train'
        |    WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split FROM q)
        |SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY split, lang""".stripMargin,

    "pipeline_hygiene" -> (Shingles.replaceFirst("WITH sh", "WITH RECURSIVE sh") +
      """,
        |b AS (SELECT doc_id AS bench_id, unnest(sh) AS ngram
        |      FROM sh WHERE doc_id % 23 = 0),
        |c AS (SELECT doc_id, unnest(sh) AS ngram
        |      FROM sh WHERE doc_id % 23 <> 0),
        |flag AS (SELECT DISTINCT doc_id FROM (
        |    SELECT c.doc_id, b.bench_id, COUNT(*) AS ns
        |    FROM c JOIN b USING (ngram) GROUP BY 1, 2)
        |  WHERE ns >= 3),
        |clean AS (SELECT doc_id FROM documents
        |  WHERE doc_id % 23 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM flag)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM sh a, sh b2 WHERE a.doc_id < b2.doc_id
        |    AND a.doc_id IN (SELECT doc_id FROM clean)
        |    AND b2.doc_id IN (SELECT doc_id FROM clean)
        |    AND CAST(len(list_intersect(a.sh,b2.sh)) AS DOUBLE) /
        |        CAST(len(a.sh)+len(b2.sh)-len(list_intersect(a.sh,b2.sh)) AS DOUBLE) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
        |scored AS (
        |  SELECT comp.id, comp.comp, documents.n_chars
        |  FROM comp JOIN documents ON comp.id = documents.doc_id),
        |reps AS (SELECT id AS doc_id FROM (
        |    SELECT id, row_number() OVER (PARTITION BY comp
        |      ORDER BY CAST(n_chars AS DOUBLE) DESC, id ASC) AS rn
        |    FROM scored) WHERE rn = 1),
        |keepids AS (SELECT doc_id FROM reps
        |  UNION ALL
        |  SELECT doc_id FROM clean
        |  WHERE doc_id NOT IN (SELECT id FROM comp)),
        |capped AS (SELECT source, doc_id, n_chars FROM (
        |    SELECT d.source, d.doc_id, d.n_chars,
        |      row_number() OVER (PARTITION BY d.source
        |        ORDER BY CAST(d.n_chars AS DOUBLE) DESC, d.doc_id ASC)
        |        AS rn
        |    FROM documents d JOIN keepids USING (doc_id)) WHERE rn <= 10)
        |SELECT CASE
        |    WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 100 < 80 THEN 'train'
        |    WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split,
        |  source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM capped GROUP BY 1, 2""".stripMargin),

    // The hygiene stage replay (flag/clean/comp/reps/keepids/capped —
    // shared construction with pipeline_hygiene's oracle) aggregated
    // per stage: in = survivors of earlier stages, kept/dropped split
    // by this stage's membership, masses from n_chars.
    "pipeline_audit" -> (Shingles.replaceFirst("WITH sh", "WITH RECURSIVE sh") +
      """,
        |b AS (SELECT doc_id AS bench_id, unnest(sh) AS ngram
        |      FROM sh WHERE doc_id % 23 = 0),
        |c AS (SELECT doc_id, unnest(sh) AS ngram
        |      FROM sh WHERE doc_id % 23 <> 0),
        |flag AS (SELECT DISTINCT doc_id FROM (
        |    SELECT c.doc_id, b.bench_id, COUNT(*) AS ns
        |    FROM c JOIN b USING (ngram) GROUP BY 1, 2)
        |  WHERE ns >= 3),
        |clean AS (SELECT doc_id FROM documents
        |  WHERE doc_id % 23 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM flag)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM sh a, sh b2 WHERE a.doc_id < b2.doc_id
        |    AND a.doc_id IN (SELECT doc_id FROM clean)
        |    AND b2.doc_id IN (SELECT doc_id FROM clean)
        |    AND CAST(len(list_intersect(a.sh,b2.sh)) AS DOUBLE) /
        |        CAST(len(a.sh)+len(b2.sh)-len(list_intersect(a.sh,b2.sh)) AS DOUBLE) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
        |scored AS (
        |  SELECT comp.id, comp.comp, documents.n_chars
        |  FROM comp JOIN documents ON comp.id = documents.doc_id),
        |reps AS (SELECT id AS doc_id FROM (
        |    SELECT id, row_number() OVER (PARTITION BY comp
        |      ORDER BY CAST(n_chars AS DOUBLE) DESC, id ASC) AS rn
        |    FROM scored) WHERE rn = 1),
        |keepids AS (SELECT doc_id FROM reps
        |  UNION ALL
        |  SELECT doc_id FROM clean
        |  WHERE doc_id NOT IN (SELECT id FROM comp)),
        |capped AS (SELECT doc_id FROM (
        |    SELECT d.doc_id,
        |      row_number() OVER (PARTITION BY d.source
        |        ORDER BY CAST(d.n_chars AS DOUBLE) DESC, d.doc_id ASC)
        |        AS rn
        |    FROM documents d JOIN keepids USING (doc_id)) WHERE rn <= 10),
        |aud0 AS (
        |  SELECT CAST(0 AS BIGINT) AS stage_idx,
        |    'decontaminate' AS stage, d.source,
        |    CAST(COUNT(*) AS BIGINT) AS in_docs,
        |    CAST(SUM(CASE WHEN f.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        |    CAST(SUM(CASE WHEN f.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS dropped_docs,
        |    CAST(SUM(CASE WHEN f.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_mass,
        |    CAST(SUM(CASE WHEN f.doc_id IS NULL THEN 0 ELSE d.n_chars END) AS BIGINT) AS dropped_mass
        |  FROM documents d LEFT JOIN flag f USING (doc_id)
        |  WHERE d.doc_id % 23 <> 0 GROUP BY d.source),
        |aud1 AS (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx,
        |    'representatives' AS stage, d.source,
        |    CAST(COUNT(*) AS BIGINT) AS in_docs,
        |    CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS kept_docs,
        |    CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_docs,
        |    CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 0 ELSE d.n_chars END) AS BIGINT) AS kept_mass,
        |    CAST(SUM(CASE WHEN k.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS dropped_mass
        |  FROM documents d JOIN clean USING (doc_id)
        |  LEFT JOIN keepids k USING (doc_id) GROUP BY d.source),
        |aud2 AS (
        |  SELECT CAST(2 AS BIGINT) AS stage_idx,
        |    'cap_per_source' AS stage, d.source,
        |    CAST(COUNT(*) AS BIGINT) AS in_docs,
        |    CAST(SUM(CASE WHEN cp.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS kept_docs,
        |    CAST(SUM(CASE WHEN cp.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_docs,
        |    CAST(SUM(CASE WHEN cp.doc_id IS NULL THEN 0 ELSE d.n_chars END) AS BIGINT) AS kept_mass,
        |    CAST(SUM(CASE WHEN cp.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS dropped_mass
        |  FROM documents d JOIN keepids USING (doc_id)
        |  LEFT JOIN capped cp USING (doc_id) GROUP BY d.source)
        |SELECT * FROM aud0 UNION ALL
        |SELECT * FROM aud1 UNION ALL
        |SELECT * FROM aud2""".stripMargin),

    // Curate-capstone audit replay: the exact-dedup keeper and both
    // quality floors recomputed per doc, the three stages telescoped
    // (stage N+1 counts only stage N's kept rows), one aggregate per
    // stage over (lang, n_chars).
    "pipeline_audit_curate" ->
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(lower(regexp_replace(trim(text),'\s+',' ','g')))),
        |fl AS (
        |  SELECT d.lang, d.n_chars,
        |    d.doc_id IN (SELECT doc_id FROM keep) AS k1,
        |    d.doc_id IN (SELECT doc_id FROM keep)
        |      AND len(regexp_split_to_array(trim(d.text),'\s+')) >= 20 AS k2,
        |    d.doc_id IN (SELECT doc_id FROM keep)
        |      AND len(regexp_split_to_array(trim(d.text),'\s+')) >= 20
        |      AND CAST(length(regexp_replace(d.text,'[^A-Za-z]','','g')) AS DOUBLE)
        |        / CAST(length(d.text) AS DOUBLE) > 0.5 AS k3
        |  FROM documents d),
        |stg AS (
        |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'exact_dedup' AS stage,
        |    lang, k1 AS kept, n_chars FROM fl
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), 'min_tokens', lang, k2, n_chars
        |  FROM fl WHERE k1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'alpha', lang, k3, n_chars
        |  FROM fl WHERE k2)
        |SELECT stage_idx, stage, lang,
        |  CAST(COUNT(*) AS BIGINT) AS in_docs,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        |  CAST(SUM(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT) AS dropped_docs,
        |  CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_mass,
        |  CAST(SUM(CASE WHEN NOT kept THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_mass
        |FROM stg GROUP BY 1, 2, 3""".stripMargin,

    "text_chunks" ->
      """WITH t AS (SELECT doc_id AS id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |n AS (SELECT id, toks, len(toks) AS n,
        |    (greatest(len(toks) - 50, 0) + 39) // 40 AS last_idx FROM t),
        |c AS (SELECT id, toks, n,
        |    unnest(range(0, last_idx + 1)) AS chunk_idx FROM n)
        |SELECT id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[chunk_idx*40+1 : chunk_idx*40+50], ' ')
        |    AS chunk_text,
        |  CAST(least(50, n - chunk_idx*40) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin,

    "text_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text),'\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1)
        |SELECT doc_id, term, tf, df, rank FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS INT)
        |      AS rank
        |  FROM tf JOIN dfreq USING (term))
        |WHERE rank <= 3""".stripMargin,

    "text_decontam" -> (Shingles +
      """, b AS (SELECT doc_id AS bench_id, len(sh) AS bench_n_sh,
        |          unnest(sh) AS ngram
        |        FROM sh WHERE doc_id % 23 = 0),
        |c AS (SELECT doc_id, unnest(sh) AS ngram
        |      FROM sh WHERE doc_id % 23 <> 0)
        |SELECT c.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(b.bench_n_sh AS DOUBLE) AS frac
        |FROM c JOIN b USING (ngram)
        |GROUP BY 1, 2, b.bench_n_sh HAVING COUNT(*) >= 3""".stripMargin),

    "text_ngram_counts" -> (Shingles +
      """, u AS (SELECT unnest(sh) AS ngram FROM sh)
        |SELECT ngram, CAST(COUNT(*) AS BIGINT) AS df
        |FROM u GROUP BY ngram
        |ORDER BY df DESC, ngram ASC LIMIT 20""".stripMargin),

    "text_boilerplate" -> BoilerplateOracle,

    // the hashed layout promises the SAME output (absent xxhash64
    // collisions, which the gate corpus has none of) — one oracle,
    // byte-identical, for both layouts
    "text_boilerplate_hashed" -> BoilerplateOracle,

    // content-defined chunking: its own oracle — the cut rule is the
    // SQL-replicable md5-prefix hash, so the grid replays exactly
    "text_boilerplate_cdc" -> CdcBoilerplateOracle,

    "text_dup_spans" -> (Spans8 +
      """, u AS (SELECT unnest(sp) AS span FROM sp8)
        |SELECT span, CAST(count(*) AS BIGINT) AS n_docs
        |FROM u GROUP BY span HAVING count(*) >= 2""".stripMargin),

    "text_span_stats" -> (Spans8 +
      """, e AS (SELECT doc_id, len(sp) AS n_sp, unnest(sp) AS span
        |     FROM sp8),
        |d AS (SELECT span FROM e GROUP BY span HAVING count(*) >= 2)
        |SELECT e.doc_id, CAST(max(e.n_sp) AS BIGINT) AS n_spans,
        |  CAST(count(d.span) AS BIGINT) AS n_dup_spans,
        |  CAST(count(d.span) AS DOUBLE) / CAST(max(e.n_sp) AS DOUBLE)
        |    AS dup_frac
        |FROM e LEFT JOIN d ON e.span = d.span
        |GROUP BY e.doc_id""".stripMargin),

    // discovery CTE (distinct windows) shared with text_dup_spans; the
    // scrub side replays POSITIONAL windows, merges covered offsets per
    // doc, and rebuilds the token list around them
    "text_span_scrub" -> (Spans8 +
      """, u AS (SELECT unnest(sp) AS span FROM sp8),
        |d AS (SELECT span FROM u GROUP BY span HAVING count(*) >= 2),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS lst
        |      FROM documents),
        |w AS (SELECT doc_id, unnest(range(1, len(lst)-6)) AS i, lst FROM t),
        |wp AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |    lst[i]||' '||lst[i+1]||' '||lst[i+2]||' '||lst[i+3]||' '||
        |    lst[i+4]||' '||lst[i+5]||' '||lst[i+6]||' '||lst[i+7] AS span
        |  FROM w),
        |cov AS (SELECT doc_id, list(pos) AS starts
        |        FROM wp JOIN d USING (span) GROUP BY doc_id),
        |j AS (SELECT t.doc_id, t.lst, coalesce(cov.starts, []) AS st
        |      FROM t LEFT JOIN cov USING (doc_id)),
        |kf AS (SELECT doc_id, lst,
        |    [lst[p+1] FOR p IN range(0, len(lst))
        |     IF len(list_filter(st, s -> p >= s AND p < s + 8)) = 0] AS keep
        |  FROM j)
        |SELECT doc_id,
        |  coalesce(array_to_string(keep, ' '), '') AS clean_text,
        |  CAST(len(lst) AS BIGINT) AS n_tokens,
        |  CAST(len(lst) - len(keep) AS BIGINT) AS n_removed
        |FROM kf""".stripMargin),

    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |    WHERE event_type = 'signup' GROUP BY user_id),
        |c1 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |    JOIN s1 ON e.user_id = s1.user_id
        |    WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    GROUP BY e.user_id),
        |p1 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |    JOIN c1 ON e.user_id = c1.user_id
        |    WHERE e.event_type = 'purchase' AND e.ts > c1.t2
        |    GROUP BY e.user_id)
        |SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
        |  CAST((SELECT COUNT(*) FROM c1) AS BIGINT) AS n_click_after,
        |  CAST((SELECT COUNT(*) FROM p1) AS BIGINT) AS n_purchase_after""".stripMargin,

    "dedup_fuzzy_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

    "pipeline_split" ->
      """SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT CASE
        |    WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 100 < 80 THEN 'train'
        |    WHEN ((doc_id % 1000003) * 2654435761) % 1000003 % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split, n_chars
        |  FROM documents)
        |GROUP BY split""".stripMargin,

    "pipeline_leakage_split" ->
      (Shingles.replaceFirst("WITH sh", "WITH RECURSIVE sh") +
        """,
          |pairs AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
          |    AND CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /
          |        CAST(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))
          |             AS DOUBLE) >= 0.5),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          |          UNION SELECT id_b, id_a FROM pairs),
          |reach(id, lab) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
          |comp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
          |g AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS grp
          |      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
          |SELECT doc_id, grp, CASE
          |    WHEN ((grp % 1000003) * 2654435761) % 1000003 % 100 < 80 THEN 'train'
          |    WHEN ((grp % 1000003) * 2654435761) % 1000003 % 100 < 90 THEN 'val'
          |    ELSE 'test' END AS split
          |FROM g""".stripMargin),

    // idScore replay: ((id % 1000003) * 2654435761) % 1000003 — exact
    // BIGINT arithmetic in both engines; SUM cast to BIGINT (house
    // rule: DuckDB SUM(int) is HUGEINT).
    "pipeline_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN trim(text)='' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text),'\s+')) END
        |      AS n_tokens,
        |    ((doc_id % 1000003) * 2654435761) % 1000003 AS score
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY score, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, lang, cum_tokens FROM c
        |WHERE cum_tokens <= 4000""".stripMargin,

    // The subword-tokenizer budget gate: n_tokens is the count of
    // leftmost-first matches of the longest-first piece alternation
    // over lower(text) — RE2's alternation preference makes that regex
    // replay the greedy longest-match kernel exactly; the regex source
    // is generated from the SAME Scala vocabulary the kernel runs.
    "pipeline_token_budget_bpe" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text),
        |      '${graft.functions.Tokenizers.bpe.oracleRegex}')) AS n_tokens,
        |    ((doc_id % 1000003) * 2654435761) % 1000003 AS score
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY score, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, lang, cum_tokens FROM c
        |WHERE cum_tokens <= 16000""".stripMargin,

    // Three-stage replay: quality-mass prefix (desc n_chars, hash
    // tiebreak) → subword budget prefix (tokenizer-replay regex) →
    // epoch-1 global rank.
    "pipeline_curriculum" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, n_chars, text,
        |    ((doc_id % 1000003) * 2654435761) % 1000003 AS h
        |  FROM documents),
        |qm AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |      CAST(SUM(n_chars) OVER (PARTITION BY lang
        |        ORDER BY n_chars DESC, h, doc_id ROWS UNBOUNDED PRECEDING)
        |        AS BIGINT) AS cum,
        |      CAST(SUM(n_chars) OVER (PARTITION BY lang) AS BIGINT)
        |        AS total
        |    FROM t) q WHERE cum * 100 <= total * 80),
        |tok AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text),
        |      '${graft.functions.Tokenizers.bpe.oracleRegex}')) AS n_tokens,
        |    ((doc_id % 1000003) * 2654435761) % 1000003 AS score
        |  FROM qm),
        |bud AS (
        |  SELECT doc_id, lang FROM (
        |    SELECT doc_id, lang,
        |      CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |        ORDER BY score, doc_id ROWS UNBOUNDED PRECEDING)
        |        AS BIGINT) AS cum
        |    FROM tok) b WHERE cum <= 8000)
        |SELECT doc_id, lang,
        |  CAST(row_number() OVER (
        |    ORDER BY ((doc_id % 1000003) *
        |      ${graft.operators.Sampling.epochMultiplier(1)}) % 1000003,
        |      doc_id) AS BIGINT) AS shuffle_rank
        |FROM bud""".stripMargin,

    // Same BIGINT floor-division rate derivation + idScore hash keep
    // rule; `//` is DuckDB's floor division (operands positive, so it
    // matches Spark's `div` exactly).
    "pipeline_mix_tokens" ->
      """WITH m AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS gmass
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(gmass) AS BIGINT) AS total FROM m),
        |r AS (
        |  SELECT m.source,
        |    LEAST(1000, (t.total * CASE m.source
        |        WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
        |        ELSE 1000 END) // m.gmass) AS rate_pm
        |  FROM m, t)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(d.n_chars) AS BIGINT) AS kept_mass,
        |  CAST(MIN(r.rate_pm) AS BIGINT) AS rate_pm
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE ((d.doc_id % 1000003) * 2654435761) % 1000003 % 1000
        |  < r.rate_pm
        |GROUP BY d.source""".stripMargin,

    // Character n-gram mining replay: letter runs via the same regex,
    // per-length position unnest, occurrence counts, (count DESC,
    // piece) ranking.
    "text_learned_vocab" ->
      """WITH words AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT v.n AS glen, substr(w, s.i, v.n) AS piece
        |  FROM words, (VALUES (2),(3),(4)) v(n),
        |       LATERAL (SELECT unnest(generate_series(1,
        |         len(w) - v.n + 1)) AS i) s
        |  WHERE len(w) >= v.n),
        |counts AS (
        |  SELECT glen, piece, CAST(COUNT(*) AS BIGINT) AS n_occ
        |  FROM grams GROUP BY glen, piece),
        |ranked AS (
        |  SELECT glen, piece, n_occ,
        |    CAST(row_number() OVER (PARTITION BY glen
        |      ORDER BY n_occ DESC, piece) AS BIGINT) AS rk
        |  FROM counts)
        |SELECT CAST(glen AS BIGINT) AS glen, piece, n_occ, rk
        |FROM ranked WHERE rk <= 10""".stripMargin,

    // Per-language naive rank + the same integer stride arithmetic
    // (lcm 6 over weights {en:3, zh:2, default 1}).
    "pipeline_interleave" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    ((doc_id % 1000003) * 2654435761) % 1000003 AS score
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (
        |      PARTITION BY lang ORDER BY score, doc_id) AS BIGINT)
        |      AS src_rank
        |  FROM t)
        |SELECT doc_id, lang, src_rank,
        |  src_rank * (CASE WHEN lang = 'en' THEN 2
        |                   WHEN lang = 'zh' THEN 3
        |                   ELSE 6 END) AS interleave_key
        |FROM r""".stripMargin,

    // The naive global row_number over the idScore order — what the
    // bucketed composition must reproduce exactly.
    "pipeline_shuffle_order" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id)
        |    AS BIGINT) AS shuffle_rank
        |FROM documents""".stripMargin,

    // Epoch 3's affine multiplier, replayed in the naive window — the
    // literal is computed by the SAME Scala function the operator uses.
    "pipeline_shuffle_epoch" ->
      s"""SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY ((doc_id % 1000003) * ${Sampling.epochMultiplier(3)})
        |      % 1000003, doc_id)
        |    AS BIGINT) AS shuffle_rank
        |FROM documents""".stripMargin,

    // The naive global-window prefix sum + integer-division shard
    // boundary the bucketed composition (and the persisted manifest)
    // must reproduce exactly.
    "pipeline_shards" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS doc_mass,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, doc_mass, cum_mass,
        |    (cum_mass - doc_mass) // 20000 AS shard
        |  FROM t),
        |m AS (
        |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS docs,
        |    CAST(SUM(doc_mass) AS BIGINT) AS mass
        |  FROM a GROUP BY shard)
        |SELECT a.doc_id, a.doc_mass, a.cum_mass, a.shard, m.docs, m.mass
        |FROM a JOIN m USING (shard)""".stripMargin,

    // Per-language epoch counts unnested, the epoch-multiplier residue
    // formula replayed literally (epoch 0 = the idScore constant).
    "pipeline_epoch_mix" ->
      """WITH k AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN lang = 'en' THEN 3 WHEN lang = 'zh' THEN 2
        |         ELSE 1 END AS ne
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, lang,
        |    CAST(unnest(generate_series(0, ne - 1)) AS BIGINT) AS epoch
        |  FROM k)
        |SELECT doc_id, lang, epoch,
        |  ((doc_id % 1000003) *
        |    (CASE WHEN epoch = 0 THEN 2654435761
        |          WHEN (2654435761 % 1000003 + epoch * 40503)
        |            % 1000003 = 0 THEN 1
        |          ELSE (2654435761 % 1000003 + epoch * 40503) % 1000003
        |     END)) % 1000003 AS sample_key
        |FROM e""".stripMargin,

    // All three recipe stages replayed: share-rate floor division +
    // hash keep rule, epoch unnest, uid prefix sums + shard division.
    "pipeline_recipe" ->
      """WITH m AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS gmass
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(gmass) AS BIGINT) AS total FROM m),
        |r AS (
        |  SELECT m.source,
        |    LEAST(1000, (t.total * CASE m.source
        |        WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
        |        ELSE 1000 END) // m.gmass) AS rate_pm
        |  FROM m, t),
        |kept AS (
        |  SELECT d.doc_id, d.lang, d.source, d.n_chars
        |  FROM documents d JOIN r ON d.source = r.source
        |  WHERE ((d.doc_id % 1000003) * 2654435761) % 1000003 % 1000
        |    < r.rate_pm),
        |up AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    CAST(unnest(generate_series(0,
        |      CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) AS BIGINT)
        |      AS epoch
        |  FROM kept),
        |u AS (SELECT *, doc_id * 4 + epoch AS uid FROM up),
        |c AS (
        |  SELECT doc_id, lang, source, epoch, uid,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY ((uid % 1000003) * 2654435761) % 1000003, uid
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass,
        |    CAST(n_chars AS BIGINT) AS doc_mass
        |  FROM u)
        |SELECT doc_id, lang, source, epoch, uid, cum_mass,
        |  (cum_mass - doc_mass) // 20000 AS shard
        |FROM c""".stripMargin,

    // Base layout and appended batch each replay their own window; the
    // batch's shard ids offset by the base layout's max + 1.
    "pipeline_shards_append" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS doc_mass,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass
        |  FROM documents WHERE doc_id % 10 <> 0),
        |ab AS (
        |  SELECT doc_id, doc_mass, cum_mass,
        |    (cum_mass - doc_mass) // 20000 AS shard
        |  FROM b),
        |base AS (SELECT MAX(shard) + 1 AS off FROM ab),
        |n AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS doc_mass,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass
        |  FROM documents WHERE doc_id % 10 = 0),
        |an AS (
        |  SELECT doc_id, doc_mass, cum_mass,
        |    base.off + (cum_mass - doc_mass) // 20000 AS shard
        |  FROM n, base),
        |a AS (SELECT * FROM ab UNION ALL SELECT * FROM an),
        |m AS (
        |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS docs,
        |    CAST(SUM(doc_mass) AS BIGINT) AS mass
        |  FROM a GROUP BY shard)
        |SELECT a.doc_id, a.doc_mass, a.cum_mass, a.shard, m.docs, m.mass
        |FROM a JOIN m USING (shard)""".stripMargin,

    // Base + three offset append windows + the fold: shards whose
    // manifest mass is under half the 20000 target re-window on a
    // fresh line numbered above the overall max; survivors keep their
    // original line. Independent replay of the five-stage layout.
    "pipeline_shards_compact" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS doc_mass,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass
        |  FROM documents WHERE doc_id % 10 <> 0),
        |ab AS (
        |  SELECT doc_id, doc_mass, cum_mass,
        |    (cum_mass - doc_mass) // 20000 AS shard
        |  FROM b),
        |o0 AS (SELECT MAX(shard) + 1 AS off FROM ab),
        |n0 AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS doc_mass,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass
        |  FROM documents WHERE doc_id % 10 = 0 AND (doc_id // 10) % 3 = 0),
        |a0 AS (SELECT doc_id, doc_mass, cum_mass,
        |    o0.off + (cum_mass - doc_mass) // 20000 AS shard FROM n0, o0),
        |o1 AS (SELECT MAX(shard) + 1 AS off FROM
        |  (SELECT shard FROM ab UNION ALL SELECT shard FROM a0)),
        |n1 AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS doc_mass,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass
        |  FROM documents WHERE doc_id % 10 = 0 AND (doc_id // 10) % 3 = 1),
        |a1 AS (SELECT doc_id, doc_mass, cum_mass,
        |    o1.off + (cum_mass - doc_mass) // 20000 AS shard FROM n1, o1),
        |o2 AS (SELECT MAX(shard) + 1 AS off FROM
        |  (SELECT shard FROM ab UNION ALL SELECT shard FROM a0
        |   UNION ALL SELECT shard FROM a1)),
        |n2 AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS doc_mass,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass
        |  FROM documents WHERE doc_id % 10 = 0 AND (doc_id // 10) % 3 = 2),
        |a2 AS (SELECT doc_id, doc_mass, cum_mass,
        |    o2.off + (cum_mass - doc_mass) // 20000 AS shard FROM n2, o2),
        |u AS (SELECT * FROM ab UNION ALL SELECT * FROM a0
        |      UNION ALL SELECT * FROM a1 UNION ALL SELECT * FROM a2),
        |m0 AS (SELECT shard, SUM(doc_mass) AS mass FROM u GROUP BY shard),
        |small AS (SELECT shard FROM m0 WHERE mass < 10000),
        |ob AS (SELECT MAX(shard) + 1 AS off FROM m0),
        |f AS (
        |  SELECT doc_id, doc_mass,
        |    CAST(SUM(doc_mass) OVER (
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass
        |  FROM u WHERE shard IN (SELECT shard FROM small)),
        |af AS (SELECT doc_id, doc_mass, cum_mass,
        |    ob.off + (cum_mass - doc_mass) // 20000 AS shard FROM f, ob),
        |fin AS (
        |  SELECT * FROM u WHERE shard NOT IN (SELECT shard FROM small)
        |  UNION ALL SELECT * FROM af),
        |m AS (
        |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS docs,
        |    CAST(SUM(doc_mass) AS BIGINT) AS mass
        |  FROM fin GROUP BY shard)
        |SELECT fin.doc_id, fin.doc_mass, fin.cum_mass, fin.shard,
        |  m.docs, m.mass
        |FROM fin JOIN m USING (shard)""".stripMargin,

    // Per-language mass lines: the window partitions by lang, stride
    // arithmetic unchanged.
    "pipeline_weighted_sample_grouped" ->
      """WITH t AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
        |    CAST(SUM(n_chars) OVER (PARTITION BY lang
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass
        |  FROM documents)
        |SELECT doc_id, lang, cum_mass,
        |  (cum_mass // 1000) - ((cum_mass - w) // 1000) AS picks
        |FROM t
        |WHERE (cum_mass // 1000) - ((cum_mass - w) // 1000) >= 1""".stripMargin,

    // Same prefix sums; a doc is picked iff its (cum-w, cum] interval
    // covers a multiple of the step — identical BIGINT stride
    // arithmetic in both engines.
    "pipeline_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass
        |  FROM documents)
        |SELECT doc_id, cum_mass,
        |  (cum_mass // 2000) - ((cum_mass - w) // 2000) AS picks
        |FROM t
        |WHERE (cum_mass // 2000) - ((cum_mass - w) // 2000) >= 1""".stripMargin,

    // Quality mass, exact path: running n_chars mass per language in
    // (score DESC, idScore, id) order, kept while cum*100 <= total*80 —
    // all BIGINT.
    "pipeline_quality_mass" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    ((doc_id % 1000003) * 2654435761) % 1000003 AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(SUM(n_chars) OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, h, doc_id ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum_mass,
        |    CAST(SUM(n_chars) OVER (PARTITION BY lang) AS BIGINT)
        |      AS grp_mass
        |  FROM t)
        |SELECT doc_id, lang, cum_mass, grp_mass FROM c
        |WHERE cum_mass * 100 <= grp_mass * 80""".stripMargin,

    // Thresholded quality mass: the running mass over (lang, score)
    // buckets in score-DESC order picks the lowest fully-kept score;
    // selection keeps every document at or above it.
    "pipeline_quality_mass_approx" ->
      """WITH m AS (
        |  SELECT lang, n_chars AS s, CAST(SUM(n_chars) AS BIGINT) AS bm
        |  FROM documents GROUP BY lang, n_chars),
        |c AS (
        |  SELECT lang, s,
        |    CAST(SUM(bm) OVER (PARTITION BY lang ORDER BY s DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(bm) OVER (PARTITION BY lang) AS BIGINT) AS total
        |  FROM m),
        |cut AS (
        |  SELECT lang, MIN(s) AS cut_score FROM c
        |  WHERE cum * 100 <= total * 80 GROUP BY lang)
        |SELECT d.doc_id, d.lang FROM documents d
        |JOIN cut ON d.lang = cut.lang AND d.n_chars >= cut.cut_score""".stripMargin,

    // Same idScore/token CTE as the exact gate; the cumsum runs over
    // the (lang, score) bucket aggregate, the cutoff is the last fully
    // fitting score, and the selection filters on it.
    "pipeline_token_budget_approx" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN trim(text)='' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text),'\s+')) END
        |      AS n_tokens,
        |    ((doc_id % 1000003) * 2654435761) % 1000003 AS score
        |  FROM documents),
        |m AS (
        |  SELECT lang, score, CAST(SUM(n_tokens) AS BIGINT) AS bm
        |  FROM t GROUP BY lang, score),
        |c AS (
        |  SELECT lang, score,
        |    CAST(SUM(bm) OVER (PARTITION BY lang ORDER BY score
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM m),
        |cut AS (
        |  SELECT lang, MAX(score) AS cut_score FROM c
        |  WHERE cum <= 4000 GROUP BY lang)
        |SELECT t.doc_id, t.lang FROM t
        |JOIN cut ON t.lang = cut.lang AND t.score <= cut.cut_score""".stripMargin,

    "pipeline_winsorize" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER w AS rk,
        |    count(*) OVER (PARTITION BY lang) AS cnt,
        |    CAST(ntile(10) OVER w AS BIGINT) AS decile
        |  FROM documents
        |  WINDOW w AS (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC)),
        |bounds AS (
        |  SELECT lang,
        |    max(CASE WHEN rk = (cnt * 10 + 99) // 100 THEN n_chars END)
        |      AS lo,
        |    max(CASE WHEN rk = (cnt * 90 + 99) // 100 THEN n_chars END)
        |      AS hi
        |  FROM ranked GROUP BY lang)
        |SELECT r.doc_id, r.lang, r.n_chars, b.lo, b.hi,
        |  least(greatest(r.n_chars, b.lo), b.hi) AS clamped, r.decile
        |FROM ranked r JOIN bounds b USING (lang)""".stripMargin,

    "pipeline_quality_filter" ->
      """WITH m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars
        |FROM documents d JOIN m ON d.lang = m.lang
        |WHERE d.n_chars > m.med
        |GROUP BY d.lang""".stripMargin,

    "pipeline_mix" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents
        |WHERE ((doc_id % 1000003) * 2654435761) % 1000003 % 1000 < CASE source
        |  WHEN 'src0' THEN 100 WHEN 'src1' THEN 500
        |  WHEN 'src2' THEN 0 ELSE 1000 END
        |GROUP BY source""".stripMargin,

    "pipeline_pack" ->
      """WITH t AS (SELECT source AS shard, doc_id AS id,
        |    CAST(ceil(n_chars / 4) AS BIGINT) AS tokens FROM documents),
        |c AS (SELECT shard, id, tokens,
        |    SUM(tokens) OVER (PARTITION BY shard ORDER BY id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM t),
        |p AS (SELECT shard, tokens, (cum - tokens) // 2048 AS bin FROM c)
        |SELECT shard, CAST(bin AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tokens) AS BIGINT) AS bin_tokens,
        |  CAST(SUM(tokens) AS DOUBLE) / 2048 AS fill
        |FROM p GROUP BY shard, bin""".stripMargin,

    // The packing seam gate: identical bin arithmetic, token counts
    // from the tokenizer-replay regex (same generated source as the
    // budget gate's oracle).
    "pipeline_pack_bpe" ->
      s"""WITH t AS (SELECT source AS shard, doc_id AS id,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '${graft.functions.Tokenizers.bpe.oracleRegex}')) AS BIGINT)
        |      AS tokens FROM documents),
        |c AS (SELECT shard, id, tokens,
        |    SUM(tokens) OVER (PARTITION BY shard ORDER BY id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM t),
        |p AS (SELECT shard, tokens, (cum - tokens) // 2048 AS bin FROM c)
        |SELECT shard, CAST(bin AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tokens) AS BIGINT) AS bin_tokens,
        |  CAST(SUM(tokens) AS DOUBLE) / 2048 AS fill
        |FROM p GROUP BY shard, bin""".stripMargin,

    "stream_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS cus
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS pus
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, p.purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.pus >= c.cus AND p.pus <= c.cus + 1800000000""".stripMargin,

    "stream_join_left" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS cus
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS pus
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.purchase_id, c.click_id
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND p.pus >= c.cus AND p.pus <= c.cus + 1800000000""".stripMargin,

    "stream_upsert" ->
      """SELECT user_id, CAST(value AS DOUBLE) AS last_value,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS last_us
        |FROM (SELECT user_id, value, ts,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "q_gapfill" ->
      """WITH slotted AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - epoch_us(CAST(ts AS TIMESTAMP)) % 21600000000 AS slot_us,
        |    ts, event_id, value
        |  FROM events),
        |per_slot AS (
        |  SELECT user_id, slot_us, value AS v FROM (
        |    SELECT user_id, slot_us, value,
        |      row_number() OVER (PARTITION BY user_id, slot_us
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM slotted) WHERE rn = 1),
        |bounds AS (SELECT user_id, min(slot_us) AS t0, max(slot_us) AS t1
        |           FROM per_slot GROUP BY 1),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(t0, t1, 21600000000)) AS slot_us
        |         FROM bounds)
        |SELECT g.user_id, g.slot_us,
        |  (SELECT v FROM per_slot o
        |   WHERE o.user_id = g.user_id AND o.slot_us <= g.slot_us
        |   ORDER BY o.slot_us DESC LIMIT 1) AS v_filled,
        |  EXISTS (SELECT 1 FROM per_slot o
        |          WHERE o.user_id = g.user_id AND o.slot_us = g.slot_us)
        |    AS is_observed
        |FROM grid g""".stripMargin,

    "sim_topk_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid, c.vec_id AS id,
        |        list_cosine_similarity(c.embedding, q.qv) AS cos
        |      FROM embeddings c, q WHERE c.vec_id <> q.qid)
        |SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin,

    // Full re-derivation of the Rademacher-LSH index: ±1 signs from
    // bit 0 of md5('42:'||plane||':'||dim), components quantized to
    // round(x*1e7) BIGINTs, per-plane dots summed exactly, bit p set
    // iff dot > 0; queries probe their bucket plus all hamming<=2
    // flips of 8 planes (1+8+28 buckets). Candidate set matches the
    // Spark index bit-for-bit; ranking mirrors the brute oracle.
    "sim_topk_lsh" -> lshTopKOracle(8),

    "sim_knn_join" -> knnJoinOracle(8, 3),

    // nprobe = nlist ⇒ IVF ≡ brute force (every corpus vector is in
    // some probed cell) — exact self-join top-3 is the true oracle
    "sim_knn_join_ivf" ->
      """WITH s AS (SELECT q.vec_id AS qid, c.vec_id AS id,
        |        list_cosine_similarity(c.embedding, q.embedding) AS cos
        |      FROM embeddings c, embeddings q WHERE c.vec_id <> q.vec_id)
        |SELECT qid, id, rank FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |  FROM s) WHERE rank <= 3""".stripMargin,

    // The embedding ingest probe: single 6-plane signature (seed 42 —
    // the writeSignIndex layout), batch = vec_id % 10 == 0, hamming≤1
    // multi-probe on the batch side, exact cosine ≥ 0.4 verify, then
    // NOT IN → the genuinely-new arrivals. Bit-exact: the signature is
    // the same round(x*1e7)/md5-sign integer arithmetic both engines
    // compute.
    "dedup_incremental_embed" ->
      """WITH signs AS (
        |  SELECT p.i AS p, d.i AS dim,
        |    CASE WHEN (('0x'||substr(md5('42:'||p.i||':'||d.i),1,15))::BIGINT
        |               & 1) = 1 THEN 1 ELSE -1 END AS s
        |  FROM range(6) p(i), range(64) d(i)),
        |quant AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000.0)
        |      AS BIGINT) AS t
        |  FROM embeddings),
        |dots AS (
        |  SELECT q.vec_id, s.p, SUM(q.t * s.s) AS d
        |  FROM quant q JOIN signs s ON q.dim = s.dim
        |  GROUP BY q.vec_id, s.p),
        |sigs AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END)
        |      AS BIGINT) AS sig
        |  FROM dots GROUP BY vec_id),
        |flips AS (
        |  SELECT 0::BIGINT AS f
        |  UNION ALL SELECT (1::BIGINT << i) FROM range(6) t(i)),
        |dup AS (
        |  SELECT DISTINCT bs.vec_id
        |  FROM sigs bs
        |  CROSS JOIN flips f
        |  JOIN sigs cs ON cs.sig = xor(bs.sig, f.f)
        |  JOIN embeddings be ON be.vec_id = bs.vec_id
        |  JOIN embeddings ce ON ce.vec_id = cs.vec_id
        |  WHERE bs.vec_id % 10 = 0 AND cs.vec_id % 10 <> 0
        |    AND list_cosine_similarity(be.embedding, ce.embedding) >= 0.4)
        |SELECT e.vec_id FROM embeddings e
        |WHERE e.vec_id % 10 = 0
        |  AND e.vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin,

    // the on-disk partition-pruned probe replays its 6-plane index
    "sim_topk_disk" -> lshTopKOracle(6)
  )


}
