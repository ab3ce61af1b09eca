package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

import graft.functions.{TopKAgg, VecOps, VectorFunctions}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: queries are the SMALL side — always broadcast; the
  * corpus is scanned exactly once (brute force) or pre-bucketed (LSH).
  * Every top-k operator here, and the persisted indexes' probes, ends in
  * ONE exact-rerank tail, [[exactTopK]]: (qid, id) candidates scored by
  * exact cosine on the raw vectors, self-matches dropped, ranked by the
  * TWO-STAGE exact top-k [[topKRank]] — a bounded-heap aggregate prunes
  * to k rows per (query, partition) map-side, so no single task ever
  * ranks |corpus| rows and the rank shuffle moves k·partitions rows per
  * query instead of the scored corpus. Every IVF operator picks its
  * cells through the one coarse quantizer, [[Quantizer]].
  *
  *  - bruteForceTopK: exact. One corpus scan × |Q| cosine evals, all
  *    inside whole-stage codegen via the native CosineSim expression.
  *  - lshTopK: sign-projection-LSH bucketed. Corpus bucketed once (can be
  *    persisted/bucketed-by in storage at scale); each query probes its
  *    own bucket plus all buckets within hamming ≤ `probeHamming` of its
  *    signature (multi-probe trades compute for recall).
  */
object Similarity {

  /** Exact per-query top-k over a scored frame (qid, id, scoreCol).
    *
    * Stage 1 is the map side of the TopKByScore aggregate: each input
    * partition reduces to ≤k entries per qid before the exchange.
    * Stage 2 merges the per-partition heaps and emits rank 1..k with
    * the same ordering as
    * `row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC)`
    * — bit-identical output to the single-stage window, minus its
    * one-task-per-query scale ceiling.
    */
  private[graft] def topKRank(scored: DataFrame, k: Int,
      scoreCol: String): DataFrame =
    scored.groupBy(col("qid"))
      .agg(TopKAgg.topKByScore(col(scoreCol), col("id"), k).as("topk"))
      .select(col("qid"), explode(col("topk")).as("e"))
      .select(col("qid"), col("e.id").as("id"),
        col("e.score").as(scoreCol), col("e.rank").as("rank"))

  /** The exact-rerank tail of every top-k operator: score (qid, id)
    * candidate rows carrying the corpus vector `cvec` and the query
    * vector `qvec` by exact cosine, drop self-matches (a probe whose qid
    * equals a corpus id is the same vector), and rank the top `k` per
    * query with [[topKRank]] → (qid, id, cosine, rank ≤ k). */
  private[graft] def exactTopK(cands: DataFrame, k: Int): DataFrame =
    topKRank(cands.filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("cvec"), col("qvec")).as("cosine")),
      k, "cosine")

  /** [[exactTopK]] over slim (qid, id) candidates: the vectors join back
    * by key, `corpus(idCol, vecCol)` as `cvec` and `queries(qidCol,
    * vecCol)` as `qvec` (a caller with a small query side passes it
    * `broadcast`). */
  private[graft] def exactTopK(cands: DataFrame, k: Int, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      qidCol: String): DataFrame =
    exactTopK(cands
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("cvec")), "id")
      .join(queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec")),
        "qid"), k)

  /** The compressed-domain scans' tail: self-matches leave the
    * approximate (qid, id, approx) scores BEFORE the cut to the top
    * `rerank` per query, whose candidates get [[exactTopK]] against the
    * ORIGINAL corpus vectors and the broadcast queries. `rerank` ≥ the
    * corpus makes the result exact under any codebook. */
  private[graft] def rerankTopK(approx: DataFrame, rerank: Int, k: Int,
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      qidCol: String): DataFrame =
    exactTopK(topKRank(approx.filter(col("qid") =!= col("id")), rerank,
        "approx").select(col("qid"), col("id")),
      k, corpus, broadcast(queries), idCol, vecCol, qidCol)

  /** Exact cosine top-k. corpus(idCol, vecCol), queries(qidCol, vecCol) →
    * (qid, id, cosine, rank ≤ k).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    exactTopK(c.crossJoin(broadcast(q)), k)
  }

  /** LSH-bucketed ANN top-k with multi-probe. Same output shape as
    * bruteForceTopK; approximate (recall measured in tests).
    *
    * Buckets come from the Rademacher sign-projection signature —
    * exact integer arithmetic end-to-end, so the candidate set is
    * deterministic under any partitioning AND recomputable by an
    * external SQL engine: the gate checks the full (qid, id, rank)
    * output against a DuckDB re-derivation of the same buckets.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
      numPlanes: Int = 12, probeHamming: Int = 1, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"),
      VectorFunctions.rademacherSig(col(vecCol), numPlanes, dims, seed)
        .as("bucket"))
    val q = probeBuckets(queries, Seq(col(qidCol).as("qid"),
      col(vecCol).as("qvec")), col(vecCol), numPlanes, dims, seed, probeHamming)
    // each corpus row sits in one bucket and a query's probe buckets
    // are distinct, so a (qid, id) pair meets at most once: no dedup
    exactTopK(c.join(broadcast(q), Seq("bucket")), k)
  }

  /** The multi-probe side of the sign-bucket operators: the `keep`
    * columns of each row, once per signature within hamming ≤
    * `probeHamming` of `vec`'s ([[hammingFlips]]), as `bucket`. A vector
    * not in `keep` never rides the explode. */
  private[operators] def probeBuckets(rows: DataFrame, keep: Seq[Column],
      vec: Column, planes: Int, dims: Int, seed: Long,
      probeHamming: Int): DataFrame =
    rows.select(keep :+ VectorFunctions.rademacherSig(vec, planes, dims, seed)
        .as("qsig"): _*)
      .withColumn("flip",
        explode(lit(hammingFlips(planes, probeHamming).toArray)))
      .withColumn("bucket", col("qsig").bitwiseXOR(col("flip")))
      .drop("qsig", "flip")

  /** kNN JOIN: top-k nearest corpus vectors for EVERY probe row — the
    * kNN-graph / SemDeDup-prep / diversity-sampling workload where the
    * probe set is the corpus itself (or another large table) and
    * nothing can broadcast. Same integer-exact Rademacher buckets as
    * [[lshTopK]], with the two changes a non-broadcastable probe side
    * forces:
    *  - the bucket match is a SHUFFLE equi-join, not `broadcast(q)`;
    *  - candidate generation moves only (qid, bucket) / (id, bucket) —
    *    vectors join back AFTER candidates are deduped (the
    *    slim-candidates split the banded dedup uses), so the probe
    *    multi-probe expansion (×flips) never multiplies vector bytes
    *    on the wide shuffle. Cross-band dedup is a shuffle-free
    *    min-band filter (each pair survives only in its FIRST colliding
    *    band), not a corpus-wide distinct — see the inline comment.
    *
    * `numPlanes` defaults to AUTO (≤ 0: [[Dedup.scaledPlanes]] over the
    * corpus count): total candidate mass is ~|probes|·flips·n/2^planes
    * — quadratic in n at a FIXED plane count when probes ≈ corpus, the
    * same footgun the banded dedup's auto default exists for. Explicit
    * planes remain for replicable-signature gates.
    *
    * `numBands` is the RECALL knob (≤ 0 = auto). One sign signature is
    * an AND over `planes` bits, so a true neighbor's match probability
    * decays exponentially as the occupancy rule grows planes with the
    * corpus — measured per-band recall 0.207 / 0.080 / 0.045 at
    * 2k/20k/200k (BASELINE.md round-11). Banding is the standard OR
    * repair (MMDS ch.3): `b` independent signatures (seed + band·7919,
    * the [[Dedup.embeddingNearDupPairs]] convention) make recall
    * 1-(1-p)^b at b× candidate mass — 16 bands lifts those same
    * corpora to ~0.97 / 0.74 / 0.52. Auto = 16 when planes are auto
    * too; an EXPLICIT plane count keeps the single-band construction
    * (replicable-signature gates pin bands=1 semantics by passing
    * planes).
    *
    * Probe rows whose `qidCol` equals a corpus `idCol` value are
    * treated as the same vector (self-match excluded) — the self-join
    * convention shared with [[lshTopK]]/[[bruteForceTopK]].
    */
  def knnJoin(corpus: DataFrame, probes: DataFrame, k: Int, dims: Int,
      numPlanes: Int = 0, probeHamming: Int = 1, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", knownCount: Long = -1L,
      numBands: Int = 0): DataFrame = {
    // knownCount: skip the auto-planes count job when the caller
    // already has the corpus row count (catalog stats are free at
    // scale; a second scan of the corpus isn't)
    val planes =
      if (numPlanes > 0) numPlanes
      else Dedup.scaledPlanes(
        if (knownCount >= 0) knownCount
        else corpus.select(col(idCol)).count())
    val bands =
      if (numBands > 0) numBands
      else if (numPlanes > 0) 1
      else 16
    // candidate generation moves ONLY (band, bucket, id) rows — the
    // band explode multiplies slim rows, never vector bytes.
    //
    // Cross-band dedup is a MIN-BAND FILTER, not a distinct: within a
    // band each pair matches at most one flip (the flip is forced to
    // qsig XOR csig), so duplicates arise only across bands, and a pair
    // colliding in band b is kept exactly when no band b' < b collided.
    // Each exploded row therefore carries the PREFIX of its side's band
    // signatures (bands 0..band-1; band 0 carries none, avg (bands-1)/2
    // longs) and a codegen'd per-row kernel (AnyBandCollides) drops the
    // later-band copies locally. The former `.distinct()` over the full
    // candidate set was the single largest stage of the banded join —
    // a double hash aggregate + exchange over ~|probes|·flips·bands·
    // occupancy rows (~1e9 at 200k probes × 16 bands) — and is now zero
    // shuffles (BASELINE.md round-12 kNN table).
    val bandSig = (v: Column, bnd: Int) =>
      VectorFunctions.rademacherSig(v, planes, dims, seed + bnd * 7919L)
    val withPrefix = bands > 1
    // one struct per band: (band, that band's signature, the prefix of
    // earlier-band signatures when bands > 1)
    def bandStructs(sigs: Column) =
      array((0 until bands).map { bnd =>
        if (withPrefix)
          struct(lit(bnd).as("band"), sigs(bnd).as("sig"),
            slice(sigs, 1, bnd).as("prefix"))
        else struct(lit(bnd).as("band"), sigs(bnd).as("sig"))
      }: _*)
    def explodeBands(df: DataFrame, keyIn: String, keyOut: String,
        prefixOut: String): DataFrame = {
      val base = df
        .select(col(keyIn).as(keyOut),
          array((0 until bands).map(bnd => bandSig(col(vecCol), bnd)): _*)
            .as("sigs"))
        .select(col(keyOut), explode(bandStructs(col("sigs"))).as("bb"))
      val cols = Seq(col(keyOut), col("bb.band").as("band"),
        col("bb.sig").as("sig")) ++
        (if (withPrefix) Seq(col("bb.prefix").as(prefixOut)) else Nil)
      base.select(cols: _*)
    }
    val cb = explodeBands(corpus, idCol, "id", "cprefix")
      .withColumnRenamed("sig", "bucket")
    // the min-band filter and the flip enumeration must agree on ONE
    // probe radius: hammingFlips enumerates up to popcount 2, so a
    // probeHamming ≥ 3 would make AnyBandCollides treat a hamming-3
    // earlier band as a collision the join never produced — silently
    // dropping valid pairs. Clamp once, use everywhere.
    val effHamming = math.min(probeHamming, 2)
    val flips: Seq[Long] = hammingFlips(planes, effHamming)
    val qbCols = Seq(col("qid"), col("band"),
      col("sig").bitwiseXOR(col("flip")).as("bucket")) ++
      (if (withPrefix) Seq(col("qprefix")) else Nil)
    val qb = explodeBands(probes, qidCol, "qid", "qprefix")
      .withColumn("flip", explode(lit(flips.toArray)))
      .select(qbCols: _*)
    // the bucket match is pinned SHUFFLE HASH: parquet-scan → explode
    // chains make Catalyst underestimate both exploded sides (Generate
    // keeps the child's size estimate), so the planner would otherwise
    // try to BROADCAST the probe side — |probes|·bands·flips rows,
    // measured 8.5 GiB at the 200k decade, i.e. a driver OOM at any
    // real scale. Neither side of this join is ever broadcastable by
    // this operator's contract; hash (not sort-merge) because the
    // corpus side builds a small per-partition table and neither side
    // benefits from a sort.
    val joined = cb.hint("shuffle_hash").join(qb, Seq("band", "bucket"))
    val cand = (if (withPrefix)
        joined.filter(!VectorFunctions.anyBandCollides(
          col("qprefix"), col("cprefix"), effHamming))
      else joined)
      .select(col("qid"), col("id"))
    exactTopK(cand, k, corpus, probes, idCol, vecCol, qidCol)
  }

  /** IVF kNN JOIN: top-k nearest corpus vectors for every probe row via
    * an inverted-file coarse quantizer — the [[knnJoin]] workload (probe
    * set too large to broadcast) through the [[ivfTopK]] index shape.
    * On clustered corpora IVF beats sign-LSH's recall-per-candidate
    * (cells follow the data's density; hyperplanes don't), and its
    * candidate mass is exactly `nprobe/nlist` of the corpus per probe —
    * no banding multiplier. Measured head-to-head with the banded LSH
    * join in BASELINE.md round-11.
    *
    * Scale shape: the [[Quantizer]] fits in memory on normalized
    * vectors, assigns each corpus row its cell in one narrow pass, and
    * ranks each probe's cells under the same rule; the candidate
    * equi-join on `cell` moves only id/qid pairs and each corpus vector
    * lives in exactly ONE cell, so candidates need no dedup; vectors
    * join back by key for the exact cosine ([[exactTopK]]), once per
    * candidate.
    *
    * `nlist` ≤ 0 derives √n ([[Quantizer.nlistFor]]); `nprobe = nlist`
    * probes every cell, which makes the result PROVABLY equal to brute
    * force (the gate configuration — same argument as sim_topk_ivf's
    * oracle).
    */
  def knnJoinIvf(corpus: DataFrame, probes: DataFrame, k: Int,
      nlist: Int = 0, nprobe: Int = 8, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", knownCount: Long = -1L): DataFrame = {
    val quant = Quantizer.fit(corpus, vecCol,
      Quantizer.nlistFor(corpus, idCol, nlist, knownCount), seed,
      normalize = true)
    val assigned = corpus.select(col(idCol).as("id"),
      quant.assign(Embeddings.normalize(col(vecCol))).as("cell"))
    // the probe cells go through the rank EXCHANGE (Quantizer.probeRanked,
    // the kernel's own score and tie-break), not the NearestCells kernel:
    // the candidate join streams the probe side, so the exchange is what
    // sets the width of the downstream cosine-verify stage. A kernel pass
    // collapsed the 4M-candidate verify onto the probe scan's partition
    // count (2.1 s → 2.9 s warm, OPTIMIZATION_r16.md), and a kernel plus
    // an explicit repartition cost 3.3–3.8 s against the exchange's
    // 2.0–2.7 s at 32 cores (OPTIMIZATION_r17.md): an explicit exchange
    // costs what the rank exchange does and loses its output statistics.
    val probeCells = quant.probeRanked(probes.select(col(qidCol).as("qid"),
      Embeddings.normalize(col(vecCol)).as("qn")), nprobe)
    val cand = assigned.join(probeCells, Seq("cell"))
      .select(col("qid"), col("id"))
    exactTopK(cand, k, corpus, probes, idCol, vecCol, qidCol)
  }

  /** XOR masks enumerating all signatures within hamming distance
    * `probeHamming` of a base signature (identity mask included). */
  private[graft] def hammingFlips(numPlanes: Int,
      probeHamming: Int): Seq[Long] = {
    val singles = (0 until numPlanes).map(1L << _)
    val base = Seq(0L)
    if (probeHamming <= 0) base
    else if (probeHamming == 1) base ++ singles
    else base ++ singles ++ (for {
      i <- 0 until numPlanes; j <- (i + 1) until numPlanes
    } yield (1L << i) | (1L << j))
  }

  /** Persist the corpus as an on-disk ANN index PARTITIONED BY sign
    * bucket — the storage half of the 100-TB LSH shape: at scale the
    * bucketed corpus is written once and every probe afterwards prunes
    * whole directories at scan time instead of scanning the corpus.
    * Bucket = the same exact-integer Rademacher signature
    * [[lshTopK]] buckets by, so [[probeSignIndex]] over this layout is
    * result-identical to the in-memory join.
    *
    * The corpus is hash-repartitioned ON the bucket before the
    * partitioned write: without it every input task writes a sliver of
    * every bucket directory (tasks × 2^planes tiny files — measured 5×
    * the write cost at 256 buckets), with it each bucket's rows land in
    * exactly one task so the file count is O(buckets). Same shuffle a
    * 1000-executor write wants: one exchange, then directory-local
    * sequential writes.
    *
    * `numPlanes` ≤ 0 derives the occupancy-scaled count
    * ([[Dedup.scaledPlanes]] over the corpus size — `knownCount` skips
    * the count job): a FIXED plane count tuned at one corpus size goes
    * quadratic a decade later (measured: the 6-plane index at 180k
    * vectors has 2,800-vector buckets, and a 20k-row batch probe costs
    * 89 s of cosine verification — BASELINE.md round-11). The planes /
    * dims / seed actually used are recorded in a `_graft_sign_meta.json`
    * layout record, the only source [[probeSignIndex]] and
    * [[Dedup.incrementalNewNearDupEmbedDisk]] take them from — the
    * probe side must match the write side bit-for-bit, so the index
    * carries its own configuration the way any real index format does.
    */
  def writeSignIndex(corpus: DataFrame, path: String, dims: Int,
      numPlanes: Int = 8, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Long = -1L): Unit = {
    val planes =
      if (numPlanes > 0) numPlanes
      else Dedup.scaledPlanes(
        if (knownCount >= 0) knownCount
        else corpus.select(col(idCol)).count())
    IndexVersions.writeParquet(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
          VectorFunctions.rademacherSig(col(vecCol), planes, dims, seed)
            .as("bucket"))
        .repartition(col("bucket")),
      path, Seq("bucket"))
    IndexVersions.writeLayout(corpus.sparkSession, path, SignMetaFile,
      "planes" -> planes, "dims" -> dims, "seed" -> seed)
  }

  private val SignMetaFile = "_graft_sign_meta.json"

  /** The (planes, dims, seed) the committed generation of a
    * [[writeSignIndex]] layout was written with, from its layout record
    * — refused with the path and "rebuild" when it has none. `path` is
    * the index ROOT: a compacted index resolves through its version
    * pointer ([[IndexVersions]]) to the committed generation's record.
    */
  def signIndexMeta(spark: SparkSession, path: String): (Int, Int, Long) = {
    val r = IndexVersions.layout(spark,
      IndexVersions.resolvePath(spark, path), SignMetaFile)
    (r.int("planes"), r.int("dims"), r.long("seed"))
  }

  /** Multi-probe ANN top-k over a [[writeSignIndex]] layout, replaying
    * the signature its record names. The probe buckets (|queries| ×
    * (1 + p + p(p−1)/2) longs, queries are small by the ANN contract)
    * become a literal IN-filter, so Catalyst prunes index directories at
    * scan time — the scan reads nprobe/2^p of the corpus, which is the
    * property that survives a 1000-executor scale-up. Past
    * [[IndexVersions.MaxProbeKeys]] distinct buckets the scan is
    * unpruned ([[IndexVersions.pruneToProbed]]). Scoring and rank
    * semantics are exactly [[lshTopK]]'s.
    */
  def probeSignIndex(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, probeHamming: Int = 1,
      qidCol: String = "qid", vecCol: String = "embedding"): DataFrame = {
    val (planes, dims, seed) = signIndexMeta(spark, path)
    val q = probeBuckets(queries, Seq(col(qidCol).as("qid"),
      col(vecCol).as("qvec")), col(vecCol), planes, dims, seed, probeHamming)
    // read the COMMITTED generation: a compacted index resolves through
    // its version pointer, a legacy flat layout through itself. `bucket`
    // is read as the LONG the writer recorded, the probe side's type:
    // the join needs no cast
    val index = IndexVersions.pruneToProbed(IndexVersions.readParquet(spark,
        Seq(IndexVersions.resolvePath(spark, path))), q, "bucket")
      .select(col("id"), col("vec").as("cvec"), col("bucket"))
    exactTopK(index.join(broadcast(q), Seq("bucket")), k)
  }

  /** IVF (inverted-file) ANN: the [[Quantizer]] fits in memory on the
    * normalized corpus, assigns every row its cell, and each query
    * probes its `nprobe` nearest cells under the same rule; candidates
    * get [[exactTopK]] on the raw vectors. The one-shot form of
    * [[IvfIndex]]: with `fitSamplePerCell = 0` there, an index built
    * with the same `nlist` and `seed` probes to the same rows. Per-query
    * work is nprobe/nlist of the corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid"): DataFrame = {
    val quant = Quantizer.fit(corpus, vecCol, nlist, seed, normalize = true)
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"),
      quant.assign(Embeddings.normalize(col(vecCol))).as("cell"))
    // one narrow kernel pass per query picks its cells: the query side
    // never shuffles
    val probes = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"),
      explode(quant.probe(Embeddings.normalize(col(vecCol)), nprobe))
        .as("cell"))
    exactTopK(assigned.join(broadcast(probes), Seq("cell")), k)
  }

  /** Scalar quantization (SQ8, the FAISS `SQ8` layout): one byte per
    * dimension with per-dimension (min, scale) learned from a sample.
    * Complements PQ: 4–8× compression with much lower distortion than
    * PQ at the same code budget when dims is small; encode/score are
    * single-pass codegen'd kernels. Same scan-codes → exact-rerank
    * plan shape as [[Pq]].
    */
  object Sq8 {

    /** Per-dimension (mins, scales) from a driver-side sample — scale
      * maps each dimension's sample range onto 0..255.
      */
    def train(corpus: DataFrame, dims: Int, sampleN: Int = 20000,
        vecCol: String = "embedding",
        preNormalized: Boolean = false): (Seq[Float], Seq[Float]) = {
      val sample = Quantizer.deterministicSample(corpus, vecCol, sampleN,
        normalize = !preNormalized)
      val mins = Array.fill(dims)(Float.MaxValue)
      val maxs = Array.fill(dims)(Float.MinValue)
      sample.foreach { v =>
        var i = 0
        while (i < dims) {
          if (v(i) < mins(i)) mins(i) = v(i)
          if (v(i) > maxs(i)) maxs(i) = v(i)
          i += 1
        }
      }
      val scales = Array.tabulate(dims)(i =>
        if (maxs(i) > mins(i)) (maxs(i) - mins(i)) / 255f else 0f)
      (mins.toSeq, scales.toSeq)
    }

    /** SQ8 top-k: compressed-domain approximate scan over byte codes,
      * exact cosine rerank of the top-`rerank` candidates per query.
      */
    def topK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
        rerank: Int = 100,
        idCol: String = "vec_id", vecCol: String = "embedding",
        qidCol: String = "qid"): DataFrame = {
      val (mins, scales) = train(corpus, dims, vecCol = vecCol)
      val encoded = corpus.select(col(idCol).as("id"),
        VectorFunctions.sq8Encode(
          Embeddings.normalize(col(vecCol)), mins, scales).as("codes"))
      val q = queries.select(col(qidCol).as("qid"),
        Embeddings.normalize(col(vecCol)).as("qn"))
      val approx = encoded.crossJoin(broadcast(q))
        .select(col("qid"), col("id"),
          VectorFunctions.sq8Dot(col("codes"), col("qn"), mins, scales)
            .as("approx"))
      rerankTopK(approx, rerank, k, corpus, queries, idCol, vecCol, qidCol)
    }
  }

  /** Product quantization (Jégou et al., TPAMI 2011): each vector is
    * compressed to `m` sub-codebook indices; a query scores the whole
    * corpus from its ADC lookup table — `m` table adds per row instead
    * of `dims` multiplies, over a codes table that is dims*4/m bytes
    * smaller than the raw vectors.
    *
    * 100 TB shape: train once on a sample (quantizer training on a
    * bounded sample is the standard practice — the codebook is a few KB
    * broadcast with the plan); encode in one codegen'd pass and persist
    * the codes table; per-query scan touches ONLY the codes (e.g. 8
    * bytes/vector at m=8 vs 256 bytes for float32×64) and the exact
    * rerank joins full vectors for `rerank` candidates per query only.
    * Vectors are L2-normalized before train/encode so the approximate
    * dot IS approximate cosine.
    */
  object Pq {

    /** Train per-subspace k-means (Lloyd's) on a driver-side sample of
      * the corpus; returns the flat [m][ksub][dsub] codebook.
      */
    def train(corpus: DataFrame, dims: Int, m: Int = 8, ksub: Int = 16,
        seed: Long = 42L, sampleN: Int = 20000,
        vecCol: String = "embedding", iters: Int = 12,
        preNormalized: Boolean = false): Array[Float] =
      fitCodebook(Quantizer.deterministicSample(corpus, vecCol, sampleN,
        normalize = !preNormalized), dims, m, ksub, seed, iters)

    /** Per-subspace k-means on an in-memory sample → flat
      * [m][ksub][dsub] codebook (driver-side; the sample is bounded):
      * one [[Quantizer.lloyd]] fit per subspace, seeded `seed + sub`.
      */
    private def fitCodebook(sample: Array[Array[Float]],
        dims: Int, m: Int, ksub: Int, seed: Long,
        iters: Int): Array[Float] = {
      require(dims % m == 0, s"dims=$dims not divisible by m=$m")
      val dsub = dims / m
      val codebook = new Array[Float](m * ksub * dsub)
      var sub = 0
      while (sub < m) {
        val lo = sub * dsub
        val cents = Quantizer.lloyd(sample.map(_.slice(lo, lo + dsub)), ksub,
          seed + sub, maxIter = iters)
        var c = 0
        while (c < ksub) {
          System.arraycopy(cents(c), 0, codebook, (sub * ksub + c) * dsub,
            dsub)
          c += 1
        }
        sub += 1
      }
      codebook
    }

    /** PQ-reconstruction of `v` under `cb` (the sub-centroids
      * [[VecOps.pqEncode]] picks) — used by OPQ training and
      * quantization-error tests.
      */
    private[graft] def reconstruct(v: Array[Float], cb: Array[Float],
        dims: Int, m: Int, ksub: Int): Array[Float] = {
      val dsub = dims / m
      val codes = VecOps.pqEncode(new GenericArrayData(v), cb, m, ksub, dsub)
      val out = new Array[Float](dims)
      (0 until m).foreach(sub => System.arraycopy(cb,
        (sub * ksub + codes.getInt(sub)) * dsub, out, sub * dsub, dsub))
      out
    }

    /** OPQ (Ge et al., CVPR 2013, public): learn an orthonormal rotation
      * R minimizing PQ quantization error, by alternating (a) codebook
      * training on the rotated sample with (b) the orthogonal-Procrustes
      * update R = V·Uᵀ from SVD(Σ x·qᵀ) — PQ assumes subspaces are
      * independent; the rotation re-mixes correlated dimensions so the
      * same code budget quantizes tighter. Training is driver-side on a
      * bounded sample (like [[train]]); the learned R is a few KB
      * broadcast with the plan and applied per row by the native
      * RotateVec kernel. Returns (rotation row-major d×d, codebook).
      */
    def trainOpq(corpus: DataFrame, dims: Int, m: Int = 8, ksub: Int = 16,
        seed: Long = 42L, sampleN: Int = 20000,
        vecCol: String = "embedding", iters: Int = 12,
        opqIters: Int = 6): (Array[Float], Array[Float]) = {
      import breeze.linalg.{svd, DenseMatrix, DenseVector}
      val sample = Quantizer.deterministicSample(corpus, vecCol, sampleN,
        normalize = true)
      require(sample.nonEmpty, "empty training sample")
      var r = DenseMatrix.eye[Double](dims)
      def rotated(x: Array[Float]): Array[Float] = {
        val y = r * DenseVector(x.map(_.toDouble))
        y.toArray.map(_.toFloat)
      }
      var t = 0
      while (t < opqIters) {
        val y = sample.map(rotated)
        val cb = fitCodebook(y, dims, m, ksub, seed, iters)
        // Procrustes: maximize tr(R·M) with M = Σ x·qᵀ → R = V·Uᵀ
        val mMat = DenseMatrix.zeros[Double](dims, dims)
        var i = 0
        while (i < sample.length) {
          val q = reconstruct(y(i), cb, dims, m, ksub)
          val x = sample(i)
          var a = 0
          while (a < dims) {
            var b = 0
            while (b < dims) { mMat(a, b) += x(a) * q(b); b += 1 }
            a += 1
          }
          i += 1
        }
        val svd.SVD(u, _, vt) = svd(mMat)
        r = vt.t * u.t
        t += 1
      }
      // final codebook trained under the FINAL rotation
      val cbFinal = fitCodebook(sample.map(rotated), dims, m, ksub, seed, iters)
      val rFlat = new Array[Float](dims * dims)
      var a = 0
      while (a < dims) {
        var b = 0
        while (b < dims) { rFlat(a * dims + b) = r(a, b).toFloat; b += 1 }
        a += 1
      }
      (rFlat, cbFinal)
    }

    /** OPQ top-k: rotate (native RotateVec) then the same
      * compressed-domain ADC scan + exact rerank as [[topK]]. The exact
      * rerank uses the ORIGINAL vectors (rotation preserves cosine).
      */
    def opqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
        m: Int = 8, ksub: Int = 16, rerank: Int = 100, seed: Long = 42L,
        idCol: String = "vec_id", vecCol: String = "embedding",
        qidCol: String = "qid", opqIters: Int = 6): DataFrame = {
      val (rot, cb) = trainOpq(corpus, dims, m, ksub, seed,
        vecCol = vecCol, opqIters = opqIters)
      adcTopK(corpus, queries, k, rerank, cb.toSeq, m, ksub, dims,
        c => VectorFunctions.rotateVec(Embeddings.normalize(c), rot.toSeq,
          dims), idCol, vecCol, qidCol)
    }

    /** The flat ADC scan of [[topK]] and [[opqTopK]]: every corpus row's
      * PQ code of `prep(v)` against every broadcast query's lookup table
      * of `prep(q)` — scores come from the codes table alone — then
      * [[rerankTopK]] joins the full vectors for the candidates only. */
    private def adcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
        rerank: Int, cb: Seq[Float], m: Int, ksub: Int, dims: Int,
        prep: Column => Column, idCol: String, vecCol: String,
        qidCol: String): DataFrame = {
      val encoded = corpus.select(col(idCol).as("id"),
        VectorFunctions.pqEncode(prep(col(vecCol)), cb, m, ksub, dims / m)
          .as("codes"))
      val q = queries.select(col(qidCol).as("qid"),
        VectorFunctions.pqLut(prep(col(vecCol)), cb, m, ksub, dims / m)
          .as("lut"))
      val approx = encoded.crossJoin(broadcast(q))
        .select(col("qid"), col("id"),
          VectorFunctions.pqAdc(col("codes"), col("lut"), ksub).as("approx"))
      rerankTopK(approx, rerank, k, corpus, queries, idCol, vecCol, qidCol)
    }

    /** `nvec − centroid` as float — the residual every IVF-PQ code
      * encodes. */
    private def residual(nvec: Column, centroid: Column): Column =
      zip_with(nvec, centroid, (a, b) => (a - b).cast("float"))

    /** The residual codebook of assigned (id, nvec, cell) rows: [[train]]
      * on the bounded content-ordered sample of their residuals. */
    private[operators] def trainResidual(assigned: DataFrame,
        centroids: DataFrame, dims: Int, m: Int, ksub: Int, seed: Long,
        sampleN: Int): Seq[Float] =
      train(assigned.join(broadcast(centroids), Seq("cell"))
          .withColumn("res", residual(col("nvec"), col("centroid"))),
        dims, m, ksub, seed, sampleN = sampleN, vecCol = "res",
        preNormalized = true).toSeq

    /** (id, codes, cell) of assigned (id, nvec, cell) rows: the residual
      * to the row's centroid, PQ-encoded under codebook `cb`. */
    private[operators] def encodeResidual(assigned: DataFrame,
        centroids: DataFrame, cb: Seq[Float], m: Int, ksub: Int,
        dims: Int): DataFrame =
      assigned.select(col("id"), col("nvec"), col("cell"))
        .join(broadcast(centroids), Seq("cell"))
        .select(col("id"),
          VectorFunctions.pqEncode(
            residual(col("nvec"), col("centroid")), cb, m, ksub, dims / m)
            .as("codes"),
          col("cell"))

    /** The residual-ADC scan of (id, codes, cell) rows over the probed
      * (qid, qn, cell) pairs: per pair the EXACT q·centroid plus the
      * query's residual lookup table, then m table adds per corpus row —
      * the (qid, id, approx) frame [[rerankTopK]] cuts. */
    private[operators] def residualAdc(codes: DataFrame, probes: DataFrame,
        centroids: DataFrame, cb: Seq[Float], m: Int, ksub: Int,
        dims: Int): DataFrame = {
      val qcells = probes.join(broadcast(centroids), Seq("cell"))
        .select(col("qid"), col("cell"),
          VectorFunctions.dotProduct(col("qn"), col("centroid")).as("qdotc"),
          VectorFunctions.pqLut(col("qn"), cb, m, ksub, dims / m).as("lut"))
      codes.join(broadcast(qcells), Seq("cell"))
        .select(col("qid"), col("id"),
          (col("qdotc") + VectorFunctions.pqAdc(col("codes"), col("lut"), ksub))
            .as("approx"))
    }

    /** IVF+PQ composition — the classic billion-vector layout: k-means
      * cells prune which corpus fraction each query touches (at scale:
      * partition pruning on a cell-partitioned codes table), and within
      * a cell the scan is compressed-domain ADC over PQ codes of the
      * RESIDUAL (v − centroid). Since dot(q,v) = dot(q,c) + dot(q,r),
      * the approximate score is the exact centroid dot plus the
      * residual ADC — residual PQ quantizes a much tighter distribution
      * than raw vectors, so the same code budget gives better recall.
      * Cells come from the one [[Quantizer]] (fit, assign and probe on
      * normalized vectors); exact cosine rerank on `rerank` candidates
      * per query. The one-shot form of [[IvfPqIndex]]: with
      * `fitSamplePerCell = 0` there, the same parameters probe to the
      * same rows.
      */
    def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
        nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
        rerank: Int = 100, seed: Long = 42L,
        idCol: String = "vec_id", vecCol: String = "embedding",
        qidCol: String = "qid"): DataFrame = {
      val quant = Quantizer.fit(corpus, vecCol, nlist, seed, normalize = true)
      val centroids = quant.frame(corpus.sparkSession)
      val assigned = corpus.select(col(idCol).as("id"),
          Embeddings.normalize(col(vecCol)).as("nvec"))
        .withColumn("cell", quant.assign(col("nvec")))
      val cb = trainResidual(assigned, centroids, dims, m, ksub, seed,
        sampleN = 20000)
      val qn = Embeddings.normalize(col(vecCol))
      val probes = queries.select(col(qidCol).as("qid"), qn.as("qn"),
        explode(quant.probe(qn, nprobe)).as("cell"))
      rerankTopK(residualAdc(encodeResidual(assigned, centroids, cb, m, ksub,
          dims), probes, centroids, cb, m, ksub, dims),
        rerank, k, corpus, queries, idCol, vecCol, qidCol)
    }

    /** ADC top-k with exact rerank: compressed-domain scan → top
      * `rerank` candidates per query by approximate score → exact cosine
      * on those only. Same output shape as bruteForceTopK.
      */
    def topK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
        m: Int = 8, ksub: Int = 16, rerank: Int = 100, seed: Long = 42L,
        idCol: String = "vec_id", vecCol: String = "embedding",
        qidCol: String = "qid"): DataFrame =
      adcTopK(corpus, queries, k, rerank,
        train(corpus, dims, m, ksub, seed, vecCol = vecCol).toSeq, m, ksub,
        dims, Embeddings.normalize, idCol, vecCol, qidCol)
  }
}
