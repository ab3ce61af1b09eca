package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED IVF-PQ ANN index — the compressed-codes deployment shape
  * of [[Similarity.Pq.ivfTopK]] (the classic billion-vector layout:
  * FAISS `IndexIVFPQ`, Jégou et al. TPAMI 2011 + Johnson et al. 2017).
  * [[IvfIndex]] persists the raw vectors cell-partitioned; at 100 TB of
  * float32 embeddings that layout pays full vector bytes on every
  * probed cell's scan. This index persists PQ CODES of the coarse
  * RESIDUAL instead — `m` bytes/vector (m=8 vs 256 B for float32×64:
  * 32× less scan IO) — and keeps NO raw vectors at all: the corpus
  * table stays the single source of truth, and the probe's exact
  * rerank joins candidate ids back to it (bounded: rerank × queries
  * rows). That split is the deliberate scale design — the index is a
  * derived, compact, rebuildable artifact, never a second copy of the
  * data.
  *
  *  - LAYOUT: `<root>/_ixvN/{centroids, codebook, codes/cell=K/}` + a
  *    `_graft_ivfpq_meta.json` sidecar pinning (nlist, dims, m, ksub,
  *    seed, kernel, build_mse, segs_upto). Committed through the
  *    [[IndexVersions]] pointer (flip LAST, keep-last-2 retention) —
  *    probes never see a half-written generation. The centroids,
  *    codebook and codes dirs (and every segment) record their schema
  *    when written, so probes, appends and compactions read them with
  *    no schema and no listing job ([[IndexVersions.readParquet]]). The probe
  *    SELF-CONFIGURES from the sidecar: there is no caller-supplied
  *    m/ksub/nlist/dims to mismatch (the phash-index bands lesson), a
  *    kernel mismatch REFUSES instead of silently mis-scoring, and a
  *    query of the wrong length throws in the cell kernel.
  *  - SCORING: dot(q,v) = dot(q,c) + dot(q,r) — the approximate score
  *    is the EXACT centroid dot plus the residual's ADC lookup-table
  *    sum ([[graft.functions.VectorFunctions.pqAdc]]: m table adds per
  *    corpus row, no float multiplies). Residual PQ quantizes a far tighter
  *    distribution than raw vectors, so the same code budget gives
  *    better recall. Cells are RANKED by the one [[Quantizer]]'s rule,
  *    exact squared-L2 on the normalized space ([[SegmentedIndex.probe]])
  *    — the same rule the coarse build/arrival assignment uses, so build
  *    and probe can never rank cells inconsistently. The residual train,
  *    encode and ADC scan are [[Similarity.Pq.ivfTopK]]'s own, and the
  *    exact rerank is [[Similarity.rerankTopK]].
  *  - TRAINING: coarse centroids via [[SegmentedIndex.build]]
  *    (bounded deterministic sample); the residual codebook via
  *    [[Similarity.Pq.train]] on a bounded hash-ordered sample of
  *    residuals. Both artifacts are a few KB, broadcast with the plan.
  *  - SEGMENTS (the ingest path): [[append]] folds an arrival batch in
  *    at O(batch) — assign under the FROZEN committed centroids,
  *    encode under the FROZEN committed codebook, write the codes as
  *    `segments/segN/cell=K/`, commit the segment manifest.
  *    [[compact]] is a PURE FOLD: base ∪ segments re-written as one
  *    cell-partitioned base generation with centroids, codebook, and
  *    every code byte UNCHANGED — compaction here reclaims layout
  *    (file counts, manifest length), it does not retrain. Retraining
  *    is an explicit [[write]] REBUILD from the source corpus (the
  *    index stores no vectors to retrain from — by design), triggered
  *    when [[drift]]'s frozen-centroid error ratio says the
  *    distribution moved. The segment lifecycle and its crash windows
  *    are [[SegmentedIndex]]'s, shared with [[IvfIndex]].
  *
  * The `sim_topk_ivfpq_disk` gate probes with nprobe = nlist AND
  * rerank ≥ the verify corpus: every cell is scanned and the exact
  * rerank re-scores every candidate on ORIGINAL vectors, so neither
  * the coarse quantizer, the codebook, nor the persisted layout can
  * affect the output — the brute-force SQL is a true oracle (the
  * sim_topk_ivfpq argument) while the measured plan keeps the full
  * persisted cycle: versioned build, sidecar self-config, pruned
  * codes scan, ADC, bounded-heap rank, corpus rerank join. Production
  * nprobe < nlist / small-rerank behavior is pinned in IvfPqIndexSpec.
  *
  * Reference scope note: the reference ETL tool (SURVEY.md §2) has no
  * ANN surface; this extends the engine's LLM-pipeline family.
  */
object IvfPqIndex {

  private val Layout = SegmentedIndex.Layout("_graft_ivfpq_meta.json",
    "ivfpq-l2n-residual-adc", "IVF-PQ", "codes", params = Seq("m", "ksub"))

  private def writeCodebook(spark: SparkSession, cb: Seq[Float],
      dir: String): Unit = {
    import spark.implicits._
    IndexVersions.writeParquet(Seq(Tuple1(cb)).toDF("codebook").coalesce(1),
      s"$dir/codebook")
  }

  /** Build and COMMIT the next index generation over `corpus`.
    *
    * One coarse fit (bounded sample), one assignment pass, one
    * residual-codebook fit (bounded sample), one encode pass, one
    * shuffle-by-cell, two bounded artifact writes. `nlist` ≤ 0 derives
    * the √n occupancy rule. `subsumedUpto` is internal plumbing for
    * rebuild-over-ingest parity with [[IvfIndex.write]]. Returns the
    * committed version.
    */
  def write(corpus: DataFrame, path: String, dims: Int, nlist: Int = 0,
      m: Int = 8, ksub: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Long = -1L, fitSamplePerCell: Int = 256,
      pqSampleN: Int = 20000, subsumedUpto: Long = -1L): Int = {
    val spark = corpus.sparkSession
    require(m > 0 && dims % m == 0, s"dims=$dims not divisible by m=$m")
    require(ksub > 1 && ksub <= 256, s"ksub: $ksub")
    SegmentedIndex.build(corpus, path, Layout, dims, nlist, seed, idCol,
        vecCol, knownCount, fitSamplePerCell, subsumedUpto,
        params = Seq("m" -> m, "ksub" -> ksub)) { (assigned, centroids, dir) =>
      // the codebook trains on a bounded content-ordered sample of the
      // residuals; the deterministic sample/kernel make the encode pass's
      // recomputation of the same residuals bit-identical
      val cb = Similarity.Pq.trainResidual(assigned, centroids, dims, m,
        ksub, seed, pqSampleN)
      writeCodebook(spark, cb, dir)
      Similarity.Pq.encodeResidual(assigned, centroids, cb, m, ksub, dims)
    }
  }

  /** Full sidecar of the COMMITTED generation (`m`, `ksub` as params) —
    * None when the resolved generation has no IVF-PQ sidecar. */
  private[graft] def metaFull(spark: SparkSession,
      path: String): Option[SegmentedIndex.Meta] =
    SegmentedIndex.metaFull(spark, path, Layout)

  /** (nlist, dims, m, ksub, build_mse) of the committed sidecar. */
  def meta(spark: SparkSession,
      path: String): Option[(Int, Int, Int, Int, Double)] =
    metaFull(spark, path).map(x =>
      (x.nlist, x.dims, x.param("m"), x.param("ksub"), x.buildMse))

  /** The committed generation's flat [m][ksub][dsub] codebook — one
    * bounded driver row, read with its recorded schema. */
  private def readCodebook(spark: SparkSession, path: String): Seq[Float] =
    IndexVersions.readParquet(spark,
        Seq(s"${IndexVersions.resolvePath(spark, path)}/codebook"))
      .select(col("codebook")).head().getSeq[Float](0)

  private[graft] def liveSegs(spark: SparkSession,
      path: String): Seq[Long] =
    SegmentedIndex.liveSegs(spark, path, Layout)

  /** The probe/compaction read: base codes ∪ live segments. */
  private[graft] def codesView(spark: SparkSession,
      path: String): DataFrame =
    SegmentedIndex.view(spark, path, Layout)

  /** Fold an arrival batch into the index at O(batch): assign under
    * the FROZEN committed centroids, encode under the FROZEN committed
    * codebook (no retrain — [[drift]] is the retrain signal, [[write]]
    * the retrain) and commit the codes as the next segment
    * ([[SegmentedIndex.append]]: -1 for an empty batch). Arrival ids
    * must be new — probes do not dedup.
    *
    * `atSeg` ≥ 0 pins the segment NUMBER — the streaming writer's
    * exactly-once hook: a retry overwrites the same segment dir with
    * byte-identical codes (frozen kernel ⇒ deterministic encode) and
    * the manifest commit is a set-union; a number a compaction already
    * folded returns -2 without writing.
    */
  def append(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      atSeg: Long = -1L): Long =
    SegmentedIndex.append(spark, path, Layout, batch, idCol, vecCol,
        atSeg) { (assigned, centroids, meta) =>
      Similarity.Pq.encodeResidual(assigned, centroids,
        readCodebook(spark, path), meta.param("m"), meta.param("ksub"),
        meta.dims)
    }

  /** PURE-FOLD compaction: re-write base ∪ live segments as one
    * cell-partitioned base generation — centroids, codebook, and every
    * code byte UNCHANGED (the new sidecar carries build_mse forward and
    * bumps `segs_upto` past every folded segment). Reclaims the
    * segment list and per-segment small files at O(index) IO; it does
    * NOT retrain — the index stores no vectors to retrain from, so a
    * quantizer refresh is an explicit [[write]] rebuild from the
    * source corpus. Commit order is [[SegmentedIndex.compact]]'s.
    * Returns the new base version. */
  def compact(spark: SparkSession, path: String): Int =
    SegmentedIndex.compact(spark, path, Layout) { (meta, view, upto) =>
      val centroids = SegmentedIndex.readCentroids(spark, path)
      val cb = readCodebook(spark, path)
      SegmentedIndex.publish(spark, path, Layout, upto) { dir =>
        SegmentedIndex.writeCells(view, s"$dir/codes")
        SegmentedIndex.writeCentroids(centroids, dir)
        writeCodebook(spark, cb, dir)
        meta
      }
    }

  /** ANN top-k over the committed generation: sidecar self-config →
    * nprobe cells per query and a pruned CODES scan
    * ([[SegmentedIndex.probe]]; at scale partition pruning on `cell=K`
    * directories, reading `m` bytes/vector) → ADC = exact q·centroid +
    * residual LUT adds → top-`rerank` candidates per query by the
    * bounded-heap aggregate → exact cosine rerank joining candidate ids
    * back to `rerankFrom` (the source corpus — bounded: rerank ×
    * queries rows fetched). Output shape = [[Similarity.bruteForceTopK]]
    * (qid, id, cosine, rank ≤ k). nprobe ≥ nlist AND rerank ≥ corpus is
    * provably exact (the gate configuration).
    */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      rerankFrom: DataFrame, k: Int, nprobe: Int = 8, rerank: Int = 100,
      qidCol: String = "qid", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank=$rerank < k=$k")
    val p = SegmentedIndex.probe(spark, path, Layout, queries, qidCol,
      vecCol, nprobe)
    val approx = Similarity.Pq.residualAdc(p.index, p.cells, p.centroids,
      readCodebook(spark, path), p.meta.param("m"), p.meta.param("ksub"),
      p.meta.dims)
    Similarity.rerankTopK(approx, rerank, k, rerankFrom, queries, idCol,
      vecCol, qidCol)
  }

  /** Coarse-quantization drift of an arrival batch under the FROZEN
    * committed centroids vs the build-time baseline — one row
    * (n, build_mse, batch_mse, ratio); ratio ≫ 1 means retrain (an
    * explicit [[write]] rebuild from the source corpus). See
    * [[SegmentedIndex.drift]]. */
  def drift(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    SegmentedIndex.drift(spark, path, Layout, batch, idCol, vecCol)
}
